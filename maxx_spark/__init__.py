"""maxx_spark — a from-scratch PySpark-native structured-streaming analytics
engine with the query and data-processing capabilities of watermarkhu/maxx.

Layer P (payload): MATLAB source extraction (functions / classes / scripts /
live scripts, arguments blocks, docstrings, namespaces) re-implemented from
scratch as vectorized Arrow UDF stages (see ``maxx_spark.matparse`` and
``maxx_spark.extract``); semantics derived from the reference's observable
behavior (/root/reference/src/maxx/treesitter.py, collection.py, objects.py)
— no code is ported.

Layer E (engine): Spark Structured Streaming dataflow — tumbling / sliding /
session windows, watermarks, stateful cross-file resolution, shadowing dedup,
salted skew handling, exactly-once foreachBatch sink with idempotent commit
log and per-partition lineage (see ``maxx_spark.streaming`` and
``maxx_spark.operators``).
"""

from maxx_spark import pyworker

# every process that imports the engine gets it, Spark's Python workers included
pyworker.install()

__version__ = "0.1.0"
