"""Distributed exact global ranking — the DataFrame form of RDD
zipWithIndex, used wherever the engine needs contiguous ids or exact rank
positions WITHOUT a single-partition window (``Window.partitionBy()`` over
an unbounded table sorts everything on one task — the classic 100 TB
scale-killer this module exists to remove).

Shape (three bounded steps, no unpartitioned Window anywhere):

1. ``repartitionByRange`` on the order key — Spark's range partitioner
   samples the key distribution, so every partition holds a contiguous,
   roughly equal-sized key range (a hot language / hot df-class spreads
   over many partitions instead of hashing to one).
2. ``sortWithinPartitions`` + ``localCheckpoint`` — the checkpoint PINS the
   sampled range boundaries and the row order: the range sampler is seeded
   per RDD, so without materialization the per-partition counts job and
   the output job could re-draw different boundaries and the offsets would
   be wrong. (Same localCheckpoint-as-barrier pattern as the
   connected-components loop, operators/dedup.py.)
3. ``monotonically_increasing_id`` → (partition id, local row index) with
   ZERO additional shuffle, a per-partition count rollup (one row per
   partition — bounded by the partition count, collected like the CC
   convergence probe), and a broadcast join of the prefix-sum offsets
   (fixed bounded dim — the legitimate broadcast case).

Determinism: the caller's order key must be a STRICT total order (include
a unique tiebreak column). Then the globally sorted sequence is unique, so
``offset[pid] + local_index`` assigns the same rank to every row no matter
where the sampled range boundaries fall — boundaries move work between
partitions, never ranks between rows. Equal keys cannot straddle a range
boundary anyway (range partitioning assigns by key value), but uniqueness
is what makes the output reproducible run-to-run.

Cost model at 100 TB: one range exchange of the projected columns + a
local sort — the same bytes the single-partition window would shuffle, but
sorted in parallel across the cluster instead of on one task. The
localCheckpoint stores the slim projection (memory-and-disk, spillable).

Failure mode on a real cluster (ADVICE r4): localCheckpoint blocks live on
EXECUTOR LOCAL storage, not reliable storage — losing an executor between
the counts job and the output job aborts the query (clean failure, never
silent corruption; Spark cannot recompute a truncated lineage). For runs
where retriability matters more than the write cost, pass
``reliable=True`` after ``spark.sparkContext.setCheckpointDir(...)`` — the
pinned projection then goes to the (HDFS/S3) checkpoint dir and survives
executor loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# monotonically_increasing_id packs the local row index into the low 33
# bits (partition id above) — per-partition row counts must stay below
# 2^33 (~8.5e9 rows/partition; size num_partitions so they do).
_MID_BITS = 33
_MID_MASK = (1 << _MID_BITS) - 1


def shuffle_partitions(spark) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as an int; 200 (the
    Spark default) when the setting is not a number, e.g. a vendor
    ``"auto"``."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):
        return 200


def range_ranked(
    df: DataFrame,
    order_cols: list,
    rank_name: str = "rank",
    num_partitions: int | None = None,
    reliable: bool = False,
) -> DataFrame:
    """Append a 0-based dense global row number ``rank_name`` ordering by
    ``order_cols`` (Column expressions, may carry .desc()/.asc(); MUST end
    in a unique tiebreak — see module docstring), computed with range
    partitioning + per-partition enumeration instead of a one-task sort.

    Exactly equivalent to ``row_number().over(Window.orderBy(*cols)) - 1``
    for a strict order key; scalable where that window is not.

    The checkpoint is LAZY (eager=False): the bounded counts rollup below is
    a full scan, so it doubles as the materializing action — two jobs total
    instead of three (measured ~0.5 s off q49/q55's fixed cost at sf0.1).
    The pin itself is unchanged: boundaries are drawn once, in whichever job
    materializes first, and every later job reads the persisted blocks.

    ``reliable=True`` swaps localCheckpoint for a reliable checkpoint (see
    module docstring; requires ``setCheckpointDir``).
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = shuffle_partitions(spark)
    # r7: pin the INPUT before range partitioning — repartitionByRange
    # executes its child twice (once for the range sampler's sketch, once
    # for the exchange itself), so an expensive upstream (the quality
    # regexes in quality_stratify, the tf/df aggs in vocab_build) would be
    # computed twice. The pinned projection is the same slim column set
    # the post-sort checkpoint below already stores.
    df = df.localCheckpoint(eager=True)
    ordered = df.repartitionByRange(num_partitions, *order_cols).sortWithinPartitions(
        *order_cols
    )
    sorted_df = ordered.checkpoint(eager=False) if reliable else ordered.localCheckpoint(
        eager=False
    )
    with_mid = sorted_df.withColumn("__mid", F.monotonically_increasing_id())
    # bounded rollup: one row per physical partition
    counts = (
        with_mid.groupBy(F.shiftright(F.col("__mid"), _MID_BITS).alias("__pid"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets.append((row["__pid"], acc))
        acc += row["__n"]
    if not offsets:
        offsets = [(0, 0)]
    off_df = spark.createDataFrame(offsets, "__pid long, __off long")
    return (
        with_mid.withColumn("__pid", F.shiftright(F.col("__mid"), _MID_BITS))
        .join(off_df, "__pid")  # bounded literal dim: Catalyst sees the
        # LocalRelation's size and picks a broadcast on its own — no hint,
        # so the zero-unbounded-hint plan gate stays uniform
        .withColumn(
            rank_name,
            (F.col("__off") + F.col("__mid").bitwiseAND(F.lit(_MID_MASK))).cast("long"),
        )
        .drop("__pid", "__mid", "__off")
    )
