"""The workloads (spec.json lists them). Each takes a Run (worker.py), stages its seeded
inputs, times calls into the engine's public functions, checks the outputs
against a reference outside the timed region, and fills run.e2e (the
end-to-end figures) and run.layer (per-layer figures, traced runs only)."""

from __future__ import annotations

import collections
import math
import os
import sys
import time

import common
import inputs


def _await(q) -> None:
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"streaming query failed: {q.exception()}")


def _stream_spans(run, progs: list[dict], parent: int | None) -> dict[int, int]:
    """One span per micro-batch from its progress event; batch id -> span id."""
    ends = common.batch_end_times(progs)
    out = {}
    for p in progs:
        end = ends[p["batchId"]]
        out[p["batchId"]] = run.tracer.add(
            "stream.micro_batch", end - p["durationMs"].get("triggerExecution", 0) / 1000.0, end,
            parent, batch_id=p["batchId"], rows=p["numInputRows"])
    return out


# -- extraction -------------------------------------------------------------


def _query_spans(run, q, out: str, parent: int | None) -> tuple[list[dict], dict[int, dict]]:
    """Spans for each micro-batch (progress events) and each sink commit
    (commit markers) of one extraction query; returns both sources."""
    progs = common.progress(q)
    batch_sids = _stream_spans(run, progs, parent)
    markers = common.sink_markers(out)
    for b, m in markers.items():  # the sink runs inside its micro-batch
        run.tracer.add("sink.commit", m["ts"] - m["wall_s"], m["ts"], batch_sids.get(b, parent), batch_id=b)
    return progs, markers


def _extract_layers(run, pages, src, out, progs, markers, cfg: dict) -> None:
    """Per-layer figures of the backlog drain; the 1-core baseline parses
    a fixed sample of its heavy pages."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from maxx_spark.extract import extract_rows_for_page, matlab_pages
    from maxx_spark.schema import PAGES

    with run.tracer.span("trace.prefilter_count"):
        on_disk = run.spark.read.schema(StructType(PAGES.fields)).parquet(src)
        admitted = matlab_pages(on_disk).count()
    err_files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(out, "errors")) for f in fs
                 if f.endswith(".parquet")]
    run.layer.update({
        "extract.pages_in": sum(p["numInputRows"] for p in progs),
        "extract.udf_pages_frac": admitted / len(pages),
        "extract.units_out": sum(m["rows"] for m in markers.values()),
        "extract.error_rows": sum(pq.ParquetFile(f).metadata.num_rows for f in err_files),
    })
    with run.tracer.span("trace.parse_1core"):
        n = cfg["one_core_sample_pages"]
        sample = [p for p in inputs.backlog_pages(run.seed, 4 * n, cfg) if p[4] == "matlab"][:n]
        t = time.perf_counter()
        for url, ts, html, text, _ in sample:
            extract_rows_for_page(url, ts, html, text)
        run.layer["extract.parse_1core_pages_per_s"] = len(sample) / (time.perf_counter() - t)
    run.layer["extract.multicore_efficiency"] = run.layer["extract.pages_per_s"] / (
        run.nproc * run.layer["extract.parse_1core_pages_per_s"])


def _latencies(ck: str, files: list[tuple[str, int]], due: list[float], done: dict[int, float]):
    """Per item: its file's due time to done[batch that read the file]."""
    fb = common.file_batches(ck)
    samples = []
    for (path, n), d in zip(files, due):
        b = fb.get(os.path.basename(path))
        if b is None or b not in done:
            raise RuntimeError(f"{os.path.basename(path)} was never committed")
        samples += [done[b] - d] * n
    return samples, fb


def _live_leg(run, cfg: dict, files: list[tuple[str, int]]) -> tuple:
    """Open loop: start extraction_query(available_now=False) on an empty
    directory, release the pre-written files into it on a fixed schedule
    and wait until every one is committed. Returns (query, sink, due times,
    release times, checkpoint, out dir, query start)."""
    from maxx_spark.streaming.pipeline import extraction_query

    src, out, ck = run.dir("live_src"), run.dir("live_out"), run.dir("live_ck")
    fps = cfg["files_per_s"]
    t_q = time.time()
    with run.tracer.span("pipeline.query_start"):
        q, sink = extraction_query(run.spark, src, out, ck, max_files_per_trigger=None, available_now=False)
    run.layer["pipeline.query_start_s"] = time.time() - t_q
    # file k is due at t0 + k/fps whatever the engine does; t0 sits at a
    # fixed phase of the trigger grid (see spec.json)
    grid = cfg["trigger_grid_s"]
    t0 = (math.floor((time.time() + 0.5) / grid) + 1) * grid + cfg["release_phase_s"]
    due, released = [], []
    with run.tracer.span("gen.release"):
        for k, (path, _) in enumerate(files):
            d = t0 + k / fps
            time.sleep(max(0.0, d - time.time()))
            now = time.time()
            os.utime(path, (now, now))  # the source orders files by mtime
            os.rename(path, os.path.join(src, os.path.basename(path)))
            due.append(d)
            released.append(now)
    deadline = time.time() + cfg["drain_timeout_s"]
    names = {os.path.basename(p) for p, _ in files}
    while True:
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        fb = common.file_batches(ck)
        committed = set(sink.committed_batches())
        if names <= fb.keys() and all(fb[n] in committed for n in names):
            break
        if time.time() > deadline:
            raise RuntimeError("live leg: released files were not committed in time")
        time.sleep(0.05)
    q.stop()
    return q, sink, due, released, ck, out, t_q


def extract(run) -> None:
    """Two legs in one session, every input written first. Backlog: a
    closed drain of heavy classdef pages through extraction_query
    (availableNow); its pages/s after the first micro-batch is items_per_s.
    Live: an open loop that
    releases small mixed pages at a fixed rate; its per-page latency (due
    release time to the sink commit of the batch holding the page) is
    latency_p50_s / latency_p99_s. Both outputs are checked after."""
    from maxx_spark.streaming.pipeline import extraction_query

    cfg = run.spec["workloads"]["extract"]
    bc, lc = cfg["backlog"], cfg["live"]
    src, out, ck = run.dir("backlog_src"), run.dir("backlog_out"), run.dir("backlog_ck")
    with run.tracer.span("stage"):
        pages = inputs.backlog_pages(run.seed, bc["pages_per_run_second"] * run.seconds, bc)
        pfiles = inputs.write_files(pages, inputs.PAGES_ARROW, src, bc["pages_per_file"])
        inputs.stamp_mtimes([p for p, _ in pfiles], time.time() - 3600)
        live = inputs.live_pages(run.seed, lc["rate_pages_per_s"] * run.seconds)
        lfiles = inputs.write_files(live, inputs.PAGES_ARROW, run.dir("stage"),
                                    lc["rate_pages_per_s"] // lc["files_per_s"])

    e0 = time.time()
    with run.tracer.span("backlog.drain") as bsid:
        bq, bsink = extraction_query(run.spark, src, out, ck, max_files_per_trigger=bc["max_files_per_trigger"],
                                     available_now=True)
        _await(bq)
    e1 = max(m["ts"] for m in common.sink_markers(out).values())
    # sustained rate: pages per second of trigger time over the micro-batches
    # after the first, whose Python worker start-up would otherwise decide it
    data = [p for p in common.progress(bq) if p["numInputRows"]]
    steady = data[1:] or data
    rate = sum(p["numInputRows"] for p in steady) / sum(p["durationMs"]["triggerExecution"] / 1000.0 for p in steady)
    with run.tracer.span("live") as lsid:
        lq, lsink, due, released, lck, lout, t_q = _live_leg(run, lc, lfiles)
    commit_ts = {b: m["ts"] for b, m in common.sink_markers(lout).items()}
    samples, fb = _latencies(lck, lfiles, due, commit_ts)
    run.last_result = max(commit_ts[fb[os.path.basename(p)]] for p, _ in lfiles)
    run.set_e2e(rate, samples, e0)
    if run.trace:
        run.extract_window = (e0, e1)
        run.layer["extract.pages_per_s"] = len(pages) / (e1 - e0)
        progs, markers = _query_spans(run, bq, out, bsid)
        _extract_layers(run, pages, src, out, progs, markers, bc)
        # source, pipeline and sink figures are the live leg's, where
        # per-batch cost shows in latency
        progs, markers = _query_spans(run, lq, lout, lsid)
        run.layer.update(common.source_pipeline_metrics(progs, run.last_result - t_q))
        run.layer.update(common.sink_metrics(lout, markers))
        run.layer["gen.late_s"] = max(r - d for r, d in zip(released, due))
        # backlog: pages released but not yet committed, at each event
        ev = [(t, n) for t, (_, n) in zip(released, lfiles)]
        ev += [(commit_ts[fb[os.path.basename(p)]], -n) for p, n in lfiles]
        level = peak = 0
        for _, n in sorted(ev):
            level += n
            peak = max(peak, level)
        run.layer["source.backlog_pages_max"] = peak
    with run.tracer.span("check"):
        run.check_pages(pages, out, bsink.committed_batches())
        run.check_pages(live, lout, lsink.committed_batches())


# -- stateful drains and batch suite -----------------------------------------


class Collector:
    """foreachBatch sink that keeps each batch's rows and its finish time."""

    def __init__(self):
        self.batches: dict[int, tuple[float, list[tuple]]] = {}

    def __call__(self, df, batch_id: int) -> None:
        rows = [tuple(r) for r in df.collect()]
        self.batches[batch_id] = (time.time(), rows)

    def rows(self) -> list[tuple]:
        return [r for _, rows in self.batches.values() for r in rows]


def _drain(run, name: str, src: str, ddl: str, max_files: int, build):
    """Drain `src` through build(stream) into a Collector; returns
    (collector, query start, end of the last micro-batch)."""
    ck = run.dir(f"ck_{name}")
    stream = run.spark.readStream.schema(ddl).option("maxFilesPerTrigger", str(max_files)).parquet(src)
    coll = Collector()
    t0 = time.time()
    with run.tracer.span(f"{name}.drain") as sid:
        q = (build(stream).writeStream.foreachBatch(coll).outputMode("append")
             .option("checkpointLocation", ck).trigger(availableNow=True).start())
        _await(q)
    t_end = max(t for t, _ in coll.batches.values())
    if run.trace:
        progs = common.progress(q)
        _stream_spans(run, progs, sid)
        run.layer.update(common.state_metrics(progs, name))
        run.layer[f"{name}.rows_out"] = len(coll.rows())
    return coll, t0, t_end


def _stage_stream(rows: list[tuple], heartbeat: tuple, schema, out_dir: str, n_files: int):
    """Write rows + a trailing heartbeat row as n_files files in arrival order."""
    files = inputs.write_files(rows + [heartbeat], schema, out_dir, math.ceil((len(rows) + 1) / n_files))
    inputs.stamp_mtimes([p for p, _ in files], time.time() - 3600)


def _suite(run, tdir: str) -> tuple[dict, list[float]]:
    """The headline queries in bench.py order, each collected in full;
    returns (collected results, each query's time from the suite's start
    to its collected result)."""
    import __spark_entry__ as entry

    cfg = run.spec["workloads"]["stateful_batch"]["suite"]
    modules = run.spec["headline_module"]
    qs = entry.queries()
    sc = run.spark.sparkContext
    results, samples = {}, []
    per_mod = collections.defaultdict(lambda: {"build_s": 0.0, "exec_s": 0.0, "jobs": 0})
    phases = collections.Counter()
    t0 = time.time()  # every query is due at the suite's start
    with run.tracer.span("suite") as suite_sid:
        for name in cfg["queries"]:
            sc.setJobGroup(name, name)
            tb = time.time()
            df = qs[name](run.spark, tdir)
            tx = time.time()
            results[name] = df.toPandas()
            te = time.time()
            samples.append(te - t0)
            if run.trace:
                qsid = run.tracer.add(f"query.{name}", tb, te, suite_sid)
                run.tracer.add("query.build", tb, tx, qsid)
                run.tracer.add("query.exec", tx, te, qsid)
                m = per_mod[modules[name]]
                m["build_s"] += tx - tb
                m["exec_s"] += te - tx
                m["jobs"] += len(sc.statusTracker().getJobIdsForGroup(name))
                phases.update(common.query_phases(df))
    sc.setJobGroup("perfbench", "perfbench")
    if run.trace:
        for mod in sorted(set(modules.values())):
            for k, v in per_mod[mod].items():
                run.layer[f"batch.{mod}.{k}"] = v
        run.layer["batch.persisted_rdds_end"] = sc._jsc.getPersistentRDDs().size()
        for ph in ("analysis", "optimization", "planning"):
            run.layer[f"catalyst.{ph}_ms"] = phases.get(ph, 0)
    return results, samples


def _check_suite(run, results: dict, tdir: str) -> None:
    """Each collected result against its oracle_sql() in DuckDB, compared
    after tools/compare_oracle.canon."""
    import duckdb
    import numpy as np
    import __spark_entry__ as entry

    saved_path = list(sys.path)
    from tools.compare_oracle import TABLES, canon

    sys.path[:] = saved_path  # the tool prepends its own checkout path
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tdir}/{t}.parquet'")
    osql = entry.oracle_sql()
    for name, sdf in results.items():
        odf = con.execute(osql[name]).fetchdf()
        why = None
        if sorted(sdf.columns) != sorted(odf.columns):
            why = f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
        elif len(sdf) != len(odf):
            why = f"rows {len(sdf)} vs {len(odf)}"
        else:
            a, b = canon(sdf), canon(odf)
            for c in a.columns:
                if a[c].dtype == np.float64:
                    same = np.array_equal(a[c].to_numpy(), b[c].to_numpy(), equal_nan=True)
                else:
                    same = a[c].equals(b[c])
                if not same:
                    why = f"values differ in column {c}"
                    break
            ts = ("datetime64[ns]", "datetime64[us]")
            for c, t in sdf.dtypes.astype(str).items():
                o = str(odf.dtypes[c])
                if why is None and t != o and not (t in ts and o in ts):
                    why = f"dtype of {c}: {t} vs {o}"
        run.count(1, int(why is not None), f"{name}: {why}")
    con.close()


def stateful_batch(run) -> None:
    """Three closed legs in one session, all inputs staged first. The batch
    suite runs first, cold as bench.py runs it; the time from its start to
    each query's result is a latency sample. Then the unit stream drains through
    resolve_bases_stream and the event stream through funnel_stream; their
    items (units + events) over the two drain times are items_per_s. The
    checks run after all three."""
    from maxx_spark.operators.windows import event_funnel
    from maxx_spark.streaming.cep import funnel_stream
    from maxx_spark.streaming.resolver import resolve_bases_stream

    cfg = run.spec["workloads"]["stateful_batch"]
    jc, cc = cfg["join"], cfg["cep"]
    tdir = run.dir("tables")
    with run.tracer.span("stage"):
        inputs.write_tables(run.seed, tdir, cfg["suite"]["tables"])
        units, needs = inputs.code_units(run.seed, jc["units_per_run_second"] * run.seconds, jc)
        _stage_stream(units, inputs.unit_heartbeat(max(r[1] for r in units)), inputs.UNITS_ARROW,
                      run.dir("units"), jc["files"])
        evs = inputs.events(run.seed, cc["events_per_run_second"] * run.seconds, cc)
        _stage_stream(evs, inputs.event_heartbeat(max(r[1] for r in evs), len(evs)), inputs.EVENTS_ARROW,
                      run.dir("events"), cc["files"])

    t0 = time.time()
    results, samples = _suite(run, tdir)
    jcoll, j0, j1 = _drain(run, "join", run.dir("units"), inputs.UNITS_DDL, jc["max_files_per_trigger"],
                           lambda s: resolve_bases_stream(s, delay=jc["delay"]))
    ccoll, c0, c1 = _drain(run, "cep", run.dir("events"), inputs.EVENTS_DDL, cc["max_files_per_trigger"],
                           lambda s: funnel_stream(s, delay=cc["delay"], deadline=cc["deadline"]))
    run.last_result = c1
    run.set_e2e((len(units) + len(evs)) / ((j1 - j0) + (c1 - c0)), samples, t0)
    if run.trace:
        run.layer["join.units_per_s"] = len(units) / (j1 - j0)
        run.layer["cep.events_per_s"] = len(evs) / (c1 - c0)

    with run.tracer.span("check"):
        _check_suite(run, results, tdir)
        # resolver: every need resolves to its same-host def, or is flushed
        # unresolved at timeout when no def exists
        defs = {(r[0].split("/")[2], r[2]): r[3] for r in units}
        want = collections.Counter(
            (h, b, d, (h, b) in defs, defs.get((h, b))) for h, b, d in needs)
        got = collections.Counter(jcoll.rows())
        bad_j = sum(((want - got) + (got - want)).values())
        run.count(len(needs), bad_j, f"join: {bad_j} of {len(needs)} resolution rows differ from the reference")
        # CEP: per-step user counts equal the batch funnel on the same events
        batch = event_funnel(run.spark.read.schema(inputs.EVENTS_DDL).parquet(run.dir("events")))
        want_c = {r["step_idx"]: r["n_users"] for r in batch.collect()}
        got_c = collections.Counter(r[1] for r in ccoll.rows())
        bad_c = sum(1 for k in want_c.keys() | got_c.keys() if want_c.get(k, 0) != got_c.get(k, 0))
        run.count(len(want_c), bad_c, f"cep: per-step counts {dict(sorted(got_c.items()))} vs batch {want_c}")


WORKLOADS = {f.__name__: f for f in (extract, stateful_batch)}
