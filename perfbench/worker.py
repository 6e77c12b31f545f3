"""One benchmark run in a fresh Python process, started by run.py.

Usage (run.py builds this command line):
    python3 perfbench/worker.py --workload W --seed N --seconds S --trace 0|1 --out result.json

PERFBENCH_T0 in the environment carries the wall time just before run.py
started this process, so setup_s covers interpreter start, imports, JVM
launch and get_spark's warmup. Writes one JSON result file; run.py prints.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time
import traceback
import uuid

import common
import workloads
from maxx_spark.session import get_spark

T_IMPORTED = time.time()

SPEC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")


class Run:
    def __init__(self, args):
        with open(SPEC) as f:
            self.spec = json.load(f)
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = args.work
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = common.Tracer(self.trace, uuid.uuid4().hex[:12])
        self.spark = None
        self.codegen = None
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.window = (0.0, 0.0)  # measured phase, for the event log
        self.extract_window = None  # the extraction drain inside it
        self.last_result = 0.0

    def dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        os.makedirs(path, exist_ok=True)
        return path

    def set_e2e(self, items_per_s: float, samples: list[float], t0: float) -> None:
        """The workload's figures; t0 starts its measured phase, which ends
        at self.last_result."""
        lat = common.latency_metrics(samples)
        self.e2e.update({"items_per_s": items_per_s,
                         "latency_p50_s": lat["latency_p50_s"], "latency_p99_s": lat["latency_p99_s"]})
        self.notes.append(f"latency samples {lat['latency_samples']}, "
                          f"latency_p99_s holds p{100 * lat['latency_tail_q']:.1f}")
        self.window = (t0, self.last_result)
        if self.codegen:
            self.layer.update(self.codegen.delta())

    def count(self, attempted: int, failed: int, why: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.notes.append(f"MISMATCH {why}")

    def check_pages(self, pages, sink_dir: str, committed: list[int]) -> None:
        import check

        bad, examples = check.check_extraction(pages, sink_dir, committed, self.nproc)
        self.count(len(pages), bad, f"{bad} pages differ from the extract_rows_for_page reference, e.g. {examples}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args()
    t_spawn = float(os.environ["PERFBENCH_T0"])
    run = Run(args)
    result = {"correct": False, "attempted": 1, "failed": 1}
    try:
        with run.tracer.span("setup") as setup_sid:
            run.tracer.add("session.import", t_spawn, T_IMPORTED, setup_sid)
            run.layer["session.import_s"] = T_IMPORTED - t_spawn
            conf = {"spark.sql.streaming.numRecentProgressUpdates": "100000",
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.dir('tmp')}",
                    "spark.local.dir": run.dir("spark-local")}
            if run.trace:
                conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": run.dir("eventlog"),
                             "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
            t = time.time()
            with run.tracer.span("session.get_spark"):
                run.spark = get_spark(f"perfbench-{run.workload}", master=f"local[{run.nproc}]", extra_conf=conf)
            run.layer["session.get_spark_s"] = time.time() - t
        run.e2e["setup_s"] = time.time() - t_spawn
        result["facts"] = (f"spark={run.spark.version} python={platform.python_version()} "
                           f"java={run.spark.sparkContext._jvm.System.getProperty('java.version')}")
        print("perfbench: setup done", file=sys.stderr, flush=True)
        if run.trace:
            run.codegen = common.Codegen(run.spark)
        workloads.WORKLOADS[run.workload](run)
        run.e2e["wall_s"] = run.last_result - t_spawn
        run.layer["trace.spans"] = len(run.tracer.spans)
        result.update({"correct": run.failed == 0 and run.attempted > 0, "attempted": run.attempted,
                       "failed": run.failed})
    except Exception:  # the run's boundary: report, count the leg as failed
        traceback.print_exc()
        run.notes.append("CRASH " + traceback.format_exc().strip().splitlines()[-1])
    finally:
        if run.spark is not None:
            run.spark.stop()
    if run.trace and os.path.isdir(os.path.join(run.work, "eventlog")) and run.window[1]:
        log = os.path.join(run.work, "eventlog")
        run.layer.update(common.event_log_metrics(log, *run.window))
        if run.extract_window:
            run.layer["extract.task_cpu_s"] = common.event_log_metrics(log, *run.extract_window)["exec.task_cpu_s"]
    if args.spans and run.trace:
        run.tracer.dump(args.spans)
    result.update({"e2e": run.e2e, "layer": run.layer, "notes": run.notes,
                   "self_s": run.tracer.self_times() if run.trace else {}})
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
