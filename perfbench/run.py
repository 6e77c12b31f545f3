"""maxx_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (details in perfbench/spec.json): extract and stateful_batch;
a comma-separated list or "all" runs several in turn.
Each run starts a fresh worker process (perfbench/worker.py) so set-up time
includes the JVM start, checks the outputs against a reference, prints
the metrics one per line with units and sample counts, and prints as its
last line one JSON object {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1 runs
the same seed untraced and then traced (Spark event log on, spans kept)
and reports the per-layer metrics, including the tracing overhead. A
per-layer metric of a layer the workload does not run (spec.json,
per_layer_owners) is printed as n/a and reads 0 in the JSON line; one the
workload runs but did not produce fails the run. Spans go to
.perfbench_out/. Exit code: 0 when every output was correct, 1 on a
mismatch or a failed leg, 2 when the engine sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIME_LIMIT_S = 170
ERROR_LINE = re.compile(r'"level":\s*"ERROR"|^\S+ \S+ ERROR ')


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group (JVM, Python
    workers) and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_worker(workload: str, seed: int, seconds: int, trace: int, work: str, deadline: float) -> dict:
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    spans = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{seed}-spans.json")
    if trace:
        os.makedirs(os.path.dirname(spans), exist_ok=True)
    env = dict(os.environ)
    nproc = len(os.sched_getaffinity(0))
    env.update({
        # Python workers started by Spark must import maxx_spark too
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--work", work, "--out", out, "--spans", spans]
    with open(os.path.join(work, "stderr.log"), "wb") as err, open(os.path.join(work, "stdout.log"), "wb") as so:
        env["PERFBENCH_T0"] = repr(time.time())
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=so, stderr=err, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_group(proc)
    log_errors = 0
    with open(os.path.join(work, "stderr.log"), errors="replace") as f:
        for line in f:
            if line.startswith("perfbench: setup done"):
                break
            log_errors += bool(ERROR_LINE.search(line))
        f.seek(0)
        tail = [ln.rstrip() for ln in f if "Traceback" in ln or "Error" in ln][-5:]
    if not os.path.exists(out):
        return {"correct": False, "attempted": 1, "failed": 1, "e2e": {}, "layer": {}, "self_s": {},
                "notes": [f"worker ended without a result (exit {proc.returncode}); stderr: {tail}"]}
    with open(out) as f:
        res = json.load(f)
    res["layer"]["session.log_errors"] = log_errors
    return res


def one(workload: str, seed: int, seconds: int, trace: int, manifest: dict, owners: dict) -> bool:
    t_start = time.time()
    deadline = t_start + TIME_LIMIT_S
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    try:
        res = run_worker(workload, seed, seconds, 0, work + "-plain", deadline)
        if trace:
            traced = run_worker(workload, seed, seconds, 1, work + "-traced", deadline)
            measured = lambda r: r["e2e"]["wall_s"] - r["e2e"]["setup_s"]  # noqa: E731
            if {"wall_s", "setup_s"} <= res["e2e"].keys() & traced["e2e"].keys():
                traced["layer"]["trace.overhead_s"] = measured(traced) - measured(res)
            traced["correct"] = traced["correct"] and res["correct"]
            traced["attempted"] += res["attempted"]
            traced["failed"] += res["failed"]
            res = traced
    finally:
        shutil.rmtree(work + "-plain", ignore_errors=True)
        shutil.rmtree(work + "-traced", ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    wanted = manifest["per_layer"] if trace else manifest["end_to_end"]
    have = res["layer"] if trace else res["e2e"]
    metrics, not_run = {}, set()
    for m in wanted:
        if m["name"] in have:
            metrics[m["name"]] = {"value": have[m["name"]], "unit": m["unit"]}
        elif trace and workload not in owners[m["name"].split(".")[0]]:
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
            not_run.add(m["name"])
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    correct = bool(res["correct"]) and not missing
    print(f"perfbench workload={workload} seed={seed} seconds={seconds} trace={trace} "
          f"nproc={len(os.sched_getaffinity(0))} {res.get('facts', '')}")
    for name, m in metrics.items():
        print(f"  {name:36s} n/a (layer not run)" if name in not_run else f"  {name:36s} {m['value']:.6g} {m['unit']}")
    for note in res["notes"]:
        print(f"  note: {note}")
    if missing:
        print(f"  note: no value for {missing}")
    for name, s in sorted(res.get("self_s", {}).items(), key=lambda kv: -kv[1])[:12]:
        print(f"  self time {name:32s} {s:.3f} s")
    rate = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    print(f"  error_rate {res['failed']}/{res['attempted']} = {rate:.6g}; correct={correct}; "
          f"elapsed {time.time() - t_start:.1f} s")
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]), "failed": int(res["failed"]),
                      "metrics": metrics}))
    sys.stdout.flush()
    return correct


def main() -> int:
    # SIGTERM unwinds like an exception, so the worker group is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    known = list(spec["workloads"])
    names = known if args.workload == "all" else args.workload.split(",")
    unknown = [n for n in names if n not in known]
    if unknown:
        print(f"perfbench: unknown workload {unknown}; choose from {known} or all", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "maxx_spark", "__init__.py")):
        print(f"perfbench: no maxx_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    ok = True
    for n in names:
        ok = one(n, args.seed, args.seconds, args.trace, manifest, spec["per_layer_owners"]) and ok
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
