"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Each run executes ``worker.py`` in a fresh process (Spark at
``local[<cores>]``), with every scratch file (inputs, Spark local dirs,
warehouse, stream checkpoints, stores, temp files) in a directory under
``perfbench/.work`` that is removed at exit. The worker writes its full
record (every op, every per-layer number, the spans) under
``perfbench/records``; this script prints, as the last line of stdout, one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:

* ``--trace 0``: the end-to-end metrics, measured with tracing off;
* ``--trace 1``: an untraced run and then a traced run of the same seed;
  the per-layer metrics come from the traced run, plus
  ``trace.overhead_s`` (traced minus untraced ``wall_s``) and the
  ``UNTRACED`` numbers of the untraced run.

Exits non-zero, printing no result, when the engine is missing or a run
fails or overruns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_DIR = os.path.join(ROOT, "building_an_azure_data_lake_for_bikeshare_data_analytics_spark")
ORACLE_TOOL = os.path.join(ROOT, "tools", "verify_oracle.py")
#: every run ends within 180 s, clean-up included
RUN_BUDGET_S = 170.0
#: the engine's driver heap; the inputs are small, and the box is shared
DRIVER_MEM = "3g"

#: numbers of the untraced run that a traced run reports with the
#: per-layer metrics: the store-only end-to-end numbers, and the peak RSS,
#: which G1's adaptive heap sizing spreads too widely to bound
UNTRACED = ("read_p50_s", "ingest_rows_per_s", "stored_bytes_per_user_byte", "peak_rss_mb")


def declared_metrics(trace: int) -> dict[str, str]:
    """name -> unit of the metrics a run prints, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except FileNotFoundError:
        return True


def run_worker(args, trace: int, deadline: float) -> dict:
    """One worker process; returns its record. Its process group (the
    worker and the JVM it launches) is killed on overrun and waited for."""
    stamp = f"{args.workload}-s{args.seed}-t{trace}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(HERE, ".work", stamp)
    records = os.path.join(HERE, "records")
    os.makedirs(records, exist_ok=True)
    record_path = os.path.join(records, f"{stamp}.json")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ)
    env.update(
        {
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_LOCAL_IP": "127.0.0.1",
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(trace), "--record", record_path, "--work", work,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    lingering = False
    try:
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        if rc == 0:
            with open(record_path) as f:
                record = json.load(f)
            # the JVM exits once the worker is gone; give it a moment
            while not _gone(record["jvm_pid"]) and time.time() < deadline:
                time.sleep(0.1)
            lingering = not _gone(record["jvm_pid"])
    finally:
        # whatever happened, nothing the run started outlives it
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch is still there
    if rc != 0 or lingering:
        what = "overran" if rc is None else f"exited {rc}" if rc else "left its JVM running"
        raise RuntimeError(f"worker {what}: {' '.join(cmd)}")
    record["record_path"] = os.path.relpath(record_path, ROOT)
    return record


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.time() + RUN_BUDGET_S

    missing = [p for p in (ENGINE_DIR, ORACLE_TOOL, os.path.join(ROOT, "BENCHMARK.json")) if not os.path.exists(p)]
    if missing:
        print(f"perfbench: engine sources not found: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    try:
        plain = run_worker(args, 0, deadline)
        runs = [plain]
        if args.trace:
            traced = run_worker(args, 1, deadline)
            runs.append(traced)
    except (RuntimeError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3

    m = plain["metrics"]
    if args.trace:
        values = dict(traced["trace_data"]["layers"])
        values["trace.overhead_s"] = traced["metrics"]["wall_s"] - m["wall_s"]
        values["fail_ratio"] = max(r["metrics"]["fail_ratio"] for r in runs)
        for k in UNTRACED:
            values[k] = m.get(k, 0.0)
    else:
        values = m
    try:
        metrics = {k: {"value": values[k], "unit": u} for k, u in declared_metrics(args.trace).items()}
    except KeyError as e:
        print(f"perfbench: run produced no value for declared metric {e}", file=sys.stderr)
        return 3
    attempted = sum(r["metrics"]["attempted"] for r in runs)
    failed = sum(r["metrics"]["failed"] for r in runs)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    summary = {
        "result": result,
        "records": [r["record_path"] for r in runs],
        "op_tail": m["op_tail"],
        "params": plain["params"],
        "inputs": plain["inputs"],
        "mismatches": [x for r in runs for x in r["checks"]["mismatches"]],
    }
    with open(os.path.join(HERE, "records", f"{args.workload}-s{args.seed}-t{args.trace}-result.json"), "w") as f:
        json.dump(summary, f, indent=1)
    for line in summary["mismatches"]:
        print(f"perfbench: output mismatch: {line}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
