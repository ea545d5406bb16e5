"""One run of one workload, in a fresh process started by ``run.py``.

Phases: generate the inputs from the seed, start Spark at
``local[<cores>]``, warm up (set-up), run the timed ops, then check the
outputs untimed. With ``--trace 1`` the run also turns the UI status store
on, tags every op's jobs, records spans around each call into a layer,
wraps the public ``sources.versioned`` functions, listens to streaming
progress, and derives the per-layer numbers at the end.

Everything the run measures is written to ``--record`` as JSON.

Usage (normally through run.py):
    python3 perfbench/worker.py --workload star_queries --seed 1 --seconds 10 \
        --trace 0 --record out.json --work /path/inside/the/checkout
"""

from __future__ import annotations

import argparse
import dataclasses
import functools
import json
import os
import statistics
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import datagen  # noqa: E402
import sparkrest  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import ARTIFACTS, ENGINE, WORKLOADS  # noqa: E402

STORE_FUNCTIONS = ("write_version", "append_version", "merge_upsert", "compact", "vacuum", "read_current")


def process_start_epoch() -> float:
    """Wall-clock time this process was created (Linux /proc)."""
    with open("/proc/self/stat") as f:
        after_comm = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(after_comm[19])  # field 22 of stat(5)
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Context:
    """What a workload sees: the session, its inputs, and ``op``."""

    def __init__(self, spark, tracer: Tracer, args, data_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.trace = tracer.enabled
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = args.work
        self.data_dir = data_dir
        self.ops: list[dict] = []
        self.wall_s = 0.0
        self.store_dirs: list[str] = []
        self._files: dict[str, int] = {}
        self.store_written = Counter()

    def op(self, name: str, kind: str, build, force, **attrs):
        """Run one timed op: ``build()`` returns a DataFrame (the plan
        build), ``force(df)`` executes it. ``build`` None means the op has
        no separate plan build and ``force()`` does all the work. Returns
        the forced result, or None when the op failed."""
        index = len(self.ops)
        sc = self.spark.sparkContext
        if self.trace:
            sc.addJobTag(sparkrest.op_tag(index))
        t0 = time.time()
        t1 = t0
        out, error = None, None
        try:
            with self.tracer.span(f"op.{kind}", op=index, op_name=name):
                if build is None:
                    out = force()
                else:
                    with self.tracer.span("plans.build"):
                        df = build()
                    t1 = time.time()
                    with self.tracer.span("exec"):
                        out = force(df)
        except Exception as e:  # noqa: BLE001 -- a failed op is counted, the run goes on
            traceback.print_exc()
            error = f"{type(e).__name__}: {e}"
        t2 = time.time()
        if self.trace:
            sc.removeJobTag(sparkrest.op_tag(index))
        self.ops.append(
            {"index": index, "name": name, "kind": kind, "start": t0, "build_end": t1, "end": t2,
             "seconds": t2 - t0, "ok": error is None, "error": error, **attrs}
        )
        if self.trace:
            self._after_op(self.ops[-1])
        return out

    def _after_op(self, op: dict) -> None:
        """Trace-only store accounting: files and bytes each op wrote, and
        the files a read had to open."""
        if op["kind"] == "read" and "store_path" in op:
            V = sys.modules[f"{ENGINE}.sources.versioned"]
            op["files_read"] = len(V.table_files(op["store_path"]))
        now = {}
        for d in self.store_dirs:
            for root, _dirs, names in os.walk(d):
                for n in names:
                    if n.endswith(".parquet") and not n.startswith(("_", ".")):
                        p = os.path.join(root, n)
                        now[p] = os.path.getsize(p)
        new = [p for p in now if p not in self._files]
        self.store_written["files"] += len(new)
        self.store_written["bytes"] += sum(now[p] for p in new)
        self._files = now


class StreamProgress:
    """Collects streaming query progress events (traced run only).

    PySpark 4.1 fails to convert the query-started event of a query started
    under a job tag and logs the error from the listener bus; progress
    events, the ones read here, are unaffected."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append(
                    {"batchId": p.batchId, "rows": p.numInputRows, "durationMs": dict(p.durationMs),
                     "at": time.time()}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


def wrap_store(tracer: Tracer, conflicts: Counter) -> None:
    """Time the public ``sources.versioned`` functions from outside. The
    streaming sinks import ``versioned`` lazily, so they call the wrappers."""
    from importlib import import_module

    V = import_module(f"{ENGINE}.sources.versioned")

    def wrap(name, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with tracer.span(f"store.{name}"):
                try:
                    return fn(*args, **kwargs)
                except V.ConcurrentWriteError:
                    conflicts["store.conflicts"] += 1
                    raise

        return wrapped

    for name in STORE_FUNCTIONS:
        setattr(V, name, wrap(name, getattr(V, name)))


def start_spark(args, tracer: Tracer):
    from importlib import import_module

    get_spark = import_module(f"{ENGINE}.session").get_spark
    n = cores()
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if tracer.enabled:
        # the engine keeps the UI off; the traced run is its telemetry
        # consumer, so it turns the status store on, as bench.py does
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedStages": "20000",
                "spark.ui.retainedJobs": "20000",
            }
        )
    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def end_to_end(ctx: Context, setup_s: float, rss_mb: float, mismatches: list[str], extra: dict) -> dict:
    # an op repeated over passes counts once, at its median latency
    lat = stats.per_op_medians([(o["name"], o["seconds"]) for o in ctx.ops if o["kind"] == "op" and o["ok"]]) or [0.0]
    tail = stats.tail(lat)
    failed = sum(1 for o in ctx.ops if not o["ok"]) + len(mismatches)
    out = {
        "setup_s": setup_s,
        "wall_s": ctx.wall_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail["value"],
        "op_tail": tail,
        "peak_rss_mb": rss_mb,
        "attempted": len(ctx.ops),
        "failed": failed,
        "fail_ratio": failed / max(1, len(ctx.ops)),
        **extra,
    }
    reads = [o["seconds"] for o in ctx.ops if o["kind"] == "read" and o["ok"]]
    if reads:
        out["read_p50_s"] = statistics.median(reads)
    return out


def per_layer(ctx: Context, tracer: Tracer, rest: dict, progress: StreamProgress, conflicts: Counter, timed_start: float) -> tuple[dict, list[dict]]:
    windows = [
        sparkrest.OpWindow(o["index"], o["name"], o["kind"], o["start"], o["build_end"], o["end"])
        for o in ctx.ops
    ]
    rows, health = sparkrest.per_op(rest["stages"], rest["jobs"], windows)
    tot = lambda k: sum(r[k] for r in rows.values())  # noqa: E731
    setup = tracer.totals("session.")
    spans = tracer.totals(since=timed_start)
    layers = {
        "session.start_s": setup["session.start"]["total_s"],
        "session.warm_s": setup["session.warm"]["total_s"],
        "plans.build_s": spans.get("plans.build", {}).get("total_s", 0.0),
        "plans.build_jobs": tot("build_jobs"),
        "driver.gap_s": tot("driver_gap_s"),
        "driver.jobs": tot("jobs"),
        "driver.stages": tot("stages"),
        "sched.delay_s": tot("sched_delay_s"),
        "sched.tasks": tot("tasks"),
        "scan.input_mb": tot("input_mb"),
        "scan.input_rows": tot("input_rows"),
        "exec.run_s": tot("exec_run_s"),
        "exec.cpu_s": tot("exec_cpu_s"),
        "exec.gc_s": tot("exec_gc_s"),
        "shuffle.write_mb": tot("shuffle_write_mb"),
        "shuffle.read_mb": tot("shuffle_read_mb"),
        "shuffle.fetch_wait_s": tot("shuffle_fetch_wait_s"),
        "spill.mb": tot("spill_mb"),
    }
    for name in ARTIFACTS:
        layers[f"artifact.build_s.{name}"] = sum(o["seconds"] for o in ctx.ops if o.get("artifact") == name)
    storage = rest["storage"]
    layers["artifact.persisted"] = len(storage)
    layers["artifact.cached_mb"] = sum((r.get("memoryUsed") or 0) + (r.get("diskUsed") or 0) for r in storage) / 1e6
    for fn in STORE_FUNCTIONS:
        # self time: a merge's nested write_version counts once, there
        layers[f"store.{fn}_s"] = spans.get(f"store.{fn}", {}).get("self_s", 0.0)
    layers["store.bytes_written_mb"] = ctx.store_written["bytes"] / 1e6
    layers["store.files_written"] = ctx.store_written["files"]
    reads = [o["files_read"] for o in ctx.ops if "files_read" in o]
    layers["store.files_per_read"] = statistics.mean(reads) if reads else 0.0
    layers["store.conflicts"] = conflicts["store.conflicts"]
    batches = [e for e in progress.events if e["rows"] > 0 and e["at"] >= timed_start] if progress else []
    layers["stream.batches"] = len(batches)
    layers["stream.trigger_s"] = sum(e["durationMs"].get("triggerExecution", 0) for e in batches) / 1e3
    layers["stream.add_batch_s"] = sum(e["durationMs"].get("addBatch", 0) for e in batches) / 1e3
    layers["stream.input_rows"] = sum(e["rows"] for e in batches)
    layers["trace.untagged_stage_share"] = health["untagged_stage_share"]
    for o in ctx.ops:
        o["layers"] = rows[o["index"]]
    return {"layers": layers, "attribution": health}, (progress.events if progress else [])


def main(argv: list[str]) -> int:
    t_proc = process_start_epoch()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)

    phases = {"process": t_proc, "imports": time.time()}
    workload = WORKLOADS[args.workload]()
    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    conflicts: Counter = Counter()
    data_dir = os.path.join(args.work, "data")
    with tracer.span("session.datagen"):
        datagen.write_tables(data_dir, args.seed, workload.scale)
    phases["datagen"] = time.time()
    spark = start_spark(args, tracer)
    phases["session_start"] = time.time()
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    progress = None
    if tracer.enabled:
        wrap_store(tracer, conflicts)
        progress = StreamProgress()
        spark.streams.addListener(progress.listener)
    ctx = Context(spark, tracer, args, data_dir)
    with tracer.span("session.warm"):
        workload.prepare(ctx)
    timed_start = phases["timed_start"] = time.time()
    with tracer.span("timed"):
        workload.timed(ctx)
    ctx.wall_s = time.time() - timed_start
    rss_mb = vm_hwm_mb() + vm_hwm_mb(jvm_pid)
    extra = workload.extra(ctx) if hasattr(workload, "extra") else {}
    phases["extra"] = time.time()

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores(),
        "inputs": dataclasses.asdict(workload.scale),
        "params": workload.params(),
        "jvm_pid": jvm_pid,
        "setup_s": timed_start - t_proc,
    }
    if tracer.enabled:
        rest = sparkrest.fetch(spark.sparkContext.uiWebUrl, spark.sparkContext.applicationId)
        record["trace_data"], record["stream_progress"] = per_layer(ctx, tracer, rest, progress, conflicts, timed_start)
    phases["trace_fetch"] = time.time()
    mismatches = workload.check(ctx)
    phases["checks"] = time.time()
    # phase boundaries, seconds after process start
    record["phases"] = {k: v - t_proc for k, v in phases.items()}
    record["checks"] = {"mismatches": mismatches}
    record["metrics"] = end_to_end(ctx, record["setup_s"], rss_mb, mismatches, extra)
    record["ops"] = ctx.ops
    record["spans"] = tracer.records()
    with open(args.record, "w") as f:
        json.dump(record, f, indent=1, default=str)
    spark.stop()
    print(f"perfbench worker: stopped {time.time() - t_proc:.1f} s after start", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
