"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Each run starts its own local Spark session
on ``local[<cores>]``, works only under ``.perfbench/`` in the current
directory, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, and the spans are written to ``.perfbench/trace-<workload>-<seed>.jsonl``.
A line starting with ``#`` before it gives sample counts and raw samples.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

WORKLOADS = ("stream_ingest", "index_lifecycle")

END_TO_END = {
    "setup_s": "s",
    "ingest_p50_ms": "ms",
    "ingest_rows_per_s": "1/s",
    "query_p50_ms": "ms",
}

_INDEX_CALLS = (
    "text.build_token_index",
    "text.append_token_index_delta",
    "text.compact_token_index",
)

PER_LAYER = {
    "session.start_s": "s",
    "sources.backlog_files_max": "count",
    "sources.generator_late_ms_max": "ms",
    "pipeline.data_trigger_ms": "ms",
    "pipeline.emit_trigger_ms": "ms",
    "pipeline.add_batch_ms": "ms",
    "pipeline.planning_ms": "ms",
    "pipeline.offset_commit_ms": "ms",
    "pipeline.jobs_per_trigger": "count",
    "pipeline.tasks_per_trigger": "count",
    "pipeline.restart_s": "s",
    "pipeline.backfill_trigger_ms": "ms",
    "state.commit_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "plans.stage1_ms": "ms",
    "plans.cap_payloads_ms": "ms",
    "store.write_batch_ms": "ms",
    "store.write_batch_calls": "count",
    "store.files_written": "count",
    "store.read_plan_ms": "ms",
    "store.read_exec_ms": "ms",
    "store.jobs_per_query": "count",
    "store.files_in_store": "count",
    "repl.summary_ms": "ms",
    "repl.counts_ms": "ms",
    "repl.top_ms": "ms",
    "repl.top_entity_ms": "ms",
    "repl.recent_ms": "ms",
    **{k: v for c in _INDEX_CALLS for k, v in ((f"{c}_s", "s"), (f"{c}.jobs", "count"))},
    "text.bm25_topk_indexed_ms": "ms",
    "text.bm25_topk_indexed.jobs": "count",
    "versioned_store.commit_bases_ms": "ms",
    "index.shuffle_write_bytes": "bytes",
    "index.executor_run_s": "s",
    "index.driver_bound_fraction": "ratio",
}


class Checks:
    """Counts correctness checks; a wrong or raising check is a failed
    operation, never an exception."""

    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def __call__(self, name: str, fn) -> bool:
        self.attempted += 1
        try:
            ok = bool(fn())
        except Exception as e:  # noqa: BLE001 - a failed check is counted, not raised
            ok, name = False, f"{name}: {e!r}"
        if not ok:
            self.failed.append(name)
        return ok


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cores()))
    import tempfile

    tempfile.tempdir = tmp


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit, so a
    later run in the same process starts a fresh one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: int, trace: bool, out_dir: str) -> dict:
    """One benchmark run; returns the result object that is printed."""
    sys.path[:0] = [p for p in (REPO, HERE) if p not in sys.path]
    # the program; an incomplete checkout fails here, before any output
    import bench  # noqa: F401
    from tweetaggregates_spark.session import get_spark

    import spans as tracing

    mod = __import__(workload)
    run_id = f"{workload}-{seed}-{os.getpid()}"
    work = os.path.join(out_dir, run_id)
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        checks = Checks()
        tracer = tracing.Tracer(spark, trace, run_id)
        ctx = types.SimpleNamespace(
            spark=spark,
            tracer=tracer,
            jobs=tracing.JobStats(spark) if trace else None,
            seed=seed,
            seconds=seconds,
            root=os.path.join(work, "data"),
            session_s=session_s,
            check=checks,
            cores=_cores(),
        )
        os.makedirs(ctx.root)
        res = mod.run(ctx)
        if trace:
            tracer.write(os.path.join(out_dir, f"trace-{workload}-{seed}.jsonl"))
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    if trace:
        layer = {k: 0 for k in PER_LAYER}
        layer["session.start_s"] = session_s
        layer.update(res["layer"])
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {
            k: {"value": res["metrics"][k], "unit": u} for k, u in END_TO_END.items()
        }
    details = dict(res["details"])
    if trace:
        details["end_to_end_traced"] = res["metrics"]
    details["failed_checks"] = checks.failed
    return {
        "details": details,
        "result": {
            "correct": not checks.failed,
            "attempted": checks.attempted,
            "failed": len(checks.failed),
            "metrics": metrics,
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    out = run(
        args.workload,
        args.seed,
        args.seconds,
        bool(args.trace),
        os.path.join(os.getcwd(), ".perfbench"),
    )
    print("# " + json.dumps(out["details"]))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
