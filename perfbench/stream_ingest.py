"""Workload ``stream_ingest``: live ingest, backfill, then REPL reads.

The production query ``streaming.pipeline.run_streaming_aggregates`` runs
over a drop directory with four state partitions and no source fan-out.
``bench.py``'s soak arguments (8 state partitions, 16 source partitions)
are sized for many cores; on four cores they make each file cost about
4.6 s of triggers instead of 2.8 s, which leaves too few windows per run.

* Warm-up (set-up): a fixed number of files is dropped closed-loop, each
  after the previous one's window committed, past the steep part of the
  trigger-time curve.
* Live phase (open loop): one file, holding one event-time minute, is
  dropped every ``PERIOD_S`` on a fixed schedule. Each file closes one
  hopping window. A window's freshness runs from the scheduled drop of the
  file that closes it to the commit marker of the micro-batch that first
  wrote it, found from outside through the store's ``batch_id`` trees and
  ``_state/commits``.
* Backfill: the query stops, a backlog that continues the event time is
  dropped, and the query restarts with ``availableNow`` on the same
  checkpoint.
* REPL: a fixed rotation of getsummary / getcounts / gettop / getrecent
  commands reads the store the stream wrote (one uncompacted tree per
  micro-batch) and consumes each answer as ``cli._emit`` does.

Correctness: the store's closed windows must equal
``plans.tweets.tweet_aggregates`` over the same lines, restricted to the
windows at or before the final watermark; every dropped file must be in
the query's source log; and every REPL answer must equal the same command
answered from those batch rows (``repl_answer``).
"""

from __future__ import annotations

import contextlib
import datetime
import io
import json
import os
import random
import statistics
import time

from pyspark.sql import functions as F

import bench
from gen import BASE_MS, MINUTE_MS, tweet_minute
from tweetaggregates_spark import cli
from tweetaggregates_spark.plans import tweets as tp
from tweetaggregates_spark.store import ENTITY_COL, FAMILIES, AggregateStore
from tweetaggregates_spark.streaming import pipeline

TWEETS_PER_FILE = 200
# The per-file trigger time falls over the first files (JIT, Python
# workers, RocksDB instances); a probe on four cores measured about 3.6,
# 3.2, 2.9 and 2.8 s for the third to sixth file, flat after that. Three
# warm-up files leave the live files within about 15% of the flat value;
# each further one costs about 3 s of every run.
WARMUP_FILES = 3
# One file per PERIOD_S. A file costs two triggers, 2.8 to 4.2 s once warm
# depending on how busy the host is, so the live phase stays below
# capacity and no backlog builds up.
PERIOD_S = 4.5
# fewer live windows than this leave the median at the mercy of one trigger
MIN_LIVE = 4
BACKLOG_FILES = 25
STATE_PARTITIONS = 4
WAIT_TIMEOUT_S = 60.0
REPL_ROTATIONS = 2

# columns compared per family: the example payload lists are left out, as
# in the repository's batch/stream parity tests
_COMPARE = {
    "counts": None,
    "hopping_counts": None,
    "mentions": ["window_time", "screen_name", "tweet_count", "follower_count_sum"],
    "hashtags": ["window_time", "hashtag", "tweet_count", "follower_count_sum"],
    "retweets": ["window_time", "id", "tweet_count", "follower_count_sum"],
}


def _ts(ms: int) -> str:
    return datetime.datetime.fromtimestamp(ms / 1000, datetime.UTC).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def _max_ts_ms(lines: list[str]) -> int:
    out = 0
    for ln in lines:
        try:
            out = max(out, int(json.loads(ln)["timestamp_ms"]))
        except (ValueError, KeyError, TypeError):
            continue
    return out


def repl_commands(seed: int, last_minute: int) -> list[tuple]:
    """The REPL rotation, (kind, store method, args), in a seeded order.
    The set of commands does not depend on the seed, so neither does the
    mix of query costs."""
    s, e = _ts(BASE_MS + 2 * MINUTE_MS), _ts(BASE_MS + last_minute * MINUTE_MS)
    entity = {"mentions": "user_0", "hashtags": "tag0", "retweets": "1000"}
    cmds = [("summary", "get_summary", ()), ("counts", "get_counts", (s, e))]
    for fam in ("mentions", "hashtags", "retweets"):
        cmds.append(("top", "get_top", (fam, s, e)))
        cmds.append(("top_entity", "get_top", (fam, s, e, entity[fam])))
    cmds.append(("recent", "get_recent", ("hopping_counts", 20)))
    cmds.append(("recent", "get_recent", ("mentions", 20)))
    random.Random(seed).shuffle(cmds)
    return cmds


def _emit_rows(df, path: str) -> list[str]:
    """Consume a REPL answer through ``cli._emit``'s file redirection."""
    with contextlib.redirect_stdout(io.StringIO()):
        cli._emit(df, path)
    with open(path) as f:
        return f.read().splitlines()


def _source_files(ckpt: str) -> set[str]:
    """Basenames of every file the query's source log has committed."""
    log_dir = os.path.join(ckpt, "native", "sources", "0")
    out = set()
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.startswith("{"):
                    out.add(os.path.basename(json.loads(line)["path"]))
    return out


def _watermark_ms(query) -> int:
    p = query.lastProgress
    wm = (p or {}).get("eventTime", {}).get("watermark") if p else None
    if not wm:
        return 0
    t = datetime.datetime.fromisoformat(wm.replace("Z", "+00:00"))
    return int(t.timestamp() * 1000)


def _wait_closed(query, window_end_ms: int) -> None:
    """Block until the query has committed the batch that closes the window
    ending at ``window_end_ms``."""
    deadline = time.monotonic() + WAIT_TIMEOUT_S
    while _watermark_ms(query) < window_end_ms:
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        if time.monotonic() > deadline:
            raise TimeoutError(f"window ending {window_end_ms} never closed")
        time.sleep(0.01)


def run(ctx) -> dict:
    spark, tracer, seed, root = ctx.spark, ctx.tracer, ctx.seed, ctx.root
    in_dir, stage_dir = os.path.join(root, "in"), os.path.join(root, "stage")
    store_dir, ckpt = os.path.join(root, "store"), os.path.join(root, "ckpt")
    os.makedirs(in_dir)
    os.makedirs(stage_dir)
    n_live = max(MIN_LIVE, int(ctx.seconds // PERIOD_S))
    n_stream = WARMUP_FILES + n_live
    n_total = n_stream + BACKLOG_FILES

    t_setup = time.perf_counter()
    t_files = time.time() - n_total
    lines = [tweet_minute(seed, m, TWEETS_PER_FILE) for m in range(n_total)]
    names = [f"{m:05d}.ndjson" for m in range(n_total)]
    for m in range(n_total):
        path = os.path.join(stage_dir, names[m])
        with open(path, "w") as f:
            f.write("\n".join(lines[m]) + "\n")
        # the file source takes the oldest modification time first; files
        # written within one clock tick would otherwise come in any order,
        # and a minute read after a later one is dropped as late
        os.utime(path, (t_files + m, t_files + m))
    max_ts = [_max_ts_ms(ls) for ls in lines]

    def start(available_now: bool):
        return pipeline.run_streaming_aggregates(
            spark,
            in_dir,
            store_dir,
            ckpt,
            available_now=available_now,
            max_files_per_trigger=None if available_now else 1,
            state_shuffle_partitions=STATE_PARTITIONS,
        )[0]

    def drop(m: int) -> None:
        os.rename(os.path.join(stage_dir, names[m]), os.path.join(in_dir, names[m]))

    # A window ending at minute m closes once the watermark (newest event
    # - 5 s) passes it; file m is the first whose events do that.
    close_end = [BASE_MS + m * MINUTE_MS for m in range(n_total)]

    write_batch = AggregateStore.write_batch
    if tracer.enabled:
        AggregateStore.write_batch = tracer.wrap("store.write_batch", write_batch)
    try:
        query = start(available_now=False)
        # closed loop, so each file gets the data trigger and the emit-only
        # trigger that every live file gets
        for m in range(WARMUP_FILES):
            drop(m)
            _wait_closed(query, close_end[m])
        setup_s = time.perf_counter() - t_setup
        bench._reset_state(spark)

        # -- live phase: open loop on a fixed schedule ---------------------
        first_live_batch = query.lastProgress["batchId"] + 1
        jobs_before = ctx.jobs.max_job_id() if tracer.enabled else None
        files_before, live_t0 = _count_files(store_dir), time.time()
        sched0 = time.time() + 0.5
        scheduled, late_ms, backlog = {}, [], []
        for j in range(n_live):
            m = WARMUP_FILES + j
            scheduled[m] = sched0 + j * PERIOD_S
            time.sleep(max(0.0, scheduled[m] - time.time()))
            drop(m)
            late_ms.append((time.time() - scheduled[m]) * 1e3)
            # files dropped whose window has not committed yet, this one included
            wm = _watermark_ms(query)
            backlog.append(sum(1 for k in range(WARMUP_FILES, m + 1) if close_end[k] > wm))
        _wait_closed(query, close_end[n_stream - 1])
        live_progress = [
            p for p in query.recentProgress if p.batchId >= first_live_batch
        ]
        live_jobs = ctx.jobs.since(jobs_before) if tracer.enabled else None
        live_files, live_t1 = _count_files(store_dir) - files_before, time.time()
        query.stop()

        # -- backfill: restart on the same checkpoint ----------------------
        bench._reset_state(spark)
        for m in range(n_stream, n_total):
            drop(m)
        backlog_lines = sum(len(lines[m]) for m in range(n_stream, n_total))
        t0 = time.perf_counter()
        with tracer.span("pipeline.backfill"):
            backfill_q = start(available_now=True)
        backfill_s = time.perf_counter() - t0
    finally:
        AggregateStore.write_batch = write_batch

    phase_s = {"setup": setup_s, "live+backfill": time.perf_counter() - t_setup - setup_s}
    t_phase = time.perf_counter()
    # -- freshness, from the store's batch trees and commit markers --------
    store = AggregateStore(spark, store_dir)
    first_batch = {
        r["window_time"]: r["b"]
        for r in store.spark.read.parquet(store._path("hopping_counts"))
        .groupBy("window_time")
        .agg(F.min("batch_id").alias("b"))
        .collect()
    }
    commits = os.path.join(store_dir, "_state", "commits")
    freshness = []
    for m in scheduled:
        b = first_batch.get(datetime.datetime.fromtimestamp(close_end[m] / 1000))
        if b is not None:
            committed = os.stat(os.path.join(commits, f"{b}.json")).st_mtime
            freshness.append((committed - scheduled[m]) * 1e3)

    phase_s["freshness"] = time.perf_counter() - t_phase
    t_phase = time.perf_counter()
    # -- reference: the batch path over the same lines ----------------------
    bench._reset_state(spark)
    check = ctx.check
    final_wm = max(max_ts) - pipeline.DISORDER_TOLERANCE_SECONDS * 1000
    flat = tp.parse_tweets(spark.read.text(in_dir)).persist()
    closed = {
        fam: [
            r.asDict(recursive=True)
            for r in df.filter(
                F.col("window_time") <= F.lit(_ts(final_wm)).cast("timestamp")
            ).collect()
        ]
        for fam, df in tp.tweet_aggregates(flat).items()
    }
    flat.unpersist()
    phase_s["reference"] = time.perf_counter() - t_phase
    t_phase = time.perf_counter()

    # -- REPL over the streamed store ---------------------------------------
    cmds = repl_commands(seed, n_total)
    query_ms, per_kind = [], {}
    plan_ms, exec_ms = [], []
    # the first rotation plans and compiles every command once; only the
    # last one is timed
    for rep in range(REPL_ROTATIONS):
        timed = rep == REPL_ROTATIONS - 1
        for i, (kind, meth, args) in enumerate(cmds):
            out = os.path.join(root, f"q_{rep}_{i}.jsonl")
            t0 = time.perf_counter()
            with tracer.span("store.read_plan") as sp:
                df = getattr(store, meth)(*args)
            with tracer.span("store.read_exec") as se:
                rows = _emit_rows(df, out)
            dt = (time.perf_counter() - t0) * 1e3
            if timed:
                query_ms.append(dt)
                per_kind.setdefault(kind, []).append(dt)
                if sp is not None:
                    plan_ms.append(sp)
                    exec_ms.append(se)
            check(
                f"repl {meth}{args}",
                lambda: sorted(rows) == sorted(repl_answer(closed, meth, args)),
            )

    phase_s["repl"] = time.perf_counter() - t_phase
    t_phase = time.perf_counter()
    # -- correctness of the stream itself -----------------------------------
    dropped = set(names)
    check("every dropped file committed", lambda: dropped <= _source_files(ckpt))
    check("every live window committed", lambda: len(freshness) == n_live)
    for fam in FAMILIES:

        def same(fam=fam):
            cols = _COMPARE[fam] or list(closed[fam][0])
            got = [r.asDict() for r in store.read(fam).select(*cols).collect()]
            return _keyed(got, cols) == _keyed(closed[fam], cols)

        check(f"family {fam} equals batch aggregates", same)
    check("backfill drained", lambda: backfill_q.exception() is None)

    phase_s["checks"] = time.perf_counter() - t_phase
    metrics = {
        "setup_s": ctx.session_s + setup_s,
        "ingest_p50_ms": statistics.median(freshness),
        "ingest_rows_per_s": backlog_lines / backfill_s,
        "query_p50_ms": statistics.median(query_ms),
    }
    details = {
        "freshness_ms": [round(x, 1) for x in freshness],
        "live_files": n_live,
        "period_s": PERIOD_S,
        "backlog_lines": backlog_lines,
        "backfill_s": round(backfill_s, 3),
        "repl_samples": len(query_ms),
        "phase_s": {k: round(v, 2) for k, v in phase_s.items()},
    }
    layer = {}
    if tracer.enabled:
        layer = _layers(ctx, dict(
            live=live_progress, live_jobs=live_jobs, live_files=live_files,
            live_window=(live_t0, live_t1), late_ms=late_ms, backlog=backlog,
            backfill_q=backfill_q, backfill_s=backfill_s, plan=plan_ms,
            exe=exec_ms, per_kind=per_kind, store_files=_count_files(store_dir),
            backlog_paths=[os.path.join(in_dir, names[m]) for m in range(n_stream, n_total)],
        ))
    return {"metrics": metrics, "layer": layer, "details": details}


def _keyed(rows: list[dict], cols: list[str]) -> list:
    return sorted((tuple(r[c] for c in cols) for r in rows), key=lambda t: tuple(map(str, t)))


def repl_answer(closed: dict[str, list[dict]], meth: str, args: tuple) -> list[str]:
    """A REPL command answered from the batch path's closed-window rows,
    rendered as ``cli._emit`` renders rows. ``AggregateStore``'s read
    surface defines the semantics: half-open time ranges, entity equality,
    newest-first recency with the entity as tiebreaker, and the summary
    fold over the counts family."""
    def when(ts: str) -> datetime.datetime:
        return datetime.datetime.fromisoformat(ts)

    if meth == "get_summary":
        counts = closed["counts"]
        lo = min(r["window_time"] for r in counts)
        hi = max(r["window_time"] for r in counts)
        out = [{
            "min_date": lo,
            "max_date": hi,
            "window_count": len(counts),
            "number_of_tweets": sum(r["cnt"] for r in counts),
            "duration_seconds": int((hi - lo).total_seconds()),
        }]
    elif meth == "get_counts":
        s, e = map(when, args)
        out = [r for r in closed["counts"] if s <= r["window_time"] < e]
    elif meth == "get_top":
        fam, s, e = args[0], when(args[1]), when(args[2])
        ecol = ENTITY_COL[fam]
        out = [
            r for r in closed[fam]
            if s <= r["window_time"] < e and (len(args) < 4 or str(r[ecol]) == args[3])
        ]
    elif meth == "get_recent":
        fam, n = args
        ecol = ENTITY_COL.get(fam)
        newest = sorted(
            closed[fam],
            key=lambda r: (-r["window_time"].timestamp(), str(r[ecol]) if ecol else ""),
        )
        out = newest[:n]
    else:
        raise ValueError(f"no reference for {meth}")
    return [json.dumps(r, default=str) for r in out]


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def _count_files(root: str) -> int:
    return sum(len(files) for _, _, files in os.walk(root))


def _layers(ctx, obs: dict) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    live, live_jobs, plan, exe = obs["live"], obs["live_jobs"], obs["plan"], obs["exe"]
    data = [p for p in live if p.numInputRows > 0]
    emit = [p for p in live if p.numInputRows == 0]
    dur = lambda ps, k: [p.durationMs.get(k) for p in ps]  # noqa: E731
    ops = [s for p in live for s in p.stateOperators]
    bf = obs["backfill_q"].recentProgress
    t0, t1 = obs["live_window"]
    writes = [s for s in tracer.named("store.write_batch") if t0 <= s["start"] <= t1]
    n_q = max(len(plan), 1)
    out = {
        "sources.backlog_files_max": max(obs["backlog"]),
        "sources.generator_late_ms_max": max(obs["late_ms"]),
        "pipeline.data_trigger_ms": _med(dur(data, "triggerExecution")),
        "pipeline.emit_trigger_ms": _med(dur(emit, "triggerExecution")),
        "pipeline.add_batch_ms": _med(dur(live, "addBatch")),
        "pipeline.planning_ms": _med(dur(live, "queryPlanning")),
        "pipeline.offset_commit_ms": _med(dur(live, "commitOffsets")),
        "pipeline.jobs_per_trigger": live_jobs["jobs"] / max(len(live), 1),
        "pipeline.tasks_per_trigger": live_jobs["tasks"] / max(len(live), 1),
        "pipeline.restart_s": obs["backfill_s"]
        - sum(p.durationMs.get("triggerExecution", 0) for p in bf) / 1e3,
        "pipeline.backfill_trigger_ms": max(
            (p.durationMs.get("triggerExecution", 0) for p in bf if p.numInputRows > 0),
            default=0,
        ),
        "state.commit_ms": _med([s.commitTimeMs for s in ops]),
        "state.rows_total": max((s.numRowsTotal for s in ops), default=0),
        "state.memory_bytes": max((s.memoryUsedBytes for s in ops), default=0),
        "store.write_batch_ms": _med([s["ms"] for s in writes]),
        "store.write_batch_calls": len(writes),
        "store.files_written": obs["live_files"],
        "store.read_plan_ms": _med([s["ms"] for s in plan]),
        "store.read_exec_ms": _med([s["ms"] for s in exe]),
        "store.jobs_per_query": (sum(s["jobs"] for s in plan) + sum(s["jobs"] for s in exe)) / n_q,
        "store.files_in_store": obs["store_files"],
    }
    for kind in ("summary", "counts", "top", "top_entity", "recent"):
        out[f"repl.{kind}_ms"] = _med(obs["per_kind"].get(kind, []))
    out.update(_stage1_layers(spark, tracer, obs["backlog_paths"]))
    return out


def _stage1_layers(spark, tracer, backlog_paths: list[str]) -> dict:
    """The stage-1 chain of ``plans.tweets`` over the backlog lines, to a
    noop sink, with and without the example-payload cap."""
    src = spark.read.text(backlog_paths).persist()
    src.count()

    def chain(cap: bool) -> None:
        unified = tp.unified_entity_rows(tp.parse_tweets(src))
        if cap:
            unified = tp.cap_example_payloads(unified)
        tp.unified_stage1(unified).write.format("noop").mode("overwrite").save()

    ms = {}
    for cap in (False, True, False, True):
        with tracer.span(f"plans.stage1.cap={cap}") as s:
            chain(cap)
        ms.setdefault(cap, []).append(s["ms"])
    src.unpersist()
    return {
        "plans.stage1_ms": min(ms[True]),
        "plans.cap_payloads_ms": min(ms[True]) - min(ms[False]),
    }
