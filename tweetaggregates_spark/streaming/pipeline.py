"""Structured Streaming wrapper (SURVEY.md §2.4 W1-W7, §3.1, §7 M3).

Single-pass dataflow, matching the reference's Multicast shape: the
reference evaluates the upstream tweet stream ONCE and fans out to the
five egress observables (TweetGateCore/Query.cs:42,55 Multicast;
Program.SaveAggregates.cs:61-107).

Two implementations share the same store layout and emission frontier:

* ``run_streaming_aggregates`` (production): ONE ``readStream`` ->
  unified (family, entity) rows -> ONE native watermarked streaming
  aggregation (RocksDB state store, append mode) -> ``foreachBatch``
  ranks/shapes the FINALIZED windows and writes the store. State is
  maintained incrementally by the state store; its docstring has the
  details.
* ``run_streaming_aggregates_manual`` (reference emission timing): ONE
  ``foreachBatch`` computes all five families per micro-batch from the
  batch plan ``plans.tweets.tweet_aggregates`` plus a parquet ``carry``
  of still-open-window events. The rest of this docstring documents the
  manual protocol.

Windowing semantics are Trill's interval emission (W7), implemented
manually inside foreachBatch (Spark cannot branch one streaming
aggregation into five groupings within a single query — the native
variant solves this by unioning the families into one keyed stream):

* watermark = max event time seen so far − 5 s tolerance (DisOrderTicks,
  Query.cs:14). Rows older than the watermark at batch start DROP —
  Spark's default late policy, the documented delta from Trill's
  DisorderPolicy.Adjust (SURVEY §7).
* a window is FINAL and emitted exactly once, in the first batch whose
  watermark passes its end (prev_wm < window_end <= new_wm) — the exact
  append-mode contract of a native streaming aggregation, and Trill's
  CoalesceEndEdges interval emission.
* a ``carry`` of still-open-window events rides between batches: an
  event is retained while some window containing it is open
  (ts + window_size > watermark). Any window this batch closes therefore
  sees its COMPLETE event set (carry ∪ batch), so per-window top-k (A6)
  and array dedupe (D3) are computed over full windows.

Failure semantics: foreachBatch is at-least-once, so every write is a
deterministic overwrite keyed by batch_id — family rows land in
``family/batch_id=N/`` (AggregateStore.write_batch) and the carry in
``_state/carry/batch_id=N`` — and a commit marker
(``_state/commits/N.json``, atomic rename) is written LAST. A replayed
batch either short-circuits on the marker or recomputes byte-identical
output into the same directories. This restores the keyed-put
idempotence of the reference's RocksDB sink (RocksDBStore.cs:70-135).

State scale at 100 TB: the carry holds only events inside the open
window frontier (≤ window_size + tolerance of event time), written as
date-partitioned parquet — the same bound a native state store would
hold, but spillable and executor-count independent.
"""

from __future__ import annotations

import datetime
import functools
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweetaggregates_spark.plans.tweets import (
    WINDOW_SIZE,
    parse_tweets,
    tweet_aggregates,
)
from tweetaggregates_spark.session import run_concurrently
from tweetaggregates_spark.store import AggregateStore

DISORDER_TOLERANCE_SECONDS = 5  # Query.cs:14 DisOrderTicks


# -- commit-marker protocol (idempotent foreachBatch) ------------------------


def _commit_path(commits_dir: str, batch_id: int) -> str:
    return os.path.join(commits_dir, f"{batch_id}.json")


def _is_committed(commits_dir: str, batch_id: int) -> bool:
    return os.path.exists(_commit_path(commits_dir, batch_id))


def _last_commit(commits_dir: str) -> tuple[int | None, datetime.datetime | None]:
    """Latest committed (batch_id, watermark); (None, None) if fresh."""
    ids = []
    for name in os.listdir(commits_dir):
        if name.endswith(".json"):
            try:
                ids.append(int(name[: -len(".json")]))
            except ValueError:
                continue
    if not ids:
        return None, None
    last = max(ids)
    with open(_commit_path(commits_dir, last)) as f:
        payload = json.load(f)
    wm = payload.get("watermark")
    return last, (datetime.datetime.fromisoformat(wm) if wm else None)


def _commit(
    commits_dir: str, batch_id: int, watermark: datetime.datetime | None
) -> None:
    """Atomic (write-tmp + rename) marker: the batch is durable only once
    this file exists, so a crash anywhere earlier replays harmlessly into
    the same overwrite-keyed directories."""
    tmp = _commit_path(commits_dir, batch_id) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {"batch_id": batch_id,
             "watermark": watermark.isoformat() if watermark else None},
            f,
        )
    os.replace(tmp, _commit_path(commits_dir, batch_id))


# -- the single-pass pipeline (native state-store stage 1) -------------------


def run_streaming_aggregates(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    state_shuffle_partitions: int | None = None,
    bounded_examples: bool = True,
    source_parallelism: int | None = None,
    lines_df: DataFrame | None = None,
    trigger_seconds: float | None = None,
) -> list:
    """Run the full five-family pipeline over a stream of NDJSON files
    in a SINGLE streaming query (source read once per micro-batch), with
    the per-(window x entity) stage-1 aggregation held in Spark's NATIVE
    watermarked streaming state (RocksDB state-store provider) — the
    SURVEY §4.3 design.

    ``state_shuffle_partitions`` pins spark.sql.shuffle.partitions for
    the DURATION of this query (state partition count is captured into
    the checkpoint at first start and must match on restart): size it to
    the expected per-batch state volume — small replays don't need one
    RocksDB instance per core, a 1000-executor deployment wants
    thousands. None inherits the session setting.

    How one query serves five families: Spark allows one streaming
    aggregation per query, so every tweet explodes into unified
    (family, entity) rows (plans.tweets.unified_entity_rows) and ONE
    windowed groupBy aggregates them all; the state store maintains that
    aggregation incrementally — per-batch write cost is the CHANGED
    state delta plus RocksDB compaction, not a full rewrite of the open
    window frontier (the previous carry-parquet design's write
    amplification, VERDICT r2 'What's wrong' #1). In append mode
    foreachBatch then receives only FINALIZED windows (complete groups,
    emitted exactly once, end <= watermark = max event time - 5 s —
    the same frontier the carry design emitted), ranks the top-10
    entities per window (A6), dedupes example arrays (D3), and writes
    the store (plans.tweets.families_from_stage1).

    Failure semantics are unchanged: checkpointed offsets + versioned
    state replay a failed batch with identical appended rows, writes are
    overwrite-keyed by batch_id, and the commit marker short-circuits
    fully-committed replays.

    State scale at 100 TB: per (window x family x entity) one
    count/sum/max row, plus the example payload lists for the three
    top-k families. With ``bounded_examples=True`` (default, round 4)
    the unified rows pass through ``cap_example_payloads`` before the
    state store: payloads that cannot reach any window's top-k are
    NULLed per (hop cell x Arrow batch), so a hot entity's list state
    is O(k x contributions), never O(its event count) — pinned by the
    skewed-fixture test (tests/test_streaming_soak.py). The cap is
    exactness-preserving (see its docstring); set False to skip the
    one Python stage it adds. The reference's own TopK state is O(n)
    per group (Trill heap holds every element of the open window).

    available_now=True drains existing files and stops (deterministic
    replay / tests); False runs continuously (micro-batch). Returns the
    (length-1) list of StreamingQuery handles (already awaited if
    available_now)."""
    from tweetaggregates_spark.plans.tweets import (
        cap_example_payloads,
        families_from_stage1,
        unified_entity_rows,
        unified_stage1,
    )

    store = AggregateStore(spark, store_dir)
    commits_dir = os.path.join(store_dir, "_state", "commits")
    os.makedirs(commits_dir, exist_ok=True)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    # incremental changelog per commit instead of a full RocksDB
    # snapshot upload — the production setting for frequent triggers
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled",
        "true",
    )

    def _process(stage1_batch: DataFrame, batch_id: int) -> None:
        if _is_committed(commits_dir, batch_id):
            return  # at-least-once replay of a fully committed batch
        stage1_batch = stage1_batch.persist()
        try:
            # ONE presence probe replaces five per-family isEmpty jobs:
            # a family's stage-2 output is non-empty iff it has stage-1
            # rows (rank keeps >=1 row per window); 'counts' additionally
            # needs a tumbling-aligned window in the batch.
            present = {
                (r["family"], r["aligned"])
                for r in stage1_batch.groupBy(
                    "family",
                    (
                        F.unix_timestamp(F.col("window.start")) % 600 == 0
                    ).alias("aligned"),
                )
                .count()
                .collect()
            }
            if not present:
                _commit(commits_dir, batch_id, None)
                return
            fam_rows = {f for f, _ in present}
            gate = {
                "counts": ("count", True) in present,
                "hopping_counts": "count" in fam_rows,
                "mentions": "mention" in fam_rows,
                "hashtags": "hashtag" in fam_rows,
                "retweets": "retweet" in fam_rows,
            }
            # the five family writes are independent jobs over the same
            # cached batch — submit concurrently so wall time is the
            # slowest family, not the sum (Spark's scheduler interleaves)
            families = families_from_stage1(stage1_batch)
            run_concurrently(
                spark,
                [
                    functools.partial(store.write_batch, family, df, batch_id)
                    for family, df in families.items()
                    if gate[family]
                ],
            )
            _commit(commits_dir, batch_id, None)
        finally:
            stage1_batch.unpersist()

    if lines_df is not None:
        # caller-provided line stream (rate-source load generator,
        # socket, Kafka value column, ...): same `value` contract as
        # the file source, everything downstream identical
        lines = lines_df
    else:
        reader = spark.readStream
        if max_files_per_trigger is not None:
            reader = reader.option(
                "maxFilesPerTrigger", max_files_per_trigger
            )
        lines = reader.text(input_path)
    if source_parallelism:
        # a drop-dir batch is typically ONE small file = ONE input
        # partition; fan the raw lines out so JSON parse + explode +
        # partial aggregation use the whole executor pool (the shuffle
        # moves raw bytes once — far cheaper than single-tasking parse)
        lines = lines.repartition(source_parallelism)

    unified = unified_entity_rows(parse_tweets(lines))
    if bounded_examples:
        unified = cap_example_payloads(unified)
    stage1 = unified_stage1(
        unified.withWatermark("ts", f"{DISORDER_TOLERANCE_SECONDS} seconds")
    )
    writer = (
        stage1.writeStream.queryName("tweet_aggregates_native")
        .outputMode("append")
        .option(
            "checkpointLocation", os.path.join(checkpoint_dir, "native")
        )
        .foreachBatch(_process)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_shuffle_partitions is not None:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(state_shuffle_partitions)
        )
    try:
        query = writer.start()
        if available_now:
            query.awaitTermination()
    finally:
        # continuous mode: the conf stays pinned while the query runs
        # (foreachBatch stage-2 jobs read it per batch); restore only on
        # the drained path
        if state_shuffle_partitions is not None and available_now:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return [query]


# -- the single-pass pipeline (manual carry variant) -------------------------


def run_streaming_aggregates_manual(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    disorder_policy: str = "drop",
) -> list:
    """Manual-watermark variant of ``run_streaming_aggregates``: the
    whole five-family computation runs inside foreachBatch against a
    parquet ``carry`` of still-open-window events (the module docstring
    describes the protocol). Retained as the reference implementation of
    Trill's emission timing (windows close in the exact batch whose data
    advances the watermark past their end, not one trigger later) and
    for environments without a native state store; the native version is
    the production path — this one rewrites the open-window frontier to
    parquet every micro-batch.

    ``disorder_policy``: 'drop' (default — late rows older than the
    carried watermark are discarded, Spark's native semantics) or
    'adjust' (Trill ``DisorderPolicy.Adjust``, Query.cs:27-31: late
    arrivals clamp forward to the carried watermark — cross-batch
    exact, within-batch arrival order documented-approximate; see
    operators/window.clamp_late_carried). Adjusted rows land in the
    currently-open window frontier instead of vanishing."""
    if disorder_policy not in ("drop", "adjust"):
        raise ValueError(f"unknown disorder_policy: {disorder_policy!r}")
    store = AggregateStore(spark, store_dir)
    state_dir = os.path.join(store_dir, "_state")
    commits_dir = os.path.join(state_dir, "commits")
    carry_root = os.path.join(state_dir, "carry")
    os.makedirs(commits_dir, exist_ok=True)

    def _process(batch_lines: DataFrame, batch_id: int) -> None:
        if _is_committed(commits_dir, batch_id):
            return  # at-least-once replay of a fully committed batch
        last_id, prev_wm = _last_commit(commits_dir)

        flat = parse_tweets(batch_lines)
        if prev_wm is not None:
            if disorder_policy == "adjust":
                # W1 Trill Adjust: late arrivals clamp forward to the
                # carried watermark (= running arrival max − tolerance)
                # — the clamped ts flows into the carry, so replays and
                # later batches see the ADJUSTED event, like Trill
                from tweetaggregates_spark.operators.window import (
                    clamp_late_carried,
                )

                flat = clamp_late_carried(flat, "ts", prev_wm)
            else:
                # W1 drop policy: rows older than the watermark drop
                flat = flat.filter(F.col("ts") >= F.lit(prev_wm))
        carry_path = (
            os.path.join(carry_root, f"batch_id={last_id}")
            if last_id is not None
            else None
        )
        if carry_path is not None and os.path.exists(carry_path):
            carry = spark.read.schema(flat.schema).parquet(carry_path)
            events = flat.unionByName(carry)
        else:
            events = flat
        events = events.persist()
        try:
            max_ts = events.agg(F.max("ts")).collect()[0][0]
            if max_ts is None:  # empty batch: advance nothing, commit
                _commit(commits_dir, batch_id, prev_wm)
                return
            new_wm = max_ts - datetime.timedelta(
                seconds=DISORDER_TOLERANCE_SECONDS
            )
            if prev_wm is not None and new_wm < prev_wm:
                new_wm = prev_wm  # watermark is monotone

            # one cached upstream -> all five families (Multicast, P9)
            for family, df in tweet_aggregates(events).items():
                out = df.filter(F.col("window_time") <= F.lit(new_wm))
                if prev_wm is not None:
                    out = out.filter(F.col("window_time") > F.lit(prev_wm))
                if not out.isEmpty():
                    store.write_batch(family, out, batch_id)

            # retain events while any window containing them is open
            still_open = F.col("ts") + F.expr(f"INTERVAL {WINDOW_SIZE}") > F.lit(
                new_wm
            )
            events.filter(still_open).write.mode("overwrite").parquet(
                os.path.join(carry_root, f"batch_id={batch_id}")
            )
            _commit(commits_dir, batch_id, new_wm)
            if carry_path is not None and os.path.exists(carry_path):
                shutil.rmtree(carry_path, ignore_errors=True)
        finally:
            events.unpersist()

    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.text(input_path)

    writer = (
        lines.writeStream.queryName("tweet_aggregates_single_pass")
        .option("checkpointLocation", os.path.join(checkpoint_dir, "single_pass"))
        .foreachBatch(_process)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
    return [query]
