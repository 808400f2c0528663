"""Batch/stream parity (SURVEY §5 item 2): the same NDJSON replayed
through Structured Streaming (availableNow) must produce exactly the
batch pipeline's aggregates for every window the watermark closed.

Windows with end > (max event time - tolerance) never close in append
mode — the documented drop/late semantics delta (SURVEY §7) — so parity
is asserted on the closed-window prefix.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.fixtures import make_tweets
from tweetaggregates_spark.plans import tweets as tp
from tweetaggregates_spark.store import AggregateStore
from tweetaggregates_spark.streaming.pipeline import run_streaming_aggregates


@pytest.fixture(scope="module")
def stream_outputs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    in_dir = root / "in"
    in_dir.mkdir()
    (in_dir / "tweets.ndjson").write_text(
        "\n".join(make_tweets(1500, seed=11)) + "\n"
    )
    queries = run_streaming_aggregates(
        spark,
        str(in_dir),
        str(root / "store"),
        str(root / "ckpt"),
        available_now=True,
    )
    flat = tp.parse_tweets(spark.read.text(str(in_dir))).persist()
    max_ts = flat.agg(F.max("ts")).collect()[0][0]
    yield spark, str(root / "store"), flat, max_ts, queries, str(in_dir)
    flat.unpersist()


def _closed(df, max_ts):
    import datetime

    threshold = max_ts - datetime.timedelta(seconds=5)
    return df.filter(F.col("window_time") <= F.lit(threshold))


def _rows(df, key_cols):
    return sorted(
        [tuple(r) for r in df.collect()],
        key=lambda t: tuple(str(x) for x in t),
    )


def test_counts_parity(stream_outputs):
    spark, store_dir, flat, max_ts, _queries, _in_dir = stream_outputs
    streamed = AggregateStore(spark, store_dir).read("counts")
    batch = _closed(tp.tumbling_counts(flat), max_ts)
    assert _rows(streamed, None) == _rows(batch, None)


def test_hopping_counts_parity(stream_outputs):
    spark, store_dir, flat, max_ts, _queries, _in_dir = stream_outputs
    streamed = AggregateStore(spark, store_dir).read("hopping_counts")
    batch = _closed(tp.hopping_counts(flat), max_ts)
    assert _rows(streamed, None) == _rows(batch, None)


def test_mentions_parity(stream_outputs):
    spark, store_dir, flat, max_ts, _queries, _in_dir = stream_outputs
    streamed = (
        AggregateStore(spark, store_dir).read("mentions")
        .select("window_time", "screen_name", "tweet_count", "follower_count_sum")
    )
    batch = _closed(
        tp.top_entities(flat, "mentions", "screen_name"), max_ts
    ).select("window_time", "screen_name", "tweet_count", "follower_count_sum")
    assert _rows(streamed, None) == _rows(batch, None)


def test_retweets_parity(stream_outputs):
    spark, store_dir, flat, max_ts, _queries, _in_dir = stream_outputs
    streamed = (
        AggregateStore(spark, store_dir).read("retweets")
        .select("window_time", "id", "tweet_count", "follower_count_sum")
    )
    batch = _closed(tp.top_retweets(flat), max_ts).select(
        "window_time", "id", "tweet_count", "follower_count_sum"
    )
    assert _rows(streamed, None) == _rows(batch, None)


def test_source_read_once(stream_outputs):
    """The defining single-pass property (Query.cs:42,55 Multicast): ONE
    streaming query, and total numInputRows across every progress event
    equals the input line count — each byte is read/parsed exactly once,
    not once per aggregate family."""
    spark, store_dir, flat, max_ts, queries, in_dir = stream_outputs
    assert len(queries) == 1
    raw_lines = spark.read.text(in_dir).count()
    total_input = sum(p.numInputRows for q in queries for p in q.recentProgress)
    assert total_input == raw_lines
    # and ONE stateful operator serves all five families — the unified
    # stage-1 aggregation, not five parallel state stores
    for q in queries:
        for p in q.recentProgress:
            assert len(p.stateOperators) == 1


@pytest.fixture(scope="module")
def multi_batch_outputs(spark, tmp_path_factory):
    """Three time-ordered files drained one per micro-batch
    (maxFilesPerTrigger=1): exercises the cross-batch carry, the
    monotone watermark, and the disjoint (prev_wm, new_wm] emit ranges."""
    import json as _json

    root = tmp_path_factory.mktemp("stream_mb")
    in_dir = root / "in"
    in_dir.mkdir()
    lines = make_tweets(1500, seed=23)
    parsed = []
    for ln in lines:
        try:
            ts = int(_json.loads(ln)["timestamp_ms"])
        except Exception:
            ts = 0  # invalid lines: front-load, they drop in parse anyway
        parsed.append((ts, ln))
    parsed.sort(key=lambda p: p[0])
    third = len(parsed) // 3
    chunks = [parsed[:third], parsed[third : 2 * third], parsed[2 * third :]]
    import os as _os
    import time as _time

    now = _time.time()
    for i, chunk in enumerate(chunks):
        path = in_dir / f"{i:03d}.ndjson"
        path.write_text("\n".join(ln for _, ln in chunk) + "\n")
        # FileStreamSource drains oldest-mtime first: make order explicit
        _os.utime(path, (now + 10 * i, now + 10 * i))
    queries = run_streaming_aggregates(
        spark,
        str(in_dir),
        str(root / "store"),
        str(root / "ckpt"),
        available_now=True,
        max_files_per_trigger=1,
    )
    flat = tp.parse_tweets(spark.read.text(str(in_dir))).persist()
    max_ts = flat.agg(F.max("ts")).collect()[0][0]
    yield spark, str(root / "store"), str(root / "ckpt"), flat, max_ts, queries
    flat.unpersist()


def test_multi_batch_parity_and_exactly_once(multi_batch_outputs):
    spark, store_dir, ckpt, flat, max_ts, queries = multi_batch_outputs
    n_batches = sum(1 for q in queries for p in q.recentProgress if p.numInputRows > 0)
    assert n_batches == 3
    store = AggregateStore(spark, store_dir)
    streamed = store.read("counts")
    # exactly-once per window: emit ranges are disjoint across batches
    dupes = streamed.groupBy("window_time").count().filter(F.col("count") > 1)
    assert dupes.count() == 0
    batch = _closed(tp.tumbling_counts(flat), max_ts)
    assert _rows(streamed, None) == _rows(batch, None)
    hop = store.read("hopping_counts")
    hop_dupes = hop.groupBy("window_time").count().filter(F.col("count") > 1)
    assert hop_dupes.count() == 0
    assert _rows(hop, None) == _rows(_closed(tp.hopping_counts(flat), max_ts), None)


def test_restart_is_idempotent(multi_batch_outputs):
    """A restart over the same checkpoint with no new data must not
    change the store (commit markers + overwrite-keyed batch dirs)."""
    spark, store_dir, ckpt, flat, max_ts, queries = multi_batch_outputs
    store = AggregateStore(spark, store_dir)
    before = {f: store.read(f).count() for f in ("counts", "hopping_counts", "mentions")}
    in_dir = store_dir.rsplit("/", 1)[0] + "/in"
    run_streaming_aggregates(
        spark, in_dir, store_dir, ckpt, available_now=True, max_files_per_trigger=1
    )
    after = {f: store.read(f).count() for f in ("counts", "hopping_counts", "mentions")}
    assert before == after


def test_trigger_jobs_run_in_query_job_group(spark, tmp_path):
    """Every job the run launches — the family writes the trigger runs
    from pool threads included — belongs to the query's job group
    (its runId), so the query's stop() can cancel it and monitoring
    attributes it to the query."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "tweets.ndjson").write_text(
        "\n".join(make_tweets(600, seed=5)) + "\n"
    )
    sc = spark.sparkContext
    status = sc._jsc.sc().statusStore()

    def _max_job_id() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = status.jobsList(None)
        return max(
            (jobs.apply(i).jobId() for i in range(jobs.size())), default=-1
        )

    first = _max_job_id() + 1
    [q] = run_streaming_aggregates(
        spark, str(in_dir), str(tmp_path / "store"),
        str(tmp_path / "ckpt"), available_now=True,
    )
    launched = set(range(first, _max_job_id() + 1))
    in_group = set(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    assert AggregateStore(spark, str(tmp_path / "store")).read(
        "counts"
    ).count() > 0
    assert launched and launched <= in_group, sorted(launched - in_group)


def test_run_concurrently_inherits_group_and_joins_before_raising(spark):
    """Pool threads carry the caller's job group, and a failing write
    neither cancels its siblings nor hides behind a later failure: all
    writes finish, then the first error (in submission order) raises."""
    import threading

    from tweetaggregates_spark.session import run_concurrently

    sc = spark.sparkContext
    release = threading.Event()
    seen, done = [], []

    def _ok():
        seen.append(sc.getLocalProperty("spark.jobGroup.id"))
        assert release.wait(timeout=30)
        done.append(True)

    def _first():
        release.set()
        raise ValueError("first")

    def _second():
        raise KeyError("second")

    sc.setJobGroup("run-concurrently-test", "pool attribution")
    try:
        with pytest.raises(ValueError, match="first"):
            run_concurrently(spark, [_first, _ok, _second])
    finally:
        for prop in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{prop}", None)
    assert seen == ["run-concurrently-test"]
    assert done == [True]


def test_manual_variant_matches_native(spark, tmp_path):
    """The carry-parquet (manual) and native-state pipelines must leave
    IDENTICAL stores — same families, same rows — over a multi-batch
    drain: the native rewrite changed the state mechanism, not the
    emission frontier or any aggregate value."""
    import os
    import time as _time

    from tweetaggregates_spark.streaming.pipeline import (
        run_streaming_aggregates_manual,
    )

    import json as _json

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # time-ordered batches (like the reference's replay files): the two
    # variants document different LATE-row policies (global-watermark
    # drop vs Spark's per-window acceptance), so parity is defined on
    # in-order arrival
    def _ts(ln):
        try:
            return int(_json.loads(ln)["timestamp_ms"])
        except Exception:
            return 0  # invalid lines front-load; they drop in parse

    lines = sorted(make_tweets(1200, seed=31), key=_ts)
    half = len(lines) // 2
    now = _time.time()
    for i, chunk in enumerate((lines[:half], lines[half:])):
        p = in_dir / f"{i:03d}.ndjson"
        p.write_text("\n".join(chunk) + "\n")
        os.utime(p, (now + 10 * i, now + 10 * i))
    run_streaming_aggregates(
        spark, str(in_dir), str(tmp_path / "store_n"),
        str(tmp_path / "ckpt_n"), available_now=True,
        max_files_per_trigger=1,
    )
    run_streaming_aggregates_manual(
        spark, str(in_dir), str(tmp_path / "store_m"),
        str(tmp_path / "ckpt_m"), available_now=True,
        max_files_per_trigger=1,
    )
    sn = AggregateStore(spark, str(tmp_path / "store_n"))
    sm = AggregateStore(spark, str(tmp_path / "store_m"))
    for fam in ("counts", "hopping_counts", "mentions", "hashtags",
                "retweets"):
        native = _rows(sn.read(fam), None)
        manual = _rows(sm.read(fam), None)
        assert native == manual, fam


def test_socket_source_live_shape(spark, tmp_path):
    """S1 live-stream shape: NDJSON over one TCP connection (the
    reference's wire format) parses through the same pipeline as file
    replay. A thread serves 50 tweets; the query drains them into a
    memory sink."""
    import socket
    import threading
    import time as _time

    from tweetaggregates_spark.sources.tweets import read_tweets_socket

    lines = make_tweets(50, seed=43)
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def _serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            _time.sleep(8)  # keep the connection open while spark reads

    t = threading.Thread(target=_serve, daemon=True)
    t.start()
    try:
        parsed = tp.parse_tweets(read_tweets_socket(spark, "127.0.0.1", port))
        q = (
            parsed.writeStream.queryName("socket_smoke")
            .format("memory")
            .outputMode("append")
            .start()
        )
        try:
            deadline = _time.time() + 30
            expected = tp.parse_tweets(
                spark.createDataFrame([(ln,) for ln in lines], ["value"])
            ).count()
            while _time.time() < deadline:
                if spark.table("socket_smoke").count() >= expected:
                    break
                _time.sleep(0.5)
            assert spark.table("socket_smoke").count() == expected
        finally:
            q.stop()
    finally:
        srv.close()
