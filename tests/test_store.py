"""Store sink + read surface tests (SURVEY §2.1 S7, §2.8 Q1-Q7)."""

from __future__ import annotations

import collections
import datetime
import re

import pytest
from pyspark.sql import functions as F

from tests.fixtures import make_tweets
from tweetaggregates_spark import cli
from tweetaggregates_spark.plans import tweets as tp
from tweetaggregates_spark.schema import FAMILY_SCHEMAS
from tweetaggregates_spark.store import ENTITY_COL, FAMILIES, AggregateStore


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("store")
    lines_path = p / "tweets.ndjson"
    lines_path.write_text("\n".join(make_tweets(1000, seed=7)) + "\n")
    flat = tp.parse_tweets(spark.read.text(str(lines_path))).persist()
    st = AggregateStore(spark, str(p / "agg"))
    bundle = tp.tweet_aggregates(flat)
    for fam, df in bundle.items():
        st.write(fam, df)
    flat.unpersist()
    return st


def test_roundtrip_counts(store):
    counts = store.read("counts")
    assert counts.count() > 0
    assert set(counts.columns) == {"window_time", "cnt"}


def test_summary(store):
    row = store.get_summary().collect()[0]
    assert row.min_date <= row.max_date
    assert row.number_of_tweets > 0
    assert row.window_count > 0


def test_range_scan_half_open(store):
    counts = store.read("counts").orderBy("window_time").collect()
    start, end = counts[0].window_time, counts[-1].window_time
    got = store.get_counts(str(start), str(end)).collect()
    # half-open: excludes the last window
    assert len(got) == len(counts) - 1
    assert [r.window_time for r in got] == [r.window_time for r in counts[:-1]]


def test_range_read_prunes_uncovered_dates(spark, tmp_path):
    """A range read lists only the window_date partitions its
    [start, end) covers: with the other date's file made unreadable, a
    one-date range still answers, and its scan carries the derived
    window_date bound as a partition filter."""
    st = AggregateStore(spark, str(tmp_path / "agg"))
    rows = [
        (datetime.datetime(2024, 1, day, 0, minute), minute + 1)
        for day in (1, 2)
        for minute in (0, 5)
    ]
    st.write("counts", spark.createDataFrame(rows, FAMILY_SCHEMAS["counts"]))
    other = tmp_path / "agg" / "counts" / "window_date=2024-01-02"
    for part in other.glob("*.parquet"):
        part.write_bytes(b"not parquet")
    got = st.get_counts("2024-01-01 00:00:00", "2024-01-01 23:59:00")
    assert [tuple(r) for r in got.collect()] == rows[:2]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*window_date", plan), plan


def test_recent_n(store):
    rec = store.get_recent("hopping_counts", 3).collect()
    assert len(rec) == 3
    times = [r.window_time for r in rec]
    assert times == sorted(times, reverse=True)


def test_top_entity_filter(store):
    m = store.read("mentions")
    some = m.select("screen_name").first().screen_name
    span = m.agg(F.min("window_time"), F.max("window_time")).collect()[0]
    got = store.get_top(
        "mentions", str(span[0]), str(span[1] + __import__("datetime").timedelta(minutes=1)), entity=some
    )
    rows = got.collect()
    assert rows
    assert all(r.screen_name == some for r in rows)


def test_print_db(store):
    out = store.print_db(2)
    assert "summary" in out and "counts" in out


def test_prefix_seek_quirk(store):
    """The quirk variant returns the intended rows PLUS later-keyed
    entities of the seek window (RocksDBStore.cs:242-245)."""
    m = store.read("mentions").orderBy("window_time").collect()
    w0 = m[0].window_time
    names_in_w0 = sorted(r.screen_name for r in m if r.window_time == w0)
    if len(names_in_w0) < 2:
        import pytest

        pytest.skip("need >=2 entities in first window")
    pivot = names_in_w0[1]
    end = str(m[-1].window_time)
    got = store.get_top_prefix_seek("mentions", str(w0), end, pivot).collect()
    got_w0 = sorted(r.screen_name for r in got if r.window_time == w0)
    # seek starts at (w0, pivot): names before pivot in w0 excluded
    assert got_w0 == [n for n in names_in_w0 if n >= pivot]
    # but later windows are NOT filtered by entity (the quirk)
    later = {r.window_time for r in got if r.window_time != w0}
    expected_later = {r.window_time for r in m if r.window_time not in (w0, m[-1].window_time)}
    assert expected_later <= later | {m[-1].window_time}


def _cols(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema]


def test_declared_schemas_match_both_writers(spark, store, tmp_path):
    """Both writers persist exactly the declared family schemas, so a
    read with them (no footer inference) nulls no column: the batch
    bundle through ``write`` (the module store) and the streaming stage
    2 through ``write_batch``, compared against the footer schema."""
    src = tmp_path / "tweets.ndjson"
    src.write_text("\n".join(make_tweets(300, seed=3)) + "\n")
    flat = tp.parse_tweets(spark.read.text(str(src)))
    stage1 = tp.unified_stage1(tp.unified_entity_rows(flat)).persist()
    streamed = AggregateStore(spark, str(tmp_path / "streamed"))
    for fam, df in tp.families_from_stage1(stage1).items():
        streamed.write_batch(fam, df, 0)
    stage1.unpersist()
    for st in (store, streamed):
        for fam in FAMILIES:
            on_disk = spark.read.parquet(st._path(fam)).drop("window_date", "batch_id")
            assert _cols(on_disk.schema) == _cols(FAMILY_SCHEMAS[fam]), (st.root, fam)
            assert _cols(st.read(fam).schema) == _cols(FAMILY_SCHEMAS[fam])


def test_write_rejects_undeclared_schema(spark, tmp_path):
    st = AggregateStore(spark, str(tmp_path / "agg"))
    renamed = spark.createDataFrame([], FAMILY_SCHEMAS["counts"]).withColumnRenamed(
        "cnt", "count"
    )
    with pytest.raises(ValueError, match="declared"):
        st.write("counts", renamed)
    with pytest.raises(ValueError, match="declared"):
        st.write_batch("hopping_counts", renamed, 0)
    assert not (tmp_path / "agg").exists()


def test_get_top_in_total_key_order(store):
    """Range answers come back in the reference's ticks‖entity key
    order, (window_time, entity as string), inside every window too."""
    for fam in ("mentions", "retweets"):
        ecol = ENTITY_COL[fam]
        lo, hi = store.read(fam).agg(F.min("window_time"), F.max("window_time")).first()
        rows = store.get_top(fam, str(lo), str(hi + datetime.timedelta(minutes=1))).collect()
        keys = [(r.window_time, str(r[ecol])) for r in rows]
        assert keys == sorted(keys), fam
        per_window = collections.Counter(t for t, _ in keys)
        assert max(per_window.values()) >= 2, fam


def test_repl_commands_run_at_most_two_jobs(spark, store, tmp_path):
    """Building an answer runs no job (no schema inference); emitting it
    runs at most two (a shuffle map stage and the result), and a recency
    answer one (a distributed top-k collect)."""
    sc = spark.sparkContext
    lo, hi = store.read("mentions").agg(F.min("window_time"), F.max("window_time")).first()
    start, end = str(lo), str(hi + datetime.timedelta(minutes=1))
    name = store.read("mentions").first().screen_name
    commands = {
        "summary": (store.get_summary, (), 2),
        "counts": (store.get_counts, (start, end), 2),
        "top": (store.get_top, ("hashtags", start, end), 2),
        "top_entity": (store.get_top, ("mentions", start, end, name), 2),
        "prefix_seek": (store.get_top_prefix_seek, ("mentions", start, end, name), 2),
        "recent": (store.get_recent, ("retweets", 5), 1),
    }

    def jobs(group: str) -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        for kind, (meth, args, most) in commands.items():
            sc.setJobGroup(f"plan-{kind}", kind)
            df = meth(*args)
            sc.setJobGroup(f"emit-{kind}", kind)
            cli._emit(df, str(tmp_path / f"{kind}.jsonl"))
            assert jobs(f"plan-{kind}") == 0, kind
            assert 1 <= jobs(f"emit-{kind}") <= most, kind
    finally:
        for prop in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{prop}", None)
