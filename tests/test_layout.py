"""Z-order layout effectiveness, proven from parquet FOOTER stats.

The claim a 100 TB table cares about: after `write_zordered`, a
selective predicate on ANY clustered column excludes most files by
min/max alone (what the scan's row-group skipping consults). A
single-column sort only skips on its own column. We verify with
pyarrow metadata reads — no data pages touched — exactly the
information the engine's skipping uses.
"""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tweetaggregates_spark.operators.layout import (
    column_bounds,
    with_zorder,
    write_zordered,
    zorder_key,
)
from tweetaggregates_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"
N_FILES = 16


def _file_ranges(path: str, cols: list[str]):
    """Per-file [min, max] for cols, from footers only."""
    out = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo = {c: None for c in cols}
        hi = {c: None for c in cols}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for i in range(g.num_columns):
                col = g.column(i)
                name = col.path_in_schema
                if name in cols and col.statistics is not None:
                    s = col.statistics
                    lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                    hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
        out.append((lo, hi))
    return out


def _overlapping(ranges, box):
    n = 0
    for lo, hi in ranges:
        if all(hi[c] >= b_lo and lo[c] <= b_hi for c, (b_lo, b_hi) in box.items()):
            n += 1
    return n


def test_zorder_skips_files_on_both_dimensions(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events").select("user_id", "value", "ts")
    bounds = column_bounds(ev, ["user_id", "value"])
    (u_lo, u_hi), (v_lo, v_hi) = bounds["user_id"], bounds["value"]

    zpath = str(tmp_path / "zorder")
    spath = str(tmp_path / "sorted_value")
    write_zordered(ev, zpath, ["user_id", "value"], N_FILES)
    # baseline: classic single-key sort (perfect on value, blind on user)
    (
        ev.repartitionByRange(N_FILES, F.col("value"))
        .sortWithinPartitions("value")
        .write.mode("overwrite")
        .parquet(spath)
    )

    z_ranges = _file_ranges(zpath, ["user_id", "value"])
    s_ranges = _file_ranges(spath, ["user_id", "value"])
    assert len(z_ranges) == N_FILES and len(s_ranges) == N_FILES

    # a box selective in BOTH dimensions: middle eighth of each span
    u_span, v_span = u_hi - u_lo, v_hi - v_lo
    box = {
        "user_id": (u_lo + 0.45 * u_span, u_lo + 0.55 * u_span),
        "value": (v_lo + 0.45 * v_span, v_lo + 0.55 * v_span),
    }
    z_hit = _overlapping(z_ranges, box)
    s_hit = _overlapping(s_ranges, box)
    # single-key layout: value prunes to ~10% of files, but each kept
    # file spans all users. z-order must beat it AND prune on the user
    # dimension alone, where value-sorted files are blind.
    u_box = {"user_id": box["user_id"]}
    assert _overlapping(z_ranges, u_box) < N_FILES // 2
    assert _overlapping(s_ranges, u_box) > N_FILES // 2
    assert z_hit <= max(s_hit, 4)


def test_zorder_key_is_deterministic_and_bounded(spark):
    ev = load_table(spark, SF_DIR, "events").select("user_id", "value")
    keyed = with_zorder(ev, ["user_id", "value"], bits=8)
    stats = keyed.agg(
        F.min("__z").alias("lo"), F.max("__z").alias("hi")
    ).collect()[0]
    assert stats.lo >= 0 and stats.hi < (1 << 16)  # 2 cols x 8 bits
    # same input -> same keys (pure function of the bounds + values)
    again = with_zorder(ev, ["user_id", "value"], bits=8)
    assert keyed.exceptAll(again).count() == 0


def test_zorder_null_and_constant_columns(spark, tmp_path):
    """ADVICE r3: an all-NULL clustered column (bounds (None, None))
    must not crash, and NULL values in a clustered column must land in
    cell 0, never a NULL Morton key."""
    df = spark.createDataFrame(
        [(None, float(i), i) for i in range(10)],
        "a double, b double, i long",
    )
    path = str(tmp_path / "allnull")
    write_zordered(df, path, ["a", "b"], 2)
    assert spark.read.parquet(path).count() == 10

    mixed = spark.createDataFrame(
        [((float(i) if i % 2 else None), float(i)) for i in range(10)],
        "a double, b double",
    )
    keyed = with_zorder(mixed, ["a", "b"], bits=4)
    assert keyed.filter(F.col("__z").isNull()).count() == 0


def test_store_zorder_layout_skips_on_entity_and_time(spark, tmp_path):
    """Round-4: the store's production layout (files_per_day > 1 on an
    entity family) z-orders (window_time, entity) within each date, so
    footer stats prune files for an entity-only lookup (Q3 with a loose
    time bound) AND for a tight intra-day time scan — the multi-file
    form of the reference's ticks‖entity composite-key seek
    (RocksDBStore.cs:18-21)."""
    import datetime

    from tweetaggregates_spark.schema import FAMILY_SCHEMAS
    from tweetaggregates_spark.store import AggregateStore

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(4000):
        name = f"user_{(i * 37) % 1000:04d}"
        rows.append(
            (
                base + datetime.timedelta(minutes=(i * 7) % (2 * 24 * 60)),
                name,
                i % 50,
                i % 50 * 10,
                [(i, i % 50, f"tweet {i}", name, -1)],
            )
        )
    df = spark.createDataFrame(rows, FAMILY_SCHEMAS["mentions"])
    st = AggregateStore(spark, str(tmp_path / "agg"))
    st.write("mentions", df, files_per_day=8)

    files = sorted(
        glob.glob(f"{st.root}/mentions/window_date=*/part-*.parquet")
    )
    assert len(files) >= 8
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        lo = {"screen_name": None, "window_time": None}
        hi = {"screen_name": None, "window_time": None}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for i in range(g.num_columns):
                col = g.column(i)
                name = col.path_in_schema
                if name in lo and col.statistics is not None:
                    s = col.statistics
                    lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                    hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
        ranges.append((lo, hi))

    # entity-only box: 10% of the entity space must prune > half the files
    e_lo, e_hi = "user_0450", "user_0550"
    e_hits = sum(
        1
        for lo, hi in ranges
        if hi["screen_name"] >= e_lo and lo["screen_name"] <= e_hi
    )
    assert e_hits <= len(files) // 2, (e_hits, len(files))

    # tight intra-day time box must also prune some files (the z-key
    # keeps time locality too, unlike an entity-major sort)
    t_lo = base + datetime.timedelta(hours=3)
    t_hi = base + datetime.timedelta(hours=6)

    def _ts(v):
        return v.replace(tzinfo=None) if hasattr(v, "tzinfo") else v

    t_hits = sum(
        1
        for lo, hi in ranges
        if _ts(hi["window_time"]) >= t_lo and _ts(lo["window_time"]) <= t_hi
    )
    assert t_hits < len(files), (t_hits, len(files))

    # layout is invisible to the read surface: rows identical
    back = sorted(tuple(r) for r in st.read("mentions").collect())
    src = sorted(tuple(r) for r in df.collect())
    assert back == src

    # compaction preserves the z-ordered multi-file form
    st.compact("mentions", files_per_day=8)
    files2 = glob.glob(f"{st.root}/mentions/window_date=*/part-*.parquet")
    assert len(files2) >= 8
    assert sorted(tuple(r) for r in st.read("mentions").collect()) == src


def test_zorder_preserves_rows(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events").select("user_id", "value", "ts")
    path = str(tmp_path / "z2")
    write_zordered(ev, path, ["user_id", "value"], 8)
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    assert set(back.columns) == {"user_id", "value", "ts"}


def test_store_zorder_numeric_entity_family(spark, tmp_path):
    """retweets' entity column is numeric (id): the z-order path must
    bucketize it directly (no string prefix key) with the same
    row-preserving, entity-skipping layout."""
    import datetime

    from tweetaggregates_spark.schema import FAMILY_SCHEMAS
    from tweetaggregates_spark.store import AggregateStore

    base = datetime.datetime(2024, 3, 1)
    rows = [
        (
            base + datetime.timedelta(minutes=i % 1440),
            (i * 131) % 100000,
            f"tweet {i}",
            i % 20,
            i % 20 * 10,
            [f"user_{i % 7}"],
        )
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, FAMILY_SCHEMAS["retweets"])
    st = AggregateStore(spark, str(tmp_path / "agg"))
    st.write("retweets", df, files_per_day=16)
    files = glob.glob(f"{st.root}/retweets/window_date=*/part-*.parquet")
    assert len(files) >= 16
    # row fidelity through the layout
    back = sorted(tuple(r) for r in st.read("retweets").collect())
    assert back == sorted(tuple(r) for r in df.collect())
    # entity-only box prunes: collect per-file id ranges from footers
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        lo = hi = None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for i in range(g.num_columns):
                col = g.column(i)
                if col.path_in_schema == "id" and col.statistics:
                    s = col.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        ranges.append((lo, hi))
    e_lo, e_hi = 45000, 55000  # 10% of the id space
    hits = sum(1 for lo, hi in ranges if hi >= e_lo and lo <= e_hi)
    assert hits <= len(files) // 2, (hits, len(files))


def test_string_order_key_clamps_unicode_without_overflow(spark):
    """Review r4 fix: ascii() returns full code points, so non-Latin-1
    first characters must clamp instead of overflowing the signed long;
    Latin-1-deciding comparisons stay monotone."""
    from tweetaggregates_spark.operators.layout import string_order_key

    df = spark.createDataFrame(
        [("a",), ("az",), ("b",), ("한글tag",), ("日x",), ("",), (None,)],
        "s string",
    )
    rows = {
        r.s: r.k
        for r in df.select(
            "s", string_order_key(F.col("s")).alias("k")
        ).collect()
    }
    assert all(v >= 0 for v in rows.values())  # no sign overflow
    assert rows["a"] < rows["az"] < rows["b"]  # ASCII order preserved
    # any string starting > U+00FF sorts after all Latin-1 strings
    assert rows["b"] < rows["한글tag"]
    assert rows["b"] < rows["日x"]
    assert rows[""] == rows[None] == 0
