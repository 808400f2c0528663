"""ONE parametrized crash-safety suite for the shared versioned-store
contract (VERDICT r7 #2): every base+delta index family — the MinHash
band index (``operators/dedup``), the exact-dedup hash index with its
bloom sidecar (``streaming/dedup``), and the streamed KLL rank-sketch
store (``streaming/sketch``) — routes listing, below-filtering,
commit, and cleanup through ``tweetaggregates_spark.versioned_store``,
so the contract is pinned once, against all of them, through their
public read/compact entry points:

* **replay**: ``below=N`` reads exactly the pre-N state;
* **stale-delta plant**: a folded delta left on disk at v <= base
  (crash between base commit and delta cleanup) never double-counts;
* **crash-between-commits**: for multi-family commits, a retry after
  the non-final family's rename sweeps its own orphan and commits
  (never ENOTEMPTY-wedges); temp dirs from a crash mid-materialize
  are likewise swept.

Plus direct unit pins on the primitives.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tweetaggregates_spark import versioned_store as vstore
from tweetaggregates_spark.operators import dedup
from tweetaggregates_spark.streaming.dedup import (
    compact_hash_index,
    read_hash_index_parts,
)

TEXTS = [
    "apple banana cherry date elderberry fig grape honeydew",
    "kiwi lemon mango nectarine orange papaya quince raspberry",
    "strawberry tangerine ugli vanilla watermelon xigua yam zucchini",
]


class BandFamily:
    """Driver for the MinHash band index tree (base/bands/remap)."""

    name = "band"
    delta_subs = ("bands",)
    base_subs = ("base",)
    fold_invariant = True  # compaction materializes the same fold

    def append(self, spark, path, v):
        docs = spark.createDataFrame(
            [(v * 10 + i, t) for i, t in enumerate(TEXTS)],
            ["doc_id", "text"],
        )
        dedup.append_band_index_delta(
            dedup.build_band_index(docs),
            spark.createDataFrame([], dedup.REMAP_SCHEMA),
            path,
            v,
        )

    def fingerprint(self, spark, path, below=None):
        return sorted(
            map(
                tuple,
                dedup.read_band_index(spark, path, below=below)
                .select("doc_id", "band_id", "band_key", "cluster")
                .collect(),
            )
        )

    def compact(self, spark, path, below=None):
        dedup.compact_band_index(spark, path, below=below)


class HashFamily:
    """Driver for the exact-dedup hash index + bloom sidecar
    (hashes_base/hashes, blooms_base/blooms)."""

    name = "hash"
    delta_subs = ("hashes", "blooms")
    base_subs = ("hashes_base", "blooms_base")
    fold_invariant = True
    N_BITS = 1 << 12

    def append(self, spark, path, v):
        docs = spark.createDataFrame(
            [(v * 10 + i, t) for i, t in enumerate(TEXTS)],
            ["doc_id", "text"],
        )
        rows = docs.select(
            F.xxhash64("text").alias("content_hash"),
            F.col("doc_id").alias("canonical_id"),
            F.lit(1).cast("long").alias("n_copies"),
        )
        rows.write.mode("overwrite").parquet(f"{path}/hashes/v={v}")
        dedup.bloom_slots(
            rows, "content_hash", self.N_BITS, 3
        ).write.mode("overwrite").parquet(f"{path}/blooms/v={v}")

    def fingerprint(self, spark, path, below=None):
        below = below if below is not None else 1 << 30
        idx, _ = read_hash_index_parts(spark, path, below=below)
        if idx is None:
            return []
        return sorted(
            map(
                tuple,
                idx.select(
                    "content_hash", "canonical_id", "n_copies"
                ).collect(),
            )
        )

    def compact(self, spark, path, below=None):
        compact_hash_index(spark, path, below=below)


class KllFamily:
    """Driver for the streamed rank-sketch store (items/items_base).
    Its compaction PRUNES (weight-preserving, bound-bookkept), so the
    folded fingerprint legitimately changes across a compaction —
    fold_invariant=False switches those assertions to the weaker
    universal ones (total weight / n / per-group keys preserved)."""

    name = "kll"
    delta_subs = ("items",)
    base_subs = ("items_base",)
    fold_invariant = False

    def append(self, spark, path, v):
        from pyspark.sql import functions as F

        from tweetaggregates_spark.operators.kllsketch import (
            kll_sketch_items,
        )

        df = spark.createDataFrame(
            [(v * 100 + i, "g", float((i * 37 + v) % 50)) for i in range(40)],
            "event_id BIGINT, window_time STRING, value DOUBLE",
        )
        items = kll_sketch_items(
            df, ["window_time"], "value", "event_id", k=8
        ).withColumn("ingest", F.lit(v))
        items.write.mode("overwrite").parquet(f"{path}/items/v={v}")

    def fingerprint(self, spark, path, below=None):
        from tweetaggregates_spark.streaming.sketch import read_kll_index

        idx = read_kll_index(spark, path, below=below)
        if idx is None:
            return []
        return sorted(map(tuple, idx.collect()))

    def compact(self, spark, path, below=None):
        from tweetaggregates_spark.streaming.sketch import (
            compact_kll_index,
        )

        compact_kll_index(spark, path, k=8, below=below)


class CovFamily:
    """Driver for the streamed PCA covariance-sums store
    (sums/sums_base, round 9). Merge and compaction are the exact
    per-key decimal sum, so the folded fingerprint is fully
    fold-invariant — and compaction output is CONSTANT size
    (d(d+3)/2 rows) regardless of trigger count."""

    name = "cov"
    delta_subs = ("sums",)
    base_subs = ("sums_base",)
    fold_invariant = True

    DIM = 4

    def append(self, spark, path, v):
        from pyspark.sql import functions as F

        from tweetaggregates_spark.operators.pca import cov_term_sums

        df = spark.createDataFrame(
            [
                (v * 100 + i, [float((i + j + v) % 5) for j in range(self.DIM)])
                for i in range(6)
            ],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )
        cov_term_sums(df, dim=self.DIM).withColumn(
            "ingest", F.lit(v)
        ).write.mode("overwrite").parquet(f"{path}/sums/v={v}")

    def fingerprint(self, spark, path, below=None):
        from tweetaggregates_spark.streaming.covstream import (
            read_cov_index,
        )

        idx = read_cov_index(spark, path, below=below)
        if idx is None:
            return []
        return sorted(map(tuple, idx.collect()))

    def compact(self, spark, path, below=None):
        from tweetaggregates_spark.streaming.covstream import (
            compact_cov_index,
        )

        compact_cov_index(spark, path, below=below)


@pytest.fixture(
    params=[BandFamily(), HashFamily(), KllFamily(), CovFamily()],
    ids=["band", "hash", "kll", "cov"],
)
def family(request):
    return request.param


class TestVersionedStoreContract:
    def test_replay_reads_pre_batch_state(self, spark, family, tmp_path):
        path = str(tmp_path / "idx")
        for v in range(3):
            family.append(spark, path, v)
        pre2 = family.fingerprint(spark, path, below=2)
        # a redelivered trigger 2 overwrites its own version and still
        # reads exactly the pre-batch index
        family.append(spark, path, 2)
        assert family.fingerprint(spark, path, below=2) == pre2
        # the full fold differs (band: more rows; hash: higher
        # n_copies on the merged groups)
        assert family.fingerprint(spark, path) != pre2

    def test_stale_delta_plant_never_double_counts(
        self, spark, family, tmp_path
    ):
        path = str(tmp_path / "idx")
        for v in range(3):
            family.append(spark, path, v)
        before = family.fingerprint(spark, path)
        family.compact(spark, path)
        mid = family.fingerprint(spark, path)
        if family.fold_invariant:
            assert mid == before
        # crash between base commit and delta cleanup: the folded
        # deltas reappear on disk at v <= base — readers must ignore
        # all of them (re-appending at the old versions recreates
        # exactly the delta payloads the compaction folded)
        for v in range(3):
            family.append(spark, path, v)
        assert family.fingerprint(spark, path) == mid

    def test_compaction_idempotent_and_crash_safe_tmp(
        self, spark, family, tmp_path
    ):
        path = str(tmp_path / "idx")
        for v in range(4):
            family.append(spark, path, v)
        want = family.fingerprint(spark, path)
        # crash mid-materialize: a stale temp dir from a dead attempt
        for sub in family.base_subs:
            os.makedirs(f"{path}/.compact_{sub}_tmp", exist_ok=True)
            with open(f"{path}/.compact_{sub}_tmp/garbage", "w") as fh:
                fh.write("crash residue")
        family.compact(spark, path)
        got = family.fingerprint(spark, path)
        if family.fold_invariant:
            assert got == want
        # compacting again (nothing new) must be a no-op, not a
        # delete-then-rewrite of the live base (for pruning families,
        # also: no bound inflation from recompacting nothing)
        family.compact(spark, path)
        assert family.fingerprint(spark, path) == got
        # deltas folded, single base version per family
        for sub in family.delta_subs:
            assert vstore.versions(f"{path}/{sub}") in ([], [3])
        for sub in family.base_subs:
            assert len(vstore.versions(f"{path}/{sub}")) == 1

    def test_append_after_compact_folds_on_top(
        self, spark, family, tmp_path
    ):
        path = str(tmp_path / "idx")
        for v in range(2):
            family.append(spark, path, v)
        family.compact(spark, path)
        family.append(spark, path, 5)
        full = family.fingerprint(spark, path)
        assert family.fingerprint(spark, path, below=5) != full
        # second compaction folds the post-base delta
        family.compact(spark, path)
        if family.fold_invariant:
            assert family.fingerprint(spark, path) == full
        else:
            assert family.fingerprint(spark, path)


class TestPrimitives:
    def test_versions_ignores_non_version_names(self, tmp_path):
        p = str(tmp_path / "d")
        for name in ("v=3", "v=10", "v=x", ".tmp", "batch_id=4", "v=5"):
            os.makedirs(f"{p}/{name}")
        assert vstore.versions(p) == [3, 5, 10]
        assert vstore.versions(str(tmp_path / "missing")) == []

    def test_base_and_deltas_filtering(self, tmp_path):
        root = str(tmp_path)
        for v in (2, 5):
            os.makedirs(f"{root}/base/v={v}")
        for v in (1, 3, 5, 6, 8):
            os.makedirs(f"{root}/deltas/v={v}")
        assert vstore.base_and_deltas(root, "base", "deltas") == (5, [6, 8])
        assert vstore.base_and_deltas(root, "base", "deltas", below=6) == (
            5,
            [],
        )
        assert vstore.base_and_deltas(root, "base", "deltas", below=5) == (
            2,
            [3],
        )
        assert vstore.base_and_deltas(root, "base", "deltas", below=1) == (
            None,
            [],
        )

    @pytest.mark.parametrize("n_frames", [2, 4])
    def test_commit_bases_orphan_sweep_and_order(
        self, spark, tmp_path, n_frames
    ):
        # with 4 frames the temps after the first are written
        # concurrently; distinct row counts per family pin that each
        # temp lands under its own family
        root = str(tmp_path)
        subs = [f"sidecar{i}" for i in range(n_frames - 1)] + ["main"]
        frames = [
            (sub, spark.range(3 + i).select(F.col("id").alias("x")))
            for i, sub in enumerate(subs)
        ]
        # plant the crash residue: non-final families already renamed
        for sub in subs[:-1]:
            os.makedirs(f"{root}/{sub}/v=7/stale", exist_ok=True)
        vstore.commit_bases(root, frames, 7)
        for i, sub in enumerate(subs):
            assert vstore.versions(f"{root}/{sub}") == [7]
            assert not os.path.exists(f"{root}/{sub}/v=7/stale")
            assert spark.read.parquet(f"{root}/{sub}/v=7").count() == 3 + i
        # the FINAL family is the commit point: it must not silently
        # replace a live base unless allow_replace is set
        with pytest.raises(OSError):
            vstore.commit_bases(root, frames, 7)
        vstore.commit_bases(root, frames, 7, allow_replace=True)
        assert (
            spark.read.parquet(f"{root}/main/v=7").count() == 3 + n_frames - 1
        )

    def test_cleanup_after_compact(self, tmp_path):
        root = str(tmp_path)
        for v in (1, 2, 3, 4):
            os.makedirs(f"{root}/d/v={v}")
        for v in (2, 3):
            os.makedirs(f"{root}/b/v={v}")
        vstore.cleanup_after_compact(root, ["d"], ["b"], newv=3)
        assert vstore.versions(f"{root}/d") == [4]
        assert vstore.versions(f"{root}/b") == [3]
