"""Aggregate store: sink + read query surface (SURVEY.md §2.1 S7, §2.8).

The reference persists each aggregate family to a RocksDB column family
keyed by zero-padded window ticks so range scans are ordered seeks
(RocksDBStore.cs:18-21, 70-135, 207-264). The Spark-native equivalent is
one parquet table per family, partitioned by window DATE and sorted
within files by window_time:

* partition pruning gives the same skip behavior as the key-ordered seek
  (a [start, end) scan touches only the covered date partitions);
* parquet min/max row-group stats on window_time prune inside a day;
* per-partition atomic file commit replaces the WriteBatch atomicity.

At 100 TB: date partitioning bounds partition count (365/yr — no
small-file explosion), and family tables are independent so writers
parallelize. For finer pruning switch the partition column to hour.

Every family has one declared schema (``schema.FAMILY_SCHEMAS``). Reads
pass it to the parquet reader, so no job infers it from a file footer;
writes refuse a frame whose columns differ from it, a check made on the
driver before any job runs, so a declared-schema read can never
silently null a column. A family with no directory yet (a young stream
has closed no tumbling window, so ``counts/`` does not exist) reads as
an empty frame of its schema.

A REPL answer is at most NUMBER_OF_AGGREGATES_PER_WINDOW entity rows
per window, so range answers are ordered in one partition after a
parallel scan: one shuffle to a single reducer that sorts, and no range
partitioner sampling job as ``orderBy`` would add.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweetaggregates_spark.schema import FAMILY_SCHEMAS

FAMILIES = tuple(FAMILY_SCHEMAS)

# entity column per family (FIXTURES.md §3 output schemas)
ENTITY_COL = {"mentions": "screen_name", "hashtags": "hashtag", "retweets": "id"}


class AggregateStore:
    """Parquet-backed store with the reference's read surface
    (Program.Repl.cs:34-124 commands Q1-Q6)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _path(self, family: str) -> str:
        return os.path.join(self.root, family)

    # -- S7 sink ------------------------------------------------------------

    def _prep(self, df: DataFrame, family: str, files_per_day: int) -> DataFrame:
        """Canonical layout for a family tree. files_per_day == 1: one
        sorted run per date partition (window_time-major, entity
        tiebreak — the reference's ticks‖entity key order,
        RocksDBStore.cs:18-21). files_per_day > 1 on an entity family:
        Z-ORDER the rows within each date on (window_time, entity) and
        range-split into ~files_per_day files per date, so BOTH a time
        predicate and an entity-only predicate (Q3 with a loose time
        bound) skip files from footer stats alone — the multi-file
        equivalent of the composite-key seek. At 100 TB a day of
        mentions is many files, so the z-ordered form is the production
        layout; 1-file-per-day is the small-store degenerate case."""
        out = df.withColumn("window_date", F.to_date("window_time"))
        ecol = ENTITY_COL.get(family)
        if files_per_day > 1 and ecol is not None:
            from pyspark.sql.types import StringType

            from tweetaggregates_spark.operators.layout import (
                string_order_key,
                with_zorder,
            )

            ekey = (
                string_order_key(F.col(ecol))
                if isinstance(df.schema[ecol].dataType, StringType)
                else F.col(ecol).cast("double")
            )
            keyed = out.withColumn(
                "__t", F.col("window_time").cast("double")
            ).withColumn("__e", ekey)
            keyed = with_zorder(keyed, ["__t", "__e"], bits=10)
            n_dates = max(out.select("window_date").distinct().count(), 1)
            return (
                keyed.repartitionByRange(
                    files_per_day * n_dates, "window_date", "__z"
                )
                .sortWithinPartitions("window_date", "__z")
                .drop("__t", "__e", "__z")
            )
        sort_cols = ["window_time"] + ([ecol] if ecol else [])
        return out.repartition("window_date").sortWithinPartitions(*sort_cols)

    def write(
        self,
        family: str,
        df: DataFrame,
        mode: str = "overwrite",
        files_per_day: int = 1,
    ) -> None:
        """Persist one aggregate family; df must have the family's
        declared schema."""
        _check_schema(family, df)
        (
            self._prep(df, family, files_per_day)
            .write.mode(mode)
            .partitionBy("window_date")
            .parquet(self._path(family))
        )

    def write_batch(self, family: str, df: DataFrame, batch_id: int) -> None:
        """Streaming sink: persist one family's output for one micro-batch
        into a deterministic ``family/batch_id=N/`` subdirectory with mode
        OVERWRITE. foreachBatch is at-least-once, so a replayed batch
        overwrites its own directory instead of appending duplicates —
        the Spark-file equivalent of the reference's idempotent keyed
        RocksDB puts (RocksDBStore.cs:70-135). batch_id is a discovered
        partition column on read and dropped."""
        _check_schema(family, df)
        (
            df.withColumn("window_date", F.to_date("window_time"))
            .repartition("window_date")
            .sortWithinPartitions("window_time")
            .write.mode("overwrite")
            .partitionBy("window_date")
            .parquet(os.path.join(self._path(family), f"batch_id={batch_id}"))
        )

    def compact(
        self, family: str, verify: bool = True, files_per_day: int = 1
    ) -> None:
        """Maintenance: rewrite a family into the canonical layout of
        `write()` — date-partitioned, one sorted run per partition.

        The streaming sink (`write_batch`) accumulates one directory
        tree PER MICRO-BATCH — idempotent and correct, but the file
        count grows with batch count: the classic streaming small-file
        problem. Compaction folds them back into one file set per date,
        sorted by (window_time, entity) so parquet min/max stats stay
        tight for the range-scan surface; `read()` output is unchanged
        row-for-row.

        The swap is two-phase: write the full new tree to a temp dir
        (the write materializes every row BEFORE the old tree moves),
        optionally verify row counts, then two renames. At 100 TB the
        same shape runs as write-new + catalog/metastore pointer swap
        (rename is not atomic on object stores); per-family compaction
        parallelizes since family tables are independent.

        Concurrency: the family's streaming sink must be QUIESCED for
        the duration of the swap — micro-batches landing between the
        read snapshot and the rename would be silently destroyed.
        compact() enforces this defensively: it snapshots the family's
        top-level entries (batch_id dirs) at entry and re-lists
        immediately before the swap; if anything new/changed appeared it
        aborts with the original tree untouched. Crash recovery: a
        leftover __compact_tmp from a prior run is discarded (never
        swapped in); a leftover __compact_old is rolled forward or back
        depending on whether the swap's second rename completed."""
        import shutil

        path = self._path(family)
        tmp, old = path + ".__compact_tmp", path + ".__compact_old"
        # -- crash recovery from a prior interrupted compact ---------------
        if os.path.exists(old):
            if os.path.exists(path):
                # swap completed, cleanup didn't: old tree is garbage
                shutil.rmtree(old)
            elif os.path.exists(tmp):
                # crashed between the two renames with the new tree fully
                # written+verified: roll FORWARD (finish the swap)
                os.rename(tmp, path)
                shutil.rmtree(old)
            else:
                # crashed between the renames, no new tree: roll BACK
                os.rename(old, path)
        if os.path.exists(tmp):
            # prior run died before its swap: tmp was never authoritative
            shutil.rmtree(tmp)

        snapshot = self._dir_state(path)
        df = self.read(family)
        (
            self._prep(df, family, files_per_day)
            .write.mode("overwrite")
            .partitionBy("window_date")
            .parquet(tmp)
        )
        if verify:
            n_old = df.count()
            n_new = self.spark.read.parquet(tmp).count()
            if n_old != n_new:
                shutil.rmtree(tmp)
                raise RuntimeError(
                    f"compact({family}): row count changed {n_old}->{n_new}; "
                    "aborted, original left in place"
                )
        if self._dir_state(path) != snapshot:
            shutil.rmtree(tmp)
            raise RuntimeError(
                f"compact({family}): new micro-batches arrived during "
                "compaction (streaming sink not quiesced); aborted, "
                "original left in place — stop the stream and re-run"
            )
        # Two-phase swap with a post-rename re-check (ADVICE r4): a
        # micro-batch landing between the pre-check above and the first
        # rename travels WITH the tree into `old` and is caught by
        # re-fingerprinting `old`; one landing AFTER the first rename
        # recreates `path`, which makes rename(tmp, path) fail — both
        # cases roll back with every batch preserved. (A writer holding
        # an open dirfd into the renamed tree is undetectable by path:
        # quiescing the sink remains the contract; this is defense in
        # depth, not a lock.)
        os.rename(path, old)
        try:
            if self._dir_state(old) != snapshot:
                raise RuntimeError(
                    f"compact({family}): new micro-batches arrived during "
                    "the swap (streaming sink not quiesced); rolled back, "
                    "original left in place — stop the stream and re-run"
                )
            os.rename(tmp, path)
        except OSError as e:
            self._rollback_swap(path, old)
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"compact({family}): swap failed ({e}); rolled back, "
                "original left in place"
            ) from e
        except RuntimeError:
            self._rollback_swap(path, old)
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        shutil.rmtree(old)

    @staticmethod
    def _rollback_swap(path: str, old: str) -> None:
        """Restore `old` as `path`, folding in any batches a concurrent
        writer dropped into a recreated `path` so nothing is lost."""
        if os.path.exists(path):
            for name in os.listdir(path):
                os.rename(os.path.join(path, name), os.path.join(old, name))
            os.rmdir(path)
        os.rename(old, path)

    @staticmethod
    def _dir_state(path: str) -> tuple:
        """Fingerprint of a family tree's top-level entries: (name,
        inode, mtime_ns, ctime_ns) tuples. New batch_id dirs AND
        in-place replays of an existing batch dir both change it — the
        inode + ctime components catch replace-by-rename replays even
        on filesystems with coarse mtime granularity."""
        try:
            with os.scandir(path) as it:
                return tuple(
                    sorted(
                        (
                            e.name,
                            e.stat().st_ino,
                            e.stat().st_mtime_ns,
                            e.stat().st_ctime_ns,
                        )
                        for e in it
                    )
                )
        except FileNotFoundError:
            return ()

    # -- read surface -------------------------------------------------------

    def read(self, family: str) -> DataFrame:
        """The family's rows with its declared schema, read without a
        schema-inference job; the ``window_date`` and ``batch_id``
        partition columns are dropped. A family never written reads as
        an empty frame. This is also the export path for a range too
        large to collect: filter it and write it out."""
        return self._between(family, None, None)

    def _between(self, family: str, start: str | None, end: str | None) -> DataFrame:
        """``read`` restricted to ``start <= window_time < end`` (no
        bound when start is None). The derived ``window_date`` bounds
        prune to the covered date partitions before any file is listed;
        the window_time bounds prune row groups inside a day."""
        schema = FAMILY_SCHEMAS[family]
        path = self._path(family)
        if not os.path.isdir(path):
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.schema(schema).parquet(path)
        if start is not None:
            lo, hi = F.lit(start).cast("timestamp"), F.lit(end).cast("timestamp")
            df = df.filter(
                F.col("window_date").between(F.to_date(lo), F.to_date(hi))
                & (F.col("window_time") >= lo)
                & (F.col("window_time") < hi)
            )
        return df.select(*schema.fieldNames())

    def get_summary(self) -> DataFrame:
        """Q1 (getsummary): fold over the counts family
        (RocksDBStore.DbSummary.cs:19-30)."""
        from tweetaggregates_spark.operators.aggregate import db_summary

        return db_summary(self.read("counts"), "window_time", "cnt")

    def get_counts(self, start: str, end: str) -> DataFrame:
        """Q2 (getcounts start end): half-open ordered range scan
        (RocksDBStore.cs:145-149), pruned to the covered window_date
        partitions before any file is opened (``_between``)."""
        return _one_ordered_partition(self._between("counts", start, end), None)

    def get_top(self, family: str, start: str, end: str, entity: str | None = None) -> DataFrame:
        """Q3/Q4/Q5 (gettop{mentions,hashtags,retweets}string): range
        scan, optional entity equality. Implements the INTENDED
        semantics, not the reference's prefix-seek quirk where the
        entity filter affects only the first seek (RocksDBStore.cs:
        242-245) — documented deviation (SURVEY §2.8 Q3)."""
        ecol = ENTITY_COL.get(family)
        df = self._between(family, start, end)
        if entity is not None:
            df = df.filter(F.col(ecol) == entity)
        return _one_ordered_partition(df, ecol)

    def get_top_prefix_seek(
        self, family: str, start: str, end: str, entity: str
    ) -> DataFrame:
        """The reference's EXACT Q3/Q4 behavior, quirk included: the
        entity only positions the starting seek key (start‖entity) and
        subsequent keys are NOT re-filtered, so every (window_time,
        entity') with key >= that seek point inside the time range comes
        back (RocksDBStore.cs:242-245, 236-264). Provided for byte-parity
        replay; `get_top` implements the intended semantics."""
        ecol = ENTITY_COL[family]
        start_ts = F.lit(start).cast("timestamp")
        after_seek = (F.col("window_time") > start_ts) | (
            (F.col("window_time") == start_ts)
            & (F.col(ecol).cast("string") >= entity)
        )
        return _one_ordered_partition(
            self._between(family, start, end).filter(after_seek), ecol
        )

    def get_recent(self, family: str, n: int) -> DataFrame:
        """Q6 (getrecent*string N): newest N by window_time
        (RocksDBStore.cs:213-232 reverse scan). Spark's sort+limit is a
        distributed top-k (TakeOrderedAndProject), not a full sort.
        The entity column is a deterministic tiebreaker — the reference's
        reverse scan is totally ordered by key (ticks‖entity), so without
        it the subset inside the boundary window would be run-dependent
        for entity families (10 rows per window_time)."""
        order = [F.desc("window_time")]
        if family in ENTITY_COL:
            order.append(F.col(ENTITY_COL[family]).cast("string").asc())
        return self.read(family).orderBy(*order).limit(n)

    def print_db(self, n: int = 5) -> dict[str, DataFrame]:
        """Q7 (printDB): recent-N of every family + summary."""
        out: dict[str, DataFrame] = {
            f: self.get_recent(f, n)
            for f in FAMILIES
            if os.path.exists(self._path(f))
        }
        out["summary"] = self.get_summary()
        return out


def _one_ordered_partition(df: DataFrame, ecol: str | None) -> DataFrame:
    """An answer in the reference's ticks‖entity key order
    (RocksDBStore.cs:18-21) as one sorted partition: the scan stays
    parallel, and unlike ``orderBy`` no range-partitioner sampling job
    runs. Answers are small by construction (see the module docstring)."""
    order = [F.col("window_time")]
    if ecol is not None:
        order.append(F.col(ecol).cast("string"))
    return df.repartition(1).sortWithinPartitions(*order)


def _check_schema(family: str, df: DataFrame) -> None:
    """Refuse a frame whose column names or types (nullability aside)
    differ from the family's declared schema. Reads only the analyzed
    schema, so no job runs."""
    want = FAMILY_SCHEMAS.get(family)
    if want is None:
        raise ValueError(
            f"unknown aggregate family {family!r}; expected one of {FAMILIES}"
        )

    def cols(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema]

    if cols(df.schema) != cols(want):
        raise ValueError(
            f"{family}: frame columns {cols(df.schema)} differ from the "
            f"declared {cols(want)}"
        )
