"""The ONE versioned-directory store contract (VERDICT r7 #2).

Three index families persist incrementally and used to re-implement
the same four mechanics each: the MinHash band index
(``operators/dedup.py``: base/bands/remap/counts), the exact-dedup
hash index (``streaming/dedup.py``: hashes_base/hashes +
blooms_base/blooms), and the RP sketch / IVF code appends
(``streaming/ann.py``, ``ingest=`` partitions — those delegate the
same idempotence to Spark's dynamic partition overwrite and only
share the listing helper here). This module owns the mechanics; the
callers keep their fold semantics (what a "merge" means is
per-family).

Layout: ``<root>/<delta_sub>/v=<N>`` per-ingest deltas (N = the
monotone ingest/batch id; per-version overwrite, or ``commit_bases``
with ``allow_replace``, makes a replayed ingest idempotent) and
``<root>/<base_sub>/v=<B>`` compacted bases (B = the newest version
folded into the base).

The contract, shared verbatim by every family:

* **read**: newest committed base with B < ``below``, plus deltas
  B < v < ``below``. Deltas at or below the base are IGNORED even if
  still on disk — a crash between a base commit and delta cleanup
  must never double-count.
* **commit**: each new base materializes in a hidden temp dir and
  commits by ONE ``os.rename`` to a fresh ``v=<newv>`` name. With
  multiple families committing together (hash + bloom), renames run
  in a fixed order and ONLY the LAST is the commit point readers key
  off; a crash between renames leaves orphaned earlier-family dirs
  that are unreadable (no matching final-family base) and are swept
  by the retry before re-renaming (``os.rename`` cannot replace a
  non-empty dir — without the sweep an inline-at-trigger-start
  compaction would wedge its stream on every retry). The commit
  point's temp writes first and alone, then the rest overlap, so a
  caller committing more than two families must not let them share
  unmaterialized lineage beyond what the commit point's write
  materializes.
* **cleanup**: folded deltas (v <= newv) and superseded bases
  (v < newv) are removed only AFTER the commit point.

(On an object store without atomic rename, the commit point becomes a
manifest write — same pattern as the aggregate store's swap in
``store.py``.)
"""

from __future__ import annotations

import functools
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from tweetaggregates_spark.session import run_concurrently

_VERSION_RE = re.compile(r"v=(\d+)")


def versions(path: str) -> list[int]:
    """Sorted committed version numbers under ``path`` (``v=<N>``
    dirs; anything else — temp dirs, stray files — is ignored)."""
    if not os.path.isdir(path):
        return []
    return sorted(
        int(m.group(1))
        for name in os.listdir(path)
        if (m := _VERSION_RE.fullmatch(name))
    )


def base_and_deltas(
    root: str,
    base_sub: str,
    delta_sub: str,
    below: int | None = None,
) -> tuple[int | None, list[int]]:
    """The versions a reader folds: the newest base with version <
    ``below`` (None when no base qualifies) and the delta versions
    strictly between it and ``below``. Deltas at or below the base
    are excluded even if still on disk (crash between base commit and
    delta cleanup)."""

    def _keep(v: int) -> bool:
        return below is None or v < below

    bases = [v for v in versions(f"{root}/{base_sub}") if _keep(v)]
    b = max(bases) if bases else None
    deltas = [
        v
        for v in versions(f"{root}/{delta_sub}")
        if _keep(v) and (b is None or v > b)
    ]
    return b, deltas


def read_family(
    spark: SparkSession,
    root: str,
    base_sub: str,
    delta_sub: str,
    base: int | None,
    deltas: list[int],
    schema: str | None = None,
) -> list[DataFrame]:
    """The fold inputs for ONE family at an explicit (base, deltas)
    selection — pass the AUTHORITATIVE family's selection to a slaved
    sidecar family (the bloom sidecar reads at the HASH family's
    versions) so the pair always folds consistently."""
    parts = []
    for sub, vs in ((base_sub, [base] if base is not None else []),
                    (delta_sub, deltas)):
        for v in vs:
            r = spark.read
            if schema is not None:
                r = r.schema(schema)
            parts.append(r.parquet(f"{root}/{sub}/v={v}"))
    return parts


def union_all(parts: list[DataFrame]) -> DataFrame | None:
    """unionByName fold of the parts (None for an empty list)."""
    if not parts:
        return None
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u


def commit_bases(
    root: str,
    frames: list[tuple[str, DataFrame]],
    newv: int,
    allow_replace: bool = False,
) -> None:
    """Atomically commit ``frames`` — ``(sub, df)`` in COMMIT ORDER,
    the last being the commit point readers key off — as version
    ``newv`` (a compacted base or a per-ingest delta). Every frame
    materializes fully in a temp dir BEFORE any rename; non-final
    targets are swept first (retry after a crash between renames
    re-finds its own orphan). ``allow_replace`` permits replacing an
    existing FINAL target: a compaction whose fold can change without
    a new version (quarantine re-admission relabeling clusters), or a
    replayed delta re-committing its own ingest. It trades the
    no-pre-existing-name guarantee for in-place replacement, so a
    compaction should skip the commit when its fold is a no-op.

    The commit point's temp writes first and alone, then the others
    overlap through ``session.run_concurrently``; the renames stay
    serial in commit order, commit point last, so crash-safety does
    not depend on the write order. With more than two frames the
    others must share no UNMATERIALIZED lazy checkpoint beyond one the
    commit point's write materializes, or each concurrent write
    recomputes it (the token index: tf's write materializes the
    (doc, token) groups dl/df/stats read). Two frames write serially."""

    def _tmp(sub: str) -> str:
        return f"{root}/.compact_{sub}_tmp"

    def _write_tmp(sub: str, df: DataFrame) -> None:
        shutil.rmtree(_tmp(sub), ignore_errors=True)
        df.write.mode("overwrite").parquet(_tmp(sub))
        os.makedirs(f"{root}/{sub}", exist_ok=True)

    *rest, (last_sub, last_df) = frames
    _write_tmp(last_sub, last_df)
    run_concurrently(
        last_df.sparkSession,
        [functools.partial(_write_tmp, sub, df) for sub, df in rest],
    )
    for i, (sub, _) in enumerate(frames):
        target = f"{root}/{sub}/v={newv}"
        if i < len(frames) - 1 or allow_replace:
            shutil.rmtree(target, ignore_errors=True)
        os.rename(_tmp(sub), target)


def cleanup_after_compact(
    root: str,
    delta_subs: list[str],
    base_subs: list[str],
    newv: int,
) -> None:
    """Post-commit-point cleanup: folded deltas (v <= newv) and
    superseded bases (v < newv). Runs strictly AFTER ``commit_bases``
    — a crash in between leaves stale dirs readers already ignore."""
    for sub in delta_subs:
        for v in versions(f"{root}/{sub}"):
            if v <= newv:
                shutil.rmtree(f"{root}/{sub}/v={v}", ignore_errors=True)
    for sub in base_subs:
        for v in versions(f"{root}/{sub}"):
            if v < newv:
                shutil.rmtree(f"{root}/{sub}/v={v}", ignore_errors=True)
