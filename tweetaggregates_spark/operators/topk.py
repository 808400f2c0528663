"""Top-k operators (SURVEY.md §2.5 A5-A6, §2.6 D1-D3, D5).

The reference uses Trill's built-in bounded-heap ``TopK`` aggregate
(Query.cs:65,98,130,156). Spark-first equivalents:

* A5 (within-group example top-k): ``slice(sort_array(collect_list(
  struct), desc), 1, k)`` — pure built-ins, whole-stage-codegen'd, one
  hash-agg pass fused with the sibling count/sum aggregates. State is
  O(group) rather than O(k); at 100 TB the group here is (window x
  entity) whose cardinality is bounded by tweets-per-entity-per-window,
  and the expression stays JVM-side. If a pathological entity grows
  unbounded, pre-rank with ``row_number() <= k`` before collecting.
* A6 (across-group top-k per window): ``row_number()`` over
  (window) ordered by weight desc — post-aggregation cardinality is
  #entities per window, tiny relative to input, so this shuffle is cheap.
* D3 (array-local dedupe keep-max): higher-order-function filter over the
  already-collected k-element array — no explode/re-shuffle.

Determinism: every ordering carries a unique tiebreaker (SURVEY §7).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_payloads(
    weight_col: str | Column,
    payload_cols: Sequence[Column],
    k: int,
) -> Column:
    """A5: aggregate expression returning the k payload structs with the
    highest weight, ordered weight desc.

    The first two struct fields are (weight, first payload col) so the
    struct's lexicographic sort is deterministic when the first payload
    column is unique (pass an id). Mirrors Trill TopK at Query.cs:65.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    payload = F.struct(w.alias("w"), *payload_cols)
    return F.slice(F.sort_array(F.collect_list(payload), asc=False), 1, k)


def rank_topk(
    df: DataFrame,
    partition_cols: Sequence[str | Column],
    order_col: str | Column,
    tiebreak_cols: Sequence[str | Column],
    k: int,
    rank_name: str = "_rank",
    keep_rank: bool = False,
) -> DataFrame:
    """A6/D2: keep the top-k rows per partition by ``order_col`` desc,
    ties broken by ``tiebreak_cols`` asc (GetTopItems, Query.cs:152-168).
    """
    w = Window.partitionBy(*partition_cols).orderBy(
        F.desc(order_col), *[F.asc(c) for c in tiebreak_cols]
    )
    out = df.withColumn(rank_name, F.row_number().over(w)).filter(
        F.col(rank_name) <= k
    )
    return out if keep_rank else out.drop(rank_name)


def dedupe_array_keep_first(
    arr: Column, key_fn: Callable[[Column], Column]
) -> Column:
    """D3: within an array (already sorted weight-desc), drop elements
    whose ``key_fn`` value appeared earlier — i.e. keep the max-weight
    element per key (Query.cs:82-83,115-116).

    Pure higher-order functions: O(k^2) comparisons on a k<=10 array,
    no explode, no extra shuffle.
    """
    return F.filter(
        arr,
        lambda x, i: F.size(
            F.filter(F.slice(arr, F.lit(1), i), lambda y: key_fn(y) == key_fn(x))
        )
        == 0,
    )


def rank_topk_local_global(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_col: str,
    tiebreak_cols: Sequence[str],
    k: int,
    rank_name: str = "_rank",
    keep_rank: bool = False,
    ascending: bool = False,
) -> DataFrame:
    """Top-k per group when the GROUP COUNT is small relative to the
    cluster (e.g. 10 ANN queries against a full-corpus candidate set):
    a plain window shuffles every candidate row into |groups| tasks —
    a parallelism collapse at any scale. Two-phase instead: a local
    window keyed by (group, spark_partition_id) prunes each input
    partition to its own top-k WITHOUT changing the result (any row of
    the global top-k is in its partition's local top-k), then the
    global window ranks the ~k x n_partitions survivors. The output is
    identical to the one-window plan and independent of partitioning.
    """
    srt = F.asc(order_col) if ascending else F.desc(order_col)
    local = Window.partitionBy(
        *partition_cols, F.spark_partition_id()
    ).orderBy(srt, *[F.asc(c) for c in tiebreak_cols])
    pruned = (
        df.withColumn("_lr", F.row_number().over(local))
        .filter(F.col("_lr") <= k)
        .drop("_lr")
    )
    w = Window.partitionBy(*partition_cols).orderBy(
        srt, *[F.asc(c) for c in tiebreak_cols]
    )
    out = pruned.withColumn(rank_name, F.row_number().over(w)).filter(
        F.col(rank_name) <= k
    )
    return out if keep_rank else out.drop(rank_name)
