"""SparkSession factory.

Defaults are chosen for the local[32] test harness but the knobs are the
ones that matter on a 1000-executor cluster too: AQE (runtime re-plan,
skew-join splitting, partition coalescing), explicit shuffle parallelism,
Arrow for any pandas exchange, and a broadcast threshold so star-schema
dims broadcast instead of shuffling the fact table.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tweetaggregates-spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
) -> SparkSession:
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: coalesce tiny post-shuffle partitions, split skewed ones,
        # convert to broadcast join at runtime when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow-batched exchange for the few pandas-UDF operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64 MB broadcast ceiling: every dim table in the star schema
        # broadcasts; only fact-fact joins shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Session timezone pinned to UTC so window math matches the oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # The driver testdata parquet stores TIMESTAMP(NANOS) which Spark
        # cannot read natively; read as long and convert in the loader
        # (sources.tables.load_table) — sub-microsecond parts are 0.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Write timestamps as INT64 micros, not legacy INT96: INT96 has
        # no parquet min/max statistics, which would silently disable
        # every footer-stat time-range skip on the store tables.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def run_concurrently(
    spark: SparkSession, writes: Sequence[Callable[[], object]]
) -> None:
    """Run independent Spark writes together and wait for all of them.

    The one rule for overlapping writes: Spark's scheduler interleaves
    jobs submitted from several threads, so the caller pays the slowest
    write instead of the sum. Callers order their own writes (what must
    run first or last alone) and pass only writes that share no
    unmaterialized lazy checkpoint — two threads materializing the same
    one would each recompute its lineage.

    A single write runs on the calling thread. Otherwise the writes run
    on a pool of at most five threads (the widest fan-out any caller
    has: the pipeline's five store families), each wrapped in
    ``inheritable_thread_target(spark)``: the pool threads carry the
    caller's job group, description and session tags, so jobs started
    inside a streaming trigger belong to that query (its ``stop()``
    cancels them, and monitoring attributes them). Every write is
    joined before the first error is re-raised: a failed write does not
    cancel its siblings, which is safe because every caller writes to
    per-version, per-batch or per-build directories that a retry
    rewrites."""
    if len(writes) <= 1:
        for w in writes:
            w()
        return
    # wrapped per write: each thread gets its own copy of the caller's
    # local properties, so a write that sets its own job group does not
    # relabel its siblings' jobs
    with ThreadPoolExecutor(min(len(writes), 5)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(w)) for w in writes
        ]
    for f in futures:
        f.result()
