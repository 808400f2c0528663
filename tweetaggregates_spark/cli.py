"""CLI parity with the reference's five commands (Program.cs:11-18):

  saveAggregates <in.ndjson> <store_dir>   (file replay mode,
                                            Program.SaveAggregates.cs:31-39)
  saveTweets <in.ndjson> <out_dir> [min]   (Program.SaveTweets.cs:14-51)
  sendToEventHub <in> <sink_uri> [min]     (Program.SendToEventHub.cs)
  printDB <store_dir>                      (Program.PrintDB.cs:12-46)
  repl <store_dir>                         (Program.Repl.cs:15-125)
  compact <store_dir> [family]             (maintenance, beyond-ref:
                                            fold streaming batch trees)

The live-Twitter and Event Hubs commands (S1/S8) are out of scope — the
v1.1 API is retired; streaming ingest is streaming/pipeline.py over a
drop directory.

Usage: python -m tweetaggregates_spark.cli <command> <args...>
"""

from __future__ import annotations

import json
import sys

from tweetaggregates_spark.session import get_spark
from tweetaggregates_spark.store import FAMILIES, AggregateStore


def save_aggregates(in_path: str, store_dir: str) -> None:
    from tweetaggregates_spark.plans import tweets as tp

    spark = get_spark("saveAggregates")
    flat = tp.parse_tweets(spark.read.text(in_path)).persist()
    store = AggregateStore(spark, store_dir)
    for fam, df in tp.tweet_aggregates(flat).items():
        store.write(fam, df)
    flat.unpersist()
    print(f"wrote {len(FAMILIES)} aggregate families to {store_dir}")


def save_tweets(in_path: str, out_dir: str, minutes: int | None = None) -> None:
    """S6 (Program.SaveTweets.cs:14-51): persist the raw NDJSON stream.
    The reference captures for a bounded duration (SaveTweets.cs:42-45
    timer); the deterministic replay analog bounds by EVENT time — keep
    lines whose timestamp falls in [min_ts, min_ts + minutes). Unbounded
    (minutes=None) copies everything; bounded mode drops unparseable
    lines (no timestamp to bound by)."""
    from pyspark.sql import functions as F

    spark = get_spark("saveTweets")
    lines = spark.read.text(in_path)
    if minutes is not None:
        ts = F.to_timestamp(
            F.from_unixtime(
                F.get_json_object("value", "$.timestamp_ms").cast("long") / 1000
            )
        )
        with_ts = lines.withColumn("ts", ts).filter(F.col("ts").isNotNull())
        min_ts = with_ts.agg(F.min("ts")).collect()[0][0]
        if min_ts is not None:
            bound = F.lit(min_ts) + F.expr(f"INTERVAL {int(minutes)} MINUTES")
            lines = with_ts.filter(F.col("ts") < bound).select("value")
    lines.write.mode("overwrite").text(out_dir)
    span = f" ({minutes} min bound)" if minutes is not None else ""
    print(f"saved raw tweets to {out_dir}{span}")


def send_to_event_hub(
    in_path: str, sink_uri: str, minutes: int | None = None
) -> None:
    """S8 (Program.SendToEventHub.cs:22-160): frame the tweet stream and
    send to an event sink. sink_uri = kafka://brokers/topic for a real
    broker (Event Hubs Kafka endpoint included), else a directory path
    for the file-backed sink."""
    import tempfile

    from tweetaggregates_spark.streaming.eventsink import (
        FileEventSink,
        KafkaEventSink,
        send_to_event_sink,
    )

    import os

    spark = get_spark("sendToEventHub")
    if sink_uri.startswith("kafka://"):
        brokers, _, topic = sink_uri[len("kafka://"):].partition("/")
        sink = KafkaEventSink(brokers, topic)
    else:
        sink = FileEventSink(sink_uri)
    with tempfile.TemporaryDirectory() as work:
        src = in_path
        if os.path.isfile(in_path):
            # the file stream source wants a directory to watch
            src = os.path.join(work, "in")
            os.makedirs(src)
            os.symlink(os.path.abspath(in_path),
                       os.path.join(src, os.path.basename(in_path)))
        send_to_event_sink(
            spark, src, sink, os.path.join(work, "ckpt"), minutes=minutes
        )
    print(f"sent frames to {sink_uri}")


def compact(store_dir: str, family: str | None = None) -> None:
    """Maintenance (beyond the reference's five commands): fold the
    streaming sink's per-batch trees into the canonical layout — one
    family, or every family present. See store.compact for semantics."""
    import os

    spark = get_spark("compact")
    store = AggregateStore(spark, store_dir)
    fams = [family] if family else [
        f for f in FAMILIES if os.path.exists(store._path(f))
    ]
    for fam in fams:
        store.compact(fam)
        print(f"compacted {fam}")


def print_db(store_dir: str, n: int = 5) -> None:
    spark = get_spark("printDB")
    store = AggregateStore(spark, store_dir)
    for name, df in store.print_db(n).items():
        print(f"== {name}")
        for row in df.collect():
            print(json.dumps(row.asDict(recursive=True), default=str))


# getrecent<key>[string] -> store family (Program.Repl.cs:84-108)
RECENT_FAMILIES = {
    "counts": "counts",
    "hoppingcounts": "hopping_counts",
    "mentions": "mentions",
    "hashtags": "hashtags",
    "retweets": "retweets",
}


def _emit(df, out_path: str | None) -> None:
    """Result sink (Program.Repl.cs:110-123): console, or `> file`
    redirection writing the same JSON lines to a file. An answer is
    collected whole in one round trip: it is one sorted partition of at
    most NUMBER_OF_AGGREGATES_PER_WINDOW rows per window of its range
    (14,400 rows for a day of one-minute hops), which the driver JVM
    holds whole anyway. Export a larger range with ``store.read(family)``
    and a DataFrame write instead."""
    rows = (
        json.dumps(r.asDict(recursive=True), default=str) for r in df.collect()
    )
    if out_path is None:
        for r in rows:
            print(r)
    else:
        n = 0
        with open(out_path, "w") as f:
            for r in rows:
                f.write(r + "\n")
                n += 1
        print(f"wrote {n} rows to {out_path}")


def repl(store_dir: str) -> None:
    """Q1-Q6 command loop (Program.Repl.cs:34-124). Append `> path` to
    any command to write the result to a file instead of the console."""
    spark = get_spark("repl")
    store = AggregateStore(spark, store_dir)
    # keyed by what remains of `gettop<family>string` after the prefix/
    # suffix strip below — i.e. the bare family word
    fam_by_cmd = {"mentions": "mentions", "hashtags": "hashtags",
                  "retweets": "retweets"}
    print("commands: getsummary | getcounts s e | gettop{mentions,hashtags,"
          "retweets}string s e [entity] | getrecent<family>string n | exit"
          " (append '> file' to redirect)")
    for line in sys.stdin:
        parts = line.strip().split()
        if not parts:
            continue
        out_path = None
        if len(parts) >= 2 and parts[-2] == ">":
            out_path = parts[-1]
            parts = parts[:-2]
        cmd = parts[0].lower()
        try:
            if cmd == "exit":
                return
            elif cmd == "getsummary":
                df = store.get_summary()
            elif cmd == "getcounts":
                df = store.get_counts(parts[1], parts[2])
            elif cmd.startswith("gettop") and cmd.endswith("string"):
                fam = fam_by_cmd.get(cmd[len("gettop"):-len("string")])
                if fam is None:
                    print(f"unknown family in {cmd}: expected gettop"
                          f"{{{','.join(fam_by_cmd)}}}string s e [entity]")
                    continue
                entity = parts[3] if len(parts) > 3 else None
                df = store.get_top(fam, parts[1], parts[2], entity)
            elif cmd.startswith("getrecent"):
                key = cmd[len("getrecent"):].removesuffix("string")
                fam = RECENT_FAMILIES.get(key)
                if fam is None:
                    print(f"unknown family in {cmd}: expected getrecent"
                          f"{{{','.join(RECENT_FAMILIES)}}}[string] n")
                    continue
                df = store.get_recent(fam, int(parts[1]))
            else:
                print(f"unknown command: {cmd}")
                continue
            _emit(df, out_path)
        except Exception as e:  # noqa: BLE001
            print(f"error: {e}")


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    cmd = sys.argv[1]
    if cmd == "saveAggregates":
        save_aggregates(sys.argv[2], sys.argv[3])
    elif cmd == "saveTweets":
        save_tweets(
            sys.argv[2],
            sys.argv[3],
            int(sys.argv[4]) if len(sys.argv) > 4 else None,
        )
    elif cmd == "sendToEventHub":
        send_to_event_hub(
            sys.argv[2],
            sys.argv[3],
            int(sys.argv[4]) if len(sys.argv) > 4 else None,
        )
    elif cmd == "printDB":
        print_db(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 5)
    elif cmd == "repl":
        repl(sys.argv[2])
    elif cmd == "compact":
        compact(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else None)
    else:
        print(__doc__)
        return 2
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
