"""CLI command parity tests (Program.cs:11-18 equivalents), driven
through the same functions `python -m tweetaggregates_spark.cli` uses."""

from __future__ import annotations

from tests.fixtures import write_tweets_file
from tweetaggregates_spark import cli
from tweetaggregates_spark.store import AggregateStore


def test_save_aggregates_and_print_db(spark, tmp_path, capsys):
    src = tmp_path / "in.ndjson"
    write_tweets_file(str(src), 400, seed=13)
    store_dir = str(tmp_path / "agg")
    cli.save_aggregates(str(src), store_dir)

    store = AggregateStore(spark, store_dir)
    assert store.read("counts").count() > 0
    assert store.read("mentions").count() > 0

    cli.print_db(store_dir, 2)
    out = capsys.readouterr().out
    assert "summary" in out and "counts" in out


def test_save_tweets_roundtrip(spark, tmp_path):
    src = tmp_path / "in.ndjson"
    n = write_tweets_file(str(src), 100, seed=3)
    out_dir = str(tmp_path / "raw")
    cli.save_tweets(str(src), out_dir)
    assert spark.read.text(out_dir).count() == n


def test_save_tweets_bounded(spark, tmp_path):
    """SaveTweets.cs:42-45 duration bound: only lines inside the first
    N event-minutes are captured."""
    import json

    src = tmp_path / "in.ndjson"
    write_tweets_file(str(src), 200, seed=5)  # fixture spans ~40 minutes
    out_dir = str(tmp_path / "raw10")
    cli.save_tweets(str(src), out_dir, minutes=10)
    saved = [r.value for r in spark.read.text(out_dir).collect()]
    assert 0 < len(saved) < 200
    ts = [int(json.loads(ln)["timestamp_ms"]) for ln in saved]
    assert max(ts) - min(ts) < 10 * 60 * 1000


def _run_repl(monkeypatch, store_dir, commands):
    import io

    monkeypatch.setattr("sys.stdin", io.StringIO("\n".join(commands) + "\n"))
    cli.repl(store_dir)


def test_repl_file_redirect_and_families(spark, tmp_path, capsys, monkeypatch):
    """Program.Repl.cs:110-123 file sink: `> file` writes the same JSON
    the console path prints; hoppingcounts family reachable; unknown
    family gets a usage message, not a read exception."""
    import json

    src = tmp_path / "in.ndjson"
    write_tweets_file(str(src), 300, seed=17)
    store_dir = str(tmp_path / "agg")
    cli.save_aggregates(str(src), store_dir)
    capsys.readouterr()

    out_file = tmp_path / "recent.jsonl"
    _run_repl(
        monkeypatch,
        store_dir,
        [
            f"getrecentcountsstring 3 > {out_file}",
            "getrecentcountsstring 3",
            "getrecenthoppingcountsstring 2",
            "getrecentbogusstring 2",
            "exit",
        ],
    )
    out = capsys.readouterr().out
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    redirected = out_file.read_text().strip().splitlines()
    # file content == console JSON for the same command
    assert redirected == lines[:3]
    for ln in redirected:
        json.loads(ln)
    assert "unknown family" in out
    assert "error:" not in out


def test_send_to_event_hub_file_sink(spark, tmp_path, capsys):
    src = tmp_path / "in.ndjson"
    write_tweets_file(str(src), 150, seed=41)
    sink_dir = str(tmp_path / "frames")
    cli.send_to_event_hub(str(src), sink_dir)
    assert "sent frames" in capsys.readouterr().out
    assert spark.read.parquet(sink_dir).count() >= 1


def test_repl_over_young_stream_store(spark, tmp_path, capsys, monkeypatch):
    """A young stream has written hopping counts but closed no tumbling
    window yet, so ``counts/`` and the entity families do not exist: the
    REPL answers from empty families instead of failing on the path."""
    import datetime
    import json

    from tweetaggregates_spark.schema import FAMILY_SCHEMAS

    store_dir = str(tmp_path / "store")
    t = datetime.datetime(2024, 1, 1, 0, 1)
    hops = spark.createDataFrame([(t, 3)], FAMILY_SCHEMAS["hopping_counts"])
    AggregateStore(spark, store_dir).write_batch("hopping_counts", hops, 0)
    capsys.readouterr()
    _run_repl(
        monkeypatch,
        store_dir,
        [
            "getsummary",
            "getcounts 2024-01-01T00:00:00 2024-01-02T00:00:00",
            "gettopmentionsstring 2024-01-01T00:00:00 2024-01-02T00:00:00",
            "getrecentcountsstring 3",
            "getrecenthoppingcountsstring 3",
            "exit",
        ],
    )
    out = capsys.readouterr().out
    assert "error:" not in out
    rows = [json.loads(ln) for ln in out.splitlines() if ln.startswith("{")]
    assert rows[0]["window_count"] == 0
    assert rows[1:] == [{"window_time": str(t), "cnt": 3}]
