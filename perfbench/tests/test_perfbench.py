"""Tests of the benchmark itself, at toy size.

    python3 -m pytest perfbench/tests -q

Each run starts and stops its own local Spark session, so the whole file
takes a few minutes.
"""

from __future__ import annotations

import io
import json
import os
import sys
from contextlib import redirect_stdout

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402


@pytest.fixture(autouse=True)
def toy(monkeypatch):
    import index_lifecycle as il
    import stream_ingest as si

    for name, value in {
        "TWEETS_PER_FILE": 40,
        "WARMUP_FILES": 1,
        "PERIOD_S": 6.0,
        "BACKLOG_FILES": 8,
        "REPL_ROTATIONS": 1,
        "MIN_LIVE": 2,
    }.items():
        monkeypatch.setattr(si, name, value)
    for name, value in {"BASE_DOCS": 150, "BATCH_DOCS": 30, "MIN_APPENDS": 1, "MIN_PROBES": 1}.items():
        monkeypatch.setattr(il, name, value)


def _main(tmp_path, monkeypatch, workload: str, trace: int) -> tuple[dict, dict]:
    monkeypatch.chdir(tmp_path)
    out = io.StringIO()
    with redirect_stdout(out):
        assert run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                         "--trace", str(trace)]) == 0
    details, result = out.getvalue().strip().splitlines()[-2:]
    assert details.startswith("# ")
    return json.loads(details[2:]), json.loads(result)


def test_checks_count_failures_without_raising():
    checks = run.Checks()
    assert checks("ok", lambda: True)
    assert not checks("wrong", lambda: False)
    assert not checks("raises", lambda: 1 / 0)
    assert checks.attempted == 3
    assert len(checks.failed) == 2


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_metric_prints_with_its_unit(tmp_path, monkeypatch, workload):
    for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
        _, res = _main(tmp_path, monkeypatch, workload, trace)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        assert list(res["metrics"]) == list(names)
        for name, m in res["metrics"].items():
            assert m["unit"] == names[name]
            assert isinstance(m["value"], (int, float))


def test_benchmark_json_matches_the_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_corrupted_expected_answer_is_a_failure(tmp_path, monkeypatch):
    import index_lifecycle as il

    monkeypatch.setattr(il, "expected_topk", lambda *args: [("corrupted",)])
    details, res = _main(tmp_path, monkeypatch, "index_lifecycle", 0)
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 1
    assert all("bm25_topk" in name for name in details["failed_checks"])


def test_corrupted_repl_answer_is_a_failure(tmp_path, monkeypatch):
    import stream_ingest as si

    real = si.repl_answer
    monkeypatch.setattr(
        si, "repl_answer",
        lambda closed, meth, args: [] if meth == "get_summary" else real(closed, meth, args),
    )
    details, res = _main(tmp_path, monkeypatch, "stream_ingest", 0)
    assert res["failed"] == 1 and not res["correct"]
    assert details["failed_checks"][0].startswith("repl get_summary")


@pytest.mark.parametrize(
    "workload, counts",
    [
        ("stream_ingest", ["pipeline.jobs_per_trigger", "store.jobs_per_query"]),
        ("index_lifecycle", [k for k in run.PER_LAYER if k.endswith(".jobs")]),
    ],
)
def test_job_counts_repeat_across_runs(tmp_path, monkeypatch, workload, counts):
    runs = [_main(tmp_path, monkeypatch, workload, 1)[1]["metrics"] for _ in range(2)]
    for name in counts:
        assert runs[0][name]["value"] == runs[1][name]["value"], name
        assert runs[0][name]["value"] > 0, name
