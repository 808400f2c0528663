"""Isolated per-entry timing harness for optimization A/Bs.

Usage:
    python tools/time_entries.py <repo_root> <entry,entry,...> [runs]

Starts ONE fresh session (local[$SPARK_GRAFT_CPUS], default 32), warms
each entry once at sf0.001 (same policy as bench.py), then times
median-of-<runs> noop-sink saves at $SPARK_GRAFT_SF_DIR (default
sf0.1). Prints one JSON line {entry: {"median": s, "runs": [...]}}.

Pointing <repo_root> at a git worktree of an older commit gives the
interleaved same-host A/B the round methodology requires (guide §1).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def main() -> int:
    repo = os.path.abspath(sys.argv[1])
    names = sys.argv[2].split(",")
    runs_n = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    sys.path.insert(0, repo)
    import __spark_entry__ as entry_mod
    from bench import _reset_state
    from tweetaggregates_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab_time")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    for name in names:
        qs[name](spark, "/root/testdata/sf0.001").write.mode(
            "overwrite"
        ).format("noop").save()
    out = {}
    for name in names:
        # same per-entry isolation as bench.py
        _reset_state(spark)
        runs = []
        for _ in range(runs_n):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            runs.append(round(time.perf_counter() - t0, 3))
        out[name] = {
            "median": round(statistics.median(runs), 3),
            "runs": runs,
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
