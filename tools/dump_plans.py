"""Dump .explain("formatted") for registry entries to plans/<tag>/.

Usage:
    python tools/dump_plans.py <tag> <entry,entry,...> [--sf DIR] [--suffix s]

Writes plans/<tag>/<entry>_<suffix>.txt (suffix default "before").
Plan construction only — no jobs run except what plan building itself
triggers (lifecycle entries that materialize indexes at build time DO
run their build jobs; their plan files cover the returned frame).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from tweetaggregates_spark.session import get_spark


def main() -> int:
    sf_dir = "/root/testdata/sf0.1"
    ap = argparse.ArgumentParser(description="Dump formatted query plans.")
    ap.add_argument("tag", help="output directory under plans/")
    ap.add_argument("entries", help="comma-separated registry entries")
    ap.add_argument("--sf", default=sf_dir, help="data dir")
    ap.add_argument("--suffix", default="before", help="file name suffix")
    args = ap.parse_args()
    tag, names = args.tag, args.entries.split(",")
    sf_dir, suffix = args.sf, args.suffix
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_exch = plan.count("Exchange")
        n_smj = plan.count("SortMergeJoin")
        print(
            f"{name}: {len(plan.splitlines())} lines, "
            f"{n_exch} Exchange, {n_smj} SortMergeJoin -> {path}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
