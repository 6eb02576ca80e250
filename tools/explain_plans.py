"""Dump `.explain("formatted")` for named queries to plans/<round>/.

Usage: python tools/explain_plans.py --round <tag> <suffix> <query> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt for each query — the before/
after plan evidence an optimization round commits alongside each
change (suffix "before" or "after"). Plans are taken on the bench's
fixture directory (``bench.SF_DIR``; SPARK_GRAFT_SF_DIR overrides it).
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--round", required=True, help="plans/ subdirectory, e.g. r14"
    )
    ap.add_argument("suffix", help='file suffix, e.g. "before" or "after"')
    ap.add_argument("queries", nargs="+", help="registry query names")
    args = ap.parse_args(argv)

    import __spark_entry__ as entrymod
    from bench import SF_DIR
    from parquet_extractor_spark.session import get_spark

    qs = entrymod.queries()
    spark = get_spark(f"explain-{args.round}")
    out_dir = os.path.join(REPO, "plans", args.round)
    os.makedirs(out_dir, exist_ok=True)
    for name in args.queries:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
