"""Dump each named query's plans to plans/<tag>/.

Usage: python tools/plandump.py --tag r12 --suffix before [name1 name2 ...]

For every query it writes `.explain("formatted")` as
`<name>_<suffix>.txt` and the optimized logical plan
(`queryExecution().optimizedPlan()`, all fields, expression ids `#n`
normalized) as `<name>_<suffix>.optimized.txt`. With no names it covers
the whole registry. An absolute `--tag` is the output directory itself,
so a plan-identity check can write its dumps outside the repository and
compare each parent/change pair of `.optimized.txt` files.
`SPARK_GRAFT_SF_DIR` picks the fixture.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from agri_market_data_pipeline_spark import memo  # noqa: E402
from agri_market_data_pipeline_spark.plans.audit import explain_str  # noqa: E402
from agri_market_data_pipeline_spark.registry import all_queries  # noqa: E402
from agri_market_data_pipeline_spark.session import get_spark  # noqa: E402

_EXPR_ID = re.compile(r"#\d+L?")


def optimized_str(df) -> str:
    """The optimized logical plan with every field printed and the
    per-process expression ids replaced by `#n`."""
    plan = df._jdf.queryExecution().optimizedPlan()
    # verbose, addSuffix, maxFields (no "... n more fields"),
    # printOperatorId, printOutputColumns
    text = plan.treeString(True, False, 2**31 - 1, False, False)
    return _EXPR_ID.sub("#n", text)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="r12")
    ap.add_argument("--suffix", required=True, choices=["before", "after"])
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plandump")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in args.names or sorted(queries):
        df = queries[name](spark, sf_dir)
        stem = os.path.join(out_dir, f"{name}_{args.suffix}")
        with open(f"{stem}.txt", "w") as f:
            f.write(explain_str(df, "formatted"))
        with open(f"{stem}.optimized.txt", "w") as f:
            f.write(optimized_str(df))
        memo.clear_all()
        print(f"wrote {stem}.txt {stem}.optimized.txt")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
