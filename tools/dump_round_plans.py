"""Dump `.explain("formatted")` for every declared query → plans/<round>/.

Usage: python tools/dump_round_plans.py <round> [before|after] [query ...]

Writes plans/<round>/<query>_<tag>.txt (e.g. plans/r15/q72_txn_merge_after.txt)
for each declared query (default: all; tag default: before).
Queries with eager builds (q57/q59/...) return small literal/materialized
relations; for those the file still records the returned plan — the
interesting internal plans are captured separately where an optimization
touches them.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from knightshift_spark.plans.partitioning import explain_str  # noqa: E402
from knightshift_spark.queries import load_all  # noqa: E402
from knightshift_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rnd, args = sys.argv[1], sys.argv[2:]
    tag = args[0] if args else "before"
    names = args[1:]
    spark = get_spark(f"plandump-{rnd}")
    specs = load_all()
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names or sorted(specs):
        spec = specs[name]
        try:
            plan = explain_str(spec.spark_fn(spark, SF_DIR))
        except Exception as e:  # keep going; record the failure
            plan = f"ERROR building plan: {e!r}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{tag}.txt")


if __name__ == "__main__":
    main()
