"""Dump .explain('formatted') for named gates to plans/<round>/ files.

Usage: python tools/dump_plans.py <suffix: before|after> <gate> [gate ...]
Writes plans/<round>/<gate>_<suffix>.txt, where <round> is
$SPARK_GRAFT_PLANS_ROUND (default r15). Run it on the tree before and
after a change to pair the plans with a speed claim.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from hive_io_experimental_spark import get_spark  # noqa: E402

OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r15"))


def main() -> int:
    suffix = sys.argv[1]
    gates = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("hio-plans")
    qfns = entrymod.queries()
    for name in gates:
        df = qfns[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
