"""Capture `.explain("formatted")` for named (or all benched) registry
queries into plans/<tag>/<query>_<suffix>.txt, e.g. to check that a
change leaves the physical plans as they were.

Usage:
  python scripts/capture_plans.py --tag r16 --suffix before [names...]
  (no names = every bench-flagged query)

Builds each query at $SPARK_GRAFT_SF_DIR (default sf0.1) on the bench
session recipe and writes the FORMATTED physical plan. Queries whose
builders run bounded driver actions (scalar aggregates, training loops)
execute those while building — the capture is not a timing run.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="registry query names (default: all benched)")
    ap.add_argument("--tag", default="r16")
    ap.add_argument("--suffix", default="before")
    ns = ap.parse_args()

    from clinical_bi_spark import caching
    from clinical_bi_spark.queries import load_all
    from clinical_bi_spark.session import get_spark

    registry = load_all()
    names = ns.names or sorted(n for n, s in registry.items() if s.bench)
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        ns.tag,
    )
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark("clinical-bi-spark-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        caching.release_all(spark)
        spark.catalog.clearCache()
        df = registry[name].fn(spark, SF_DIR)
        # jdf._explainString mirrors DataFrame.explain("formatted") but
        # returns the text instead of printing
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{ns.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
