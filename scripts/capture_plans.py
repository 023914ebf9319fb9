#!/usr/bin/env python
"""Capture .explain("formatted") for named queries into plans/<tag>/.

Usage: python scripts/capture_plans.py --tag r14 --suffix before \
           [--sf DIR] [name ...]

Defaults to the bench HEADLINE set.  Writes
plans/<tag>/<name>_<suffix>.txt and prints each plan's
bench._plan_fingerprint beside it, so plan claims can be checked
against these files and a before/after fingerprint comparison needs
no code of its own.  Uses the same shuffle-width overrides bench.py
applies so the captured plan is the benched plan.
"""

from __future__ import annotations

import argparse
import os
import sys

# import root derived from this file, not the cwd
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py_pubsub_pipeline_spark.registry import load_all  # noqa: E402
from py_pubsub_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--tag", default="r14")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import bench

    names = args.names or list(bench.HEADLINE)
    registry = load_all()
    spark = get_spark("capture_plans")
    default_width = spark.conf.get("spark.sql.shuffle.partitions")
    outdir = os.path.join("plans", args.tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        spec = registry.get(name)
        if spec is None:
            print(f"?? {name}: not registered", file=sys.stderr)
            continue
        width = bench.SHUFFLE_WIDTH.get(name)
        if width is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(width))
        try:
            df = spec.fn(spark, args.sf)
            # The fingerprint executes the plan (JVM-side, no collect)
            # so AQE finalizes and the explain below shows the FINAL
            # plan — runtime-reused exchanges, elected join
            # strategies, coalesced reads — exactly what bench.py
            # fingerprints.
            fp = bench._plan_fingerprint(df, spark)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        finally:
            if width is not None:
                spark.conf.set(
                    "spark.sql.shuffle.partitions", default_width)
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} plan={fp} "
              f"({plan.count('Exchange')} Exchange refs)", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
