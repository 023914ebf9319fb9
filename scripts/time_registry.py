#!/usr/bin/env python
"""Spark-side-only timing sweep over the query registry (guide §1).

Times each registered query against $SPARK_GRAFT_SF_DIR (default
sf0.01) through the noop sink (computes every column of every row,
no output cost, full plan visible), one untimed warmup optional via
--warm.  Writes {key: seconds} JSON sorted descending so the slow
tail is on top.  Measurement only — never run by the driver bench.

Usage: python scripts/time_registry.py [--sf DIR] [--json OUT]
                                       [--warm] [--best N] [name ...]

Noise discipline (r15, VERDICT r14 item 7): single-run positionally-
sensitive numbers produced r14's phantom regressions (a key timed
cold 3rd in the JVM read 8 s; clean-warm it was 0.5 s), so each key
now records the MIN of --best timed runs (default 2), and the sweep
brackets itself with `__floor_start__` / `__floor_end__` rows — the
noop-sink wall of a fixed trivial aggregation (pure session/
scheduling floor, no table I/O).  Two sweeps are comparable iff
their floor rows agree; a floor that doubled flags box/session
drift before anyone reads a per-key delta as a regression.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# import root derived from this file, not the cwd
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py_pubsub_pipeline_spark.registry import load_all  # noqa: E402
from py_pubsub_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--json", default=None)
    ap.add_argument("--warm", action="store_true",
                    help="one untimed warmup run per key first")
    ap.add_argument("--best", type=int, default=2,
                    help="timed runs per key; min is recorded")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    registry = load_all()
    names = args.names or sorted(registry)
    spark = get_spark("time_registry")
    out: dict[str, float] = {}

    def floor_probe() -> float:
        spark.sparkContext.setJobDescription("time: session floor")
        t0 = time.perf_counter()
        spark.range(1 << 20).selectExpr("sum(id) AS s").write.format(
            "noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    floor_probe()  # untimed warmup of the floor query itself
    out["__floor_start__"] = floor_probe()
    print(f"__floor_start__: {out['__floor_start__']}s", file=sys.stderr)
    for name in names:
        spec = registry.get(name)
        if spec is None:
            print(f"?? {name}: not registered", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"time: {name}")
        try:
            if args.warm:
                spec.fn(spark, args.sf).write.format("noop").mode(
                    "overwrite").save()
            dt = None
            for _ in range(max(1, args.best)):
                t0 = time.perf_counter()
                spec.fn(spark, args.sf).write.format("noop").mode(
                    "overwrite").save()
                run = time.perf_counter() - t0
                dt = run if dt is None else min(dt, run)
        except Exception as exc:  # noqa: BLE001
            print(f"!! {name}: {type(exc).__name__} {str(exc)[:200]}",
                  file=sys.stderr)
            out[name] = -1.0
            continue
        out[name] = round(dt, 3)
        print(f"{name}: {out[name]}s", file=sys.stderr)
        # Release the finished query's localCheckpoint / persist blocks:
        # a 457-key session otherwise accumulates every key's checkpoint
        # RDDs and the tail of the sweep measures block-manager pressure,
        # not the query (observed: privacy_dp_sum 5 s polluted vs 1 s
        # clean).  Between keys nothing persisted is still referenced.
        try:
            for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                jrdd.unpersist()
        except Exception:
            pass
        if args.json:
            ranked = dict(sorted(out.items(), key=lambda kv: -kv[1]))
            tmp = args.json + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"sf_dir": args.sf, "seconds": ranked}, fh,
                          indent=1)
            os.replace(tmp, args.json)
    out["__floor_end__"] = floor_probe()
    print(f"__floor_end__: {out['__floor_end__']}s", file=sys.stderr)
    if args.json:
        ranked = dict(sorted(out.items(), key=lambda kv: -kv[1]))
        tmp = args.json + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"sf_dir": args.sf, "best_of": max(1, args.best),
                       "seconds": ranked}, fh, indent=1)
        os.replace(tmp, args.json)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
