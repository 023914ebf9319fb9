#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Workloads:

  pubsub_live      the reference's pull/process/publish loop as an open
                   loop through the Pub/Sub-style ``pubsub_dir`` topics
  headline_basket  the driver's 13 headline registry keys

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Diagnostics go
to standard error.  Everything the run writes lands under
``.perfbench_work/`` in the checkout: one scratch directory per run
(topics, checkpoints, Spark's and the JVM's temporary files; removed
when the run ends), the query fixtures the package caches in its
temporary directory (``cache/``, kept across runs), and one JSON record
of each run (with its spans when traced).  The query corpus is read from
``perfbench/data/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(WORK, "cache")

WORKLOADS = ("pubsub_live", "headline_basket")


def _prepare_env(scratch: str) -> None:
    """Keep every file Spark, the JVM, DuckDB and the package write
    inside the checkout, and size the session to this machine's cores.
    Must run before pyspark starts its JVM.

    Spark's and the JVM's temporary files go to this run's scratch
    directory.  The package's own temporary directory, where some keys
    build their derived fixtures (trained codebooks, PQ codes, upsert
    histories) on first use and find them on later runs, is
    ``CACHE``, shared by the runs of a checkout as the system
    temporary directory is shared by the runs of ``bench.py``."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    for d in (tmp, local, CACHE):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile
    tempfile.tempdir = CACHE


def _stop_jvm() -> None:
    """End the JVM pyspark started, and with it Spark's Python workers,
    and wait until it has exited.  The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


@dataclass
class Context:
    seed: int
    seconds: int
    scratch: str  # this run's topics, checkpoints, fixtures and spill space
    tracer: object

    @contextmanager
    def duckdb(self, sf_dir: str):
        """DuckDB over the corpus, with its spill space in the checkout."""
        import duckdb

        from py_pubsub_pipeline_spark.tables import TABLE_NAMES

        spill = os.path.join(self.scratch, "duckdb")
        os.makedirs(spill, exist_ok=True)
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{spill}'")
            con.execute("SET memory_limit='2GB'")
            for name in TABLE_NAMES:
                path = os.path.join(sf_dir, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS "
                            f"SELECT * FROM read_parquet('{path}')")
            yield con
        finally:
            con.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not all(os.path.exists(os.path.join(ROOT, f))
               for f in ("bench.py", "py_pubsub_pipeline_spark")):
        print(f"perfbench: {ROOT} is not a checkout of the repository", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    scratch = os.path.join(WORK, "runs", run_id)
    os.makedirs(scratch)
    _prepare_env(scratch)
    sys.path.insert(0, ROOT)  # the package and bench.py
    # imported only now: they need the environment set above
    import basket
    import live
    from rss import PeakRss
    from spans import Tracer

    ctx = Context(args.seed, args.seconds, scratch, Tracer(bool(args.trace), run_id))
    workload = {"pubsub_live": live.run, "headline_basket": basket.run}
    try:
        with PeakRss() as rss:
            res = workload[args.workload](ctx)
    finally:
        _stop_jvm()
        shutil.rmtree(ctx.scratch, ignore_errors=True)
        # session.ensure_package_on_workers leaves a per-process zip in
        # the package's temporary directory
        zpath = os.path.join(CACHE, f"py_pubsub_pipeline_spark_{os.getpid()}.zip")
        if os.path.exists(zpath):
            os.remove(zpath)
    res["e2e"]["peak_rss_mb"] = rss.peak_mb

    # metric names and units come from BENCHMARK.json; a per-layer
    # metric of a layer this workload never calls reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values = {**res["e2e"], **res["layers"]}
    if args.trace:
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(values[m["name"]]),
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    out = {"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
           "failed": int(res["failed"]), "metrics": metrics}

    log_dir = os.path.join(WORK, "log")
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, f"{run_id}.json"), "w") as fh:
        json.dump({**out, "all_metrics": values, "peak_rss_split_mb": rss.split_mb,
                   **res.get("extra", {})}, fh)
    if ctx.tracer.enabled:
        ctx.tracer.write(os.path.join(log_dir, f"{run_id}.trace.json"))
        for name, row in sorted(ctx.tracer.self_times().items()):
            print(f"# span {name}: n={row['count']} total={row['total_s']:.3f}s "
                  f"self={row['self_s']:.3f}s", file=sys.stderr)
    print(f"# failed/attempted: {out['failed']}/{out['attempted']}",
          file=sys.stderr)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
