"""headline_basket: the driver's 13 headline keys, repeated passes.

Set-up starts the session, loads the registry and runs one cold pass:
each key is built with ``spec.fn`` and executed once by
``bench._plan_fingerprint``, which JIT-compiles the engine and records
the key's plan fingerprint.  Fixtures a key derives from the corpus on
first use are built in the first run of a checkout and reused after.
The same frame's rows are then checked against the key's DuckDB
oracle; that check is left out of ``setup_s``.  One untimed warm pass,
like a timed one, ends the set-up.

Then whole passes run, keys in a seeded order, for ``--seconds`` (a
pass starts only if it should end in time, and there are at least
two).  One operation is one key's ``spec.fn(...)`` plus ``.count()``.
The basket's wall is the sum over keys of each key's median operation
time; its tail the same sum over each key's slowest operation.

The corpus is the driver's own sf0.01 data set (seed 42, ten tables),
kept under ``perfbench/data/`` so that a run reads only its checkout.

With tracing on, half the keys of each pass are traced and the other
half are not, alternating between passes, so every key has traced and
untraced operations and their difference is the tracing overhead.  A
traced operation runs its ``spec.fn`` and its ``.count()`` under two
Spark job groups of its own; the status store and the phase tracker are
read for them after the run.
"""

from __future__ import annotations

import os
import random
import sys
import time
from contextlib import contextmanager
from statistics import median

import bench
from py_pubsub_pipeline_spark import oracle
from py_pubsub_pipeline_spark.registry import QuerySpec, load_all
from py_pubsub_pipeline_spark.session import get_spark

from spans import NO_TRACE, SparkCounters

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
MIN_PASSES = 2
# per-layer fields of a traced operation, reported as queries.<field>
LAYER_FIELDS = (
    "fn_s", "action_s", "jvm_analysis_ms", "jvm_optimization_ms",
    "jvm_planning_ms", "fn_jobs", "jobs", "stages", "tasks", "task_run_s",
    "gc_s", "shuffle_bytes", "spill_bytes", "persisted_rdds",
)


@contextmanager
def _shuffle_width(spark, name: str, default: str):
    """The key's shuffle width from ``bench.SHUFFLE_WIDTH``, restored after."""
    width = bench.SHUFFLE_WIDTH.get(name)
    if width is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        yield
    finally:
        if width is not None:
            spark.conf.set("spark.sql.shuffle.partitions", default)


def run(ctx) -> dict:
    t_setup = time.perf_counter()
    with ctx.tracer.span("session.get_spark"):
        spark = get_spark("perfbench-headline")
    session_s = time.perf_counter() - t_setup
    try:
        return _run(ctx, spark, session_s, t_setup)
    finally:
        spark.stop()


def _run(ctx, spark, session_s: float, t_setup: float) -> dict:
    tr = ctx.tracer
    with tr.span("registry.load_all"):
        registry = load_all()
    sf_dir = SF_DIR
    keys = list(bench.HEADLINE)
    default_width = spark.conf.get("spark.sql.shuffle.partitions")
    counters = SparkCounters(spark)

    traced_rows: list[dict] = []

    def one(name: str, traced: bool, group: str) -> float:
        """Build and count one key, then free what it persisted; returns
        the seconds the build and the count took."""
        spec = registry[name]
        t = tr if traced else NO_TRACE
        sc = spark.sparkContext
        # the key span is the whole operation, so that fn + action can
        # be checked against it
        with t.span("queries.key", key=name) as key_span:
            with _shuffle_width(spark, name, default_width):
                if traced:
                    sc.setJobGroup(f"{group}/fn", name)
                with t.span("queries.fn", key=name):
                    a = time.perf_counter()
                    df = spec.fn(spark, sf_dir)
                    b = time.perf_counter()
                if traced:
                    sc.setJobGroup(f"{group}/action", name)
                with t.span("queries.action", key=name):
                    b2 = time.perf_counter()
                    df.count()
                    c = time.perf_counter()
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    persisted = counters.persisted_rdds()
            # free checkpoint/persist blocks so the next key measures itself
            counters.unpersist_all()
        if traced:
            traced_rows.append({
                "key": name, "group": group, "fn_s": b - a, "action_s": c - b2,
                "wall_s": key_span["end"] - key_span["start"],
                "persisted_rdds": persisted,
                **{f"jvm_{phase}_ms": ms for phase, ms in counters.phases_ms(df).items()},
            })
        return (b - a) + (c - b2)

    # set-up: the cold pass; the untimed oracle checks ride on it
    failures: dict[str, list[str]] = {}
    fingerprints: dict[str, str] = {}
    attempted = 0
    untimed_s = 0.0
    with ctx.duckdb(sf_dir) as con:
        for name in keys:
            spec = registry[name]
            attempted += 1
            try:
                with _shuffle_width(spark, name, default_width):
                    df = spec.fn(spark, sf_dir)
                    fingerprints[name] = bench._plan_fingerprint(df, spark)
                    t = time.perf_counter()
                    report = oracle.compare(
                        spark, QuerySpec(name, lambda _s, _d: df, spec.oracle), sf_dir, con)
                    untimed_s += time.perf_counter() - t
                if report.get("mode") != "oracle":
                    failures[name] = ["no oracle registered"]
                elif not report["ok"]:
                    failures[name] = [report.get("why", "mismatch")]
            except Exception as exc:  # noqa: BLE001 - counted as a failure
                failures[name] = [repr(exc)]
            counters.unpersist_all()

    # set-up, continued: one warm pass.  The engine keeps getting faster
    # over a key's first runs: the first timed pass ran a median 16%
    # slower than the second without this pass, 10% with it.
    rng = random.Random(ctx.seed)
    order = keys[:]
    rng.shuffle(order)
    with tr.span("queries.warmup"):
        for name in order:
            attempted += 1
            try:
                one(name, False, "")
            except Exception as exc:  # noqa: BLE001 - counted as a failure
                failures.setdefault(name, []).append(repr(exc))
                counters.unpersist_all()
    setup_s = time.perf_counter() - t_setup - untimed_s
    print(f"# plan fingerprints: {fingerprints}", file=sys.stderr)
    print(f"# set-up {setup_s:.2f}s (session {session_s:.2f}s); "
          f"oracle checks {untimed_s:.2f}s, untimed", file=sys.stderr)

    samples: dict[str, list[float]] = {k: [] for k in keys}
    traced_s: dict[str, list[float]] = {k: [] for k in keys}
    start = time.perf_counter()
    p = 0
    last_pass = 0.0
    while p < MIN_PASSES or time.perf_counter() - start + last_pass <= ctx.seconds:
        order = keys[:]
        rng.shuffle(order)
        a = time.perf_counter()
        with tr.span("queries.pass", index=p):
            for name in order:
                # with tracing on, half the keys of a pass are traced
                traced = tr.enabled and (keys.index(name) + p) % 2 == 1
                attempted += 1
                try:
                    s = one(name, traced, f"{name}#{p}")
                    (traced_s if traced else samples)[name].append(s)
                except Exception as exc:  # noqa: BLE001 - counted; the pass goes on
                    failures.setdefault(name, []).append(repr(exc))
                    counters.unpersist_all()
        last_pass = time.perf_counter() - a
        p += 1

    for name, why in failures.items():
        print(f"# FAILED {name}: {why}", file=sys.stderr)
    timed = {k: v for k, v in samples.items() if v}
    per_key = {k: median(v) for k, v in timed.items()}
    print(f"# {p} passes; per-key median s: "
          f"{ {k: round(v, 4) for k, v in per_key.items()} }", file=sys.stderr)
    result = {
        "attempted": attempted,
        "failed": sum(len(v) for v in failures.values()),
        "e2e": {
            "setup_s": setup_s,
            # the basket's query wall, and the same with each key's slowest run
            "latency_p50_ms": sum(per_key.values()) * 1e3,
            "latency_tail_ms": sum(max(v) for v in timed.values()) * 1e3,
        },
        "layers": {"session.start_s": session_s},
        "extra": {"plan_fingerprints": fingerprints, "passes": p,
                  "per_key_median_s": per_key, "samples_s": samples},
    }
    if tr.enabled:
        result["layers"].update(_layers(counters, traced_rows))
        # per key: traced minus untraced operation, then the median over keys
        result["layers"]["trace.overhead_ms"] = median(
            median(traced_s[k]) - median(samples[k])
            for k in keys if traced_s[k] and samples[k]) * 1e3
    return result


def _layers(counters: SparkCounters, rows: list[dict]) -> dict[str, float]:
    """Per key the median over its traced operations, summed over keys."""
    by_key: dict[str, list[dict]] = {}
    for r in rows:
        fn_jobs = counters.job_ids(r["group"] + "/fn")
        jobs = fn_jobs + counters.job_ids(r["group"] + "/action")
        r.update(counters.jobs_totals(jobs), jobs=len(jobs), fn_jobs=len(fn_jobs))
        by_key.setdefault(r["key"], []).append(r)
    med = {k: {f: median([r.get(f, 0.0) for r in rs]) for f in LAYER_FIELDS + ("wall_s",)}
           for k, rs in by_key.items()}
    out = {f"queries.{f}": sum(m[f] for m in med.values()) for f in LAYER_FIELDS}
    # fn + action should explain each key's whole traced operation
    # (shuffle width set and restored, job groups, unpersist) to within ~5%
    unexplained = {k: 1.0 - (m["fn_s"] + m["action_s"]) / m["wall_s"]
                   for k, m in med.items()}
    off = {k: f"{v:.1%}" for k, v in unexplained.items() if abs(v) > 0.05}
    if off:
        print(f"# fn+action misses the key wall by more than 5%: {off}",
              file=sys.stderr)
    out["queries.unexplained_frac"] = 1.0 - (
        out["queries.fn_s"] + out["queries.action_s"]) / sum(m["wall_s"] for m in med.values())
    out["queries.keys_unexplained_over_5pct"] = len(off)
    return out
