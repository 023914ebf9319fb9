"""pubsub_live: the reference's pull/process/publish loop, open loop.

``SparkPipeline(PubSubStreamSource(bulk_limit=20), processor=...)`` runs
continuously over a ``pubsub_dir`` topic.  The processor is an opaque
Python function, so each micro-batch goes through Arrow ``mapInPandas``.
A ``foreachBatch`` sink collects the batch and publishes every result
into an output topic with ``publish()``, one message at a time, as the
reference does (P:190-193); Spark commits the batch's offsets only after
the sink returns.

Set-up starts the session, then three streams one after another, each
on fresh topics: one pull's worth of seeded messages is published into
its input topic, the stream is started, and its set-up ends when that
first micro-batch is delivered.  ``setup_s`` is the session start plus
the median stream set-up.

The first two streams then stop.  On the third, a separate generator
process publishes seeded messages at ``RATE`` per second, each stamped
with the time it was due: ``LEAD_S`` seconds of lead-in, then the
measured window of ``--seconds`` seconds.  A window message's latency
runs from its due time to the return of its result's ``publish()`` into
the output topic.

With tracing on, a backlog of ``BACKLOG`` messages is then published at
once and drains at the pipeline's capacity.  A full pull's rate is its
``BULK_LIMIT`` messages divided by the time from the previous batch's
last publish to its own; ``pipeline.drain_msgs_per_s`` is the median of
those rates.  Capacity is not an end-to-end metric: at ``RATE`` every
batch already costs the per-micro-batch floor that bounds capacity, so
the latency moves with it, while the drain rate itself was too unsteady
to gate (two drains of six pulls in each of five runs: their medians
spread 27% of the middle one, quartile to quartile).

Every stream is checked: each message sent is delivered exactly once,
with the payload the processor gives when the benchmark recomputes it,
and the query ended without an exception.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import subprocess
import sys
import time
from statistics import median

from py_pubsub_pipeline_spark.pipeline import SparkPipeline
from py_pubsub_pipeline_spark.session import get_spark
from py_pubsub_pipeline_spark.sources.pubsub import PubSubStreamSource, publish

from spans import NO_TRACE, percentile, tail

# Offered rate.  With bulk_limit=20 a micro-batch costs 0.45 to 0.6 s on
# a shared 4-core box, so the loop serves 30 to 45 msg/s, but when the
# host runs slow capacity has dropped to 16 msg/s; 12 msg/s stays below
# it, so that queueing does not magnify the host's speed changes into
# latency.
RATE = 12.0
BULK_LIMIT = 20  # the reference's pull size (P:68)
STREAMS = 3
BACKLOG = 10 * BULK_LIMIT  # drained for capacity in traced runs
# the generator runs this long before the measured window opens, since
# the stream keeps warming up under load: after a two-second lead-in the
# window's first third ran up to a quarter slower than its last third
LEAD_S = 6.0
DRAIN_TIMEOUT_S = 30.0
WORDS = ("spark stream batch topic message publish ack offset window "
         "enrich payload event record schema json commit pull").split()


def make_bodies(rng: random.Random, first_id: int, n: int) -> list[dict]:
    """Seeded JSON events shaped like the reference's test message
    (T:28-34): a text field, a nested object, plus an id."""
    out = []
    for i in range(first_id, first_id + n):
        out.append({
            "id": i,
            "data": " ".join(rng.choices(WORDS, k=rng.randint(4, 16))),
            "nested": {"nestedData": " ".join(rng.choices(WORDS, k=6))},
            "user": rng.randint(0, 999),
            "amount": round(rng.uniform(0.5, 500.0), 2),
        })
    return out


def make_processor():
    """The enrichment step.  Built by a factory so that Spark ships the
    function to its Python workers by value."""
    def enrich(msg: dict) -> dict:
        words = msg["data"].split()
        return {
            "id": msg["id"],
            "due": msg.get("due"),
            "user": msg["user"],
            "n_words": len(words),
            "longest": max(words, key=len),
            "digest": hashlib.sha1(
                msg["nested"]["nestedData"].encode()).hexdigest()[:16],
            "amount_cents": int(round(msg["amount"] * 100)),
        }
    return enrich


def _read_topic(topic: str) -> list[bytes]:
    names = sorted(f for f in os.listdir(topic) if f.endswith(".msg"))
    out = []
    for name in names:
        with open(os.path.join(topic, name), "rb") as fh:
            out.append(fh.read())
    return out


class TopicSink:
    """foreachBatch sink: collect the batch, publish each result.

    Records when each result's publish returned.  With tracing on, even
    epochs are traced (spans, per-publish timings, the input topic's
    head) and odd epochs are not, so the difference in sink time is the
    tracing overhead."""

    def __init__(self, source_topic: str, topic: str, tracer):
        self.source_topic = source_topic
        self.topic = topic
        self.tracer = tracer
        self.done: list[tuple[bytes, float]] = []
        self.batches: list[dict] = []
        self.publish_ms: list[float] = []

    def __call__(self, batch_df, epoch_id: int) -> None:
        traced = self.tracer.enabled and epoch_id % 2 == 0
        tr = self.tracer if traced else NO_TRACE
        a = time.perf_counter()
        t_start = time.time()
        # messages published so far: the source's head, whatever this
        # batch's capped read end is
        head = (sum(f.endswith(".msg") for f in os.listdir(self.source_topic))
                if traced else None)
        with tr.span("sink.batch", epoch=epoch_id):
            with tr.span("sink.collect"):
                rows = batch_df.collect()
            b = time.perf_counter()
            with tr.span("sink.publish", n=len(rows)):
                for row in rows:
                    value = bytes(row.value)
                    if traced:
                        with tr.span("sources.pubsub.publish"):
                            t = time.perf_counter()
                            publish(self.topic, value)
                            self.publish_ms.append((time.perf_counter() - t) * 1e3)
                    else:
                        publish(self.topic, value)
                    self.done.append((value, time.time()))
        c = time.perf_counter()
        self.batches.append({"epoch": epoch_id, "start": t_start, "end": time.time(),
                             "rows": len(rows),
                             "traced": traced, "head": head,
                             "collect_ms": (b - a) * 1e3, "publish_ms": (c - b) * 1e3,
                             "wall_ms": (c - a) * 1e3})


def _progress_listener(records: list[dict]):
    """Collects every progress event of the stream (traced runs)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _L(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:  # noqa: ANN001
            pass

        def onQueryProgress(self, event) -> None:  # noqa: ANN001
            p = event.progress
            src = p.sources[0] if p.sources else None
            records.append({
                "batch": p.batchId, "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
                "end": json.loads(src.endOffset)["seq"]
                if src is not None and src.endOffset else None,
            })

        def onQueryTerminated(self, event) -> None:  # noqa: ANN001
            pass

    return _L()


class Stream:
    """One pipeline on fresh topics under ``base``."""

    def __init__(self, spark, base: str, tracer):
        self.spark = spark
        self.tin = os.path.join(base, "in")
        self.tout = os.path.join(base, "out")
        os.makedirs(self.tin)
        os.makedirs(self.tout)
        self.sink = TopicSink(self.tin, self.tout, tracer)
        self.tracer = tracer
        self.progress: list[dict] = []
        self._listener = _progress_listener(self.progress) if tracer.enabled else None
        self.pipeline = SparkPipeline(
            spark, PubSubStreamSource(self.tin, bulk_limit=BULK_LIMIT),
            sink=self.sink, processor=make_processor(),
            checkpoint_dir=os.path.join(base, "checkpoint"))
        self.query = None

    def start(self) -> None:
        if self._listener is not None:
            self.spark.streams.addListener(self._listener)
        with self.tracer.span("pipeline.process"):
            self.query = self.pipeline.process(available_now=False)

    def drain_rates(self, first: int) -> list[float]:
        """Messages per second of each full pull among the batches from
        index ``first`` on, timed from the previous batch's end."""
        batches = self.sink.batches[first:]
        return [b["rows"] / (b["end"] - a["end"])
                for a, b in zip(batches, batches[1:]) if b["rows"] == BULK_LIMIT]

    def wait_delivered(self, n: int, timeout_s: float) -> bool:
        deadline = time.time() + timeout_s
        while len(self.sink.done) < n:
            if time.time() > deadline or not self.query.isActive:
                return False
            time.sleep(0.01)
        return True

    def stop(self) -> str | None:
        """Stop the query and drop its listeners; returns the query's
        exception, if it had one."""
        # listeners go first: a listener still registered while the
        # query stops has made py4j callbacks fail at exit
        self.spark.streams.removeListener(self.pipeline.metrics._listener())
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
        exc = self.query.exception()
        self.query.stop()
        self.query.awaitTermination(30)
        exc = exc or self.query.exception()
        return None if exc is None else str(exc)

    def check(self) -> list[str]:
        """Exactly-once delivery with the recomputed payload."""
        enrich = make_processor()
        sent = {}
        for raw in _read_topic(self.tin):
            msg = json.loads(raw)
            sent[msg["id"]] = enrich(msg)
        problems = []
        seen: dict[int, int] = {}
        for raw in _read_topic(self.tout):
            got = json.loads(raw)
            seen[got["id"]] = seen.get(got["id"], 0) + 1
            if sent.get(got["id"]) != got:
                problems.append(f"wrong payload for id {got['id']}")
        for i in sent:
            if seen.get(i, 0) == 0:
                problems.append(f"lost id {i}")
            elif seen[i] > 1:
                problems.append(f"id {i} delivered {seen[i]} times")
        return problems


def run(ctx) -> dict:
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("session.get_spark"):
        spark = get_spark("perfbench-live")
    session_s = time.perf_counter() - t0
    try:
        return _run(ctx, spark, session_s)
    finally:
        spark.stop()


def _run(ctx, spark, session_s: float) -> dict:
    tr = ctx.tracer
    rng = random.Random(ctx.seed)
    problems: list[str] = []
    attempted = 0
    setups = []
    prefill_ms: list[float] = []

    def prefill(topic: str, first_id: int, n: int) -> None:
        for body in make_bodies(rng, first_id, n):
            t = time.perf_counter()
            publish(topic, json.dumps({"due": time.time(), **body}).encode())
            prefill_ms.append((time.perf_counter() - t) * 1e3)

    next_id = 0
    stream = None
    for i in range(STREAMS):
        a = time.perf_counter()
        stream = Stream(spark, os.path.join(ctx.scratch, f"stream{i}"), tr)
        prefill(stream.tin, next_id, BULK_LIMIT)
        next_id += BULK_LIMIT
        attempted += BULK_LIMIT
        stream.start()
        ok = stream.wait_delivered(BULK_LIMIT, DRAIN_TIMEOUT_S * 2)
        setups.append(time.perf_counter() - a)
        if not ok:
            _finish(stream, ok)
            raise RuntimeError(f"stream {i} did not deliver its first batch")
        if i < STREAMS - 1:
            problems += _finish(stream, ok)
    setup_s = session_s + median(setups)
    print(f"# stream set-ups {[round(x, 2) for x in setups]} s", file=sys.stderr)

    # the lead-in and the measured window, on the last stream
    n_lead = int(RATE * LEAD_S)
    n = n_lead + int(RATE * ctx.seconds)
    plan = os.path.join(ctx.scratch, "plan.json")
    report = os.path.join(ctx.scratch, "loadgen.json")
    with open(plan, "w") as fh:
        json.dump({"rate": RATE, "payloads": make_bodies(rng, next_id, n)}, fh)
    window_ids = range(next_id + n_lead, next_id + n)
    attempted += n
    gen_start = time.time() + 0.5
    start = gen_start + n_lead / RATE  # the first window message's due time
    with tr.span("loadgen"):
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
             stream.tin, plan, repr(gen_start), report])
        try:
            gen_rc = gen.wait(timeout=LEAD_S + ctx.seconds + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
    if gen_rc != 0:
        problems.append(f"load generator exited {gen_rc}")
    ok = stream.wait_delivered(BULK_LIMIT + n, DRAIN_TIMEOUT_S)
    window_batches = [b for b in stream.sink.batches if b["start"] >= start]

    rates = []
    if tr.enabled and ok:
        # the backlog drain, with the stream at its warmest
        first = len(stream.sink.batches)
        with tr.span("backlog"):
            prefill(stream.tin, next_id + n, BACKLOG)
            attempted += BACKLOG
            ok = stream.wait_delivered(BULK_LIMIT + n + BACKLOG, DRAIN_TIMEOUT_S)
        rates = stream.drain_rates(first)
    done = list(stream.sink.done)
    problems += _finish(stream, ok)
    with open(report) as fh:
        gen_report = json.load(fh)
    print(f"# generator max lateness: {gen_report['max_late_s'] * 1e3:.2f} ms",
          file=sys.stderr)

    lat_ms, by_due = [], []
    for value, t_done in done:
        msg = json.loads(value)
        if msg["id"] in window_ids:
            lat_ms.append((t_done - msg["due"]) * 1e3)
            by_due.append((msg["due"] - start, lat_ms[-1]))
    for p in problems[:20]:
        print(f"# FAILED {p}", file=sys.stderr)
    print(f"# {len(lat_ms)} latency samples; the tail is their "
          f"p{100 * (1 - 10 / len(lat_ms)):.1f}", file=sys.stderr)
    result = {
        "attempted": attempted,
        "failed": len(problems),
        "e2e": {
            "setup_s": setup_s,
            "latency_p50_ms": median(lat_ms),
            "latency_tail_ms": tail(lat_ms),
        },
        "layers": {"session.start_s": session_s},
        "extra": {"generator_max_late_s": gen_report["max_late_s"],
                  "latency_samples": len(lat_ms), "stream_setups_s": setups,
                  "latency_by_due": sorted(by_due)},
    }
    if tr.enabled:
        result["layers"].update(_layers(
            stream, window_batches, gen_report["publish_ms"], prefill_ms))
        if rates:
            print(f"# full pulls drained at {[round(r, 1) for r in rates]} msg/s",
                  file=sys.stderr)
            result["layers"]["pipeline.drain_msgs_per_s"] = median(rates)
        result["layers"]["baseline.single_thread_msgs_per_s"] = (
            _single_thread_baseline(stream.tin, os.path.join(ctx.scratch, "baseline")))
    return result


def _finish(stream: Stream, delivered_all: bool) -> list[str]:
    problems = [] if delivered_all else ["stream did not deliver in time"]
    exc = stream.stop()
    if exc is not None:
        problems.append(f"query exception: {exc}")
    return problems + stream.check()


def _layers(stream: Stream, batches: list[dict], gen_publish_ms: list[float],
            prefill_ms: list[float]) -> dict[str, float]:
    epochs = {b["epoch"] for b in batches}
    prog = [p for p in stream.progress if p["batch"] in epochs and p["rows"] > 0]
    dur = [p["duration_ms"] for p in prog]
    # backlog when a batch reached the sink: the input topic's head then,
    # minus the batch's end offset
    end = {p["batch"]: p["end"] for p in prog if p["end"] is not None}
    lags = [b["head"] - end[b["epoch"]] for b in batches
            if b["head"] is not None and b["epoch"] in end]
    if not lags:
        print("# no progress event matched a traced batch; lag reads 0",
              file=sys.stderr)
        lags = [0]
    publish_ms = gen_publish_ms + prefill_ms + stream.sink.publish_ms
    traced = [b["wall_ms"] for b in batches if b["traced"] and b["rows"]]
    untraced = [b["wall_ms"] for b in batches if not b["traced"] and b["rows"]]
    return {
        "sources.pubsub.publish_calls": len(gen_publish_ms) + len(prefill_ms)
        + len(stream.sink.done),
        "sources.pubsub.publish_ms_p50": median(publish_ms),
        "sources.pubsub.publish_ms_p99": percentile(publish_ms, 99),
        "sources.pubsub.poll_ms_p50": median(d.get("latestOffset", 0) for d in dur),
        "sources.pubsub.lag_msgs_p50": median(lags),
        "sources.pubsub.lag_msgs_max": max(lags),
        "pipeline.batches": len(prog),
        "pipeline.rows_per_batch_p50": median(p["rows"] for p in prog),
        "pipeline.trigger_ms_p50": median(d["triggerExecution"] for d in dur),
        "pipeline.trigger_ms_p99": percentile([d["triggerExecution"] for d in dur], 99),
        "pipeline.plan_ms_p50": median(d.get("queryPlanning", 0) for d in dur),
        "pipeline.offset_commit_ms_p50": median(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur),
        "pipeline.process_ms_p50": median(b["collect_ms"] for b in batches if b["rows"]),
        "pipeline.addBatch_ms_p50": median(d.get("addBatch", 0) for d in dur),
        "sink.publish_ms_p50": median(b["publish_ms"] for b in batches if b["rows"]),
        "trace.overhead_ms": median(traced) - median(untraced),
    }


def _single_thread_baseline(topic: str, out_topic: str) -> float:
    """The reference's sequential loop over the same input topic: pull
    20, then decode, process, encode and publish each, then advance.
    Returns messages per second."""
    enrich = make_processor()
    names = sorted(f for f in os.listdir(topic) if f.endswith(".msg"))
    os.makedirs(out_topic)
    t = time.perf_counter()
    for lo in range(0, len(names), BULK_LIMIT):
        pulled = []
        for name in names[lo:lo + BULK_LIMIT]:
            with open(os.path.join(topic, name), "rb") as fh:
                pulled.append(fh.read())
        for raw in pulled:
            publish(out_topic, json.dumps(enrich(json.loads(raw))).encode())
    return len(names) / (time.perf_counter() - t)
