"""Ports of the reference's three delivery-semantics tests
(/root/reference/test_pubsub_pipeline.py, SURVEY.md §5.2-2) onto the
Structured-Streaming pipeline core, plus bulk-variant contract tests.
"""

from __future__ import annotations

import json
import os

import pytest

from py_pubsub_pipeline_spark.pipeline import (
    CollectingSink,
    FileStreamSource,
    IdempotentParquetSink,
    MorUpsertSink,
    SparkPipeline,
)

MSG = {"data": "someData", "nested": {"nestedData": "someNestedData"}}  # T:28-34


def _drop(dirpath: str, n: int, start: int = 0) -> None:
    os.makedirs(dirpath, exist_ok=True)
    for i in range(start, start + n):
        with open(os.path.join(dirpath, f"msg_{i:05d}.json"), "w") as f:
            f.write(json.dumps({**MSG, "i": i}) + "\n")


def _pipeline(spark, tmp, sink, processor=None, bulk=False):
    return SparkPipeline(
        spark=spark,
        source=FileStreamSource(os.path.join(tmp, "in")),
        sink=sink,
        processor=processor,
        bulk=bulk,
        checkpoint_dir=os.path.join(tmp, "ckpt"),
    )


def test_message_processed_and_committed_on_success(spark, tmp_path):
    """T:56-83: payload round-trips through processor to the sink, and
    the batch is committed (offsets advance) only after the sink ran."""
    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 3)
    sink = CollectingSink()
    _pipeline(spark, tmp, sink, processor=lambda m: {**m, "enriched": True}).process()

    assert len(sink.rows) == 3
    out = sorted((json.loads(bytes(r)) for r in sink.rows), key=lambda d: d["i"])
    assert all(d["enriched"] and d["nested"]["nestedData"] == "someNestedData"
               for d in out)
    commits = os.listdir(os.path.join(tmp, "ckpt", "commits"))
    assert commits, "offsets must be committed after a successful sink write"


def test_message_not_committed_on_sink_failure_then_redelivered(spark, tmp_path):
    """T:87-104: sink failure => no commit => the same messages are
    redelivered to the next run (at-least-once)."""
    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 2)

    with pytest.raises(Exception, match="sink failure"):
        _pipeline(spark, tmp, CollectingSink(fail=True)).process()

    ckpt_commits = os.path.join(tmp, "ckpt", "commits")
    assert not os.path.exists(ckpt_commits) or not os.listdir(ckpt_commits)

    sink = CollectingSink()
    _pipeline(spark, tmp, sink).process()
    assert len(sink.rows) == 2, "failed batch must be fully reprocessed"


def test_idle_source_then_data_arrives(spark, tmp_path):
    """T:108-143 analog: an empty source completes cleanly (the
    scheduler owns the retry loop — no unbounded recursion as in
    P:201-203), and a later run picks up newly arrived data."""
    tmp = str(tmp_path)
    os.makedirs(os.path.join(tmp, "in"), exist_ok=True)
    sink = CollectingSink()
    _pipeline(spark, tmp, sink).process()
    assert sink.rows == []

    _drop(os.path.join(tmp, "in"), 2)
    _pipeline(spark, tmp, sink).process()
    assert len(sink.rows) == 2


def test_idempotent_sink_survives_replay_without_duplicates(spark, tmp_path):
    """Effectively-once (R10 upgrade): simulate the at-least-once
    failure window — batch published, offset commit LOST — by deleting
    the checkpoint's commit record and re-running. The batch replays
    with the SAME batch id; the id-keyed overwrite sink absorbs the
    replay, so output rows appear exactly once."""
    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 3)
    sink = IdempotentParquetSink(os.path.join(tmp, "out"))
    ckpt = os.path.join(tmp, "ckpt")

    def run():
        SparkPipeline(
            spark=spark,
            source=FileStreamSource(os.path.join(tmp, "in")),
            sink=sink,
            processor=lambda m: {"i": m["i"]},
            checkpoint_dir=ckpt,
        ).process()

    run()
    first = sorted(
        json.loads(bytes(r["value"]))["i"]
        for r in sink.read_all(spark).collect()
    )
    assert first == [0, 1, 2]

    # Crash window: publish happened, commit lost -> replay on restart.
    # (Remove the .crc shadows too: a stale checksum next to a missing
    # log entry reads as concurrent checkpoint use, not a lost commit.)
    commits = os.path.join(ckpt, "commits")
    for f in os.listdir(commits):
        os.remove(os.path.join(commits, f))
    run()
    replayed = sorted(
        json.loads(bytes(r["value"]))["i"]
        for r in sink.read_all(spark).collect()
    )
    assert replayed == [0, 1, 2], "replayed batch must overwrite, not append"


def test_metrics_listener_reports_per_batch_rows_and_commit(spark, tmp_path):
    """R13 observability (reference per-stage logs P:143-184): the
    pipeline's StreamingQueryListener must report, per micro-batch,
    rows pulled, rows published (via the observe() hook — foreachBatch
    sinks have no native output metric), stage durations, and the
    run's commit status."""
    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 5)
    sink = CollectingSink()
    pipe = _pipeline(spark, tmp, sink, processor=lambda m: m)
    pipe.process()

    totals = pipe.metrics.totals()
    assert totals["rows_in"] == 5, pipe.metrics.batches
    assert totals["rows_out"] == 5, pipe.metrics.batches
    assert totals["batches"] >= 1
    for b in pipe.metrics.batches:
        assert "addBatch" in b["duration_ms"], b
    assert pipe.metrics.terminated is not None
    assert pipe.metrics.terminated["committed"] is True


def test_metrics_listener_marks_failed_run_uncommitted(spark, tmp_path):
    """Sink failure => terminated event carries the exception and
    committed=False — the operator-facing signal that the batch will
    be redelivered."""
    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 2)
    pipe = _pipeline(spark, tmp, CollectingSink(fail=True))
    with pytest.raises(Exception, match="sink failure"):
        pipe.process()
    assert pipe.metrics.terminated is not None
    assert pipe.metrics.terminated["committed"] is False
    assert "sink failure" in (pipe.metrics.terminated["exception"] or "")


def test_bulk_processor_one_call_per_batch(spark, tmp_path):
    """BulkPubSubPipeline parity (P:214-242): processor receives the
    whole batch as a list and returns a same-length list."""
    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 4)

    def bulk_proc(batch):
        # record the batch size each call saw (closure state would stay
        # on the executor — emit it through the data instead)
        return [{"n": len(batch), "i": m["i"]} for m in batch]

    sink = CollectingSink()
    _pipeline(spark, tmp, sink, processor=bulk_proc, bulk=True).process()
    out = sorted((json.loads(bytes(r)) for r in sink.rows), key=lambda d: d["i"])
    assert [d["i"] for d in out] == [0, 1, 2, 3]
    assert all(d["n"] >= 1 for d in out)
    # every message was covered by exactly the calls that reported it:
    assert sum(1.0 / d["n"] for d in out) <= 4.0

def test_bulk_length_mismatch_raises(spark, tmp_path):
    """Divergence from P:232 (silent zip truncation): a bulk processor
    returning the wrong cardinality fails loudly."""
    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 3)
    with pytest.raises(Exception, match="bulk processor returned"):
        _pipeline(
            spark, tmp, CollectingSink(), processor=lambda b: b[:-1], bulk=True
        ).process()


def test_dead_letter_quarantines_poison_and_batch_commits(spark, tmp_path):
    """A malformed message must not stall the stream: with
    dead_letter_dir set, the poison row is quarantined (original
    payload + error, durable BEFORE the sink runs), the good rows
    publish, and the batch COMMITS — the stream progresses."""
    tmp = str(tmp_path)
    indir = os.path.join(tmp, "in")
    _drop(indir, 4)
    with open(os.path.join(indir, "msg_zz_bad.json"), "w") as f:
        f.write("{not valid json!\n")

    dlq = os.path.join(tmp, "dlq")
    sink = CollectingSink()
    pipe = SparkPipeline(
        spark=spark,
        source=FileStreamSource(indir),
        sink=sink,
        processor=lambda m: {**m, "ok": True},
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        dead_letter_dir=dlq,
    )
    pipe.process()

    assert sorted(json.loads(bytes(r))["i"] for r in sink.rows) == [0, 1, 2, 3]
    quarantined = spark.read.parquet(dlq).collect()
    assert len(quarantined) == 1
    assert b"not valid json" in bytes(quarantined[0]["value"])
    assert "JSONDecodeError" in quarantined[0]["error"]
    commits = os.listdir(os.path.join(tmp, "ckpt", "commits"))
    assert commits, "batch with quarantined poison must still commit"
    assert pipe.metrics.totals()["rows_dlq"] == 1


def test_dead_letter_isolates_poison_in_bulk_processor(spark, tmp_path):
    """Bulk path: the whole-batch call fails on the poison message, the
    pipeline falls back to per-message calls (singleton lists — same
    bulk contract), quarantining exactly the failing one."""
    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 4)
    dlq = os.path.join(tmp, "dlq")

    def bulk_proc(batch):
        if any(m["i"] == 2 for m in batch):
            raise RuntimeError("poison payload i=2")
        return [{"i": m["i"]} for m in batch]

    sink = CollectingSink()
    SparkPipeline(
        spark=spark,
        source=FileStreamSource(os.path.join(tmp, "in")),
        sink=sink,
        processor=bulk_proc,
        bulk=True,
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        dead_letter_dir=dlq,
    ).process()

    assert sorted(json.loads(bytes(r))["i"] for r in sink.rows) == [0, 1, 3]
    bad = spark.read.parquet(dlq).collect()
    assert len(bad) == 1
    assert json.loads(bytes(bad[0]["value"]))["i"] == 2
    assert "poison payload" in bad[0]["error"]


@pytest.mark.parametrize("case", ["no_dlq", "dlq", "mor_sink"])
def test_processor_runs_once_per_message(spark, tmp_path, case):
    """The processor may have side effects, so each message reaches it
    once per batch run: the DLQ path caches the batch for its two
    actions, a one-action sink needs no cache, and MorUpsertSink, which
    writes its batch twice, caches it itself."""
    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 5)
    calls = os.path.join(tmp, "calls.txt")

    def proc(m):
        with open(calls, "a") as fh:
            fh.write(f"{m['i']}\n")
        return {"i": m["i"]}

    sink = (MorUpsertSink(os.path.join(tmp, "mor"), key="value", order=["value"])
            if case == "mor_sink" else CollectingSink())
    SparkPipeline(
        spark=spark,
        source=FileStreamSource(os.path.join(tmp, "in")),
        sink=sink,
        processor=proc,
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        dead_letter_dir=os.path.join(tmp, "dlq") if case == "dlq" else None,
    ).process()

    with open(calls) as fh:
        assert sorted(int(line) for line in fh) == [0, 1, 2, 3, 4]
    if case == "mor_sink":
        rows = [r["value"] for r in sink.read_snapshot(spark).collect()]
    else:
        rows = sink.rows
    assert sorted(json.loads(bytes(r))["i"] for r in rows) == [0, 1, 2, 3, 4]


def test_column_processor_fast_path(spark, tmp_path):
    """The Spark-first path: a Column-expression transform on the
    decoded frame (Catalyst-visible, no Python in the loop)."""
    from pyspark.sql import functions as F

    tmp = str(tmp_path)
    _drop(os.path.join(tmp, "in"), 3)

    def col_proc(df):
        parsed = F.from_json(
            F.col("value").cast("string"),
            "data STRING, nested STRUCT<nestedData: STRING>, i LONG",
        )
        return df.select(
            F.to_json(
                F.struct(
                    parsed.getField("i").alias("i"),
                    F.upper(parsed.getField("data")).alias("data_up"),
                )
            )
            .cast("binary")
            .alias("value")
        )

    sink = CollectingSink()
    SparkPipeline(
        spark=spark,
        source=FileStreamSource(os.path.join(tmp, "in")),
        sink=sink,
        column_processor=col_proc,
        checkpoint_dir=os.path.join(tmp, "ckpt"),
    ).process()
    out = sorted((json.loads(bytes(r)) for r in sink.rows), key=lambda d: d["i"])
    assert [d["data_up"] for d in out] == ["SOMEDATA"] * 3


def test_sigterm_stops_every_pipelines_queries(tmp_path):
    """Signal handlers are per process (P:15-24): with two pipelines
    in one process, SIGTERM stops the queries of both, not only those
    of the pipeline built last."""
    import signal

    class FakeQuery:
        stopped = False

        def stop(self) -> None:
            self.stopped = True

    def pipeline(name: str) -> SparkPipeline:
        return SparkPipeline(
            spark=None, source=FileStreamSource(str(tmp_path / name)), sink=CollectingSink()
        )

    first, second = pipeline("a"), pipeline("b")
    q1, q2 = FakeQuery(), FakeQuery()
    first.killer.watch(q1)
    second.killer.watch(q2)
    handler = signal.getsignal(signal.SIGTERM)
    try:
        handler(signal.SIGTERM, None)
        assert q1.stopped and q2.stopped
    finally:
        first.killer.unwatch(q1)
        second.killer.unwatch(q2)
