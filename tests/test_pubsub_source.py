"""End-to-end tests for the Pub/Sub-style DataSource: the reference's
TestClient loop (/root/reference/test_client.py:6-31) run hermetically —
publish to an incoming topic, pipeline processes, subscribe to the
outgoing topic.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import Counter
from pathlib import Path

import pytest

from py_pubsub_pipeline_spark.pipeline import CollectingSink, SparkPipeline
from py_pubsub_pipeline_spark.sources.pubsub import (
    FAULT_MARKER,
    PubSubDirStreamReader,
    PubSubStreamSource,
    TopicSink,
    publish,
)


def test_source_reads_published_messages(spark, tmp_path):
    topic = str(tmp_path / "topic-in")
    for i in range(5):
        publish(topic, json.dumps({"i": i}).encode())

    sink = CollectingSink()
    SparkPipeline(
        spark=spark,
        source=PubSubStreamSource(topic),
        sink=sink,
        processor=lambda m: {"i2": m["i"] * 2},
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).process()
    out = sorted(json.loads(bytes(r))["i2"] for r in sink.rows)
    assert out == [0, 2, 4, 6, 8]


def test_bulk_limit_caps_batches(spark, tmp_path):
    """R2: each micro-batch carries at most bulk_limit messages (the
    batch size each bulk-processor call sees is <= 2)."""
    topic = str(tmp_path / "topic-in")
    for i in range(5):
        publish(topic, json.dumps({"i": i}).encode())

    sink = CollectingSink()
    SparkPipeline(
        spark=spark,
        source=PubSubStreamSource(topic, bulk_limit=2),
        sink=sink,
        processor=lambda batch: [{"i": m["i"], "bsz": len(batch)} for m in batch],
        bulk=True,
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).process()
    out = [json.loads(bytes(r)) for r in sink.rows]
    assert sorted(d["i"] for d in out) == [0, 1, 2, 3, 4]
    assert all(d["bsz"] <= 2 for d in out)


def test_end_to_end_topic_to_topic(spark, tmp_path):
    """Full loop: in-topic -> pipeline -> out-topic through TopicSink,
    then a read of the out-topic's files confirms."""
    topic_in = str(tmp_path / "tin")
    topic_out = str(tmp_path / "tout")
    for i in range(3):
        publish(topic_in, json.dumps({"i": i}).encode())

    SparkPipeline(
        spark=spark,
        source=PubSubStreamSource(topic_in),
        sink=TopicSink(topic_out),
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).process()

    msgs = sorted(f for f in os.listdir(topic_out) if f.endswith(".msg"))
    assert len(msgs) == 3
    payloads = []
    for m in msgs:
        with open(os.path.join(topic_out, m), "rb") as f:
            payloads.append(json.loads(f.read()))
    assert sorted(p["i"] for p in payloads) == [0, 1, 2]


def _inject_fault(topic: str) -> None:
    with open(os.path.join(topic, FAULT_MARKER), "w") as f:
        f.write("")


def test_reader_retries_transient_broker_fault(tmp_path):
    """R4 default posture (reference swallows DeadlineExceeded and
    retries after a wait, pubsub_pipeline.py:204-211): an IOError on
    the poll is retried in place and the pull succeeds — no task
    failure, no message loss."""
    topic = str(tmp_path / "t")
    for i in range(3):
        publish(topic, json.dumps({"i": i}).encode())
    _inject_fault(topic)
    rdr = PubSubDirStreamReader(
        {"path": topic, "max_retries": "3", "retry_wait_secs": "0.01"}
    )
    it, end = rdr.read({"seq": 0})
    assert end == {"seq": 3}
    assert [json.loads(v)["i"] for _, v in it] == [0, 1, 2]
    assert not os.path.exists(os.path.join(topic, FAULT_MARKER))


def test_reader_respect_deadline_surfaces_fault(tmp_path):
    """R4 strict posture (respect_deadline=True re-raises,
    pubsub_pipeline.py:206-207): the IOError surfaces to the engine
    instead of retrying."""
    topic = str(tmp_path / "t")
    publish(topic, b"{}")
    _inject_fault(topic)
    rdr = PubSubDirStreamReader({"path": topic, "respect_deadline": "true"})
    with pytest.raises(IOError, match="injected broker fault"):
        rdr.read({"seq": 0})


def test_broker_fault_then_restart_from_checkpoint_no_loss_no_dupes(
    spark, tmp_path
):
    """R4 end-to-end: a broker fault with respect_deadline fails the
    run; a restart on the SAME checkpoint delivers every message
    exactly once (the offset ledger in the checkpoint is the ack
    state — nothing lost, nothing re-acked)."""
    topic = str(tmp_path / "t")
    for i in range(4):
        publish(topic, json.dumps({"i": i}).encode())
    _inject_fault(topic)

    def pipe(sink):
        return SparkPipeline(
            spark=spark,
            source=PubSubStreamSource(topic, respect_deadline=True),
            sink=sink,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )

    with pytest.raises(Exception, match="injected broker fault"):
        pipe(CollectingSink()).process()

    sink = CollectingSink()
    pipe(sink).process()
    got = sorted(json.loads(bytes(r))["i"] for r in sink.rows)
    assert got == [0, 1, 2, 3], "restart must deliver all, exactly once"


def _topic_ids(topic: str) -> list[int]:
    out = []
    for name in sorted(os.listdir(topic)):
        if name.endswith(".msg"):
            with open(os.path.join(topic, name), "rb") as fh:
                out.append(json.loads(fh.read())["i"])
    return out


def test_checkpoint_logs_are_checksummed(spark, tmp_path):
    """The session writes checkpoints through Spark's FileSystem-based
    manager on the checksummed local filesystem: every offset and
    commit log entry has its .crc beside it, and a corrupted entry
    fails the restart instead of being read."""
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    topic = str(tmp_path / "t")
    for i in range(3):
        publish(topic, json.dumps({"i": i}).encode())
    ckpt = tmp_path / "ckpt"

    def pipe():
        return SparkPipeline(
            spark=spark,
            source=PubSubStreamSource(topic, bulk_limit=2),
            sink=CollectingSink(),
            checkpoint_dir=str(ckpt),
        )

    pipe().process()
    for log in ("offsets", "commits"):
        names = set(os.listdir(ckpt / log))
        assert {n for n in names if n.isdigit()} == {"0", "1"}, (log, names)
        assert {".0.crc", ".1.crc"} <= names, (log, names)

    entry = ckpt / "commits" / "1"
    data = bytearray(entry.read_bytes())
    data[-1] ^= 0x01
    entry.write_bytes(bytes(data))
    with pytest.raises(Exception, match="Checksum"):
        pipe().process()


@pytest.mark.parametrize(
    "dlq,topic_sink",
    [(False, False), (True, False), (False, True)],
    ids=["False", "True", "topic_sink"],
)
def test_stop_during_sink_then_restart_loses_nothing(
    spark, tmp_path, dlq, topic_sink
):
    """Fault matrix: stop() lands after the foreachBatch sink published
    its batch but before it returned. A stop is not a failure: the
    query and the listener's terminated record carry no exception.
    Whether the stopped batch's commit lands depends on where the
    interrupt hits the stream thread, so a restart on the same
    checkpoint re-delivers at most that one batch and loses nothing.
    TopicSink recognises that replay by its batch id: exactly once."""
    topic, out = str(tmp_path / "in"), str(tmp_path / "out")
    for i in range(6):
        publish(topic, json.dumps({"i": i}).encode())
    published, stopping = threading.Event(), threading.Event()
    first: list[int] = []

    def publishing_sink(batch_df, epoch_id):
        if topic_sink:
            TopicSink(out)(batch_df, epoch_id)
            ids = _topic_ids(out)
        else:
            rows = batch_df.collect()
            for r in rows:
                publish(out, bytes(r.value))
            ids = [json.loads(bytes(r.value))["i"] for r in rows]
        if not published.is_set():
            first.extend(ids)
            published.set()
            stopping.wait(60)
            time.sleep(1.0)  # stop() is now waiting on this callback

    def pipe():
        return SparkPipeline(
            spark=spark,
            source=PubSubStreamSource(topic, bulk_limit=2),
            sink=publishing_sink,
            processor=lambda m: m,
            checkpoint_dir=str(tmp_path / "ckpt"),
            dead_letter_dir=str(tmp_path / "dlq") if dlq else None,
        )

    stopped = pipe()
    query = stopped.process(available_now=False)
    try:
        assert published.wait(120), "first batch never reached the sink"

        def stop():
            stopping.set()
            query.stop()

        stopper = threading.Thread(target=stop)
        stopper.start()
        stopper.join(120)
        assert not stopper.is_alive() and not query.isActive
        assert query.exception() is None
        for _ in range(50):
            if stopped.metrics.terminated is not None:
                break
            time.sleep(0.1)
        assert stopped.metrics.terminated is not None
        assert stopped.metrics.terminated["exception"] is None
        # committed reports whether the stopped batch reached the
        # commit log, whichever way the interrupt fell
        ckpt = tmp_path / "ckpt"
        newest = max(int(n) for n in os.listdir(ckpt / "offsets")
                     if n.isdigit())
        assert stopped.metrics.terminated["committed"] == (
            ckpt / "commits" / str(newest)).exists()
    finally:
        stopped.killer.unwatch(query)
        spark.streams.removeListener(stopped.metrics._listener())
    assert sorted(_topic_ids(out)) == sorted(first)

    pipe().process()
    got = _topic_ids(out)
    if topic_sink:
        assert Counter(got) == Counter(range(6)), got
        return
    assert sorted(set(got)) == list(range(6)), "restart must lose nothing"
    extra = Counter(got) - Counter(range(6))
    assert set(extra) <= set(first) and max(extra.values(), default=1) == 1, got


def test_topic_sink_replay_after_lost_offset_commit_is_exactly_once(
    spark, tmp_path
):
    """Fault matrix: a kill between the sink's commit and Spark's
    commit-log write, made by deleting the last commits/<n> and its
    .crc. The restart runs batch n again; TopicSink has already
    recorded it for this query, so every message is in the out-topic
    exactly once."""
    topic, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), tmp_path / "ck"
    for i in range(10):
        publish(topic, json.dumps({"i": i}).encode())

    def pipe():
        return SparkPipeline(
            spark=spark,
            source=PubSubStreamSource(topic, bulk_limit=2),
            sink=TopicSink(out),
            checkpoint_dir=str(ckpt),
        )

    pipe().process()
    last = max(int(n) for n in os.listdir(ckpt / "commits") if n.isdigit())
    assert last >= 4
    os.remove(ckpt / "commits" / str(last))
    os.remove(ckpt / "commits" / f".{last}.crc")

    pipe().process()
    assert (ckpt / "commits" / str(last)).exists(), "batch was not replayed"
    assert Counter(_topic_ids(out)) == Counter(range(10))


@pytest.mark.parametrize("linked", [False, True], ids=["before_link", "after_link"])
def test_topic_sink_crash_mid_commit_then_restart_is_exactly_once(
    spark, tmp_path, monkeypatch, linked
):
    """Fault matrix: the sink dies after one claim of its second batch,
    either before the next message's link() or after it but before the
    staged file is removed. process() fails; a restart on the same
    checkpoint resumes the staged batch, so each message lands once
    and each batch keeps its order."""
    from py_pubsub_pipeline_spark.sources import pubsub

    topic, out = str(tmp_path / "in"), str(tmp_path / "out")
    for i in range(6):
        publish(topic, json.dumps({"i": i}).encode())
    real, claims = pubsub._claim_seq, []

    def crashing_claim(topic_dir, staged, hint):
        if len(claims) == 3 + 1:  # all of batch 0, one of batch 1
            if linked:
                name = pubsub._msg_name(pubsub._head(topic_dir))
                os.link(staged, os.path.join(topic_dir, name))
            raise OSError("crash mid-commit (injected)")
        claims.append(real(topic_dir, staged, hint))
        return claims[-1]

    def pipe():
        return SparkPipeline(
            spark=spark,
            source=PubSubStreamSource(topic, bulk_limit=3),
            sink=TopicSink(out),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )

    monkeypatch.setattr(pubsub, "_claim_seq", crashing_claim)
    with pytest.raises(Exception, match="crash mid-commit"):
        pipe().process()
    assert _topic_ids(out) == list(range(5 if linked else 4))

    monkeypatch.undo()
    pipe().process()
    assert _topic_ids(out) == list(range(6))


def test_topic_sink_with_concurrent_publishers_no_gap_no_clobber(spark, tmp_path):
    """Fault matrix: 4 threads each publish() 100 messages into the
    topic a pipeline's TopicSink commits into. Every seq is claimed
    with link(), so the topic's offsets run 0..N-1 with no gap and
    every payload is there exactly once."""
    topic, out = str(tmp_path / "in"), str(tmp_path / "out")
    ours = [json.dumps({"i": i}).encode() for i in range(40)]
    for payload in ours:
        publish(topic, payload)
    theirs = [
        json.dumps({"t": t, "i": i}).encode() for t in range(4) for i in range(100)
    ]
    started = threading.Event()
    sink = TopicSink(out)

    def sink_fn(batch_df, epoch_id):
        started.set()
        sink(batch_df, epoch_id)

    def publisher(t):
        started.wait(120)
        for payload in theirs[t * 100:(t + 1) * 100]:
            publish(out, payload)
            time.sleep(0.01)

    threads = [threading.Thread(target=publisher, args=(t,)) for t in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for th in threads:
            th.start()
        SparkPipeline(
            spark=spark,
            source=PubSubStreamSource(topic, bulk_limit=5),
            sink=sink_fn,
            checkpoint_dir=str(tmp_path / "ckpt"),
        ).process()
        for th in threads:
            th.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)

    names = sorted(f for f in os.listdir(out) if f.endswith(".msg"))
    assert [int(n[: -len(".msg")]) for n in names] == list(range(440))
    assert Counter(Path(out, n).read_bytes() for n in names) == Counter(ours + theirs)


def test_batch_backfill_reads_topic_history(spark, tmp_path):
    """Backfill/replay: the same pubsub_dir source reads as a BOUNDED
    DataFrame (spark.read), full history or an offset range,
    partitioned by offset slices for parallel replay."""
    from py_pubsub_pipeline_spark.session import ensure_package_on_workers
    from py_pubsub_pipeline_spark.sources.pubsub import PubSubDirDataSource

    topic = str(tmp_path / "t")
    for i in range(10):
        publish(topic, json.dumps({"i": i}).encode())
    ensure_package_on_workers(spark)
    spark.dataSource.register(PubSubDirDataSource)

    full = spark.read.format("pubsub_dir").option("path", topic).load()
    got = sorted(json.loads(bytes(r.value))["i"] for r in full.collect())
    assert got == list(range(10))

    sliced = (
        spark.read.format("pubsub_dir")
        .option("path", topic)
        .option("start_offset", 3)
        .option("end_offset", 7)
        .load()
    )
    got = sorted(r.offset for r in sliced.collect())
    assert got == [3, 4, 5, 6]


def test_offset_resume_no_reprocessing(spark, tmp_path):
    """Checkpointed offsets: a second run only sees messages published
    after the first run (the ack ledger lives in the checkpoint)."""
    topic = str(tmp_path / "topic-in")
    publish(topic, json.dumps({"i": 0}).encode())

    sink = CollectingSink()
    pipe = SparkPipeline(
        spark=spark,
        source=PubSubStreamSource(topic),
        sink=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    pipe.process()
    assert len(sink.rows) == 1

    publish(topic, json.dumps({"i": 1}).encode())
    pipe.process()
    got = sorted(json.loads(bytes(r))["i"] for r in sink.rows)
    assert got == [0, 1], "already-acked message 0 must not be redelivered"


# --------------------------------------------------------------------
# Real-transport seam contract (PubSubClientStreamReader): the reader
# against an in-memory fake exposing google-cloud-pubsub-SHAPED
# signatures — pull(subscription=, max_messages=) returning
# .received_messages[*].ack_id / .message.data, and
# acknowledge(subscription=, ack_ids=).  Proves the documented
# "read(start) becomes subscriber.pull, commit(end) becomes
# acknowledge-after-sink-commit" mapping without any network.
# --------------------------------------------------------------------

from types import SimpleNamespace

from py_pubsub_pipeline_spark.sources.pubsub import (  # noqa: E402
    PubSubClientStreamReader,
)


class FakePubSubClient:
    """In-memory broker with the real client's call surface.  Messages
    stay redeliverable until acknowledged (at-least-once); the call
    log records pull/acknowledge ordering for the R10 assertion."""

    def __init__(self, payloads):
        self._queue = [
            SimpleNamespace(
                ack_id=f"ack-{i}",
                message=SimpleNamespace(data=p),
            )
            for i, p in enumerate(payloads)
        ]
        self._delivered: set = set()
        self.acked: list = []
        self.calls: list = []

    def pull(self, *, subscription, max_messages):
        self.calls.append(("pull", subscription, max_messages))
        out = [
            m for m in self._queue
            if m.ack_id not in self._delivered
            and m.ack_id not in self.acked
        ][:max_messages]
        self._delivered |= {m.ack_id for m in out}
        return SimpleNamespace(received_messages=out)

    def acknowledge(self, *, subscription, ack_ids):
        self.calls.append(("acknowledge", subscription, list(ack_ids)))
        self.acked.extend(ack_ids)

    def redeliver_unacked(self):
        """Ack-deadline expiry: delivered-but-unacked messages become
        pullable again (the broker's redelivery contract)."""
        self._delivered = {a for a in self._delivered if a in self.acked}


def test_client_reader_pull_maps_to_read_with_bulk_limit_cap():
    fake = FakePubSubClient([b"m0", b"m1", b"m2", b"m3", b"m4"])
    r = PubSubClientStreamReader(fake, "projects/p/subscriptions/s",
                                 bulk_limit=2)
    rows, end = r.read(r.initialOffset())
    rows = list(rows)
    assert [(o, bytes(v)) for o, v in rows] == [(0, b"m0"), (1, b"m1")]
    assert end == {"seq": 2}
    # the cap travels to the broker as max_messages (R2 = P:68, P:199)
    assert fake.calls[0] == ("pull", "projects/p/subscriptions/s", 2)


def test_client_reader_empty_poll_keeps_offset():
    fake = FakePubSubClient([])
    r = PubSubClientStreamReader(fake, "s", bulk_limit=20)
    rows, end = r.read({"seq": 7})
    assert list(rows) == []
    assert end == {"seq": 7}, "empty poll must not advance the offset"


def test_client_reader_acks_only_on_commit_and_in_order():
    fake = FakePubSubClient([b"a", b"b", b"c"])
    r = PubSubClientStreamReader(fake, "s", bulk_limit=2)
    _, end = r.read(r.initialOffset())
    assert fake.acked == [], "no ack before the engine commits (R10)"
    r.commit(end)
    assert fake.acked == ["ack-0", "ack-1"]
    # the broker call log shows pull strictly before acknowledge
    assert [c[0] for c in fake.calls] == ["pull", "acknowledge"]
    # next batch: remaining message, next contiguous offsets
    rows, end2 = r.read(end)
    assert [(o, bytes(v)) for o, v in rows] == [(2, b"c")]
    r.commit(end2)
    assert fake.acked == ["ack-0", "ack-1", "ack-2"]


def test_client_reader_replays_unacked_range_until_commit():
    fake = FakePubSubClient([b"x", b"y"])
    r = PubSubClientStreamReader(fake, "s", bulk_limit=20)
    _, end = r.read(r.initialOffset())
    # recovery path: the unacked window replays byte-identically
    replay = r.readBetweenOffsets({"seq": 0}, end)
    assert [(o, bytes(v)) for o, v in replay] == [(0, b"x"), (1, b"y")]
    r.commit(end)
    assert r.readBetweenOffsets({"seq": 0}, end) == [], (
        "acked messages leave the retention window"
    )


def test_client_reader_redelivery_after_deadline_is_at_least_once():
    fake = FakePubSubClient([b"only"])
    r = PubSubClientStreamReader(fake, "s", bulk_limit=20)
    _, end = r.read(r.initialOffset())
    # crash before commit: a fresh reader (restarted query) pulls the
    # same message again once the broker's ack deadline expires
    fake.redeliver_unacked()
    r2 = PubSubClientStreamReader(fake, "s", bulk_limit=20)
    rows, _ = r2.read(r2.initialOffset())
    assert [bytes(v) for _, v in rows] == [b"only"]
    assert fake.acked == [], "duplicate window exists until an ack lands"


@pytest.mark.parametrize("middle", ["directory", "topic"])
def test_two_stage_chained_pipelines(spark, tmp_path, middle):
    """The reference's primary deployment shape (RM:1-4: enrichment
    pipelines between pub/sub queues) is SERVICES CHAINED
    topic-to-topic: stage 1's outgoing topic is stage 2's incoming
    subscription. Two complete SparkPipelines with independent
    checkpoints compose through a shared middle transport: a
    TopicSink -> PubSubStreamSource topic, or a DirectorySink ->
    FileStreamSource directory. Each stage's offsets commit only after
    ITS publish (per-stage ack-after-publish), so a crash between
    stages replays only the unacked stage. Asserts both enrichments
    land, in order, and both stages committed."""
    t_in = str(tmp_path / "t0")
    t_mid = str(tmp_path / "t1")
    for i in range(4):
        publish(t_in, json.dumps({"i": i}).encode())

    from py_pubsub_pipeline_spark.pipeline import (
        CollectingSink,
        DirectorySink,
        FileStreamSource,
        SparkPipeline,
    )

    if middle == "topic":
        sink1, source2 = TopicSink(t_mid), PubSubStreamSource(t_mid)
    else:
        sink1, source2 = DirectorySink(t_mid), FileStreamSource(t_mid)

    SparkPipeline(
        spark=spark,
        source=PubSubStreamSource(t_in),
        sink=sink1,
        processor=lambda m: {**m, "stage1": m["i"] * 10},
        checkpoint_dir=str(tmp_path / "ckpt1"),
    ).process()

    sink2 = CollectingSink()
    SparkPipeline(
        spark=spark,
        source=source2,
        sink=sink2,
        processor=lambda m: {**m, "stage2": m["stage1"] + 1},
        checkpoint_dir=str(tmp_path / "ckpt2"),
    ).process()

    out = sorted((json.loads(bytes(r)) for r in sink2.rows),
                 key=lambda d: d["i"])
    assert [d["i"] for d in out] == [0, 1, 2, 3]
    assert all(d["stage2"] == d["i"] * 10 + 1 for d in out)
    for ckpt in ("ckpt1", "ckpt2"):
        assert os.listdir(str(tmp_path / ckpt / "commits")), ckpt
