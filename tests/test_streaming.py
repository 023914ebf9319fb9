"""True streaming executions (readStream -> memory sink) of the
watermark/window/dedup helpers whose batch twins are oracle-checked in
queries/events_windows.py.
"""

from __future__ import annotations

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from py_pubsub_pipeline_spark.streaming import (
    sessionized_stream,
    stream_dedup_within_watermark,
    tumbling_counts_stream,
)
from py_pubsub_pipeline_spark.tables import table

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def events_stream_dir(tmp_path_factory):
    # Materialize the events table as a parquet drop-dir readStream input.
    d = str(tmp_path_factory.mktemp("events_stream"))
    shutil.rmtree(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _stream_events(spark, out_dir):
    batch = table(spark, SF_SMALL, "events")
    batch.write.mode("overwrite").parquet(out_dir)
    return (
        spark.readStream.schema(batch.schema).parquet(out_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def _run_to_memory(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_watermarked_stream_matches_batch(spark, events_stream_dir):
    stream = _stream_events(spark, events_stream_dir)
    name = f"t_{uuid.uuid4().hex[:8]}"
    _run_to_memory(tumbling_counts_stream(stream), name)
    got = spark.sql(f"SELECT SUM(n) AS total FROM {name}").collect()[0]["total"]
    # Append mode only emits windows the watermark has closed: the final
    # watermark is max(ts) - 10min, so windows ending after it stay open
    # and their events are withheld. Compute the closed-set expectation.
    ev = table(spark, SF_SMALL, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    expected_closed = ev.filter(
        F.date_trunc("hour", "ts") + F.expr("INTERVAL 1 HOUR")
        <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
    ).count()
    assert got == expected_closed
    assert got < ev.count()  # the open window really was withheld


def test_session_stream_runs_and_bounds_sessions(spark, events_stream_dir):
    stream = _stream_events(spark, events_stream_dir)
    name = f"s_{uuid.uuid4().hex[:8]}"
    _run_to_memory(sessionized_stream(stream), name)
    rows = spark.sql(
        f"SELECT COUNT(*) AS n, SUM(n_events) AS total FROM {name}"
    ).collect()[0]
    # Sessions still open at the final watermark are withheld (append
    # mode) — emitted total is slightly below the event count.
    n_events = table(spark, SF_SMALL, "events").count()
    assert 0 < rows["total"] <= n_events
    assert n_events - rows["total"] < 50  # only tail sessions withheld
    assert 0 < rows["n"] <= rows["total"]


def test_stream_dedup_within_watermark(spark, events_stream_dir):
    stream = _stream_events(spark, events_stream_dir)
    name = f"d_{uuid.uuid4().hex[:8]}"
    _run_to_memory(stream_dedup_within_watermark(stream), name)
    n = spark.sql(f"SELECT COUNT(*) AS n FROM {name}").collect()[0]["n"]
    dedup = (
        table(spark, SF_SMALL, "events").select("event_id").distinct().count()
    )
    assert n == dedup


def test_stream_stream_interval_join_matches_batch(spark, events_stream_dir):
    from py_pubsub_pipeline_spark.streaming import stream_stream_interval_join

    stream = _stream_events(spark, events_stream_dir)
    q = _run_to_memory(
        stream_stream_interval_join(stream, stream, within_seconds=900),
        "ss_join",
    )
    got = {
        (r.c_user, r.click_id, r.purchase_id, round(r.amount, 6))
        for r in spark.table("ss_join").collect()
    }

    batch = table(spark, SF_SMALL, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    expected = {
        (r.c_user, r.click_id, r.purchase_id, round(r.amount, 6))
        for r in stream_stream_interval_join(batch, batch, within_seconds=900)
        .collect()
    }
    # Bounded input, availableNow: the inner join emits exactly the
    # batch-twin matches (no late data beyond the watermark here).
    assert got == expected
    assert expected, "attribution join produced no pairs at sf0.001"


def test_windowed_leaderboard_stream_matches_batch_twin(
    spark, events_stream_dir
):
    """The streaming leaderboard's settled output (bounded input, all
    windows closed) must equal the oracle-checked batch twin
    stream_topk_windowed."""
    from py_pubsub_pipeline_spark.queries.events_windows import (
        stream_topk_windowed,
    )
    from py_pubsub_pipeline_spark.streaming.windows import (
        windowed_leaderboard_stream,
    )

    stream = _stream_events(spark, events_stream_dir)
    # Collect the LAST emission per (window, user): update mode re-emits
    # a window's standings each trigger; the final one is settled.
    emissions: dict = {}

    def sink(batch_df, epoch_id):
        for r in batch_df.collect():
            emissions[(r.window_start, r.user_id)] = (
                r.rnk, r.n, float(r.sum_value)
            )

    q = windowed_leaderboard_stream(stream, sink)
    q.processAllAvailable()
    q.stop()

    expected = {
        (r.window_start, r.user_id): (r.rnk, r.n, float(r.sum_value))
        for r in stream_topk_windowed(spark, SF_SMALL).collect()
    }
    settled = {
        k: v for k, v in emissions.items()
        if k in expected and v == expected[k]
    }
    assert settled == expected, (
        f"{len(settled)}/{len(expected)} leaderboard rows settled"
    )


def test_stream_stream_outer_join_emits_nulls_past_watermark(
    spark, events_stream_dir
):
    """The LEFT OUTER interval join: matched rows equal the inner
    join's; null rows appear exactly for unmatched clicks whose
    no-match deadline (click_ts + 900s) the final watermark has
    passed — the withheld tail is the watermark contract at work."""
    from py_pubsub_pipeline_spark.streaming import (
        stream_stream_interval_outer_join,
    )

    stream = _stream_events(spark, events_stream_dir)
    name = f"sso_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        stream_stream_interval_outer_join(stream, stream,
                                          within_seconds=900),
        name,
    )
    rows = spark.table(name).collect()
    got_matched = {
        (r.c_user, r.click_id, r.purchase_id)
        for r in rows if r.purchase_id is not None
    }
    got_null_clicks = {
        r.click_id for r in rows if r.purchase_id is None
    }

    batch = table(spark, SF_SMALL, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    from py_pubsub_pipeline_spark.streaming import (
        stream_stream_interval_join,
    )

    inner = stream_stream_interval_join(
        batch, batch, within_seconds=900
    ).collect()
    exp_matched = {(r.c_user, r.click_id, r.purchase_id) for r in inner}
    assert got_matched == exp_matched

    ev = table(spark, SF_SMALL, "events")
    # The query's event-time watermark is the MIN across the two
    # watermarked sides — each tracks ITS OWN column's max — so the
    # final watermark is min(max click_ts, max purchase_ts) - 10min,
    # not the global event max.
    final_wm = min(
        ev.filter(F.col("event_type") == t)
        .agg(F.max("ts")).collect()[0][0]
        for t in ("click", "purchase")
    )
    clicks = ev.filter(F.col("event_type") == "click")
    matched_click_ids = {c for (_, c, _) in exp_matched}
    unmatched = clicks.filter(
        ~F.col("event_id").isin(*matched_click_ids)
    )
    # Null row emitted once the final watermark passes the deadline.
    # The engine applies a small state-eviction allowance at the exact
    # boundary, so the must-emit set takes a 1-minute safety margin;
    # the upper bound (every null row is truly unmatched) stays tight.
    evictable = {
        r.event_id
        for r in unmatched.filter(
            F.col("ts") + F.expr("INTERVAL 900 SECONDS")
            < F.lit(final_wm) - F.expr("INTERVAL 11 MINUTES")
        ).collect()
    }
    all_unmatched = {r.event_id for r in unmatched.collect()}
    assert evictable <= got_null_clicks <= all_unmatched
    assert evictable, "no evictable unmatched clicks at sf0.001"
    # and no matched click ever produced a null row
    assert not (got_null_clicks & matched_click_ids)


def test_merge_upsert_sink_materializes_latest_state_and_converges(
    spark, events_stream_dir, tmp_path
):
    """Streaming MERGE materialization: after draining the stream the
    snapshot equals the oracle-checked batch compaction
    (cdc_latest_state's latest-wins semantics), and replaying the
    final batch converges (idempotent merge, no duplicates)."""
    from py_pubsub_pipeline_spark.pipeline import MergeUpsertSink

    stream = _stream_events(spark, events_stream_dir)
    sink = MergeUpsertSink(
        str(tmp_path / "merge"), key="user_id", order=["ts", "event_id"]
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.user_id, r.event_id)
        for r in sink.read_snapshot(spark)
        .select("user_id", "event_id").collect()
    }
    ev = table(spark, SF_SMALL, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expected = {
        (r.user_id, r.event_id)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1").select("user_id", "event_id").collect()
    }
    assert got == expected

    # replay: re-applying the whole input as one batch must converge
    sink(ev.withColumn("ts", F.col("ts").cast("timestamp")), 999)
    again = {
        (r.user_id, r.event_id)
        for r in sink.read_snapshot(spark)
        .select("user_id", "event_id").collect()
    }
    assert again == expected


def test_mor_upsert_sink_equals_cow_snapshot_and_replays(spark, tmp_path):
    """MERGE-ON-READ write path (VERDICT r11 item 6): driving the SAME
    upsert stream through the copy-on-write MergeUpsertSink and the
    equality-delete MorUpsertSink must produce value-identical
    snapshots, and replaying a batch (the at-least-once window) must
    converge byte-identically — the commit log, data file, and delete
    file are all batch-id-keyed overwrites.

    The stream is split into 5 files ordered by (ts, event_id) so
    arrival order equals the CDC total order — the premise under
    which sequence-wins (MoR) and max-(ts,event_id)-wins (COW) agree."""
    import os

    from pyspark.sql import Window

    from py_pubsub_pipeline_spark.pipeline import (
        MergeUpsertSink, MorUpsertSink,
    )

    src = str(tmp_path / "src")
    ev = (
        table(spark, SF_SMALL, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    ev.withColumn(
        "bucket", F.ntile(5).over(Window.orderBy("ts", "event_id"))
    ).write.partitionBy("bucket").parquet(src)

    def drive(sink, ckpt):
        batch = spark.read.parquet(src).drop("bucket")
        q = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .drop("bucket")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    cow = MergeUpsertSink(
        str(tmp_path / "cow"), key="user_id", order=["ts", "event_id"])
    mor = MorUpsertSink(
        str(tmp_path / "mor"), key="user_id", order=["ts", "event_id"])
    drive(cow, "ckpt_cow")
    drive(mor, "ckpt_mor")

    cols = ["user_id", "event_id", "ts"]
    cow_snap = {tuple(r) for r in
                cow.read_snapshot(spark).select(*cols).collect()}
    mor_snap = {tuple(r) for r in
                mor.read_snapshot(spark).select(*cols).collect()}
    assert mor_snap == cow_snap
    # one row per key — the latest-wins contract
    assert len({t[0] for t in mor_snap}) == len(mor_snap)

    # MoR never rewrote anything: every committed batch left exactly
    # one data file dir + one delete file dir, all still present.
    commits = mor._commits()
    assert len(commits) >= 2, "split stream should commit >1 batch"
    for c in commits:
        assert os.path.exists(
            os.path.join(str(tmp_path / "mor"), c["data"], "_SUCCESS"))
        assert os.path.exists(
            os.path.join(str(tmp_path / "mor"), c["deletes"], "_SUCCESS"))

    # replay the LAST batch verbatim (same epoch id): overwrite
    # semantics must leave the snapshot unchanged.
    last = commits[-1]
    src_df = spark.read.parquet(
        os.path.join(str(tmp_path / "mor"), last["data"]))
    # materialize BEFORE the call: the sink overwrites the very files
    # a lazy plan would still be reading (a real foreachBatch replay
    # hands over fresh source rows, not the sink's own output)
    last_batch = spark.createDataFrame(src_df.collect(), src_df.schema)
    mor(last_batch, last["seq"])
    again = {tuple(r) for r in
             mor.read_snapshot(spark).select(*cols).collect()}
    assert again == mor_snap


def test_ivfpq_index_sink_streams_value_identical_index(spark, tmp_path):
    """Streaming ANN index maintenance (round 13): vectors ingested
    through IvfpqIndexSink in micro-batches must yield a codes
    relation value-identical to a batch-built one (encoding is
    per-row deterministic against FIXED codebooks), a replayed batch
    must converge, and search over the streamed index must equal the
    registered sim_ivfpq results."""
    from pyspark.sql import functions as F

    from py_pubsub_pipeline_spark.queries.similarity import (
        IVF_NLIST, PQ_K, PQ_M, _dvec, _ivfpq_assign, _ivfpq_cb_init,
        _ivfpq_cenball, _ivfpq_code_expr, _ivfpq_search,
    )
    from py_pubsub_pipeline_spark.registry import load_all
    from py_pubsub_pipeline_spark.streaming.ann_index import IvfpqIndexSink

    e = table(spark, SF_SMALL, "embeddings")
    v = e.select("vec_id", _dvec("embedding", "e"))
    cen = v.filter(F.col("vec_id") < IVF_NLIST).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
    cenball = _ivfpq_cenball(cen)
    cbball = _ivfpq_cb_init(
        _ivfpq_assign(v.where(f"vec_id < {IVF_NLIST + PQ_K}"), cenball))

    # drive through a REAL stream: 4 drop files -> foreachBatch
    src = str(tmp_path / "vecs")
    e.withColumn("bucket", F.col("vec_id") % 4).write.partitionBy(
        "bucket").parquet(src)
    sink = IvfpqIndexSink(str(tmp_path / "idx"), cenball, cbball)
    batch_schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .select("vec_id", _dvec("embedding", "e"))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(sink._committed()) >= 2

    code_cols = ["vec_id", "cell"] + [f"code_{m}" for m in range(PQ_M)]
    streamed = {tuple(r) for r in
                sink.read_index(spark).select(*code_cols).collect()}
    batch_built = {tuple(r) for r in (
        _ivfpq_assign(v, cenball)
        .crossJoin(F.broadcast(cbball))
        .selectExpr("vec_id", "cell",
                    *[_ivfpq_code_expr(m) for m in range(PQ_M)])
        .collect()
    )}
    assert streamed == batch_built
    # replay the last committed batch verbatim: overwrite converges.
    # The batch's membership comes from the committed partition itself
    # (epoch->file assignment is the engine's, not ours to assume).
    last = sink._committed()[-1]
    member_ids = [r["vec_id"] for r in spark.read.parquet(
        str(tmp_path / "idx" / f"batch={last}")).select("vec_id").collect()]
    rows = v.where(F.col("vec_id").isin(member_ids))
    sink(spark.createDataFrame(rows.collect(), rows.schema), last)
    again = {tuple(r) for r in
             sink.read_index(spark).select(*code_cols).collect()}
    assert again == streamed
    # search over the streamed index == the registered key's results
    got = {tuple(r) for r in _ivfpq_search(
        v, cen, cbball=cbball, enc=sink.read_index(spark)).collect()}
    want = {tuple(r) for r in
            load_all()["sim_ivfpq"].fn(spark, SF_SMALL).collect()}
    assert got == want


def test_mor_compaction_preserves_resolution_and_time_travel(
    spark, tmp_path
):
    """MoR delta compaction (VERDICT r12 item 5): ingest N sequences
    through MorUpsertSink, compact mid-history, and the resolved
    snapshot must be identical before/after at every as-of point; the
    post-compaction read must union ZERO delete files from compacted
    sequences; replaying the compaction converges; vacuum expires the
    superseded deltas without changing the retained reads."""
    import os

    from py_pubsub_pipeline_spark.pipeline import MorUpsertSink

    base = str(tmp_path / "mor")
    sink = MorUpsertSink(base, key="k", order=["ver"])
    o = table(spark, SF_SMALL, "orders").select(
        F.col("o_orderkey").alias("k"))
    preds = ["k % 3 = 0", "k % 3 <= 1", "k % 5 = 0", "k % 7 = 0"]
    for seq, pred in enumerate(preds):
        sink(
            o.where(pred).select(
                "k", F.lit(seq).cast("long").alias("ver"),
                (F.col("k") * 10 + seq).cast("long").alias("val"),
            ),
            seq,
        )

    def snap(through=None):
        return {tuple(r) for r in sink.read_snapshot(
            spark, through=through).select("k", "ver", "val").collect()}

    before = {t: snap(t) for t in (0, 1, 2, 3, None)}
    rel = sink.compact(spark, through=2)
    assert rel == "base-2"
    # identical resolution at every as-of point, pre- and post-base
    for t, want in before.items():
        assert snap(t) == want, f"through={t} changed after compact"
    # the default read now starts from base-2: its scan set is the
    # base + the post-compaction delta (seq 3) — zero delete files
    # from compacted sequences
    files = sink.read_snapshot(spark).inputFiles()
    assert any("/base-2/" in f for f in files)
    assert any("/delete-3/" in f for f in files)
    for s in (0, 1, 2):
        assert not any(f"/delete-{s}/" in f or f"/data-{s}/" in f
                       for f in files)
    # replaying the compaction (same through) converges
    sink.compact(spark, through=2)
    assert snap() == before[None]
    # vacuum below the retained window: compacted deltas disappear
    # from disk, every retained read is unchanged
    removed = sink.vacuum(retain_from=2)
    assert sorted(removed) == sorted(
        [f"data-{s}" for s in (0, 1, 2)]
        + [f"delete-{s}" for s in (0, 1, 2)]
    )
    for s in (0, 1, 2):
        assert not os.path.exists(os.path.join(base, f"data-{s}"))
    assert snap() == before[None]
    assert snap(2) == before[2]
    assert snap(3) == before[3]
    # maintenance no-op on a fully-vacuumed quiescent table: compact
    # everything (through=3), vacuum it all away, then a periodic
    # compact() must return the newest base instead of raising
    sink.compact(spark, through=3)
    sink.vacuum(retain_from=3)
    assert sink._commits() == []
    assert sink.compact(spark) == "base-3"
    assert snap() == before[None]


def test_mor_compact_with_explicit_through_on_vacuumed_table(
    spark, tmp_path
):
    """ADVICE r13: compact(spark, through=S) on a fully-vacuumed
    quiescent table must return the covering base instead of raising —
    a periodic maintenance job pinning an explicit sequence must not
    crash on a healthy table (and must still raise when NO base covers
    the pinned point)."""
    import pytest as _pytest

    from py_pubsub_pipeline_spark.pipeline import MorUpsertSink

    base = str(tmp_path / "mor")
    sink = MorUpsertSink(base, key="k", order=["ver"])
    o = table(spark, SF_SMALL, "orders").select(
        F.col("o_orderkey").alias("k"))
    for seq in (0, 1):
        sink(
            o.where(f"k % 3 = {seq}").select(
                "k", F.lit(seq).cast("long").alias("ver"),
                (F.col("k") * 10 + seq).cast("long").alias("val"),
            ),
            seq,
        )
    want = {tuple(r) for r in sink.read_snapshot(spark).collect()}
    sink.compact(spark, through=1)
    sink.vacuum(retain_from=1)
    assert sink._commits() == []
    # pinned maintenance point covered by the surviving base: no-op
    assert sink.compact(spark, through=1) == "base-1"
    assert sink.compact(spark, through=7) == "base-1"
    assert {tuple(r) for r in sink.read_snapshot(spark).collect()} == want
    # nothing at or below the pinned point: still an error
    with _pytest.raises(FileNotFoundError):
        sink.compact(spark, through=0)


def test_mor_commit_log_records_delete_bytes_and_fields(spark, tmp_path):
    """r15: the commit log records read-side metadata at WRITE time —
    `del_bytes` sizes the broadcast gate with zero serve-path
    filesystem walks (VERDICT r14 item 6), and `fields` makes
    name-level schema drift fail loudly at read time instead of
    silently nulling/truncating under the shared inferred schema
    (ADVICE r14).  Legacy entries without the fields still resolve
    (fallback walk, drift delegated to the parity gates)."""
    import json as _json
    import os

    import pytest as _pytest

    from py_pubsub_pipeline_spark.pipeline import (
        MorUpsertSink, _tree_parquet_bytes,
    )

    base = str(tmp_path / "mor")
    sink = MorUpsertSink(base, key="k", order=["ver"])
    o = table(spark, SF_SMALL, "orders").select(
        F.col("o_orderkey").alias("k"))
    for seq, pred in enumerate(["k % 2 = 0", "k % 3 = 0"]):
        sink(
            o.where(pred).select(
                "k", F.lit(seq).cast("long").alias("ver"),
                (F.col("k") * 10 + seq).cast("long").alias("val"),
            ),
            seq,
        )
    commits = sink._commits()
    assert len(commits) == 2
    for c in commits:
        assert c["fields"] == ["k", "ver", "val"]
        assert c["del_bytes"] == _tree_parquet_bytes(
            os.path.join(base, c["deletes"]))
        assert c["del_bytes"] > 0
    want = {tuple(r) for r in sink.read_snapshot(spark).collect()}

    # legacy (pre-r15) entry: no del_bytes/fields — the read falls
    # back to the walk and resolves identically, no drift check
    entry = os.path.join(base, "commits", "1.json")
    with open(entry) as fh:
        full = _json.load(fh)
    with open(entry, "w") as fh:
        _json.dump({k: full[k] for k in ("seq", "data", "deletes")}, fh)
    assert {tuple(r) for r in sink.read_snapshot(spark).collect()} == want

    # the same commits written with their columns in another order
    # resolve by name to the same rows — reordering is not drift
    reordered = MorUpsertSink(str(tmp_path / "mor_reordered"), key="k",
                              order=["ver"])
    for seq, pred in enumerate(["k % 2 = 0", "k % 3 = 0"]):
        cols = ["k", "ver", "val"] if seq == 0 else ["val", "k", "ver"]
        reordered(
            o.where(pred).select(
                "k", F.lit(seq).cast("long").alias("ver"),
                (F.col("k") * 10 + seq).cast("long").alias("val"),
            ).select(*cols),
            seq,
        )
    assert reordered._commits()[1]["fields"] == ["val", "k", "ver"]
    assert {tuple(r) for r in reordered.read_snapshot(spark).collect()} \
        == want

    # name-level drift (a commit whose recorded columns differ from
    # the resolved schema) raises at plan-build time, before any scan
    drifted = dict(full)
    drifted["fields"] = ["k", "ver"]
    with open(entry, "w") as fh:
        _json.dump(drifted, fh)
    with _pytest.raises(ValueError, match="schema drift"):
        sink.read_snapshot(spark)


def test_ivfpq_index_sink_compaction_read_identity_and_replay(
    spark, tmp_path
):
    """Streamed-ANN-index small-file compaction (VERDICT r13 item 1):
    folding the committed batch partitions into one base must leave
    read_index value-identical, replaying a folded batch after the
    compaction must converge (the reader ignores covered batch ids),
    vacuum must drop the file count to O(1) for the compacted range
    without changing reads, and maintenance must stay incremental
    (a second compact folds base + new deltas only)."""
    import os

    from py_pubsub_pipeline_spark.queries.similarity import (
        IVF_NLIST, PQ_K, PQ_M, _dvec, _ivfpq_assign, _ivfpq_cb_init,
        _ivfpq_cenball,
    )
    from py_pubsub_pipeline_spark.streaming.ann_index import IvfpqIndexSink

    e = table(spark, SF_SMALL, "embeddings")
    v = e.select("vec_id", _dvec("embedding", "e"))
    cen = v.filter(F.col("vec_id") < IVF_NLIST).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
    cenball = _ivfpq_cenball(cen)
    cbball = _ivfpq_cb_init(
        _ivfpq_assign(v.where(f"vec_id < {IVF_NLIST + PQ_K}"), cenball))
    idx = str(tmp_path / "idx")
    sink = IvfpqIndexSink(idx, cenball, cbball)
    for i in range(4):
        sink(v.where(f"vec_id % 5 = {i}"), i)

    code_cols = ["vec_id", "cell"] + [f"code_{m}" for m in range(PQ_M)]

    def index_rows():
        return {tuple(r) for r in
                sink.read_index(spark).select(*code_cols).collect()}

    before = index_rows()
    # fold batches 0..2, leave 3 as a live delta
    assert sink.compact(spark, through=2) == "base=2"
    assert index_rows() == before
    srcs = sink.read_index(spark).inputFiles()
    assert any("/base=2/" in f for f in srcs)
    assert any("/batch=3/" in f for f in srcs)
    for b in (0, 1, 2):
        assert not any(f"/batch={b}/" in f for f in srcs)
    # replaying a FOLDED batch converges: the rewrite is ignored
    sink(v.where("vec_id % 5 = 1"), 1)
    assert index_rows() == before
    # replaying the compaction itself is a no-op
    assert sink.compact(spark, through=2) == "base=2"
    assert index_rows() == before
    # vacuum: folded partitions leave disk, reads unchanged, and the
    # compacted range is served by O(1) relations
    removed = sink.vacuum()
    assert set(removed) == {"batch=0", "batch=1", "batch=2"}
    assert not os.path.exists(os.path.join(idx, "batch=0"))
    assert index_rows() == before
    # a late batch lands as a delta; the next compact folds base+delta
    sink(v.where("vec_id % 5 = 4"), 4)
    full = index_rows()
    assert len(full) > len(before)
    assert sink.compact(spark) == "base=4"
    assert set(sink.vacuum()) == {"batch=3", "batch=4", "base=2"}
    assert index_rows() == full
    assert len(sink.read_index(spark).inputFiles()) <= 33
    # quiescent maintenance no-op after everything is folded+vacuumed
    assert sink.compact(spark) == "base=4"
    # ADVICE r14: read_index declares _IVFPQ_CODES_DDL on base and
    # delta reads — assert inferred == declared on SINK-WRITTEN
    # partitions (not just the batch-built fixture), so a sink-side
    # writer change that drifts the codes schema fails here instead
    # of surfacing as scan-time nulls/type errors
    from py_pubsub_pipeline_spark.queries.similarity import (
        _IVFPQ_CODES_DDL,
    )

    sink(v.where("vec_id % 5 = 0"), 5)  # fresh delta batch
    for rel in ("base=4", "batch=5"):
        path = os.path.join(idx, rel)
        inferred = spark.read.parquet(path).schema
        declared = spark.read.schema(_IVFPQ_CODES_DDL).parquet(path).schema
        assert inferred == declared, (
            f"{rel}: sink-written schema drifted from the declared "
            f"codes DDL: {inferred.simpleString()} != "
            f"{declared.simpleString()}"
        )
