"""Batch I/O surface: format roundtrips, partition pruning, and
shuffle-free bucketed joins — with plan-level assertions, not just
row counts (the plan IS the scale contract).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from py_pubsub_pipeline_spark.sources.io import (
    read_batch,
    write_bucketed,
    write_partitioned,
)
from py_pubsub_pipeline_spark.tables import table

from conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_widen_scan_memoizes_partition_probe(spark):
    """r15 (VERDICT r14 item 3/8): widen_scan's scan-partition probe
    (df.rdd.getNumPartitions, a full py4j planning round-trip) must
    run once per DataFrame object, not once per serve call — table()
    hands every caller the same cached object, so the memo removes
    the per-invocation driver tax while keeping the decision (and
    with it every plan) identical."""
    from py_pubsub_pipeline_spark import tables

    df = table(spark, SF_SMALL, "documents")
    out1 = tables.widen_scan(df, "doc_id")
    assert df in tables._SCAN_PARTS  # probe ran and was recorded
    real_n = tables._SCAN_PARTS[df]
    # prove the second call READS the memo instead of re-probing:
    # poison it with a huge count — widen_scan must then decline to
    # repartition (decision follows the memo, no fresh probe)
    try:
        tables._SCAN_PARTS[df] = 10**6
        assert tables.widen_scan(df, "doc_id") is df
    finally:
        tables._SCAN_PARTS[df] = real_n
    # with the real memo restored the decision matches the first call
    out2 = tables.widen_scan(df, "doc_id")
    assert (
        out2._jdf.queryExecution().logical().toString()
        == out1._jdf.queryExecution().logical().toString()
    )


def test_widen_scan_reprobes_when_split_size_changes(spark):
    """The scan's partition count follows the split-size confs, so a
    memo taken under one maxPartitionBytes must not answer for
    another: the same DataFrame object is probed again and widen_scan
    decides on the new count."""
    from py_pubsub_pipeline_spark import tables

    df = table(spark, SF_SMALL, "documents")
    target = spark.sparkContext.defaultParallelism
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    tables.widen_scan(df, "doc_id")
    wide_n = tables._SCAN_PARTS[df]
    assert wide_n < target
    try:
        # splits small enough for at least 2x the target partitions
        size = os.path.getsize(os.path.join(SF_SMALL, "documents.parquet"))
        spark.conf.set(key, str(size // (2 * target)))
        fine_n = df.select("*").rdd.getNumPartitions()
        assert fine_n >= target
        assert tables.widen_scan(df, "doc_id") is df
        assert tables._SCAN_PARTS[df] == fine_n
    finally:
        spark.conf.set(key, old)
    tables.widen_scan(df, "doc_id")
    assert tables._SCAN_PARTS[df] == wide_n


def test_json_csv_roundtrip_matches_parquet(spark, tmp_path):
    src = table(spark, SF_SMALL, "nation")
    for fmt in ("json", "csv"):
        p = str(tmp_path / fmt)
        src.write.format(fmt).option("header", "true").mode("overwrite").save(p)
        back = read_batch(spark, p, fmt, schema=src.schema)
        assert sorted(back.collect()) == sorted(src.collect())


def test_explicit_schema_required_for_text_formats(spark, tmp_path):
    with pytest.raises(ValueError, match="explicit schema"):
        read_batch(spark, str(tmp_path), "json")
    with pytest.raises(ValueError, match="unsupported format"):
        read_batch(spark, str(tmp_path), "avro")


def test_partitioned_write_prunes_at_plan_time(spark, tmp_path):
    p = str(tmp_path / "orders_by_status")
    orders = table(spark, SF_SMALL, "orders")
    write_partitioned(orders, p, ["o_orderstatus"])
    back = read_batch(spark, p, "parquet").filter(F.col("o_orderstatus") == "F")
    back.count()
    plan = _plan(back)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    expected = orders.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == expected


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    # warehouse dir is a static conf — bucketed tables land in the
    # session's default warehouse and are dropped in the finally block.
    orders = table(spark, SF_SMALL, "orders")
    customer = table(spark, SF_SMALL, "customer")
    write_bucketed(orders.select("o_orderkey", "o_custkey", "o_totalprice"),
                   "b_orders", ["o_custkey"], 8, sort_by=["o_custkey"])
    write_bucketed(customer.select("c_custkey", "c_name"),
                   "b_customer", ["c_custkey"], 8, sort_by=["c_custkey"])
    try:
        # Disable broadcast so the join exercises the bucketed path.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        n = j.count()
        plan = _plan(j)
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # Same result as the plain (shuffling) join.
        expected = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
        assert n == expected
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """DPP: when the fact is PARTITIONED on the join key and the dim
    carries a selective filter, the runtime must prune fact partitions
    from the dim's build-side values (dynamicpruningexpression in the
    scan) — at 100 TB this is the difference between scanning one
    date's partitions and the whole table. Static pruning can't do it:
    the qualifying keys are only known after filtering the dim."""
    p = str(tmp_path / "orders_by_status")
    orders = table(spark, SF_SMALL, "orders")
    write_partitioned(orders, p, ["o_orderstatus"])
    fact = read_batch(spark, p, "parquet")
    # The dim filter must sit on a NON-join attribute: a filter on the
    # join column itself gets constant-propagated into a STATIC
    # partition filter (strictly better, no DPP needed) — the runtime
    # subquery only appears when the qualifying keys are join-derived.
    dim = spark.createDataFrame(
        [("F", "terminal"), ("O", "open"), ("P", "pending")],
        "o_orderstatus string, lifecycle string",
    ).filter(F.col("lifecycle") == "terminal")
    j = fact.join(dim, "o_orderstatus")
    n = j.count()
    plan = _plan(j)
    assert "dynamicpruningexpression" in plan, plan
    assert n == orders.filter(F.col("o_orderstatus") == "F").count()


def test_compact_files_reduces_file_count_preserving_rows(spark, tmp_path):
    from py_pubsub_pipeline_spark.sources.io import compact_files

    p = str(tmp_path / "fragmented")
    orders = table(spark, SF_SMALL, "orders")
    # simulate a small-files mess: 64 files for a tiny dataset
    orders.repartition(64).write.parquet(p)
    n_before = len([f for f in os.listdir(p) if f.endswith(".parquet")])
    assert n_before >= 64
    n_expected = orders.count()

    n_files = compact_files(spark, p, target_file_mb=128)
    n_after = len([f for f in os.listdir(p) if f.endswith(".parquet")])
    assert n_after == n_files == 1  # tiny dataset -> one right-sized file
    assert spark.read.parquet(p).count() == n_expected


def test_manifest_diff_shows_balanced_compaction(spark, sf_dir):
    from py_pubsub_pipeline_spark.registry import load_all

    reg = load_all()
    rows = {r["file"]: r for r in
            reg["scan_manifest_diff"].fn(spark, sf_dir).collect()}
    assert {f: r["status"] for f, r in rows.items()} == {
        "file-0": "unchanged", "file-1": "removed",
        "file-2": "removed", "file-3": "added",
    }
    # the compaction signature: removed stats balance the added stats
    assert (rows["file-1"]["n"] + rows["file-2"]["n"]
            == rows["file-3"]["n"])
    assert (rows["file-1"]["key_sum"] + rows["file-2"]["key_sum"]
            == rows["file-3"]["key_sum"])
    orphans = {r["file"]: r for r in
               reg["scan_manifest_orphans"].fn(spark, sf_dir).collect()}
    assert set(orphans) == {"file-1", "file-2"}
    for f in orphans:
        assert orphans[f]["n"] == rows[f]["n"]
        assert orphans[f]["key_sum"] == rows[f]["key_sum"]


def test_retention_plan_protects_time_travel(spark, sf_dir):
    from py_pubsub_pipeline_spark.registry import load_all

    rows = {r["file"]: r for r in
            load_all()["scan_manifest_retention_plan"]
            .fn(spark, sf_dir).collect()}
    assert set(rows) == {"file-0", "file-1", "file-2", "file-3"}
    # the latest snapshot's orphans are protected by retained snapshot 2
    for f in ("file-1", "file-2"):
        assert not rows[f]["in_latest"] and rows[f]["in_retained"]
        assert not rows[f]["deletable"]
    # nothing is deletable under the current window — and every file
    # referenced by latest is trivially retained
    assert not any(r["deletable"] for r in rows.values())
    for f in ("file-0", "file-3"):
        assert rows[f]["in_latest"] and rows[f]["in_retained"]


def test_commitlog_replay_matches_manifest_model(spark, sf_dir):
    from py_pubsub_pipeline_spark.registry import load_all

    reg = load_all()
    rows = {r["file"]: r for r in
            reg["scan_commitlog_replay"].fn(spark, sf_dir).collect()}
    # the two metadata models agree on the current state
    assert set(rows) == {"file-0", "file-3"}
    assert rows["file-0"]["added_in_commit"] == 0
    assert rows["file-3"]["added_in_commit"] == 2
    diff = {r["file"]: r for r in
            reg["scan_manifest_diff"].fn(spark, sf_dir).collect()}
    for f in rows:
        assert rows[f]["n"] == diff[f]["n"]
        assert rows[f]["key_sum"] == diff[f]["key_sum"]


def _build_manifest_table(spark, base: str):
    """A fresh three-file manifest table (snapshot 1 = {f0, f1},
    snapshot 2 = {f0, f1, f2}) with a matching commit log — the same
    conventions as the queries/formats.py fixture, but private to the
    test so the registered keys' shared fixture is never mutated."""
    import json

    src = table(spark, SF_SMALL, "nation").withColumn(
        "part", F.col("n_nationkey") % 3
    )
    os.makedirs(base, exist_ok=True)
    for p in range(3):
        src.filter(F.col("part") == p).drop("part").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(base, f"file-{p}"))
    with open(os.path.join(base, "_manifest.json"), "w") as f:
        json.dump({"snapshot_id": 1, "files": ["file-0", "file-1"]}, f)
    with open(os.path.join(base, "_manifest_v2.json"), "w") as f:
        json.dump(
            {"snapshot_id": 2, "files": ["file-0", "file-1", "file-2"]}, f
        )
    with open(os.path.join(base, "_commitlog.jsonl"), "w") as f:
        for a in (
            {"commit": 0, "op": "add", "file": "file-0"},
            {"commit": 0, "op": "add", "file": "file-1"},
            {"commit": 1, "op": "add", "file": "file-2"},
        ):
            f.write(json.dumps(a) + "\n")


def _snap_rows(spark, base: str, files: list[str]):
    return sorted(
        tuple(r) for r in spark.read.parquet(
            *[os.path.join(base, f) for f in files]
        ).collect()
    )


def _data_file_md5s(base: str, rel: str) -> dict[str, str]:
    import hashlib

    out = {}
    d = os.path.join(base, rel)
    for name in sorted(os.listdir(d)):
        if name.startswith(("_", ".")):
            continue
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.md5(f.read()).hexdigest()
    return out


def test_compact_manifest_commits_snapshot_and_preserves_time_travel(
    spark, tmp_path
):
    """The write path closes the planner/snapshot/vacuum loop: the
    compaction commits a NEW snapshot + commit-log entry, the old
    files become retained-snapshot-protected orphans, and time travel
    to every pre-compaction snapshot stays byte-identical."""
    import json

    from py_pubsub_pipeline_spark.sources.io import (
        compact_manifest,
        read_manifests,
        vacuum_manifest,
    )

    base = str(tmp_path / "mtab")
    _build_manifest_table(spark, base)
    snaps0 = read_manifests(base)
    pre_rows = {sid: _snap_rows(spark, base, files)
                for sid, files in snaps0.items()}
    pre_md5 = {f: _data_file_md5s(base, f)
               for f in ("file-0", "file-1", "file-2")}

    res = compact_manifest(
        spark, base, ["file-1", "file-2"], "file-3"
    )
    assert res["snapshot_id"] == 3
    assert sorted(res["files"]) == ["file-0", "file-3"]

    snaps = read_manifests(base)
    assert set(snaps) == {1, 2, 3}
    # the new snapshot reads the SAME rows as the snapshot it compacted
    assert _snap_rows(spark, base, snaps[3]) == pre_rows[2]
    # time travel: every pre-compaction snapshot resolves identically,
    # and the old data files are BYTE-identical (never rewritten)
    for sid in (1, 2):
        assert _snap_rows(spark, base, snaps[sid]) == pre_rows[sid]
    for f, want in pre_md5.items():
        assert _data_file_md5s(base, f) == want, f
    # commit log replays to the new current set with provenance
    current = {}
    with open(os.path.join(base, "_commitlog.jsonl")) as fh:
        for line in fh:
            a = json.loads(line)
            if a["op"] == "add":
                current[a["file"]] = a["commit"]
            else:
                current.pop(a["file"])
    assert current == {"file-0": 0, "file-3": 2}

    # degenerate calls refuse loudly
    with pytest.raises(ValueError, match="not in latest"):
        compact_manifest(spark, base, ["file-1"], "file-9")
    with pytest.raises(ValueError, match="already exists"):
        compact_manifest(spark, base, ["file-0"], "file-3")

    # vacuum honors the retention window: retaining snapshot 2 keeps
    # the compacted files on disk (protected orphans)...
    assert vacuum_manifest(base, retain_from=2) == []
    assert os.path.isdir(os.path.join(base, "file-1"))
    assert _snap_rows(spark, base, snaps[2]) == pre_rows[2]
    # ...and shrinking the window to the latest snapshot expires them
    deleted = vacuum_manifest(base, retain_from=3)
    assert sorted(deleted) == ["file-1", "file-2"]
    assert set(read_manifests(base)) == {3}
    assert _snap_rows(spark, base, snaps[3]) == pre_rows[2]
