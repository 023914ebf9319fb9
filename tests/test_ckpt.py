"""The package's one checkpoint call: where its blocks live and what it
does to lineage."""

from __future__ import annotations

from pyspark.sql import functions as F

from py_pubsub_pipeline_spark.functions.ckpt import checkpoint


def test_checkpoint_blocks_are_on_disk_not_in_memory(spark):
    """DISK_ONLY: after an action the checkpointed RDD holds its
    blocks on local disk and none in executor storage memory."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    df = checkpoint(
        spark.range(50_000).select(
            (F.col("id") % 97).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("h"),
        )
    )
    assert df.count() == 50_000
    new = set(sc._jsc.getPersistentRDDs().keys()) - before
    infos = [i for i in sc._jsc.sc().getRDDStorageInfo() if i.id() in new]
    try:
        assert infos, "the checkpoint persisted no RDD"
        for info in infos:
            level = info.storageLevel()
            assert level.useDisk() and not level.useMemory(), level.description()
            assert info.numCachedPartitions() > 0
            assert info.diskSize() > 0
            assert info.memSize() == 0
    finally:
        for rdd_id in new:
            sc._jsc.getPersistentRDDs()[rdd_id].unpersist()


def test_checkpointed_loop_keeps_lineage_flat(spark):
    """Each round joins the previous round's result, so without a lineage
    cut the plan grows by a join per round; through `checkpoint` a
    20-round loop plans like a 2-round one."""
    base = spark.range(200).select(
        (F.col("id") % 50).alias("k"), F.lit(1).alias("y")
    ).groupBy("k").agg(F.sum("y").alias("y"))

    def run(rounds: int):
        df = base.select("k", F.lit(0).cast("long").alias("x"))
        for _ in range(rounds):
            df = checkpoint(df.join(base, "k").select(
                "k", (F.col("x") + F.col("y")).alias("x")))
        return df

    def plan_nodes(df) -> int:
        plan = df._jdf.queryExecution().optimizedPlan()
        return len(plan.treeString().splitlines())

    two, twenty = run(2), run(20)
    assert plan_nodes(twenty) == plan_nodes(two)
    assert {r.x for r in twenty.collect()} == {20 * 4}
