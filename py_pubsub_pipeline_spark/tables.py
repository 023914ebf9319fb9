"""Table catalog over the driver's parquet corpus (TESTDATA.md).

Scale-awareness: every reader here is a plain columnar parquet scan so
Catalyst gets predicate pushdown / column pruning / partition pruning
for free. ``dim()`` marks the tables small enough to broadcast at ANY
scale factor (region/nation are bounded reference data — 5/25 rows at
every SF), so joins against them never shuffle the fact side.
"""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import expr

from .session import apply_runtime_confs

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Bounded-cardinality tables: safe to broadcast regardless of SF.
BROADCAST_TABLES = frozenset({"region", "nation"})

# Per-session caches. A DataFrame is an immutable logical plan, so
# handing every caller the same object is safe — and skips the py4j
# round trips (reader construction, footer/schema read, 7 conf sets)
# that otherwise run per table() call: measured ~0.5s of pure plan-
# BUILD latency in a 5-table query. Keyed weakly so a stopped session
# doesn't pin its plans.
_TABLES: WeakKeyDictionary = WeakKeyDictionary()
_CONFED: WeakKeyDictionary = WeakKeyDictionary()
# widen_scan's scan-partition probe, memoized per DataFrame object:
# df.rdd.getNumPartitions() runs the full analysis+planning pipeline
# through py4j (~0.1s of driver time) on EVERY serve call of every
# widened key (r14 verdict item 3).  table() hands every caller the
# same cached DataFrame object per (session, sf_dir, name), and a
# plan's scan partitioning is fixed for a fixed file set and the
# split-size confs in _SPLIT_CONFS, so the count is probed once per
# object and re-probed only when those confs differ from the values
# it was probed under (_SCAN_SPLIT).  Keyed weakly so a dropped plan
# doesn't pin its entry.
_SCAN_PARTS: WeakKeyDictionary = WeakKeyDictionary()
_SCAN_SPLIT: WeakKeyDictionary = WeakKeyDictionary()
_SPLIT_CONFS = ("spark.sql.files.maxPartitionBytes",
                "spark.sql.files.openCostInBytes")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table. Plain parquet scan — keep it declarative
    so pushdown/pruning reach the scan node."""
    cache = _TABLES.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    df = cache.get(key)
    if df is not None:
        return df
    if spark not in _CONFED:
        # Must run before the first read: nanosAsLong gates how the
        # events parquet schema is interpreted.
        apply_runtime_confs(spark)
        _CONFED[spark] = True
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # The driver corpus stores ts as parquet TIMESTAMP(NANOS), which
        # arrives as int64 nanoseconds (see session.RUNTIME_CONFS);
        # integer-divide to µs (double math would lose precision at
        # 1.7e18) and cast through to NTZ for DuckDB-naive parity.
        # Derived corpora (scale replicas) already store µs TIMESTAMP_NTZ
        # and skip the conversion via the dtype check.
        df = df.withColumn(
            "ts", expr("CAST(timestamp_micros(ts DIV 1000) AS timestamp_ntz)")
        )
    cache[key] = df
    return df


def widen_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Scale-adaptive map parallelism above a NARROW scan (guide §2.4).

    The test corpus parquet files are single-row-group (one split ->
    one task), so CPU-heavy map work directly above the scan — e.g.
    the 16-64x md5 minhash kernels — serializes on one core of 32.
    Repartition to the session's default parallelism ONLY when the
    scan provides fewer partitions; with keys, hash-partition so a
    downstream groupBy/join on the same keys reuses the layout (net
    exchanges unchanged).  On a production many-split scan the
    condition is false and this is a NO-OP — no exchange is added, so
    the fix cannot regress the 100 TB plan.  The driver's lower
    core-count bench run sizes itself the same way (defaultParallelism
    follows the master), keeping the scaling measurement honest."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    split = tuple(spark.conf.get(k) for k in _SPLIT_CONFS)
    n = _SCAN_PARTS.get(df)
    if n is None or _SCAN_SPLIT.get(df) != split:
        # a fresh projection, because a Dataset is planned once: df.rdd
        # keeps the count of whatever confs df was first planned under
        n = _SCAN_PARTS[df] = df.select("*").rdd.getNumPartitions()
        _SCAN_SPLIT[df] = split
    if n >= target:
        return df
    return df.repartition(target, *keys) if keys else df.repartition(target)


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the full corpus as a dict of DataFrames."""
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() surfaces."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
