"""The two graphs the graph family runs on, defined once for both engines.

- PURCHASE graph: customer↔supplier, one edge per distinct
  (customer, supplier) pair joined through orders⋈lineitem.  Supplier
  ids move above the customer id space by SUPP_OFFSET, and the edge
  list is symmetrized (one row per direction).  Its vertex set is every
  customer and every offset supplier, isolated ones included.
- CO-PURCHASE graph: part↔part, an edge wherever two distinct parts
  share at least COPURCHASE_MIN_W orders.  Symmetric by construction
  (the self-join emits both orientations).

Each definition has a Spark builder `(spark, sf_dir) -> DataFrame` and
the DuckDB CTE fragment the oracles splice in (the
functions/blocking.py pattern: one module, two renderings).  Builders
return UN-checkpointed frames so every caller keeps its own
checkpoint choice (none, lazy or eager) on top of an unchanged plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import table

SUPP_OFFSET = 10_000_000  # supplier ids live above customer ids
COPURCHASE_MIN_W = 2      # co-purchase edge: parts co-ordered >= this often


def purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cust, supp): distinct customer-bought-from-supplier pairs."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"),
                F.col("l_suppkey").alias("supp"))
        .distinct()
    )


def purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v): the purchase pairs symmetrized over offset suppliers."""
    eb = purchase_pairs(spark, sf_dir)
    return eb.select(
        F.col("cust").alias("u"),
        (F.col("supp") + SUPP_OFFSET).alias("v"),
    ).unionByName(
        eb.select(
            (F.col("supp") + SUPP_OFFSET).alias("u"),
            F.col("cust").alias("v"),
        )
    )


def purchase_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node): every customer and every offset supplier."""
    return (
        table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("node"))
        .unionByName(
            table(spark, sf_dir, "supplier").select(
                (F.col("s_suppkey") + SUPP_OFFSET).alias("node")
            )
        )
        .distinct()
    )


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v): part pairs co-ordered >= COPURCHASE_MIN_W times."""
    li = table(spark, sf_dir, "lineitem")
    items = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").alias("p")).distinct()
    a = items.select("ok", F.col("p").alias("u"))
    b = items.select("ok", F.col("p").alias("v"))
    return (
        a.join(b, "ok")
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v").agg(F.count("*").alias("w"))
        .filter(F.col("w") >= COPURCHASE_MIN_W)
        .select("u", "v")
    )


# --- DuckDB renderings ------------------------------------------------------
def sql_purchase_pairs(prefix: str = "") -> str:
    """SELECT body of `purchase_pairs`; `prefix` renames the tables
    (Spark SQL runs it over per-call `rc_*` views)."""
    return (f"SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp\n"
            f"      FROM {prefix}orders JOIN {prefix}lineitem "
            f"ON l_orderkey = o_orderkey")


# SELECT body of `purchase_edges` over the pairs CTE `eb`.
SQL_PURCHASE_EDGES = (
    f"SELECT cust AS u, supp + {SUPP_OFFSET} AS v FROM eb\n"
    f"      UNION ALL\n"
    f"      SELECT supp + {SUPP_OFFSET} AS u, cust AS v FROM eb"
)

# SELECT body of `purchase_vertices`.
SQL_PURCHASE_VERTICES = (
    f"SELECT c_custkey AS node FROM customer\n"
    f"      UNION\n"
    f"      SELECT s_suppkey + {SUPP_OFFSET} AS node FROM supplier"
)

# `eb` (pairs) and `edges` CTEs, for a WITH list.
SQL_PURCHASE_CTES = f"""eb AS MATERIALIZED (
      {sql_purchase_pairs()}),
    edges AS MATERIALIZED (
      {SQL_PURCHASE_EDGES})"""

# `items` and `e` (the co-purchase edge list) CTEs, for a WITH list.
SQL_COPURCHASE_CTES = f"""items AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    ), e AS MATERIALIZED (
      SELECT u, v FROM (
        SELECT a.p AS u, b.p AS v, COUNT(*) AS w
        FROM items a JOIN items b ON b.ok = a.ok AND a.p <> b.p
        GROUP BY 1, 2)
      WHERE w >= {COPURCHASE_MIN_W}
    )"""
