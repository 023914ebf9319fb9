"""Advanced relational surface: subqueries (scalar / IN / correlated),
pivot & unpivot, exact percentiles, lateral explode, extended strings.

Scale notes: scalar/uncorrelated subqueries become broadcast scalar
plans; the correlated aggregate is decorrelated by Catalyst into a
join against a grouped aggregate (visible in the optimized plan — no
per-row re-execution). Pivot compiles to one hash agg with CASE
projections, identical to the oracle's FILTER form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exprs import dsum, sql_dsum
from ..functions.ckpt import DISK as _DISK
from ..functions.graphs import (
    SQL_PURCHASE_EDGES,
    SUPP_OFFSET,
    sql_purchase_pairs,
)
from ..registry import query
from ..tables import table


@query(
    "subq_scalar",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate (via Spark SQL)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
        """
    )


@query(
    "subq_in",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_nationkey IN (SELECT n_nationkey FROM nation
                          WHERE n_regionkey = (SELECT r_regionkey FROM region
                                               WHERE r_name = 'EUROPE'))
    """,
)
def subq_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery with a nested scalar subquery."""
    for t in ("customer", "nation", "region"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer
        WHERE c_nationkey IN (SELECT n_nationkey FROM nation
                              WHERE n_regionkey = (SELECT r_regionkey FROM region
                                                   WHERE r_name = 'EUROPE'))
        """
    )


@query(
    "subq_correlated",
    oracle="""
    SELECT l.l_orderkey, l.l_partkey, l.l_quantity
    FROM lineitem l
    WHERE l.l_quantity > (SELECT 1.9 * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
)
def subq_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate subquery (TPC-H Q17 shape). Catalyst
    decorrelates it into one grouped aggregate + join — one pass over
    lineitem for the averages, not a subquery per row."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l.l_orderkey, l.l_partkey, l.l_quantity
        FROM lineitem l
        WHERE l.l_quantity > (SELECT 1.9 * AVG(l2.l_quantity)
                              FROM lineitem l2
                              WHERE l2.l_partkey = l.l_partkey)
        """
    )


@query(
    "pivot_sum",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 'qty_F')},
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 'qty_O')}
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot on line status: one hash agg with conditional sums (what
    .pivot() with explicit values compiles to)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double"))
        .withColumnRenamed("F", "qty_F")
        .withColumnRenamed("O", "qty_O")
    )


@query(
    "unpivot_stack",
    oracle="""
    SELECT c_custkey, metric, val FROM (
      SELECT c_custkey,
             UNNEST(['acctbal', 'nationkey']) AS metric,
             UNNEST([c_acctbal, CAST(c_nationkey AS DOUBLE)]) AS val
      FROM customer)
    """,
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) two measures into (metric, val) rows."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.expr(
            "stack(2, 'acctbal', c_acctbal, "
            "'nationkey', CAST(c_nationkey AS DOUBLE)) AS (metric, val)"
        ),
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
           ROUND(median(l_quantity), 6) AS med_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (PERCENTILE_CONT semantics on
    both engines); rounded against interpolation-arithmetic ulps."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 6).alias("p95"),
        F.round(F.median("l_quantity"), 6).alias("med_qty"),
    )


@query(
    "fn_explode_pos",
    oracle="""
    SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
    FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)
    WHERE vec_id < 20
    """,
)
def fn_explode_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral positional explode of an array column."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    return e.select(
        "vec_id", F.posexplode(F.transform("embedding", lambda x: x.cast("double")))
    ).withColumnRenamed("col", "val")


@query(
    "fn_string_regex",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
           CASE WHEN starts_with(p_type, 'ECON') THEN 1 ELSE 0 END AS is_econ,
           CASE WHEN contains(p_name, 'red') THEN 1 ELSE 0 END AS has_red,
           reverse(p_brand) AS brand_rev,
           repeat(p_type, 2) AS type_twice
    FROM part
    """,
)
def fn_string_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction + predicate-style string helpers."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_num"),
        F.startswith(F.col("p_type"), F.lit("ECON")).cast("int").alias("is_econ"),
        F.contains(F.col("p_name"), F.lit("red")).cast("int").alias("has_red"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat(F.col("p_type"), 2).alias("type_twice"),
    )


@query(
    "subq_lateral",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice, t.rnk
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2) t
    WHERE c.c_nationkey = 3
    """,
)
def subq_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: top-2 orders PER customer, the
    row-parameterized-subquery surface (SQL:1999 LATERAL, Spark 3.2+).
    Catalyst decorrelates it to a window-rank over the join — visible
    as one DomainJoin-free plan with a rank filter, not a per-customer
    re-execution of orders. The selective nationkey filter pushes into
    the customer scan; orders shuffles once on the correlation key."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice, t.rnk
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                   AS rnk
          FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2) t
        WHERE c.c_nationkey = 3
        """
    )


@query(
    "agg_weighted",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
             / CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
             AS wavg_price,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
             / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
             AS effective_discount_keep
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted averages (quantity-weighted unit price; revenue-
    weighted discount retention) — the ratio-of-sums form, NOT
    avg(x*w): both numerator and denominator are exact DECIMAL sums
    so the division is performed once on exact partials and the
    result is bit-identical across engines and parallelism. The two
    exact sums cast to double BEFORE the division (one IEEE divide of
    identical operands) — decimal division itself has engine-specific
    result scales that a post-division cast cannot reconcile."""
    li = table(spark, sf_dir, "lineitem")
    d = lambda c: F.sum(c.cast("decimal(18,6)")).cast("double")  # noqa: E731
    return li.groupBy("l_returnflag").agg(
        (d(F.col("l_extendedprice") * F.col("l_quantity"))
         / d(F.col("l_quantity"))).alias("wavg_price"),
        (d(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
         / d(F.col("l_extendedprice")))
        .alias("effective_discount_keep"),
    )


_RC_DEPTH = 2  # recursion bound: supplier seeds -> customers -> suppliers


def _rc_sql(prefix: str = "") -> str:
    """The statement both engines run; `prefix` names the tables
    (Spark reads them through per-call `rc_*` views)."""
    return f"""
    WITH RECURSIVE eb AS (
      {sql_purchase_pairs(prefix)}),
    edges AS (
      {SQL_PURCHASE_EDGES}),
    seeds AS (
      SELECT s_suppkey + {SUPP_OFFSET} AS node FROM {prefix}supplier
      WHERE s_nationkey = 0),
    reach(node, depth) AS (
      SELECT node, 0 FROM seeds
      UNION ALL
      SELECT DISTINCT e.v, r.depth + 1
      FROM reach r JOIN edges e ON e.u = r.node
      WHERE r.depth < {_RC_DEPTH}
    )
    SELECT CAST(depth AS INT) AS dist, COUNT(*) AS n_nodes
    FROM (SELECT node, MIN(depth) AS depth FROM reach GROUP BY node)
    GROUP BY depth
    """


@query("subq_recursive_cte", oracle=_rc_sql())
def subq_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, Spark 4): bounded-depth BFS over
    the customer<->supplier purchase graph from the nation-0 supplier
    seed set — nodes grouped by their minimum hop distance.  This is
    the declarative form of the iterative-driver-loop algorithms
    elsewhere in the repo (graph_pagerank, graph_label_prop): the
    ENGINE owns the fixpoint loop, and the recursion bound is a WHERE
    predicate on the recursive term, exactly as the oracle states it.

    Scale: each recursion step is one equi-join of the frontier
    against the edge list (shuffle on the 8-byte node key) — the same
    per-round cost as the manual loop, minus the driver round-trips;
    the depth bound caps total work at depth * |edges|.  The engine
    materializes each step's result, so memory is frontier-sized, not
    closure-sized.

    The recursive term is SELECT DISTINCT: without it each step emits
    PATHS (frontier x edge multiplicity), which grows multiplicatively
    with depth — ~840k rows by depth 2 at sf0.1 (tripping Spark's 1M
    recursion-row safety limit) and exponentially at corpus scale.
    Deduping per step bounds every frontier by the NODE count; the
    outer MIN(depth) is unchanged by the dedup."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    # Recursive CTEs are a SQL-surface feature: register per-call
    # views (idempotent names, overwritten each call) and let the
    # engine run the very statement the oracle runs.
    o.createOrReplaceTempView("rc_orders")
    li.createOrReplaceTempView("rc_lineitem")
    s.createOrReplaceTempView("rc_supplier")
    return spark.sql(_rc_sql("rc_"))


@query(
    "ml_linreg_ols",
    oracle="""
    SELECT event_type,
           CAST(regr_count(value, EXTRACT(hour FROM ts)) AS BIGINT) AS n,
           ROUND(regr_slope(value, EXTRACT(hour FROM ts)), 6) AS slope,
           ROUND(regr_intercept(value, EXTRACT(hour FROM ts)), 6)
             AS intercept,
           ROUND(regr_r2(value, EXTRACT(hour FROM ts)), 6) AS r2
    FROM events
    GROUP BY event_type
    """,
)
def ml_linreg_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped closed-form OLS: regress event value on hour-of-day per
    event type with the ANSI REGR_* aggregate family (one-pass
    co-moment accumulation — the distributed normal-equations path, no
    iteration, no driver round trips).

    This is the degenerate-but-load-bearing end of the ML surface: a
    single hash aggregate whose partials merge associatively, so it
    scales exactly like agg_stats; ml_kmeans_train covers the
    iterative end. Moments round to 6 on both engines."""
    e = table(spark, sf_dir, "events")
    x = F.hour("ts").cast("double")
    return e.groupBy("event_type").agg(
        F.regr_count("value", x).cast("long").alias("n"),
        F.round(F.regr_slope("value", x), 6).alias("slope"),
        F.round(F.regr_intercept("value", x), 6).alias("intercept"),
        F.round(F.regr_r2("value", x), 6).alias("r2"),
    )


@query(
    "fn_explode_outer",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN CAST([] AS VARCHAR[])
                  ELSE string_split(o_orderpriority, '-') END AS parts
      FROM orders WHERE o_orderkey < 2000),
    ex AS (
      SELECT o_orderkey,
             UNNEST(CASE WHEN len(parts) = 0
                         THEN [CAST(NULL AS VARCHAR)]
                         ELSE parts END) AS part
      FROM src)
    SELECT o_orderkey, part FROM ex
    """,
)
def fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-preserving generator semantics: explode_outer keeps the
    parent row (with a null element) when the array is empty — the
    LEFT-JOIN-shaped lateral that plain explode silently drops.
    Urgent orders get an empty array by construction, so the corpus
    exercises both branches; DuckDB emulates the outer form with a
    CASE-to-[NULL] (its UNNEST is inner). The difference is exactly
    one row per empty array — easy to lose in a refactor, which is
    why it's pinned by an oracle."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    src = o.select(
        "o_orderkey",
        F.when(
            F.col("o_orderpriority") == "1-URGENT",
            F.array().cast("array<string>"),
        )
        .otherwise(F.split("o_orderpriority", "-"))
        .alias("parts"),
    )
    return src.select(
        "o_orderkey", F.explode_outer("parts").alias("part")
    )


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, NULLIF(o_orderstatus = 'F', FALSE)
               AS flag
      FROM orders WHERE o_orderkey < 3000),
    b AS (
      SELECT o_orderkey AS b_key,
             NULLIF(o_orderstatus = 'F', FALSE) AS b_flag
      FROM orders WHERE o_orderkey < 3000)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN a.flag IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_matches
    FROM a JOIN b
      ON a.flag IS NOT DISTINCT FROM b.b_flag
     AND a.o_orderkey = b.b_key
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL
    matches NULL, which a plain equi-join silently drops — the
    three-valued-logic trap in any key column with missing values.
    The NULLIF construction makes most flags NULL, so the null-match
    path carries the bulk of the result: a regression to `=` would
    collapse n_null_matches to zero and fail the hash.

    Scale note: Spark plans <=> as a HASH join key (null hashes like
    a value), so the null-safe form costs the same shuffle as `=` —
    it is NOT the cross-product trap that `OR (a IS NULL AND b IS
    NULL)` predicates fall into."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    flag = F.nullif(F.col("o_orderstatus") == "F", F.lit(False))
    a = o.select("o_orderkey", flag.alias("flag"))
    b = o.select(
        F.col("o_orderkey").alias("b_key"), flag.alias("b_flag")
    )
    j = a.join(
        b,
        F.col("flag").eqNullSafe(F.col("b_flag"))
        & (F.col("o_orderkey") == F.col("b_key")),
    )
    return j.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.col("flag").isNull().cast("long")).cast("long")
        .alias("n_null_matches"),
    )


_BOM_SQL = """
    WITH RECURSIVE up(node, anc) AS (
      SELECT p_partkey, p_partkey FROM {part}
      UNION ALL
      SELECT u.node, CAST(FLOOR(u.anc / 10.0) AS BIGINT)
      FROM up u WHERE u.anc >= 10
    )
    SELECT u.anc AS assembly,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(CAST(SUM(CAST(p.p_retailprice AS DECIMAL(28,2))) AS STRING) AS DOUBLE)
             AS rolled_up_cost
    FROM up u JOIN {part} p ON p.p_partkey = u.node
    GROUP BY u.anc
    HAVING COUNT(*) > 1
"""


@query(
    "subq_bom_rollup",
    oracle=_BOM_SQL.format(part="part"),
)
def subq_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials rollup: total component cost per assembly
    over a multi-level part hierarchy (parent = key div 10 — a
    synthetic but strictly level-bounded tree), computed by a
    recursive ancestor-closure CTE + one aggregate — the OTHER
    classic recursive shape beside subq_recursive_cte's BFS:
    AGGREGATION ALONG A HIERARCHY (org charts, account trees, part
    explosions). The identical SQL statement runs on both engines.

    Scale: the closure has depth*|nodes| rows with depth = log10(max
    key) — bounded by ID width, not data; each recursion step is a
    map-side integer projection (no join in the recursive term at
    all — the single join to prices happens once, after). The HAVING
    drops leaf-only 'assemblies' so the output is the real BOM."""
    table(spark, sf_dir, "part").createOrReplaceTempView("bom_part")
    return spark.sql(_BOM_SQL.format(part="bom_part"))


_IPF_ITERS = 3
_IPF_SNAP = 1e9  # fixed-point snap between scaling passes


def _ipf_oracle() -> str:
    # Unrolled iterative proportional fitting on the nation x segment
    # cell table: alternately scale rows then columns to uniform
    # targets. Every pass snaps cells to 1e9 fixed-point DECIMAL so
    # the marginal sums are exact and order-independent (the pagerank
    # discipline); MATERIALIZED prevents DuckDB's CTE inlining from
    # re-evaluating the chain per reference.
    steps = []
    for i in range(1, _IPF_ITERS + 1):
        steps.append(f"""
    rs{i} AS MATERIALIZED (
      SELECT nat, SUM(ws) AS s FROM w{i - 1} GROUP BY nat),
    wr{i} AS MATERIALIZED (
      SELECT w.nat, w.seg,
             CAST(FLOOR((CAST(w.ws AS DOUBLE) / {_IPF_SNAP})
                        * (rt.t / (CAST(r.s AS DOUBLE) / {_IPF_SNAP}))
                        * {_IPF_SNAP} + 0.5) AS DECIMAL(28,0)) AS ws
      FROM w{i - 1} w
      JOIN rs{i} r ON r.nat = w.nat
      JOIN rowt rt ON rt.nat = w.nat),
    cs{i} AS MATERIALIZED (
      SELECT seg, SUM(ws) AS s FROM wr{i} GROUP BY seg),
    w{i} AS MATERIALIZED (
      SELECT w.nat, w.seg,
             CAST(FLOOR((CAST(w.ws AS DOUBLE) / {_IPF_SNAP})
                        * (ct.t / (CAST(c.s AS DOUBLE) / {_IPF_SNAP}))
                        * {_IPF_SNAP} + 0.5) AS DECIMAL(28,0)) AS ws
      FROM wr{i} w
      JOIN cs{i} c ON c.seg = w.seg
      JOIN colt ct ON ct.seg = w.seg)""")
    return f"""
    WITH cells AS MATERIALIZED (
      SELECT c_nationkey AS nat, c_mktsegment AS seg,
             COUNT(*) AS n
      FROM customer GROUP BY 1, 2),
    tot AS MATERIALIZED (SELECT SUM(n) AS t FROM cells),
    rowt AS MATERIALIZED (
      SELECT nat, CAST(t.t AS DOUBLE)
                  / (SELECT COUNT(DISTINCT nat) FROM cells) AS t
      FROM (SELECT DISTINCT nat FROM cells), tot t),
    colt AS MATERIALIZED (
      SELECT seg, CAST(t.t AS DOUBLE)
                  / (SELECT COUNT(DISTINCT seg) FROM cells) AS t
      FROM (SELECT DISTINCT seg FROM cells), tot t),
    w0 AS MATERIALIZED (
      SELECT nat, seg,
             CAST(n * CAST({_IPF_SNAP} AS BIGINT) AS DECIMAL(28,0))
               AS ws
      FROM cells),
    {','.join(steps)}
    SELECT w.nat AS c_nationkey, w.seg AS c_mktsegment,
           CAST(c.n AS BIGINT) AS n,
           ROUND(CAST(w.ws AS DOUBLE) / ({_IPF_SNAP}
                 * CAST(c.n AS DOUBLE)), 6) AS rake_weight
    FROM w{_IPF_ITERS} w
    JOIN cells c ON c.nat = w.nat AND c.seg = w.seg
    """


@query("agg_raking_ipf", oracle=_ipf_oracle())
def agg_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY RAKING (iterative proportional fitting, Deming-Stephan)
    — the weighting step every survey/census/observational pipeline
    runs when the sample's joint (nation × segment) mix must be
    re-weighted to KNOWN marginals without a joint target (here:
    uniform marginals on both axes, {_IPF_ITERS} row/column passes):
    each cell gets a rake weight = adjusted mass / observed count,
    and downstream estimates multiply by it (sample_neyman_allocation
    plans a future sample; raking repairs the one you already have).

    Determinism: the scaling chain is doubles in one fixed operation
    order, SNAPPED to 1e9 fixed-point DECIMAL between passes (the
    pagerank discipline) so every row/column marginal is an exact,
    order-independent integer sum — iteration {_IPF_ITERS} is
    bit-identical across engines.

    Scale: the whole algorithm lives on the CELL table (nations ×
    segments — schema-bounded), built by one fact-table agg; each
    pass is a cell-keyed join against a marginal dim. Fact-table
    cost is the initial count, once."""
    c = table(spark, sf_dir, "customer")
    cells = c.groupBy(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(F.count("*").alias("n")).localCheckpoint(eager=True, storageLevel=_DISK)
    tot = cells.agg(F.sum("n").alias("t"))
    n_nat = cells.select("nat").distinct().count()
    n_seg = cells.select("seg").distinct().count()
    rowt = (
        cells.select("nat").distinct()
        .crossJoin(F.broadcast(tot))
        .select("nat", (F.col("t").cast("double") / n_nat).alias("t"))
    )
    colt = (
        cells.select("seg").distinct()
        .crossJoin(F.broadcast(tot))
        .select("seg", (F.col("t").cast("double") / n_seg).alias("t"))
    )
    snap = lambda col: F.floor(col * _IPF_SNAP + 0.5).cast("decimal(28,0)")  # noqa: E731
    w = cells.select(
        "nat", "seg",
        (F.col("n") * F.lit(int(_IPF_SNAP))).cast("decimal(28,0)")
        .alias("ws"),
    )
    for _ in range(_IPF_ITERS):
        rs = w.groupBy("nat").agg(F.sum("ws").alias("s"))
        w = (
            w.join(F.broadcast(rs), "nat")
            .join(F.broadcast(rowt), "nat")
            .select(
                "nat", "seg",
                snap(
                    (F.col("ws").cast("double") / _IPF_SNAP)
                    * (F.col("t")
                       / (F.col("s").cast("double") / _IPF_SNAP))
                ).alias("ws"),
            )
        )
        cs = w.groupBy("seg").agg(F.sum("ws").alias("s"))
        w = (
            w.join(F.broadcast(cs), "seg")
            .join(F.broadcast(colt), "seg")
            .select(
                "nat", "seg",
                snap(
                    (F.col("ws").cast("double") / _IPF_SNAP)
                    * (F.col("t")
                       / (F.col("s").cast("double") / _IPF_SNAP))
                ).alias("ws"),
            )
        ).localCheckpoint(eager=True, storageLevel=_DISK)
    return w.join(cells, ["nat", "seg"]).select(
        F.col("nat").alias("c_nationkey"),
        F.col("seg").alias("c_mktsegment"),
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("ws").cast("double")
            / (F.lit(_IPF_SNAP) * F.col("n").cast("double")), 6
        ).alias("rake_weight"),
    )
