"""Aggregations: global, grouped, distinct, approximate, statistical,
grouping sets, collect, having.

Scale notes: every grouped agg here is a hash aggregate with map-side
partial aggregation (Spark plans partial_sum/partial_count before the
exchange), so the shuffle carries one row per (partition, group) — at
100 TB the exchange volume is bounded by group cardinality, not input
rows. Decimal-sum determinism: see functions/exprs.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exprs import davg, dsum, sql_davg, sql_dsum
from ..functions.splitwin import split_window
from ..functions.ckpt import checkpoint
from ..registry import query
from ..tables import table, widen_scan

_Q1_CUTOFF = "1998-09-02"


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary — the engine's flagship query
    (scan -> pushed filter -> hash agg -> sort). Also used by entry()."""
    li = table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc, "sum_disc_price"),
            dsum(disc * (F.lit(1) + F.col("l_tax")), "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


query(
    "agg_group",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    """,
)(pricing_summary)


@query(
    "agg_global",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
           MIN(l_discount) AS min_disc, MAX(l_extendedprice) AS max_price
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregation (single-row result)."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        dsum("l_quantity", "sum_qty"),
        davg("l_extendedprice", "avg_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.min("l_discount").alias("min_disc"),
        F.max("l_extendedprice").alias("max_price"),
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_dist_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (expand + two-phase distinct agg)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.sum_distinct(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_dist_qty"),
    )


@query(
    "agg_approx",
    # HLL++/KLL sketch values differ by engine, so the oracle can't
    # compare the estimates directly. Instead BOTH sides emit the
    # *accuracy contract*: Spark checks its sketch against its own
    # exact aggregate (abs(approx-exact)/exact <= bound) and returns
    # booleans; DuckDB computes the same booleans as literal TRUE
    # (the bound holds by construction: rsd=0.02 << 0.05, and
    # accuracy=10000 => rank error ~ n/10000 ranks). A sketch
    # regression (wrong estimate) flips a boolean and fails the hash.
    oracle="""
    SELECT l_returnflag,
           TRUE AS ndv_within_5pct,
           TRUE AS median_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct (HyperLogLog++) + approximate median
    (KLL-style quantile sketch). At 100 TB these are the right default
    for cardinality/quantiles: one pass, fixed memory, no distinct
    expansion. Oracle checks the bounded-relative-error CONTRACT, not
    the sketch value (engine sketches differ): each group's estimate
    must land within 5% of the exact answer.

    Physical shape (optimization round 14): the sketch aggregates and
    the COUNT(DISTINCT) run as TWO separate aggregations joined on the
    3-row group key, not one mixed agg.  Mixing distinct and
    non-distinct aggregates makes Spark plan a two-level distinct
    rewrite that groups by (l_returnflag, l_partkey) FIRST and carries
    the sketch aggregates as partial states through it — one
    KLL/HLL++ buffer built and merged per DISTINCT KEY (~60k sketch
    instances instead of 3; a 4-deep ObjectHashAggregate chain,
    plans/r14/agg_approx_before.txt) — 15.0 s at sf0.1.  The split
    form runs each pass in its cheap natural shape (3 sketch buffers;
    a plain two-phase distinct count) and joins 3 rows to 3 rows —
    1.97 s, same result."""
    li = table(spark, sf_dir, "lineitem")
    sketched = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("median_approx"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("median_exact"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    agg = sketched.join(exact, "l_returnflag")
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.col(e) <= F.lit(0.05)
    )
    return agg.select(
        "l_returnflag",
        within("approx_parts", "exact_parts").alias("ndv_within_5pct"),
        within("median_approx", "median_exact").alias("median_within_5pct"),
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
           ROUND(var_samp(l_discount), 6) AS var_disc,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates; rounded — both engines use numerically
    stable one-pass moments but may differ in the last ulps."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (NULL group markers)."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity", "sum_qty")
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_extendedprice', 'sum_price')}
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_extendedprice", "sum_price")
    )


@query(
    "agg_groupingsets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           {sql_dsum('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_groupingsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (via Spark SQL on a registered view)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "agg_collect",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prios
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation (collect_set), sorted + joined for a
    deterministic, hashable representation."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias(
            "prios"
        )
    )


@query(
    "agg_having",
    oracle=f"""
    SELECT l_suppkey, COUNT(*) AS n_items,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 550
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    li = table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.groupBy("l_suppkey")
        .agg(F.count("*").alias("n_items"), dsum(disc, "revenue"))
        .filter(F.col("n_items") > 550)
    )


@query(
    "agg_minmax_by",
    oracle="""
    SELECT l_returnflag,
           (MIN({'p': l_extendedprice, 'k': l_orderkey})).k
             AS cheapest_order,
           (MAX({'p': l_extendedprice, 'nk': -l_orderkey})).nk * -1
             AS priciest_order,
           FIRST(l_linestatus ORDER BY l_orderkey, l_linenumber)
             AS first_status
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregation + a deterministic any_value, with the
    tie-break IN the aggregate: min/max over a (price, key) struct, so
    among tied extreme prices both engines pick the SMALLEST orderkey
    (the max side negates the key inside the struct).  A bare
    min_by/max_by leaves the tie choice to the engine — unambiguous on
    the base corpus's near-distinct prices, but nondeterministic the
    moment a corpus carries duplicate extremes (the sf1 replicated
    corpus does, and a 100 TB crawl certainly would: this diverged
    from the oracle at sf1 and was fixed to the struct form)."""
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_orderkey", "l_linenumber")
    first_status = F.first("l_linestatus").over(w)
    base = li.withColumn("first_status", first_status)
    return base.groupBy("l_returnflag").agg(
        F.min(F.struct(F.col("l_extendedprice").alias("p"),
                       F.col("l_orderkey").alias("k")))["k"]
        .alias("cheapest_order"),
        (F.max(F.struct(F.col("l_extendedprice").alias("p"),
                        (-F.col("l_orderkey")).alias("nk")))["nk"] * -1)
        .alias("priciest_order"),
        F.first("first_status").alias("first_status"),
    )


@query(
    "agg_filter_clause",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_all,
           COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
                FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation via the ANSI FILTER clause — several
    differently-filtered measures out of ONE scan + ONE hash agg (the
    alternative, one subquery per predicate, re-scans the fact per
    measure). Spark evaluates FILTER inside the partial aggregate, so
    predicates never materialize intermediate rows. Decimal-summed
    for cross-engine bit-equality."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("COUNT(*)").alias("n_all"),
        F.expr("COUNT(*) FILTER (WHERE l_quantity > 25)").alias("n_big"),
        F.expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))"
            " FILTER (WHERE l_discount > 0.05) AS DOUBLE)"
        ).alias("disc_price"),
    )


@query(
    "agg_mode",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                   ORDER BY n DESC, l_linestatus) AS rn
      FROM counts)
    SELECT l_returnflag, l_linestatus AS mode_status, n AS mode_n
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value) per group, built EXPLICITLY as
    count + top-1 with a total tie-break order instead of the built-in
    mode() — both engines implement mode() with engine-specific tie
    handling, which would make the result nondeterministic across
    engines; the explicit form pins ties to the smallest value. Two
    hash aggs over (flag, status) — the second input is
    cardinality-of-domain sized, not data sized."""
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("n").desc(), "l_linestatus"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_linestatus").alias("mode_status"),
            F.col("n").alias("mode_n"),
        )
    )


@query(
    "agg_bitmap_rollup",
    oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_ndv
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct-count via bitmaps — the precise
    complement of agg_sketch_rollup's approximate HLL union: per
    (returnflag, linestatus, bucket) bitmaps are built once
    (bitmap_bucket_number partitions the key space into 32k-bit
    buckets), OR-merged up to (returnflag, bucket) WITHOUT touching
    the fact rows again, counted, and summed across buckets — buckets
    partition the id space, so the sum of per-bucket counts IS the
    exact NDV.  The hash check compares the recovered NDV against the
    oracle's COUNT(DISTINCT) — exact, no error contract needed.

    Scale: this is how a lakehouse serves exact "distinct parts per
    flag" from pre-aggregated bitmap tables (daily -> monthly rollup
    with OR, no re-scan); state per group is a fixed 4 KB bucket
    bitmap instead of a distinct expansion.  Works when keys are
    dense integers (ids); for arbitrary keys, dictionary-encode first
    or fall back to the HLL sketch path."""
    li = table(spark, sf_dir, "lineitem")
    per = li.groupBy(
        "l_returnflag",
        "l_linestatus",
        F.expr("bitmap_bucket_number(l_partkey)").alias("b"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))")
        .alias("bm")
    )
    merged = per.groupBy("l_returnflag", "b").agg(
        F.expr("bitmap_count(bitmap_or_agg(bm))").alias("c")
    )
    return merged.groupBy("l_returnflag").agg(
        F.sum("c").cast("long").alias("exact_ndv")
    )


@query(
    "agg_means_family",
    oracle="""
    SELECT l_returnflag,
           ROUND(AVG(l_quantity), 6) AS mean_arith,
           ROUND(EXP(AVG(LN(l_quantity))), 6) AS mean_geo,
           ROUND(COUNT(*) / SUM(1.0 / l_quantity), 6) AS mean_harm
    FROM lineitem
    WHERE l_quantity > 0
    GROUP BY l_returnflag
    """,
)
def agg_means_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pythagorean means side by side: arithmetic, geometric
    (exp-mean-log — the only overflow-safe form for large products,
    and the associative-partial form a distributed engine needs), and
    harmonic (the right average for rates). Positive-domain filter
    guards the log; moments round to 6 on both engines (same
    accumulation-noise discipline as agg_stats)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    return li.groupBy("l_returnflag").agg(
        F.round(F.avg("l_quantity"), 6).alias("mean_arith"),
        F.round(F.exp(F.avg(F.log("l_quantity"))), 6).alias("mean_geo"),
        F.round(
            F.count("*") / F.sum(F.lit(1.0) / F.col("l_quantity")), 6
        ).alias("mean_harm"),
    )


@query(
    "agg_entropy",
    oracle="""
    WITH cl AS (
      SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS INT) AS n_langs,
           ROUND(
             LOG2(CAST(SUM(c) AS DOUBLE))
             - CAST(CAST(SUM(CAST(c * LOG2(CAST(c AS DOUBLE))
                             AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
               / CAST(SUM(c) AS DOUBLE),
             6) AS entropy_bits
    FROM cl GROUP BY source
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the language mix per source — the corpus
    diversity monitor a data-mixing pipeline tracks per snapshot
    (entropy collapse = one language swamped a crawl source).

    Uses the join-free identity H = log2(n) - (1/n)*sum(c*log2 c), so
    the plan is two chained hash aggs (source,lang -> source) with no
    self-join for the totals; both shuffles carry one row per group.
    The per-term c*log2(c) products are quantized through
    DECIMAL(18,6) before summing so the partial-agg order can't move
    the 6-decimal rounding (exprs.py discipline)."""
    d = table(spark, sf_dir, "documents")
    cl = d.groupBy("source", "lang").agg(F.count("*").alias("c"))
    term = (F.col("c") * F.log2(F.col("c").cast("double"))).cast("decimal(18,6)")
    return cl.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count("*").cast("int").alias("n_langs"),
        F.round(
            F.log2(F.sum("c").cast("double"))
            - F.sum(term).cast("double") / F.sum("c").cast("double"),
            6,
        ).alias("entropy_bits"),
    )


# Fixed-width bin for the Lorenz/Gini histogram over o_totalprice.
_GINI_BIN = 25_000.0


@query(
    "agg_gini_lorenz",
    oracle=f"""
    WITH b AS (
      SELECT o_orderpriority AS prio,
             CAST(FLOOR(o_totalprice / {_GINI_BIN}) AS BIGINT) AS bin,
             COUNT(*) AS nb,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sb
      FROM orders GROUP BY 1, 2
    ), l AS (
      SELECT prio,
             SUM(nb) OVER w / SUM(nb) OVER p AS f_cum,
             SUM(sb) OVER w / SUM(sb) OVER p AS l_cum,
             COALESCE(SUM(nb) OVER wp, 0) / SUM(nb) OVER p AS f_prev,
             COALESCE(SUM(sb) OVER wp, 0) / SUM(sb) OVER p AS l_prev
      FROM b
      WINDOW w AS (PARTITION BY prio ORDER BY bin
                   ROWS UNBOUNDED PRECEDING),
             wp AS (PARTITION BY prio ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             p AS (PARTITION BY prio)
    )
    SELECT prio,
           ROUND(1.0 - CAST(CAST(SUM(CAST((f_cum - f_prev) * (l_cum + l_prev)
                                     AS DECIMAL(18,9))) AS STRING) AS DOUBLE),
                 6) AS gini
    FROM l GROUP BY prio
    """,
)
def agg_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned Lorenz-curve Gini coefficient of order value per
    priority class — the inequality/skew monitor for value
    distributions (and the scale-safe formulation: exact Gini needs a
    global rank = total sort; this one histograms first).

    Plan: one hash agg to (prio, bin) — shuffle bounded by bin
    cardinality, not rows — then windows and the trapezoid sum run
    over the few-dozen-row aggregate. The per-bin trapezoid terms are
    quantized to DECIMAL(18,9) before the final sum so bin order
    can't move the rounding."""
    o = table(spark, sf_dir, "orders")
    b = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.floor(F.col("o_totalprice") / _GINI_BIN).cast("long").alias("bin"),
    ).agg(
        F.count("*").alias("nb"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("sb"),
    )
    w = Window.partitionBy("prio").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    wp = Window.partitionBy("prio").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, -1)
    p = Window.partitionBy("prio")
    l = b.select(
        "prio",
        (F.sum("nb").over(w) / F.sum("nb").over(p)).alias("f_cum"),
        (F.sum("sb").over(w) / F.sum("sb").over(p)).alias("l_cum"),
        (F.coalesce(F.sum("nb").over(wp), F.lit(0)) / F.sum("nb").over(p))
        .alias("f_prev"),
        (F.coalesce(F.sum("sb").over(wp), F.lit(0.0)) / F.sum("sb").over(p))
        .alias("l_prev"),
    )
    trap = ((F.col("f_cum") - F.col("f_prev"))
            * (F.col("l_cum") + F.col("l_prev"))).cast("decimal(18,9)")
    return l.groupBy("prio").agg(
        F.round(F.lit(1.0) - F.sum(trap).cast("double"), 6).alias("gini")
    )


_KMV_K = 256
_U32 = 4294967296


@query(
    "agg_kmv_theta",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) AS u
      FROM orders WHERE year(o_orderdate) IN (1995, 1996)
    ), rk AS (
      SELECT yr, u, ROW_NUMBER() OVER (PARTITION BY yr ORDER BY u) AS r
      FROM h
    ), sk AS (
      SELECT yr, u FROM rk WHERE r <= {_KMV_K}
    ), th AS (
      SELECT yr,
             CASE WHEN COUNT(*) < {_KMV_K}
                  THEN {_U32} ELSE MAX(u) END AS theta
      FROM sk GROUP BY yr
    ), per_set AS (
      SELECT 'y' || CAST(sk.yr AS VARCHAR) AS set_name,
             (SELECT COUNT(*) FROM h WHERE h.yr = sk.yr) AS exact_n,
             ROUND(COUNT(*) FILTER (WHERE sk.u < th.theta)
                   * {_U32}.0 / ANY_VALUE(th.theta), 4) AS est_n
      FROM sk JOIN th ON th.yr = sk.yr GROUP BY sk.yr
    ), mth AS (
      SELECT MIN(theta) AS t FROM th
    ), uk AS (
      SELECT u, ROW_NUMBER() OVER (ORDER BY u) AS r
      FROM (SELECT DISTINCT u FROM sk)
    ), tu AS (
      SELECT LEAST(
               (SELECT t FROM mth),
               (SELECT CASE WHEN MAX(r) >= {_KMV_K}
                            THEN MIN(CASE WHEN r = {_KMV_K} THEN u END)
                            ELSE {_U32} END FROM uk)) AS t
    ), u_row AS (
      SELECT 'union' AS set_name,
             (SELECT COUNT(DISTINCT u) FROM h) AS exact_n,
             ROUND((SELECT COUNT(*) FROM uk, tu WHERE uk.u < tu.t)
                   * {_U32}.0 / (SELECT t FROM tu), 4) AS est_n
    ), i_row AS (
      SELECT 'intersect' AS set_name,
             (SELECT COUNT(*) FROM
                (SELECT u FROM h GROUP BY u HAVING COUNT(*) = 2)) AS exact_n,
             ROUND((SELECT COUNT(*)
                    FROM sk a JOIN sk b ON b.u = a.u, mth
                    WHERE a.yr = 1995 AND b.yr = 1996 AND a.u < mth.t)
                   * {_U32}.0 / (SELECT t FROM mth), 4) AS est_n
    )
    SELECT set_name, CAST(exact_n AS BIGINT) AS exact_n, est_n
    FROM per_set
    UNION ALL SELECT * FROM u_row
    UNION ALL SELECT * FROM i_row
    """,
)
def agg_kmv_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta sketch (K={_KMV_K} minimum hash values) over two
    customer cohorts (1995 vs 1996 buyers), with the set algebra HLL
    cannot do: union AND INTERSECTION estimates from the sketches
    alone — plus the exact counts beside them as the calibration
    audit. One estimator formula covers both regimes:
    est = |{{u in sketch : u < theta}}| * 2^32 / theta, with
    theta = 2^32 while the set is smaller than K (sketch exact) and
    the K-th smallest hash after; intersection uses min(theta_a,
    theta_b), union the theta-union rule min(theta_a, theta_b,
    kth(merged)). All md5-integer arithmetic — deterministic on both
    engines, no random seeds.

    Scale: the sketch is MERGEABLE — k-smallest-of-k-smallests is
    k-smallest of the union, so partials combine associatively; the
    declarative rank-window form here shuffles distinct (cohort, hash)
    pairs, and the standard pre-filter (u < a coarse theta bound from
    any lower-bound estimate) caps that exchange at ~K rows per
    partition when cardinality explodes. Everything after the sketch
    build touches <= 2K rows."""
    o = table(spark, sf_dir, "orders")
    u = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    h = (
        o.filter(F.year("o_orderdate").isin(1995, 1996))
        .select(F.year("o_orderdate").cast("int").alias("yr"),
                u.alias("u"))
        .distinct()
    )
    rk = h.withColumn(
        "r", F.row_number().over(Window.partitionBy("yr").orderBy("u")))
    sk = rk.filter(F.col("r") <= _KMV_K).select("yr", "u")
    th = sk.groupBy("yr").agg(
        F.when(F.count("*") < _KMV_K, F.lit(_U32))
        .otherwise(F.max("u")).alias("theta"))

    exact = h.groupBy("yr").agg(F.count("*").alias("exact_n"))
    per_set = (
        sk.join(th, "yr")
        .groupBy("yr")
        .agg(
            F.round(
                F.count_if(F.col("u") < F.col("theta"))
                * F.lit(float(_U32)) / F.any_value("theta"), 4
            ).alias("est_n"))
        .join(exact, "yr")
        .select(F.concat(F.lit("y"), F.col("yr").cast("string"))
                .alias("set_name"),
                F.col("exact_n").cast("long"), "est_n")
    )

    mth = th.agg(F.min("theta").alias("t"))
    uk = (
        sk.select("u").distinct()
        .withColumn("r", F.row_number().over(Window.orderBy("u")))
    )
    kth = uk.agg(
        F.when(F.max("r") >= _KMV_K,
               F.min(F.when(F.col("r") == _KMV_K, F.col("u"))))
        .otherwise(F.lit(_U32)).alias("kth"))
    tu = mth.crossJoin(kth).select(F.least("t", "kth").alias("t"))
    u_row = (
        uk.crossJoin(F.broadcast(tu))
        .agg(F.round(F.count_if(F.col("u") < F.col("t"))
                     * F.lit(float(_U32)) / F.any_value("t"), 4)
             .alias("est_n"))
        .crossJoin(h.agg(F.countDistinct("u").alias("exact_n")))
        .select(F.lit("union").alias("set_name"),
                F.col("exact_n").cast("long"), "est_n")
    )

    a = sk.filter(F.col("yr") == 1995).select(F.col("u").alias("ua"))
    b = sk.filter(F.col("yr") == 1996).select(F.col("u").alias("ub"))
    i_row = (
        a.join(b, F.col("ua") == F.col("ub"))
        .crossJoin(F.broadcast(mth))
        .agg(F.round(F.count_if(F.col("ua") < F.col("t"))
                     * F.lit(float(_U32)) / F.any_value("t"), 4)
             .alias("est_n"))
        .crossJoin(
            h.groupBy("u").agg(F.count("*").alias("c"))
            .filter(F.col("c") == 2)
            .agg(F.count("*").alias("exact_n")))
        .select(F.lit("intersect").alias("set_name"),
                F.col("exact_n").cast("long"), "est_n")
    )
    return per_set.unionAll(u_row).unionAll(i_row)


# Poisson(1) CDF thresholds scaled to 2^32: weight = #thresholds <= u,
# truncated at 6 (remaining mass ~6e-5, identically on both engines).
_POIS_T = (1580030168, 3160060337, 3950075421,
           4213413783, 4279248373, 4292415291)
_BOOT_B = 32


@query(
    "agg_bootstrap_se",
    oracle=f"""
    WITH w AS (
      SELECT r.r,
             ({" + ".join(
                 f"CASE WHEN CAST(('0x' || substr(md5(CAST(o_orderkey AS "
                 f"VARCHAR) || ':' || CAST(r.r AS VARCHAR)), 1, 8)) "
                 f"AS BIGINT) >= {t} THEN 1 ELSE 0 END"
                 for t in _POIS_T)}) AS wt,
             o_totalprice AS x
      FROM orders, UNNEST(generate_series(0, {_BOOT_B - 1})) r(r)
    ), reps AS (
      SELECT r,
             CAST(CAST(SUM(CAST(wt * x AS DECIMAL(28,2))) AS STRING) AS DOUBLE)
               / SUM(wt) AS m
      FROM w GROUP BY r
    ), point AS (
      SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS STRING) AS DOUBLE)
               / COUNT(*) AS pm,
             COUNT(*) AS n
      FROM orders
    )
    SELECT ROUND(point.pm, 6) AS point_mean,
           ROUND(SQRT(CAST(CAST(SUM(CAST((reps.m - point.pm) * (reps.m - point.pm)
                                    AS DECIMAL(28,9))) AS STRING) AS DOUBLE)
                      / ({_BOOT_B} - 1)), 6) AS boot_se,
           CAST({_BOOT_B} AS INT) AS n_replicates,
           CAST(ANY_VALUE(point.n) AS BIGINT) AS n_rows
    FROM reps, point
    GROUP BY point.pm
    """,
)
def agg_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap standard error of the mean, fully relationally and
    fully DETERMINISTICALLY: {_BOOT_B} Poisson(1) bootstrap replicates
    where each row's weight in replicate r is a pure function of
    md5(key:r) through the Poisson CDF thresholds — no RNG, so every
    engine, retry, and partitioning produces the identical resample
    (the same hash-gate discipline as sample_hash, lifted to weighted
    resampling). Output: the point estimate, its bootstrap SE, and the
    replicate count — the uncertainty quantification a metrics
    pipeline attaches to every reported mean.

    Scale: the replicate fan-out multiplies rows x{_BOOT_B}, but each
    replicate is a map-side-partial aggregate — the exchange carries
    {_BOOT_B} co-moment rows per partition, and the variance across
    replicate means runs on {_BOOT_B} rows. For very wide fan-outs
    compute the {_BOOT_B} weighted sums as parallel aggregate
    expressions in ONE pass instead (no row multiplication) — same
    math, traded for {_BOOT_B} md5 calls per row."""
    o = table(spark, sf_dir, "orders")
    # The x{_BOOT_B} replicate fan-out (rows x 32, one md5 + Poisson
    # gate each) inherits the scan's partitioning; on the test
    # corpus's single-split parquet that serialized 4.8M md5 rows on
    # one core — widen_scan parallelizes it (7.6 s -> 1.8 s at sf0.1)
    # and is a no-op on a many-split production scan.  The point-
    # estimate branch keeps the narrow scan (cheap single agg).
    ow = widen_scan(o)
    reps_ids = spark.range(_BOOT_B).select(F.col("id").cast("int").alias("r"))
    u = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("o_orderkey").cast("string"),
                              F.col("r").cast("string"))), 1, 8),
        16, 10,
    ).cast("long")
    wt = sum(
        F.when(u >= t, 1).otherwise(0) for t in _POIS_T
    )
    w = ow.crossJoin(F.broadcast(reps_ids)).select(
        "r", wt.alias("wt"), F.col("o_totalprice").alias("x"))
    reps = w.groupBy("r").agg(
        (F.sum((F.col("wt") * F.col("x")).cast("decimal(28,2)"))
         .cast("double") / F.sum("wt")).alias("m"))
    point = o.agg(
        (F.sum(F.col("o_totalprice").cast("decimal(28,2)")).cast("double")
         / F.count("*")).alias("pm"),
        F.count("*").alias("n"),
    )
    dev = ((F.col("m") - F.col("pm"))
           * (F.col("m") - F.col("pm"))).cast("decimal(28,9)")
    return (
        reps.crossJoin(F.broadcast(point))
        .groupBy("pm")
        .agg(
            F.round(F.sqrt(F.sum(dev).cast("double") / (_BOOT_B - 1)), 6)
            .alias("boot_se"),
            F.any_value("n").alias("n"),
        )
        .select(
            F.round("pm", 6).alias("point_mean"),
            "boot_se",
            F.lit(_BOOT_B).cast("int").alias("n_replicates"),
            F.col("n").cast("long").alias("n_rows"),
        )
    )


_BASKET_MIN_SUPPORT = 20


@query(
    "agg_market_basket",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, p_brand
      FROM lineitem JOIN part ON p_partkey = l_partkey
    ), n_orders AS (
      SELECT COUNT(DISTINCT ok) AS n FROM items
    ), singles AS (
      SELECT p_brand, COUNT(*) AS c FROM items GROUP BY p_brand
    ), pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             COUNT(*) AS c_ab
      FROM items a JOIN items b
        ON b.ok = a.ok AND a.p_brand < b.p_brand
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
    )
    SELECT p.brand_a, p.brand_b,
           CAST(p.c_ab AS BIGINT) AS n_both,
           ROUND(CAST(p.c_ab AS DOUBLE) / sa.c, 6) AS confidence_a_to_b,
           ROUND(CAST(p.c_ab AS DOUBLE) * n.n / (sa.c * sb.c), 6) AS lift
    FROM pairs p
    JOIN singles sa ON sa.p_brand = p.brand_a
    JOIN singles sb ON sb.p_brand = p.brand_b
    CROSS JOIN n_orders n
    """,
)
def agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: for every brand
    pair co-occurring in >= {_BASKET_MIN_SUPPORT} orders, the support
    count, confidence P(b|a), and lift P(ab)/(P(a)P(b)) — the
    market-basket primitive (and the co-occurrence shape used for
    "documents citing both X and Y" in corpus analysis).

    Scale: the basket self-join is keyed on the ORDER, so candidate
    pairs are bounded by sum(basket_size^2) — baskets are small
    (TPC-H ~7 items) and the DISTINCT collapse runs first; the
    brand-level pair agg then shuffles one row per pair. A skewed
    giant basket is the hazard (quadratic in ITS size alone) — cap or
    salt baskets above a size threshold, the same df-cap discipline
    as dedup_ngram_capped. Lift divides exact integer counts —
    deterministic."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    items = (
        li.join(p, p.p_partkey == li.l_partkey)
        .select(F.col("l_orderkey").alias("ok"), "p_brand")
        .distinct()
    )
    n_orders = items.agg(F.countDistinct("ok").alias("n"))
    singles = items.groupBy("p_brand").agg(F.count("*").alias("c"))
    a = items.select(F.col("ok"), F.col("p_brand").alias("brand_a"))
    b = items.select(F.col("ok"), F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= _BASKET_MIN_SUPPORT)
    )
    return (
        pairs
        .join(F.broadcast(singles.withColumnRenamed("p_brand", "brand_a")
                          .withColumnRenamed("c", "ca")), "brand_a")
        .join(F.broadcast(singles.withColumnRenamed("p_brand", "brand_b")
                          .withColumnRenamed("c", "cb")), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a", "brand_b",
            F.col("c_ab").cast("long").alias("n_both"),
            F.round(F.col("c_ab").cast("double") / F.col("ca"), 6)
            .alias("confidence_a_to_b"),
            F.round(F.col("c_ab").cast("double") * F.col("n")
                    / (F.col("ca") * F.col("cb")), 6).alias("lift"),
        )
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag AS flag, l_extendedprice AS x,
             CAST(l_quantity AS BIGINT) AS wt,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS tot
      FROM lineitem
    )
    SELECT flag,
           CAST(ANY_VALUE(tot) AS BIGINT) AS total_weight,
           MIN(x) FILTER (WHERE 2 * cum >= tot) AS weighted_median
    FROM w GROUP BY flag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the price at which half the QUANTITY (not
    half the rows) lies below — the right central tendency when rows
    carry different mass (volume-weighted price, bytes-weighted
    latency). Exact algorithm: order by value, take the first value
    whose cumulative weight crosses half the total — all integer
    weight arithmetic (2*cum >= tot avoids any division), so both
    engines select the identical double.

    Scale: one window per group key (cumulative weight rides the same
    exchange as the partition), then a per-group MIN-filter agg. The
    within-group sort is the honest cost of an exact weighted
    median; the approx path at extreme group sizes is a weighted
    histogram + boundary interpolation (quantile_bucketize's shape
    with weight-summing bins)."""
    li = table(spark, sf_dir, "lineitem")
    wcum = (Window.partitionBy("l_returnflag")
            .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy("l_returnflag")
    w = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("x"),
        F.sum(F.col("l_quantity").cast("long")).over(wcum).alias("cum"),
        F.sum(F.col("l_quantity").cast("long")).over(wall).alias("tot"),
    )
    return w.groupBy("flag").agg(
        F.any_value("tot").cast("long").alias("total_weight"),
        F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("x")))
        .alias("weighted_median"),
    )


@query(
    "agg_ratio_delta_method",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS STRING) AS DOUBLE) AS x,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), mom AS (
      SELECT seg, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(x AS DECIMAL(28,4))) AS STRING) AS DOUBLE) / COUNT(*) AS mx,
             CAST(CAST(SUM(CAST(y AS DECIMAL(28,4))) AS STRING) AS DOUBLE) / COUNT(*) AS my,
             CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS STRING) AS DOUBLE)
               / COUNT(*) AS mxx,
             CAST(CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS STRING) AS DOUBLE)
               / COUNT(*) AS myy,
             CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS STRING) AS DOUBLE)
               / COUNT(*) AS mxy
      FROM per_cust GROUP BY seg
    )
    SELECT seg, CAST(n AS BIGINT) AS n_customers,
           ROUND(mx / my, 6) AS ratio,
           ROUND(SQRT(GREATEST(
                   (mxx - mx*mx) / (my*my)
                   - 2.0 * mx * (mxy - mx*my) / (my*my*my)
                   + mx*mx * (myy - my*my) / (my*my*my*my), 0.0) / n),
                 6) AS ratio_se
    FROM mom
    """,
)
def agg_ratio_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard error of a RATIO metric (revenue per order, per
    segment) by the delta method over per-customer co-moments —
    the A/B-testing workhorse: a ratio of sums is NOT an average of
    independent rows (customers, not orders, are the randomization
    unit), so its variance needs var(X), var(Y), AND cov(X,Y) of the
    per-unit totals. Naively treating orders as independent
    understates the SE and produces false positives.

    Plan: per-customer totals (one hash agg), then one co-moment
    aggregate per segment — both map-side-partial; the delta-method
    algebra runs on the few-row moment table. Co-moment sums quantize
    through DECIMAL; the variance is clamped at 0 before the sqrt so
    quantization can't produce NaN on a degenerate segment."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    per_cust = (
        o.join(c, c.c_custkey == o.o_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
            .cast("double").alias("x"),
            F.count("*").cast("double").alias("y"),
        )
    )

    def m(expr, scale):
        return F.sum(expr.cast(f"decimal({scale},4)")).cast("double") / F.count("*")

    mom = per_cust.groupBy("seg").agg(
        F.count("*").alias("n"),
        m(F.col("x"), 28).alias("mx"),
        m(F.col("y"), 28).alias("my"),
        m(F.col("x") * F.col("x"), 38).alias("mxx"),
        m(F.col("y") * F.col("y"), 38).alias("myy"),
        m(F.col("x") * F.col("y"), 38).alias("mxy"),
    )
    mx, my = F.col("mx"), F.col("my")
    var = (
        (F.col("mxx") - mx * mx) / (my * my)
        - 2.0 * mx * (F.col("mxy") - mx * my) / (my * my * my)
        + mx * mx * (F.col("myy") - my * my) / (my * my * my * my)
    )
    return mom.select(
        "seg",
        F.col("n").cast("long").alias("n_customers"),
        F.round(mx / my, 6).alias("ratio"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0)) / F.col("n")), 6)
        .alias("ratio_se"),
    )


_CONC_LEVELS = (50, 80, 90)


@query(
    "agg_revenue_concentration",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS rev
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT rev,
             SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(rev) OVER () AS tot,
             ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS rnk
      FROM cust
    )
    SELECT
      CAST((SELECT COUNT(*) FROM cust) AS BIGINT) AS n_customers,
      {", ".join(
        f"CAST(MIN(CASE WHEN 100 * cum >= {p} * tot THEN rnk END) "
        f"AS BIGINT) AS n{p}" for p in _CONC_LEVELS)}
    FROM ranked
    """,
)
def agg_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the number of top customers covering
    50/80/90% of total revenue — the "how few accounts are we
    actually living on" number (the discrete companion to
    agg_gini_lorenz's curve summary). The crossing is picked by EXACT
    DECIMAL comparison (100*cum >= p*tot) — no percentage division,
    so no float boundary for the engines to disagree on.

    Plan: one hash agg to per-customer revenue, then the global rank
    + running sum run through the split-window rewrite
    (functions/splitwin.py): deterministic revenue shards, parallel
    per-shard windows, shard-count-sized boundary pass — never a
    single-task total-order sort. Ties in revenue break on the
    key."""
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("rev"))
    tot = cust.agg(F.sum("rev").alias("tot"),
                   F.count(F.lit(1)).cast("long").alias("n_customers"))
    ranked = split_window(
        cust,
        [F.col("rev").desc(), "o_custkey"],
        bucket="rev",
        descending=True,
        running_sums={"cum": "rev"},
        row_number="rnk",
    ).select("cum", "rnk")
    return ranked.crossJoin(F.broadcast(tot)).agg(
        F.any_value("n_customers").alias("n_customers"),
        *[
            F.min(F.when(100 * F.col("cum") >= p * F.col("tot"),
                         F.col("rnk"))).cast("long").alias(f"n{p}")
            for p in _CONC_LEVELS
        ],
    )


@query(
    "agg_eb_shrunk_rates",
    oracle="""
    WITH br AS (
      SELECT p_brand,
             COUNT(*) AS n,
             COUNT(*) FILTER (WHERE l_returnflag = 'R') AS k
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY p_brand
    ), gstats AS (
      -- method-of-moments Beta prior from the brand-level rates
      SELECT CAST(CAST(SUM(CAST(CAST(k AS DOUBLE) / n AS DECIMAL(18,9))) AS STRING) AS DOUBLE) / COUNT(*) AS mu,
             CAST(CAST(SUM(CAST((CAST(k AS DOUBLE) / n)
                           * (CAST(k AS DOUBLE) / n) AS DECIMAL(18,9))) AS STRING) AS DOUBLE) / COUNT(*) AS m2,
             COUNT(*) AS nb
      FROM br
    ), prior AS (
      SELECT mu,
             GREATEST(m2 - mu * mu, 1e-9) AS var,
             mu * (mu * (1.0 - mu) / GREATEST(m2 - mu * mu, 1e-9) - 1.0)
               AS alpha,
             (1.0 - mu) * (mu * (1.0 - mu)
                           / GREATEST(m2 - mu * mu, 1e-9) - 1.0) AS beta
      FROM gstats
    )
    SELECT br.p_brand,
           CAST(br.n AS BIGINT) AS n,
           ROUND(CAST(br.k AS DOUBLE) / br.n, 6) AS raw_rate,
           ROUND((br.k + p.alpha) / (br.n + p.alpha + p.beta), 6)
             AS shrunk_rate
    FROM br, prior p
    """,
)
def agg_eb_shrunk_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-brand return rates: fit a
    Beta prior to the observed rate distribution by method of moments
    (alpha, beta from the cross-brand mean and variance), then report
    each brand's posterior-mean rate (k+alpha)/(n+alpha+beta) beside
    the raw k/n — small brands get pulled hard toward the global
    rate, big brands barely move. This is the ranking fix for every
    "sort by rate" leaderboard where low-n entities dominate the
    extremes (quality scores, defect rates, CTRs).

    Plan: one fact-side hash agg to (brand, n, k), a moments agg over
    those few rows, and a broadcast of the 1-row prior back — the
    shrinkage itself is map-side arithmetic on exact integers plus
    the two prior doubles. Rate terms quantize through DECIMAL
    before the moment sums; the variance floor guards the degenerate
    all-equal-rates corner on both engines identically."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    br = (
        li.join(p, p.p_partkey == li.l_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"),
             F.count_if(F.col("l_returnflag") == "R").alias("k"))
    )
    rate = F.col("k").cast("double") / F.col("n")
    glob = br.agg(
        (F.sum(rate.cast("decimal(18,9)")).cast("double") / F.count("*"))
        .alias("mu"),
        (F.sum((rate * rate).cast("decimal(18,9)")).cast("double")
         / F.count("*")).alias("m2"),
    )
    var = F.greatest(F.col("m2") - F.col("mu") * F.col("mu"), F.lit(1e-9))
    scale = F.col("mu") * (F.lit(1.0) - F.col("mu")) / var - 1.0
    prior = glob.select(
        (F.col("mu") * scale).alias("alpha"),
        ((F.lit(1.0) - F.col("mu")) * scale).alias("beta"),
    )
    return br.crossJoin(F.broadcast(prior)).select(
        "p_brand",
        F.col("n").cast("long").alias("n"),
        F.round(rate, 6).alias("raw_rate"),
        F.round((F.col("k") + F.col("alpha"))
                / (F.col("n") + F.col("alpha") + F.col("beta")), 6)
        .alias("shrunk_rate"),
    )


@query(
    "agg_trimmed_mean",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS prio,
             percentile_disc(0.05) WITHIN GROUP (ORDER BY o_totalprice)
               AS lo,
             percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)
               AS hi
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority AS prio,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,2))) AS STRING) AS DOUBLE) / COUNT(*), 6) AS mean_raw,
           ROUND(CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,2)))
                        FILTER (WHERE o.o_totalprice >= b.lo
                                  AND o.o_totalprice <= b.hi)
                       AS STRING) AS DOUBLE)
                 / COUNT(*) FILTER (WHERE o.o_totalprice >= b.lo
                                      AND o.o_totalprice <= b.hi), 6)
             AS mean_trimmed,
           ROUND(CAST(CAST(SUM(CAST(LEAST(GREATEST(o.o_totalprice, b.lo), b.hi)
                               AS DECIMAL(28,6))) AS STRING) AS DOUBLE) / COUNT(*), 6)
             AS mean_winsorized
    FROM orders o JOIN b ON b.prio = o.o_orderpriority
    GROUP BY o.o_orderpriority
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust means per priority class: the 5-95% TRIMMED mean (drop
    the tails) and the WINSORIZED mean (clamp the tails) beside the
    raw mean — the pair every metrics platform reports when a few
    whale rows would otherwise own the average (cf. ts_outlier_mad,
    which flags the outliers; these summarize robustly despite them).
    DISCRETE percentile cut points are actual data values, so both
    engines trim the identical rows.

    Plan: one boundary aggregate per group (broadcast back), then a
    single conditional-aggregate scan — trimming never materializes
    a filtered copy. Clamped values sum through DECIMAL."""
    o = table(spark, sf_dir, "orders")
    b = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("hi"),
    )
    j = o.join(F.broadcast(b), o.o_orderpriority == b.prio)
    inb = (F.col("o_totalprice") >= F.col("lo")) & \
          (F.col("o_totalprice") <= F.col("hi"))
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")),
                      F.col("hi"))
    return j.groupBy("prio").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
                .cast("double") / F.count("*"), 6).alias("mean_raw"),
        F.round(F.sum(F.when(inb, F.col("o_totalprice"))
                      .cast("decimal(28,2)")).cast("double")
                / F.count_if(inb), 6).alias("mean_trimmed"),
        F.round(F.sum(clamped.cast("decimal(28,6)")).cast("double")
                / F.count("*"), 6).alias("mean_winsorized"),
    )


@query(
    "agg_ab_ztest",
    oracle="""
    WITH arms AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             COUNT(*) AS n,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS k
      FROM orders GROUP BY 1
    ), wide AS (
      SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS na,
             MAX(CASE WHEN arm = 'A' THEN k END) AS ka,
             MAX(CASE WHEN arm = 'B' THEN n END) AS nb,
             MAX(CASE WHEN arm = 'B' THEN k END) AS kb
      FROM arms
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(CAST(ka AS DOUBLE) / na, 6) AS rate_a,
           ROUND(CAST(kb AS DOUBLE) / nb, 6) AS rate_b,
           ROUND((CAST(ka AS DOUBLE) / na - CAST(kb AS DOUBLE) / nb)
                 / SQRT((CAST(ka + kb AS DOUBLE) / (na + nb))
                        * (1.0 - CAST(ka + kb AS DOUBLE) / (na + nb))
                        * (1.0 / na + 1.0 / nb)), 6) AS z_stat,
           ABS((CAST(ka AS DOUBLE) / na - CAST(kb AS DOUBLE) / nb)
               / SQRT((CAST(ka + kb AS DOUBLE) / (na + nb))
                      * (1.0 - CAST(ka + kb AS DOUBLE) / (na + nb))
                      * (1.0 / na + 1.0 / nb))) > 1.959963985
             AS significant_95
    FROM wide
    """,
)
def agg_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test as a query: split orders into A/B arms
    by key parity (the hash-gate assignment an experiment platform
    uses), compare 'F'-status rates with the pooled-variance z
    statistic and a 95% significance verdict — the simplest
    experiment readout, sitting beside agg_ratio_delta_method
    (continuous ratio metrics) and agg_bootstrap_se (nonparametric)
    as the proportions member of the testing family. The z crosses
    1.96 exactly when the difference exceeds sampling noise; the
    threshold constant is spelled to 9 decimals so neither engine
    rounds across it.

    Plan: one conditional hash agg (2 rows), pivoted wide on the
    2-row result; the statistic is identical double arithmetic on
    exact integer counts."""
    o = table(spark, sf_dir, "orders")
    arms = o.groupBy(
        F.when(F.col("o_orderkey") % 2 == 0, "A").otherwise("B")
        .alias("arm")
    ).agg(F.count("*").alias("n"),
          F.count_if(F.col("o_orderstatus") == "F").alias("k"))
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("k"))).alias("ka"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("k"))).alias("kb"),
    )
    ra = F.col("ka").cast("double") / F.col("na")
    rb = F.col("kb").cast("double") / F.col("nb")
    pooled = (F.col("ka") + F.col("kb")).cast("double") \
        / (F.col("na") + F.col("nb"))
    z = (ra - rb) / F.sqrt(
        pooled * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb")))
    return wide.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.959963985).alias("significant_95"),
    )


@query(
    "agg_mann_whitney",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             o_totalprice AS v
      FROM orders
    ), ranked AS (
      -- average ranks over the combined sample (exact .5 decimals)
      SELECT arm,
             CAST(RANK() OVER (ORDER BY v) AS DOUBLE)
             + (CAST(COUNT(*) OVER (PARTITION BY v) AS DOUBLE) - 1.0)
               / 2.0 AS r
      FROM s
    ), sums AS (
      SELECT COUNT(*) FILTER (WHERE arm = 'A') AS na,
             COUNT(*) FILTER (WHERE arm = 'B') AS nb,
             CAST(SUM(CAST(r AS DECIMAL(28,1)))
                    FILTER (WHERE arm = 'A') AS DOUBLE) AS ra
      FROM ranked
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(ra - na * (na + 1.0) / 2.0, 1) AS u_stat,
           ROUND(((ra - na * (na + 1.0) / 2.0)
                  - na * CAST(nb AS DOUBLE) / 2.0)
                 / SQRT(na * CAST(nb AS DOUBLE) * (na + nb + 1.0) / 12.0),
                 6) AS z_approx
    FROM sums
    """,
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the two experiment
    arms: does one arm's order-value DISTRIBUTION stochastically
    dominate the other's? The nonparametric member of the testing
    family (agg_ab_ztest: proportions; agg_ratio_delta_method:
    ratios) — rank-based, so whales can't move it the way they move a
    t-test on means. Average ranks (RANK + (ties-1)/2) are exact .5
    decimals; the rank sum goes through DECIMAL(28,1), so U is exact
    and the normal-approximation z is identical double arithmetic.

    Scale: ranks come from the weighted histogram — one hash agg
    collapses rows to distinct values (tied rows SHARE an average
    rank, so grouping is lossless), and the rank cumsum over the
    value domain runs through the split-window rewrite
    (functions/splitwin.py): sharded parallel windows, never a
    single-task total-order sort."""
    o = table(spark, sf_dir, "orders")
    s = o.select(
        F.when(F.col("o_orderkey") % 2 == 0, "A").otherwise("B")
        .alias("arm"),
        F.col("o_totalprice").alias("v"),
    )
    hist = s.groupBy("v").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("arm") == "A").alias("na_v"),
    )
    h = split_window(hist, ["v"], running_sums={"cum": "n"})
    ranked = h.select(
        "n", "na_v",
        ((F.col("cum") - F.col("n")).cast("double")
         + (F.col("n").cast("double") + 1.0) / 2.0).alias("r"),
    )
    sums = ranked.agg(
        F.sum("na_v").alias("na"),
        F.sum(F.col("n") - F.col("na_v")).alias("nb"),
        F.sum((F.col("na_v") * F.col("r")).cast("decimal(28,1)"))
        .cast("double").alias("ra"),
    )
    na, nb = F.col("na"), F.col("nb")
    u = F.col("ra") - na * (na + 1.0) / 2.0
    z = (u - na * nb.cast("double") / 2.0) / F.sqrt(
        na * nb.cast("double") * (na + nb + 1.0) / 12.0)
    return sums.select(
        na.cast("long").alias("n_a"), nb.cast("long").alias("n_b"),
        F.round(u, 1).alias("u_stat"),
        F.round(z, 6).alias("z_approx"),
    )


@query(
    "agg_chi_square",
    oracle="""
    WITH cells AS (
      SELECT c_mktsegment AS seg, o_orderpriority AS prio,
             COUNT(*) AS obs
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY 1, 2
    ), rm AS (SELECT seg, SUM(obs) AS rt FROM cells GROUP BY seg),
    cm AS (SELECT prio, SUM(obs) AS ct FROM cells GROUP BY prio),
    n AS (SELECT SUM(obs) AS n FROM cells)
    SELECT CAST(n.n AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM rm) AS INT) AS n_segments,
           CAST((SELECT COUNT(*) FROM cm) AS INT) AS n_priorities,
           ROUND(CAST(CAST(SUM(CAST(
             POWER(cells.obs - CAST(rm.rt * cm.ct AS DOUBLE) / n.n, 2)
             / (CAST(rm.rt * cm.ct AS DOUBLE) / n.n)
             AS DECIMAL(28,9))) AS STRING) AS DOUBLE), 6) AS chi_square
    FROM cells
    JOIN rm ON rm.seg = cells.seg
    JOIN cm ON cm.prio = cells.prio
    CROSS JOIN n
    GROUP BY n.n
    """,
)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between market segment and
    order priority: observed vs marginal-expected cell counts over
    the contingency table — the categorical member of the testing
    family (is the priority mix actually different across segments,
    or is the heatmap pattern just volume?). Degrees of freedom =
    (segments-1)(priorities-1) follow from the reported dimensions.

    Plan: one fact-side hash agg to the contingency cells, marginals
    from the CELLS (never a rescan), broadcast-sized joins, and the
    statistic's per-cell terms quantized through DECIMAL before the
    sum. Expected counts are exact integer products over n."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cells = (
        o.join(c, c.c_custkey == o.o_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"),
                 F.col("o_orderpriority").alias("prio"))
        .agg(F.count("*").alias("obs"))
        .transform(checkpoint)  # cells feed marginals AND terms
    )
    rm = cells.groupBy("seg").agg(F.sum("obs").alias("rt"))
    cm = cells.groupBy("prio").agg(F.sum("obs").alias("ct"))
    n = cells.agg(F.sum("obs").alias("n"))
    nseg = rm.agg(F.count("*").cast("int").alias("n_segments"))
    nprio = cm.agg(F.count("*").cast("int").alias("n_priorities"))
    exp = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    term = (F.pow(F.col("obs") - exp, 2) / exp).cast("decimal(28,9)")
    return (
        cells.join(F.broadcast(rm), "seg")
        .join(F.broadcast(cm), "prio")
        .crossJoin(F.broadcast(n))
        .groupBy("n")
        .agg(F.round(F.sum(term).cast("double"), 6).alias("chi_square"))
        .crossJoin(F.broadcast(nseg))
        .crossJoin(F.broadcast(nprio))
        .select(F.col("n").cast("long").alias("n_rows"),
                "n_segments", "n_priorities", "chi_square")
    )


@query(
    "agg_spearman_rho",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag AS flag,
             CAST(RANK() OVER (PARTITION BY l_returnflag
                               ORDER BY l_quantity) AS DOUBLE)
             + (CAST(COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity)
                     AS DOUBLE) - 1.0) / 2.0 AS rx,
             CAST(RANK() OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice) AS DOUBLE)
             + (CAST(COUNT(*) OVER (PARTITION BY l_returnflag,
                                    l_extendedprice)
                     AS DOUBLE) - 1.0) / 2.0 AS ry
      FROM lineitem
    )
    SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(
             (COUNT(*) * CAST(CAST(SUM(CAST(rx * ry AS DECIMAL(38,2))) AS STRING) AS DOUBLE)
              - CAST(CAST(SUM(CAST(rx AS DECIMAL(28,1))) AS STRING) AS DOUBLE)
                * CAST(CAST(SUM(CAST(ry AS DECIMAL(28,1))) AS STRING) AS DOUBLE))
             / SQRT(
                 (COUNT(*) * CAST(CAST(SUM(CAST(rx * rx AS DECIMAL(38,2))) AS STRING) AS DOUBLE)
                  - POWER(CAST(CAST(SUM(CAST(rx AS DECIMAL(28,1))) AS STRING) AS DOUBLE), 2))
                 * (COUNT(*) * CAST(CAST(SUM(CAST(ry * ry AS DECIMAL(38,2))) AS STRING) AS DOUBLE)
                    - POWER(CAST(CAST(SUM(CAST(ry AS DECIMAL(28,1))) AS STRING) AS DOUBLE), 2))),
             6) AS spearman_rho
    FROM ranked GROUP BY flag
    """,
)
def agg_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (quantity vs price, per return
    flag): Pearson over average ranks — the MONOTONE-association
    measure that ignores the relationship's shape and survives
    outliers (corr_matrix's Pearson sees only linearity; whales bend
    it). Average ranks are exact .5 decimals (Mann-Whitney's
    discipline), so every co-moment sums exactly through DECIMAL and
    the correlation is identical double arithmetic.

    Plan: two rank windows per group partition (both ride ONE
    returnflag exchange plus per-window sorts), then a per-group
    co-moment agg. Exact ranks need the within-group sort; the
    extreme-cardinality fallback is ranking a weighted value
    histogram, same as agg_mann_whitney."""
    li = table(spark, sf_dir, "lineitem")

    def avg_rank(col):
        return (
            F.rank().over(Window.partitionBy("l_returnflag").orderBy(col))
            .cast("double")
            + (F.count("*").over(
                Window.partitionBy("l_returnflag", col)).cast("double")
               - 1.0) / 2.0
        )

    ranked = li.select(
        F.col("l_returnflag").alias("flag"),
        avg_rank("l_quantity").alias("rx"),
        avg_rank("l_extendedprice").alias("ry"),
    )

    def ds(expr, p, sc):
        return F.sum(expr.cast(f"decimal({p},{sc})")).cast("double")

    n = F.count("*")
    num = (n * ds(F.col("rx") * F.col("ry"), 38, 2)
           - ds(F.col("rx"), 28, 1) * ds(F.col("ry"), 28, 1))
    den = F.sqrt(
        (n * ds(F.col("rx") * F.col("rx"), 38, 2)
         - F.pow(ds(F.col("rx"), 28, 1), 2))
        * (n * ds(F.col("ry") * F.col("ry"), 38, 2)
           - F.pow(ds(F.col("ry"), 28, 1), 2)))
    return ranked.groupBy("flag").agg(
        n.cast("long").alias("n"),
        F.round(num / den, 6).alias("spearman_rho"),
    )


@query(
    "agg_var_es",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS prio,
             percentile_disc(0.05) WITHIN GROUP (ORDER BY o_totalprice)
               AS var5
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority AS prio,
           CAST(COUNT(*) AS BIGINT) AS n,
           ANY_VALUE(b.var5) AS var_5pct,
           ROUND(CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,2)))
                        FILTER (WHERE o.o_totalprice <= b.var5)
                       AS STRING) AS DOUBLE)
                 / COUNT(*) FILTER (WHERE o.o_totalprice <= b.var5), 6)
             AS expected_shortfall,
           CAST(COUNT(*) FILTER (WHERE o.o_totalprice <= b.var5)
                AS BIGINT) AS n_tail
    FROM orders o JOIN b ON b.prio = o.o_orderpriority
    GROUP BY o.o_orderpriority
    """,
)
def agg_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk and Expected Shortfall per priority class: the
    5th-percentile order value (the VaR threshold) and the MEAN of
    everything at or below it (ES — the coherent tail measure Basel
    moved to precisely because VaR says where the tail starts but not
    how bad it is). Over order values this reads as the low-value
    tail profile; over P&L deltas it is the literal risk report.

    Plan: one discrete-percentile boundary per group (exact value
    both engines pick identically), broadcast back, one conditional
    aggregate scan — the tail never materializes as a filtered copy
    (agg_trimmed_mean's discipline, pointed at the tail instead of
    away from it)."""
    o = table(spark, sf_dir, "orders")
    b = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("var5"))
    j = o.join(F.broadcast(b), o.o_orderpriority == b.prio)
    tail = F.col("o_totalprice") <= F.col("var5")
    return j.groupBy("prio").agg(
        F.count("*").cast("long").alias("n"),
        F.any_value("var5").alias("var_5pct"),
        F.round(F.sum(F.when(tail, F.col("o_totalprice"))
                      .cast("decimal(28,2)")).cast("double")
                / F.count_if(tail), 6).alias("expected_shortfall"),
        F.count_if(tail).cast("long").alias("n_tail"),
    )


@query(
    "agg_herfindahl_index",
    oracle="""
    WITH sup AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(28,2))) AS rev
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ), shares AS (
      SELECT nation,
             CAST(POWER(CAST(rev AS DOUBLE)
                        / CAST(SUM(rev) OVER (PARTITION BY nation)
                               AS DOUBLE), 2) AS DECIMAL(18,12)) AS t
      FROM sup
    )
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(CAST(SUM(t) AS DOUBLE) * 10000, 4) AS hhi
    FROM shares GROUP BY nation
    """,
)
def agg_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue
    per nation (sum of squared market shares, scaled x10000 — the
    antitrust convention where >2500 is 'highly concentrated'). The
    single-number market-structure summary next to agg_gini_lorenz
    (distribution shape) and agg_revenue_concentration (top-N
    counts): HHI is the one merger review actually uses.

    Plan: one (nation, supplier) hash agg, the nation total as a
    window over that aggregate (supplier-bounded rows), and squared
    shares quantized through DECIMAL(18,12) before the final sum.
    Revenue sums stay exact DECIMAL until the share division."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    sup = (
        li.join(s, s.s_suppkey == li.l_suppkey)
        .groupBy(F.col("s_nationkey").alias("nation"), "l_suppkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(28,2)"))
             .alias("rev"))
    )
    tot = F.sum("rev").over(Window.partitionBy("nation"))
    share2 = F.pow(F.col("rev").cast("double") / tot.cast("double"), 2) \
        .cast("decimal(18,12)")
    return (
        sup.select("nation", share2.alias("t"))
        .groupBy("nation")
        .agg(F.count("*").cast("long").alias("n_suppliers"),
             F.round(F.sum("t").cast("double") * 10000, 4).alias("hhi"))
    )


@query(
    "agg_ks_test",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS a,
             o_totalprice AS v
      FROM orders
    ), steps AS (
      SELECT v,
             SUM(a) OVER w AS ca,
             SUM(1 - a) OVER w AS cb,
             SUM(a) OVER () AS na,
             SUM(1 - a) OVER () AS nb
      FROM s
      WINDOW w AS (ORDER BY v, a ROWS UNBOUNDED PRECEDING)
    )
    SELECT CAST(ANY_VALUE(na) AS BIGINT) AS n_a,
           CAST(ANY_VALUE(nb) AS BIGINT) AS n_b,
           ROUND(MAX(ABS(CAST(ca AS DOUBLE) / na
                         - CAST(cb AS DOUBLE) / nb)), 6) AS ks_d,
           ROUND(MAX(ABS(CAST(ca AS DOUBLE) / na
                         - CAST(cb AS DOUBLE) / nb))
                 * SQRT(CAST(ANY_VALUE(na) AS DOUBLE)
                        * ANY_VALUE(nb)
                        / (ANY_VALUE(na) + ANY_VALUE(nb))), 6)
             AS ks_stat
    FROM steps
    """,
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between the experiment arms:
    the supremum gap between the two empirical CDFs, evaluated
    exactly at every sample point via one cumulative window over the
    merged sort — the distribution-level companion to Mann-Whitney
    (which can miss equal-median shape changes KS catches; the scaled
    sqrt(nm/(n+m))*D is what tables threshold). dq_drift_psi bins
    first; KS is the binning-free drift test.

    Plan: the ECDF steps come from the (value, arm) histogram — one
    hash agg collapses rows to distinct cells (within a cell the gap
    moves monotonically, so its max sits at a cell boundary; the
    previous cell's end is in the evaluated set, making the grouped
    sup EXACTLY the row-level sup), and the two running counts cumsum
    through the split-window rewrite (functions/splitwin.py): sharded
    parallel windows, never a single-task merged sort. ECDF ratios
    divide exact integers, so the sup is over identical doubles."""
    o = table(spark, sf_dir, "orders")
    s = o.select(
        F.when(F.col("o_orderkey") % 2 == 0, 1).otherwise(0).alias("a"),
        F.col("o_totalprice").alias("v"),
    )
    cells = s.groupBy("v", "a").agg(F.count(F.lit(1)).alias("cnt"))
    h = split_window(
        cells,
        ["v", "a"],
        bucket="v",
        running_sums={
            "ca": F.col("a") * F.col("cnt"),
            "cb": (1 - F.col("a")) * F.col("cnt"),
        },
    )
    totals = cells.agg(
        F.sum(F.col("a") * F.col("cnt")).alias("na"),
        F.sum((1 - F.col("a")) * F.col("cnt")).alias("nb"),
    )
    steps = h.crossJoin(F.broadcast(totals)).select(
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
        "na", "nb",
    )
    gap = F.abs(F.col("ca").cast("double") / F.col("na")
                - F.col("cb").cast("double") / F.col("nb"))
    return steps.agg(
        F.any_value("na").cast("long").alias("n_a"),
        F.any_value("nb").cast("long").alias("n_b"),
        F.round(F.max(gap), 6).alias("ks_d"),
        F.round(F.max(gap) * F.sqrt(
            F.any_value("na").cast("double") * F.any_value("nb")
            / (F.any_value("na") + F.any_value("nb"))), 6)
        .alias("ks_stat"),
    )


# two-sided alpha=0.05 and power=0.80 normal quantiles, spelled out
_Z_ALPHA = 1.959963985
_Z_BETA = 0.841621234
_MDE_GRID = (0.01, 0.02, 0.05)


@query(
    "agg_power_mde",
    oracle=f"""
    WITH base AS (
      SELECT CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
               / COUNT(*) AS p,
             COUNT(*) AS n_avail
      FROM orders
    )
    SELECT d.mde,
           ROUND(base.p, 6) AS base_rate,
           CAST(CEIL(POWER({_Z_ALPHA} + {_Z_BETA}, 2)
                     * 2.0 * base.p * (1.0 - base.p)
                     / (d.mde * d.mde)) AS BIGINT) AS n_per_arm,
           CAST(base.n_avail AS BIGINT) AS n_available,
           CEIL(POWER({_Z_ALPHA} + {_Z_BETA}, 2)
                * 2.0 * base.p * (1.0 - base.p) / (d.mde * d.mde)) * 2
             <= base.n_avail AS feasible
    FROM base, UNNEST([{", ".join(map(str, _MDE_GRID))}]) d(mde)
    """,
)
def agg_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis: for a grid of minimum detectable
    effects, the per-arm sample size n = (z_a+z_b)^2 * 2p(1-p) /
    MDE^2 at alpha=.05 / power=.80, seeded with the OBSERVED base
    rate — plus whether the current data volume could even run that
    test. This is the missing first step of the experimentation
    suite (design: here; readout: agg_ab_ztest; uncertainty:
    agg_bootstrap_se): teams that skip it ship underpowered tests
    and read noise. Normal quantiles are spelled to 9 decimals so
    neither engine rounds across the CEIL.

    Plan: one 1-row base-rate aggregate fanned across the constant
    MDE grid — everything after the scan is constant-time
    arithmetic on exact counts."""
    o = table(spark, sf_dir, "orders")
    base = o.agg(
        (F.count_if(F.col("o_orderstatus") == "F").cast("double")
         / F.count("*")).alias("p"),
        F.count("*").alias("n_avail"),
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(m) for m in _MDE_GRID])).alias("mde"))
    n_req = F.ceil(
        F.pow(F.lit(_Z_ALPHA + _Z_BETA), 2) * 2.0 * F.col("p")
        * (F.lit(1.0) - F.col("p")) / (F.col("mde") * F.col("mde")))
    return base.crossJoin(F.broadcast(grid)).select(
        "mde",
        F.round("p", 6).alias("base_rate"),
        n_req.cast("long").alias("n_per_arm"),
        F.col("n_avail").cast("long").alias("n_available"),
        (n_req * 2 <= F.col("n_avail")).alias("feasible"),
    )


# Euler-Mascheroni and pi, spelled out for the Gumbel moment fit.
_EULER_GAMMA = 0.5772156649015329
_PI = 3.141592653589793
_GUMBEL_HORIZON = 1000


@query(
    "agg_extreme_value_gumbel",
    oracle=f"""
    WITH cnts AS (
      SELECT event_type, epoch_us(ts) // 60000000 AS minute,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ), mom AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(c AS DECIMAL(28,0))) AS STRING) AS DOUBLE)
               / COUNT(*) AS mu,
             SQRT(GREATEST(
               CAST(CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS STRING) AS DOUBLE)
                 / COUNT(*)
               - POWER(CAST(CAST(SUM(CAST(c AS DECIMAL(28,0))) AS STRING) AS DOUBLE)
                       / COUNT(*), 2), 1e-12)) AS sd,
             MAX(c) AS observed_max
      FROM cnts GROUP BY event_type
    )
    SELECT event_type,
           CAST(observed_max AS BIGINT) AS observed_max,
           ROUND(sd * SQRT(6.0) / {_PI}, 6) AS gumbel_beta,
           ROUND(mu - {_EULER_GAMMA} * sd * SQRT(6.0) / {_PI}, 6)
             AS gumbel_mu,
           ROUND(mu - {_EULER_GAMMA} * sd * SQRT(6.0) / {_PI}
                 + sd * SQRT(6.0) / {_PI} * LN({_GUMBEL_HORIZON}.0), 6)
             AS predicted_max_{_GUMBEL_HORIZON}
    FROM mom
    """,
)
def agg_extreme_value_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value capacity planning: fit a Gumbel distribution to
    per-minute load by method of moments (beta = s*sqrt(6)/pi,
    mu = mean - gamma*beta) and extrapolate the expected maximum over
    a {_GUMBEL_HORIZON}-minute horizon (mu + beta*ln(n)) — the
    provision-for-the-peak number that mean+3*sigma undershoots
    because maxima grow with horizon LENGTH, not just variance.
    Beside the observed max as the sanity anchor. Completes the load
    picture: rate, burstiness (ts_fano_factor), and now the
    projected extreme.

    Plan: one (type, minute) agg then per-type moments — identical
    shape to ts_fano_factor; the LN is a single libm call on an
    identical double (no cross-row sum touches it), so rounding at 6
    is safe without term quantization. Constants spelled to full
    double precision."""
    e = table(spark, sf_dir, "events")
    cnts = e.groupBy(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp"))
         / F.lit(60_000_000)).cast("long").alias("minute"),
    ).agg(F.count("*").alias("c"))
    mu = (F.sum(F.col("c").cast("decimal(28,0)")).cast("double")
          / F.count("*"))
    m2 = (F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
          .cast("double") / F.count("*"))
    sd = F.sqrt(F.greatest(m2 - mu * mu, F.lit(1e-12)))
    beta = sd * (6.0 ** 0.5) / _PI
    gmu = mu - _EULER_GAMMA * beta
    import math
    return cnts.groupBy("event_type").agg(
        F.max("c").cast("long").alias("observed_max"),
        F.round(beta, 6).alias("gumbel_beta"),
        F.round(gmu, 6).alias("gumbel_mu"),
        F.round(gmu + beta * math.log(_GUMBEL_HORIZON), 6)
        .alias(f"predicted_max_{_GUMBEL_HORIZON}"),
    )


@query(
    "agg_covariate_balance",
    oracle="""
    WITH armed AS (
      SELECT CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END AS a,
             c_acctbal AS x1,
             CAST(c_nationkey AS DOUBLE) AS x2
      FROM customer
    ), mom AS (
      SELECT 'c_acctbal' AS covariate,
             CAST(SUM(CAST(x1 AS DECIMAL(28,6))) FILTER (WHERE a = 1)
                  AS DOUBLE) / COUNT(*) FILTER (WHERE a = 1) AS ma,
             CAST(SUM(CAST(x1 AS DECIMAL(28,6))) FILTER (WHERE a = 0)
                  AS DOUBLE) / COUNT(*) FILTER (WHERE a = 0) AS mb,
             CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,6))) FILTER (WHERE a = 1)
                  AS DOUBLE) / COUNT(*) FILTER (WHERE a = 1) AS qa,
             CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,6))) FILTER (WHERE a = 0)
                  AS DOUBLE) / COUNT(*) FILTER (WHERE a = 0) AS qb
      FROM armed
      UNION ALL
      SELECT 'c_nationkey',
             CAST(SUM(CAST(x2 AS DECIMAL(28,6))) FILTER (WHERE a = 1)
                  AS DOUBLE) / COUNT(*) FILTER (WHERE a = 1),
             CAST(SUM(CAST(x2 AS DECIMAL(28,6))) FILTER (WHERE a = 0)
                  AS DOUBLE) / COUNT(*) FILTER (WHERE a = 0),
             CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,6))) FILTER (WHERE a = 1)
                  AS DOUBLE) / COUNT(*) FILTER (WHERE a = 1),
             CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,6))) FILTER (WHERE a = 0)
                  AS DOUBLE) / COUNT(*) FILTER (WHERE a = 0)
      FROM armed
    )
    SELECT covariate,
           ROUND(ma - mb, 6) AS mean_diff,
           ROUND((ma - mb) / SQRT(((qa - ma*ma) + (qb - mb*mb)) / 2.0), 6)
             AS smd,
           ABS((ma - mb) / SQRT(((qa - ma*ma) + (qb - mb*mb)) / 2.0))
             < 0.1 AS balanced
    FROM mom
    """,
)
def agg_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate balance check before any causal readout: the
    standardized mean difference (SMD) of each covariate between
    assignment arms, with the |SMD| < 0.1 balance convention — the
    table every A/B platform prints before it lets you read the
    outcome metric (an unbalanced covariate means the randomizer is
    broken or the analysis needs adjustment; agg_ab_ztest's verdict
    is only as good as this gate). One pass, all covariates.

    Plan: a single conditional co-moment aggregate per covariate
    (UNION ALL of one-row aggs on both sides — Catalyst collapses
    the shared scan), means/variances from DECIMAL-quantized sums,
    SMD in identical double arithmetic."""
    c = table(spark, sf_dir, "customer")
    armed = c.select(
        F.when(F.col("c_custkey") % 2 == 0, 1).otherwise(0).alias("a"),
        F.col("c_acctbal").alias("x1"),
        F.col("c_nationkey").cast("double").alias("x2"),
    )

    def row(name, col):
        def m(e, flt, p):
            return (F.sum(F.when(F.col("a") == flt, e)
                          .cast(f"decimal({p},6)")).cast("double")
                    / F.count_if(F.col("a") == flt))
        x = F.col(col)
        return armed.agg(
            F.lit(name).alias("covariate"),
            m(x, 1, 28).alias("ma"), m(x, 0, 28).alias("mb"),
            m(x * x, 1, 38).alias("qa"), m(x * x, 0, 38).alias("qb"),
        )

    mom = row("c_acctbal", "x1").unionAll(row("c_nationkey", "x2"))
    smd = (F.col("ma") - F.col("mb")) / F.sqrt(
        ((F.col("qa") - F.col("ma") * F.col("ma"))
         + (F.col("qb") - F.col("mb") * F.col("mb"))) / 2.0)
    return mom.select(
        "covariate",
        F.round(F.col("ma") - F.col("mb"), 6).alias("mean_diff"),
        F.round(smd, 6).alias("smd"),
        (F.abs(smd) < 0.1).alias("balanced"),
    )


@query(
    "agg_cuped",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2)))
                    FILTER (WHERE year(o_orderdate) = 1995) AS DOUBLE)
               AS x,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2)))
                    FILTER (WHERE year(o_orderdate) = 1996) AS DOUBLE)
               AS y
      FROM orders
      GROUP BY o_custkey
      HAVING COUNT(*) FILTER (WHERE year(o_orderdate) = 1995) > 0
         AND COUNT(*) FILTER (WHERE year(o_orderdate) = 1996) > 0
    ), mom AS (
      SELECT COUNT(*) AS n,
             CAST(CAST(SUM(CAST(x AS DECIMAL(28,4))) AS STRING) AS DOUBLE) / COUNT(*)
               AS mx,
             CAST(CAST(SUM(CAST(y AS DECIMAL(28,4))) AS STRING) AS DOUBLE) / COUNT(*)
               AS my,
             CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS STRING) AS DOUBLE) / COUNT(*)
               AS mxx,
             CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS STRING) AS DOUBLE) / COUNT(*)
               AS mxy,
             CAST(CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS STRING) AS DOUBLE) / COUNT(*)
               AS myy
      FROM cust
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           ROUND((mxy - mx * my) / (mxx - mx * mx), 6) AS theta,
           -- variances are ~1e10-magnitude doubles whose cross-
           -- engine ulp drift is ~1e-4 absolute: report in BILLIONS
           -- so the 6-decimal rounding grid sits 6 orders above the
           -- drift instead of at it
           ROUND((myy - my * my) / 1e9, 6) AS var_raw_bn,
           ROUND(((myy - my * my)
                  - POWER(mxy - mx * my, 2) / (mxx - mx * mx)) / 1e9, 6)
             AS var_cuped_bn,
           ROUND(POWER(mxy - mx * my, 2)
                 / ((mxx - mx * mx) * (myy - my * my)), 6)
             AS var_reduction
    FROM mom
    """,
)
def agg_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction: using each customer's PRE-period
    spend (1995) as the control covariate for their experiment-period
    metric (1996), compute theta = cov(X,Y)/var(X) and the adjusted
    metric's variance — the reduction equals rho^2, reported as
    var_reduction (0.3 = experiments need 30% fewer samples for the
    same power; plug into agg_power_mde). This is the variance-
    reduction step every mature experimentation platform runs, and
    the final piece of the suite: design (power_mde), balance
    (covariate_balance), readout (ab_ztest / delta_method /
    mann_whitney / ks), uncertainty (bootstrap), and now efficiency.

    Plan: one customer-level conditional agg (pre/post in one pass,
    HAVING keeps the both-period population the adjustment is
    defined on), then a 1-row co-moment aggregate — DECIMAL-
    quantized sums, identical double algebra after."""
    o = table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")

    def ysum(y):
        return F.sum(F.when(yr == y, F.col("o_totalprice"))
                     .cast("decimal(28,2)")).cast("double")

    cust = (
        o.groupBy("o_custkey")
        .agg(ysum(1995).alias("x"), ysum(1996).alias("y"),
             F.count_if(yr == 1995).alias("n95"),
             F.count_if(yr == 1996).alias("n96"))
        .filter((F.col("n95") > 0) & (F.col("n96") > 0))
    )

    def m(e, p):
        return F.sum(e.cast(f"decimal({p},4)")).cast("double") / F.count("*")

    mom = cust.agg(
        F.count("*").alias("n"),
        m(F.col("x"), 28).alias("mx"), m(F.col("y"), 28).alias("my"),
        m(F.col("x") * F.col("x"), 38).alias("mxx"),
        m(F.col("x") * F.col("y"), 38).alias("mxy"),
        m(F.col("y") * F.col("y"), 38).alias("myy"),
    )
    cov = F.col("mxy") - F.col("mx") * F.col("my")
    vx = F.col("mxx") - F.col("mx") * F.col("mx")
    vy = F.col("myy") - F.col("my") * F.col("my")
    return mom.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(cov / vx, 6).alias("theta"),
        F.round(vy / 1e9, 6).alias("var_raw_bn"),
        F.round((vy - F.pow(cov, 2) / vx) / 1e9, 6).alias("var_cuped_bn"),
        F.round(F.pow(cov, 2) / (vx * vy), 6).alias("var_reduction"),
    )


@query(
    "agg_price_volume_bridge",
    oracle="""
    WITH yr AS (
      SELECT p_brand,
             CAST(year(l_shipdate) AS INT) AS y,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS STRING) AS DOUBLE)
               AS qty,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS STRING) AS DOUBLE)
               AS rev
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE year(l_shipdate) IN (1995, 1996)
      GROUP BY 1, 2
    ), wide AS (
      SELECT p_brand,
             MAX(CASE WHEN y = 1995 THEN qty END) AS q0,
             MAX(CASE WHEN y = 1995 THEN rev END) AS r0,
             MAX(CASE WHEN y = 1996 THEN qty END) AS q1,
             MAX(CASE WHEN y = 1996 THEN rev END) AS r1
      FROM yr GROUP BY p_brand
      HAVING MAX(CASE WHEN y = 1995 THEN qty END) IS NOT NULL
         AND MAX(CASE WHEN y = 1996 THEN qty END) IS NOT NULL
    )
    SELECT p_brand,
           ROUND(r1 - r0, 2) AS delta_rev,
           ROUND((q1 - q0) * (r0 / q0), 2) AS volume_effect,
           ROUND(q0 * (r1 / q1 - r0 / q0), 2) AS price_effect,
           ROUND((q1 - q0) * (r1 / q1 - r0 / q0), 2) AS mix_effect
    FROM wide
    """,
)
def agg_price_volume_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume bridge (the FP&A waterfall): decompose each
    brand's 1995->1996 revenue change into volume effect (quantity
    moved at old unit price), price effect (old quantity at the new
    unit price), and the mix/interaction term — the three-bar bridge
    chart every revenue review runs, with the algebraic identity
    delta = volume + price + mix holding exactly by construction
    (the oracle hashes all four, so the decomposition can't silently
    leak). Unit prices are revenue/quantity ratios of exact DECIMAL
    sums.

    Plan: one conditional (brand, year) hash agg pivoted wide on the
    brand rows; brands missing either year drop (an effect against a
    missing base is undefined, not zero). Everything after the scan
    is brand-cardinality-sized."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    yrcol = F.year("l_shipdate")
    yr = (
        li.join(p, p.p_partkey == li.l_partkey)
        .filter(yrcol.isin(1995, 1996))
        .groupBy("p_brand", yrcol.cast("int").alias("y"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(28,2)"))
            .cast("double").alias("qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,2)"))
            .cast("double").alias("rev"),
        )
    )
    wide = (
        yr.groupBy("p_brand")
        .agg(
            F.max(F.when(F.col("y") == 1995, F.col("qty"))).alias("q0"),
            F.max(F.when(F.col("y") == 1995, F.col("rev"))).alias("r0"),
            F.max(F.when(F.col("y") == 1996, F.col("qty"))).alias("q1"),
            F.max(F.when(F.col("y") == 1996, F.col("rev"))).alias("r1"),
        )
        .filter(F.col("q0").isNotNull() & F.col("q1").isNotNull())
    )
    u0 = F.col("r0") / F.col("q0")
    u1 = F.col("r1") / F.col("q1")
    return wide.select(
        "p_brand",
        F.round(F.col("r1") - F.col("r0"), 2).alias("delta_rev"),
        F.round((F.col("q1") - F.col("q0")) * u0, 2).alias("volume_effect"),
        F.round(F.col("q0") * (u1 - u0), 2).alias("price_effect"),
        F.round((F.col("q1") - F.col("q0")) * (u1 - u0), 2)
        .alias("mix_effect"),
    )


@query(
    "agg_abc_classification",
    oracle="""
    WITH parts AS (
      SELECT l_partkey AS pk,
             SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS rev
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT rev,
             SUM(rev) OVER (ORDER BY rev DESC, pk
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(rev) OVER () AS tot
      FROM parts
    ), classed AS (
      SELECT rev,
             CASE WHEN 100 * (cum - rev) < 80 * tot THEN 'A'
                  WHEN 100 * (cum - rev) < 95 * tot THEN 'B'
                  ELSE 'C' END AS cls
      FROM ranked
    )
    SELECT cls,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS DOUBLE) AS class_rev,
           ROUND(CAST(SUM(rev) AS DOUBLE)
                 / CAST(ANY_VALUE(t.tot) AS DOUBLE), 6) AS rev_share
    FROM classed, (SELECT SUM(rev) AS tot FROM parts) t
    GROUP BY cls
    """,
)
def agg_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, class A
    until the cumulative share BEFORE the item reaches 80% (so the
    crossing item itself stays in A — the exclusive-prefix rule that
    keeps classes deterministic), B to 95%, C beyond — the
    ops-management standard that turns agg_revenue_concentration's
    curve into actionable buckets (count A items tightly, spot-check
    B, cycle-count C). Class boundaries compare in exact DECIMAL
    (100*cum vs share*tot — no percentage division).

    Plan: part-level hash agg, then the cumulative revenue over the
    part aggregate runs through the split-window rewrite
    (functions/splitwin.py): deterministic revenue shards, parallel
    per-shard windows, shard-count-sized boundary pass — never a
    single-task total-order sort — then the 3-class agg."""
    li = table(spark, sf_dir, "lineitem")
    parts = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(28,2)")).alias("rev"))
    tot = parts.agg(F.sum("rev").alias("tot"))
    ranked = split_window(
        parts,
        [F.col("rev").desc(), "pk"],
        bucket="rev",
        descending=True,
        running_sums={"cum": "rev"},
    ).crossJoin(F.broadcast(tot)).select(
        "rev",
        (F.col("cum") - F.col("rev")).alias("cum_excl"),
        "tot",
    )
    cls = (F.when(100 * F.col("cum_excl") < 80 * F.col("tot"), "A")
           .when(100 * F.col("cum_excl") < 95 * F.col("tot"), "B")
           .otherwise("C"))
    return ranked.select(cls.alias("cls"), "rev", "tot").groupBy("cls").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("rev").cast("double").alias("class_rev"),
        F.round(F.sum("rev").cast("double")
                / F.any_value("tot").cast("double"), 6).alias("rev_share"),
    )


@query(
    "agg_parallel_trends",
    oracle="""
    WITH monthly AS (
      SELECT CASE WHEN o_custkey % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             CAST(month(o_orderdate) AS DOUBLE) AS t,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS STRING) AS DOUBLE)
               AS rev
      FROM orders WHERE year(o_orderdate) = 1995
      GROUP BY 1, 2
    ), mom AS (
      SELECT arm, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(t AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS st,
             CAST(CAST(SUM(CAST(rev AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(t * t AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS stt,
             CAST(CAST(SUM(CAST(t * rev AS DECIMAL(38,4))) AS STRING) AS DOUBLE) AS sty
      FROM monthly GROUP BY arm
    ), slopes AS (
      SELECT arm, (n * sty - st * sy) / (n * stt - st * st) AS slope
      FROM mom
    )
    SELECT MAX(CASE WHEN arm = 'A' THEN ROUND(slope, 4) END) AS slope_a,
           MAX(CASE WHEN arm = 'B' THEN ROUND(slope, 4) END) AS slope_b,
           ROUND(MAX(CASE WHEN arm = 'A' THEN slope END)
                 - MAX(CASE WHEN arm = 'B' THEN slope END), 4)
             AS slope_diff
    FROM slopes
    """,
)
def agg_parallel_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel-trends check: the PRE-period monthly revenue slope of
    each assignment arm, and their difference — the assumption a
    difference-in-differences readout stands on (if the arms were
    already trending apart before treatment, DiD attributes that
    drift to the treatment). Third member of the causal pre-checks:
    covariate_balance (levels), this (slopes), then the readout.
    Slopes come from DECIMAL-quantized co-moments, not the engines'
    regr_slope built-ins, whose internal accumulation differs.

    Plan: one (arm, month) hash agg — the regression runs on 12
    spine rows per arm — then co-moments and the closed-form slope
    on a 2-row aggregate."""
    o = table(spark, sf_dir, "orders")
    monthly = (
        o.filter(F.year("o_orderdate") == 1995)
        .groupBy(
            F.when(F.col("o_custkey") % 2 == 0, "A").otherwise("B")
            .alias("arm"),
            F.month("o_orderdate").cast("double").alias("t"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
             .cast("double").alias("rev"))
    )
    mom = monthly.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum(F.col("t").cast("decimal(18,6)")).cast("double").alias("st"),
        F.sum(F.col("rev").cast("decimal(28,4)")).cast("double").alias("sy"),
        F.sum((F.col("t") * F.col("t")).cast("decimal(18,6)"))
        .cast("double").alias("stt"),
        F.sum((F.col("t") * F.col("rev")).cast("decimal(38,4)"))
        .cast("double").alias("sty"),
    )
    slope = ((F.col("n") * F.col("sty") - F.col("st") * F.col("sy"))
             / (F.col("n") * F.col("stt") - F.col("st") * F.col("st")))
    slopes = mom.select("arm", slope.alias("slope"))
    return slopes.agg(
        F.max(F.when(F.col("arm") == "A", F.round("slope", 4)))
        .alias("slope_a"),
        F.max(F.when(F.col("arm") == "B", F.round("slope", 4)))
        .alias("slope_b"),
        F.round(F.max(F.when(F.col("arm") == "A", F.col("slope")))
                - F.max(F.when(F.col("arm") == "B", F.col("slope"))), 4)
        .alias("slope_diff"),
    )


@query(
    "agg_diff_in_diff",
    oracle="""
    WITH cells AS (
      SELECT CASE WHEN o_custkey % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN year(o_orderdate) = 1996 THEN 'post'
                  ELSE 'pre' END AS period,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS STRING) AS DOUBLE)
               / COUNT(*) AS mean_v
      FROM orders WHERE year(o_orderdate) IN (1995, 1996)
      GROUP BY 1, 2
    )
    SELECT
      ROUND(MAX(CASE WHEN arm='A' AND period='pre' THEN mean_v END), 4)
        AS a_pre,
      ROUND(MAX(CASE WHEN arm='A' AND period='post' THEN mean_v END), 4)
        AS a_post,
      ROUND(MAX(CASE WHEN arm='B' AND period='pre' THEN mean_v END), 4)
        AS b_pre,
      ROUND(MAX(CASE WHEN arm='B' AND period='post' THEN mean_v END), 4)
        AS b_post,
      ROUND((MAX(CASE WHEN arm='A' AND period='post' THEN mean_v END)
             - MAX(CASE WHEN arm='A' AND period='pre' THEN mean_v END))
            - (MAX(CASE WHEN arm='B' AND period='post' THEN mean_v END)
               - MAX(CASE WHEN arm='B' AND period='pre' THEN mean_v END)),
            4) AS did_estimate
    FROM cells
    """,
)
def agg_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the 2x2 (arm x pre/post) mean table
    and the DiD estimate (A's change minus B's change) — the
    quasi-experimental readout that differences out both the level
    gap between arms and the common time shock, valid exactly when
    agg_parallel_trends passes. The causal family is now end to end:
    balance -> trends -> DiD, beside the randomized path
    (power -> ztest -> CUPED).

    Plan: ONE conditional hash agg to the 4 cells, pivoted wide —
    means from DECIMAL-quantized sums, the estimate is arithmetic on
    4 identical doubles."""
    o = table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    cells = (
        o.filter(yr.isin(1995, 1996))
        .groupBy(
            F.when(F.col("o_custkey") % 2 == 0, "A").otherwise("B")
            .alias("arm"),
            F.when(yr == 1996, "post").otherwise("pre").alias("period"),
        )
        .agg((F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
              .cast("double") / F.count("*")).alias("mean_v"))
    )

    def cell(a, p):
        return F.max(F.when((F.col("arm") == a) & (F.col("period") == p),
                            F.col("mean_v")))

    return cells.agg(
        F.round(cell("A", "pre"), 4).alias("a_pre"),
        F.round(cell("A", "post"), 4).alias("a_post"),
        F.round(cell("B", "pre"), 4).alias("b_pre"),
        F.round(cell("B", "post"), 4).alias("b_post"),
        F.round((cell("A", "post") - cell("A", "pre"))
                - (cell("B", "post") - cell("B", "pre")), 4)
        .alias("did_estimate"),
    )


# SPRT design: H0 p=0.48 vs H1 p=0.52, alpha=beta=0.05.
# Per-observation LLR terms, precomputed to 9 decimals so BOTH
# engines accumulate the identical quantized constants:
#   y=1: ln(0.52/0.48)  = 0.080042708
#   y=0: ln(0.48/0.52)  = -0.080042708
# Bounds: ln((1-b)/a) = 2.944438979, ln(b/(1-a)) = -2.944438979.
_SPRT_LLR = 0.080042708
_SPRT_BOUND = 2.944438979


@query(
    "agg_sprt_sequential",
    oracle=f"""
    WITH obs AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), walk AS (
      SELECT k,
             SUM(CAST(CASE WHEN y = 1 THEN {_SPRT_LLR}
                           ELSE -{_SPRT_LLR} END AS DECIMAL(18,9)))
               OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS llr,
             ROW_NUMBER() OVER (ORDER BY k) AS i
      FROM obs
    )
    SELECT
      CAST(MIN(CASE WHEN ABS(llr) >= {_SPRT_BOUND} THEN i END)
           AS BIGINT) AS n_at_decision,
      CAST(COUNT(*) AS BIGINT) AS n_total,
      CASE
        WHEN MIN(CASE WHEN llr >= {_SPRT_BOUND} THEN i END)
             <= COALESCE(MIN(CASE WHEN llr <= -{_SPRT_BOUND} THEN i END),
                         9223372036854775807)
         AND MIN(CASE WHEN llr >= {_SPRT_BOUND} THEN i END) IS NOT NULL
          THEN 'accept_h1'
        WHEN MIN(CASE WHEN llr <= -{_SPRT_BOUND} THEN i END) IS NOT NULL
          THEN 'accept_h0'
        ELSE 'continue' END AS decision
    FROM walk
    """,
)
def agg_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test, replayed over the ordered
    stream: the cumulative log-likelihood walk for H1 p=0.52 vs H0
    p=0.48 (alpha=beta=.05), the sample index where it first crosses
    a Wald boundary, and which hypothesis won — Wald's guarantee is
    that this stops ~2x earlier on average than the fixed-n test
    agg_power_mde sizes, which is why streaming experiment platforms
    run it. The earliest-crossing tie-break (H1 boundary at-or-before
    the H0 crossing wins) replays the sequential decision exactly.

    Plan: the cumulative walk over the key-ordered stream runs
    through the split-window rewrite (functions/splitwin.py) — the
    sequential test IS sequential, but the running LLR sum is
    associative, so per-shard partial walks + shard-prefix offsets
    replay it exactly in parallel (the two-level trick the
    docstring used to only promise). Per-observation LLR terms are
    pre-quantized to 9-decimal constants so both engines accumulate
    identical DECIMALs — the crossing index is exact."""
    o = table(spark, sf_dir, "orders")
    obs = o.select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    walk = split_window(
        obs,
        ["k"],
        running_sums={
            "llr": F.when(F.col("y") == 1, F.lit(_SPRT_LLR))
            .otherwise(F.lit(-_SPRT_LLR)).cast("decimal(18,9)")
        },
        row_number="i",
    ).select("llr", "i")
    up = F.min(F.when(F.col("llr") >= _SPRT_BOUND, F.col("i")))
    dn = F.min(F.when(F.col("llr") <= -_SPRT_BOUND, F.col("i")))
    return walk.agg(
        F.min(F.when(F.abs(F.col("llr")) >= _SPRT_BOUND, F.col("i")))
        .cast("long").alias("n_at_decision"),
        F.count("*").cast("long").alias("n_total"),
        F.when(up.isNotNull()
               & (up <= F.coalesce(dn, F.lit(9223372036854775807))),
               "accept_h1")
        .when(dn.isNotNull(), "accept_h0")
        .otherwise("continue").alias("decision"),
    )


@query(
    "agg_median_ci",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority AS prio, o_totalprice AS v,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS r,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ), bounds AS (
      SELECT prio, n,
             CAST(FLOOR(n / 2.0 - 1.959963985 * SQRT(n) / 2.0) AS BIGINT)
               AS k_lo,
             CAST(CEIL(1.0 + n / 2.0 + 1.959963985 * SQRT(n) / 2.0)
                  AS BIGINT) AS k_hi
      FROM (SELECT DISTINCT prio, n FROM ranked)
    )
    SELECT r.prio, CAST(ANY_VALUE(r.n) AS BIGINT) AS n,
           MIN(CASE WHEN 2 * r.r >= r.n THEN r.v END) AS median_disc,
           MIN(CASE WHEN r.r = b.k_lo THEN r.v END) AS ci_lo,
           MIN(CASE WHEN r.r = b.k_hi THEN r.v END) AS ci_hi
    FROM ranked r JOIN bounds b ON b.prio = r.prio
    GROUP BY r.prio
    """,
)
def agg_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the median, by
    ORDER STATISTICS: the interval between the values at ranks
    n/2 +- 1.96*sqrt(n)/2 covers the true median at ~95% regardless
    of the distribution's shape — no normality assumption, no
    bootstrap resampling (agg_bootstrap_se's route), just the
    binomial behavior of ranks. This is the uncertainty statement
    the percentile family (agg_percentile / agg_weighted_median) was
    missing: a median without its CI invites overreading.

    Plan: one rank window per group (exact order statistics — the
    usual exact-quantile cost), the two CI ranks computed from n by
    closed-form integer arithmetic, and a conditional-MIN agg picks
    the three order statistics in one pass. All selected values are
    actual data points — both engines pick identically."""
    o = table(spark, sf_dir, "orders")
    wr = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("v"),
        F.row_number().over(wr).alias("r"),
        F.count("*").over(wn).alias("n"),
    )
    z = 1.959963985
    k_lo = F.floor(F.col("n") / 2.0 - z * F.sqrt(F.col("n")) / 2.0)
    k_hi = F.ceil(1.0 + F.col("n") / 2.0 + z * F.sqrt(F.col("n")) / 2.0)
    return ranked.groupBy("prio").agg(
        F.any_value("n").cast("long").alias("n"),
        F.min(F.when(2 * F.col("r") >= F.col("n"), F.col("v")))
        .alias("median_disc"),
        F.min(F.when(F.col("r") == k_lo, F.col("v"))).alias("ci_lo"),
        F.min(F.when(F.col("r") == k_hi, F.col("v"))).alias("ci_hi"),
    )


_HILL_K = 200


@query(
    "agg_hill_tail_index",
    oracle=f"""
    WITH top AS (
      SELECT o_totalprice AS v,
             ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS r
      FROM orders
    ), sel AS (
      SELECT v, r FROM top WHERE r <= {_HILL_K + 1}
    ), thresh AS (
      SELECT v AS vk FROM sel WHERE r = {_HILL_K + 1}
    )
    SELECT CAST({_HILL_K} AS INT) AS k,
           ROUND(t.vk, 2) AS tail_threshold,
           ROUND({_HILL_K}.0
                 / CAST(CAST(SUM(CAST(LN(s.v / t.vk) AS DECIMAL(18,9))) AS STRING) AS DOUBLE), 6) AS hill_alpha
    FROM sel s, thresh t
    WHERE s.r <= {_HILL_K}
    GROUP BY t.vk
    """,
)
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the tail index over the top-{_HILL_K} order
    values: alpha = k / sum(ln(x_i / x_(k+1))) — HOW heavy the upper
    tail is (alpha < 2: variance effectively infinite, every
    mean-based metric in the suite is on notice; alpha > 3: tails
    tame). This is the diagnosis BEHIND the robust family: MAD,
    trimmed means, and Theil-Sen exist exactly because alpha is
    sometimes small, and Gumbel's max projection assumes a tail this
    estimator can reject.

    Plan: TakeOrdered for the top k+1 (per-task partial top-k — no
    global sort), then the estimator on k rows with per-term
    DECIMAL-quantized logs. k is the classic bias/variance knob —
    fixed here, scanned over a grid in a production Hill plot."""
    o = table(spark, sf_dir, "orders")
    top = (
        o.select(F.col("o_totalprice").alias("v"), "o_orderkey")
        .orderBy(F.col("v").desc(), "o_orderkey")
        .limit(_HILL_K + 1)
        .withColumn("r", F.row_number().over(
            Window.orderBy(F.col("v").desc(), "o_orderkey")))
    )
    thresh = top.filter(F.col("r") == _HILL_K + 1).select(
        F.col("v").alias("vk"))
    sel = top.filter(F.col("r") <= _HILL_K)
    return (
        sel.crossJoin(F.broadcast(thresh))
        .groupBy("vk")
        .agg(F.round(
            F.lit(float(_HILL_K))
            / F.sum(F.log(F.col("v") / F.col("vk"))
                    .cast("decimal(18,9)")).cast("double"), 6)
            .alias("hill_alpha"))
        .select(F.lit(_HILL_K).cast("int").alias("k"),
                F.round("vk", 2).alias("tail_threshold"),
                "hill_alpha")
    )


# Distributed heavy-hitters parameters: P shards x top-K candidates.
_HH_SHARDS = 8
_HH_K = 20
_HH_REPORT = 10


@query(
    "agg_heavy_hitters_bounds",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id % {_HH_SHARDS} AS shard,
             UNNEST(string_split(text, ' ')) AS token
      FROM documents
    ), shard_counts AS (
      SELECT shard, token, COUNT(*) AS cnt
      FROM toks GROUP BY shard, token
    ), ranked AS (
      SELECT shard, token, cnt,
             ROW_NUMBER() OVER (PARTITION BY shard
                                ORDER BY cnt DESC, token) AS rn
      FROM shard_counts
    ), thr AS (
      SELECT shard,
             MAX(CASE WHEN rn = {_HH_K + 1} THEN cnt ELSE 0 END) AS t
      FROM ranked GROUP BY shard
    ), kept AS (
      SELECT shard, token, cnt FROM ranked WHERE rn <= {_HH_K}
    ), cand AS (
      SELECT k.token, SUM(k.cnt) AS lb, SUM(th.t) AS present_thr
      FROM kept k JOIN thr th ON th.shard = k.shard
      GROUP BY k.token
    ), total AS (
      SELECT SUM(t) AS total_thr FROM thr
    ), exact AS (
      SELECT token, COUNT(*) AS exact_cnt
      FROM toks GROUP BY token
    )
    SELECT c.token AS token,
           CAST(c.lb AS BIGINT) AS lower_bound,
           CAST(c.lb + t.total_thr - c.present_thr AS BIGINT)
             AS upper_bound,
           CAST(e.exact_cnt AS BIGINT) AS exact_cnt,
           (e.exact_cnt BETWEEN c.lb
              AND c.lb + t.total_thr - c.present_thr) AS within_bounds
    FROM cand c CROSS JOIN total t
    JOIN exact e ON e.token = c.token
    ORDER BY c.lb DESC, c.token LIMIT {_HH_REPORT}
    """,
)
def agg_heavy_hitters_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED HEAVY HITTERS with deterministic error bounds — the
    mergeable-summaries construction (per-shard Misra-Gries-style
    top-{_HH_K} with threshold tracking, TPUT-style merge): each of
    {_HH_SHARDS} shards keeps its exact top-{_HH_K} tokens plus its
    drop threshold (the count at rank {_HH_K + 1} — everything the
    shard discarded is ≤ it); merging gives every candidate a LOWER
    bound (sum of kept counts) and an UPPER bound (+ threshold of
    every shard that dropped it). Unlike agg_countmin_topk's hashed
    grid this is comparison-based: no collisions, bounds from ranks.
    Like dedup_minhash_estimate, the query is its own CALIBRATION
    AUDIT — it joins the exact counts back and asserts
    lb ≤ exact ≤ ub per candidate (within_bounds must be all-true by
    THEOREM, and the oracle hash pins it).

    Scale: the whole point — per-shard summaries are k-bounded, so
    the merge stage moves {_HH_SHARDS}×{_HH_K} rows no matter how
    many tokens the corpus has; the rank window partitions by shard
    (parallel, shard-bounded). The exact-count join is the audit
    half; a production rollout drops it and keeps only the bounds."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("doc_id") % _HH_SHARDS).alias("shard"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    shard_counts = toks.groupBy("shard", "token").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("shard").orderBy(F.desc("cnt"), "token")
    ranked = shard_counts.withColumn("rn", F.row_number().over(w))
    thr = ranked.groupBy("shard").agg(
        F.max(F.when(F.col("rn") == _HH_K + 1, F.col("cnt"))
              .otherwise(0)).alias("t")
    )
    kept = ranked.filter(F.col("rn") <= _HH_K)
    cand = (
        kept.join(F.broadcast(thr), "shard")
        .groupBy("token")
        .agg(F.sum("cnt").alias("lb"), F.sum("t").alias("present_thr"))
    )
    total = thr.agg(F.sum("t").alias("total_thr"))
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_cnt"))
    ub = F.col("lb") + F.col("total_thr") - F.col("present_thr")
    return (
        cand.crossJoin(F.broadcast(total))
        .join(exact, "token")
        .select(
            "token",
            F.col("lb").cast("long").alias("lower_bound"),
            ub.cast("long").alias("upper_bound"),
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            F.col("exact_cnt").between(F.col("lb"), ub)
            .alias("within_bounds"),
        )
        .orderBy(F.desc("lower_bound"), "token")
        .limit(_HH_REPORT)
    )


@query(
    "agg_hill_diversity",
    oracle="""
    WITH counts AS (
      SELECT source, lang, COUNT(*) AS n
      FROM documents GROUP BY source, lang
    ), tot AS (
      SELECT source, SUM(n) AS t FROM counts GROUP BY source
    ), terms AS (
      SELECT c.source,
             CAST(c.n AS DOUBLE) / t.t AS p,
             CAST(CAST(c.n AS DOUBLE) / t.t
                  * ln(CAST(c.n AS DOUBLE) / t.t)
                  AS DECIMAL(18,12)) AS plogp,
             CAST((CAST(c.n AS DOUBLE) / t.t)
                  * (CAST(c.n AS DOUBLE) / t.t)
                  AS DECIMAL(18,12)) AS p2
      FROM counts c JOIN tot t ON t.source = c.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS hill_q0,
           ROUND(exp(-CAST(SUM(plogp) AS DOUBLE)), 6) AS hill_q1,
           ROUND(1.0 / CAST(SUM(p2) AS DOUBLE), 6) AS hill_q2
    FROM terms GROUP BY source
    """,
)
def agg_hill_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILL-NUMBER DIVERSITY PROFILE (q = 0, 1, 2) — the ecology
    framework that unifies this repo's scattered diversity metrics
    into one comparable scale of EFFECTIVE CATEGORY COUNTS: q0 =
    richness (languages present per source), q1 = exp(Shannon)
    (agg_entropy's H made interpretable — 'effectively 3.2
    languages'), q2 = inverse Simpson (1/HHI — agg_herfindahl's
    concentration, inverted). Divergence across q orders IS the
    skew diagnosis: q0 ≫ q2 means many rare languages hiding behind
    a dominant one — exactly the imbalance sample_balanced then
    corrects; all three in the same unit makes corpus mixes
    comparable across sources and rounds.

    Exactness: proportions are one double division each; the p·ln p
    and p² terms quantize through DECIMAL(18,12) before their sums
    (the libm rule — ln and exp get one rounded application each).

    Scale: one (source, lang) hash agg — schema-bounded — then
    source-keyed term sums; fact cost is the single count scan."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    tot = counts.groupBy("source").agg(F.sum("n").alias("t"))
    p = F.col("n").cast("double") / F.col("t")
    terms = counts.join(F.broadcast(tot), "source").select(
        "source",
        (p * F.log(p)).cast("decimal(18,12)").alias("plogp"),
        (p * p).cast("decimal(18,12)").alias("p2"),
    )
    return terms.groupBy("source").agg(
        F.count("*").cast("long").alias("hill_q0"),
        F.round(F.exp(-F.sum("plogp").cast("double")), 6)
        .alias("hill_q1"),
        F.round(F.lit(1.0) / F.sum("p2").cast("double"), 6)
        .alias("hill_q2"),
    )


# --- hyperloglog registers ---------------------------------------------------
HLL_M = 64   # registers (b = 6 index bits); alpha_64 = 0.709
HLL_WBITS = 46  # rank source: the 52-bit md5 hash minus 6 index bits

_HLL_H = ("CAST(('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)),"
          " 1, 13)) AS BIGINT)")


@query(
    "agg_hll_registers",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT user_id, {_HLL_H} AS hv FROM events),
    rr AS (
      SELECT hv % {HLL_M} AS idx,
             CASE WHEN hv // {HLL_M} = 0 THEN {HLL_WBITS + 1}
                  ELSE {HLL_WBITS + 1} - length(bin(hv // {HLL_M}))
             END AS rank
      FROM h),
    regs AS (
      SELECT idx, MAX(rank) AS reg FROM rr GROUP BY idx),
    mx AS (SELECT MAX(reg) AS mxr FROM regs),
    s AS (
      SELECT SUM(CAST(1 AS BIGINT) << ((SELECT mxr FROM mx) - reg)) AS ssum
      FROM regs),
    est AS (
      SELECT CAST(FLOOR(709.0 * {HLL_M} * {HLL_M}
                        * (CAST(1 AS BIGINT) << (SELECT mxr FROM mx))
                        / (SELECT ssum FROM s)) AS BIGINT) AS est_milli),
    truth AS (SELECT COUNT(DISTINCT user_id) AS true_n FROM events)
    SELECT r.idx, CAST(r.reg AS BIGINT) AS reg,
           (SELECT CAST(mxr AS BIGINT) FROM mx) AS max_rank,
           (SELECT CAST(ssum AS BIGINT) FROM s) AS harmonic_scaled,
           (SELECT est_milli FROM est) AS est_milli,
           (SELECT CAST(true_n AS BIGINT) FROM truth) AS true_n
    FROM regs r
    """,
)
def agg_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYPERLOGLOG, built and queried relationally — the sketch behind
    every approx_count_distinct: each key's 52-bit md5 splits into a
    {HLL_M}-way register index (low 6 bits) and a {HLL_WBITS}-bit
    suffix whose LEADING-ZERO RANK (computed as {HLL_WBITS + 1} -
    bitlength, pure integer via bin()) feeds a per-register MAX.  The
    raw estimate alpha*m^2 / sum(2^-reg) releases through the
    INTEGER-SCALED harmonic sum — sum(2^(max_reg - reg)) as exact
    BIGINTs (never a float 2^-k accumulation, whose rounding order
    engines disagree on) — with one identical double division at the
    end.  Released: all {HLL_M} registers plus (max_rank, scaled
    harmonic sum, estimate in milli, exact truth), so the sketch
    state AND its error are both oracle-certified.

    Documented divergences from shipping HLL: no small-range linear
    counting and no bias table (both are CASE branches over the same
    registers — the ln they need is banned from released values;
    Spark's own approx_count_distinct is the production twin).
    Scale: one distinct-key pass (map-side partial), a {HLL_M}-row
    agg, and constant-folded arithmetic — the {HLL_M} ints of state
    absorb any corpus, which is what a cardinality sketch buys at
    100 TB; registers merge by MAX, so shards union for free."""
    e = table(spark, sf_dir, "events")
    h = e.select("user_id").distinct().select(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("hll|"),
                               F.col("user_id").cast("string"))), 1, 13),
            16, 10,
        ).cast("long").alias("hv")
    )
    rr = h.select(
        (F.col("hv") % HLL_M).alias("idx"),
        F.when(F.expr(f"hv DIV {HLL_M}") == 0, F.lit(HLL_WBITS + 1))
        .otherwise(
            F.lit(HLL_WBITS + 1)
            - F.length(F.expr(f"bin(hv DIV {HLL_M})"))
        ).alias("rank"),
    )
    regs = rr.groupBy("idx").agg(F.max("rank").alias("reg"))
    mx = regs.agg(F.max("reg").alias("mxr"))
    s = (
        regs.crossJoin(F.broadcast(mx))
        .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), mxr - reg)"))
             .alias("ssum"),
             F.max("mxr").alias("mxr"))
    )
    est = s.select(
        "mxr", "ssum",
        F.expr(f"CAST(FLOOR(709.0 * {HLL_M} * {HLL_M}"
               " * shiftleft(CAST(1 AS BIGINT), mxr) / ssum) AS BIGINT)")
        .alias("est_milli"),
    )
    truth = e.agg(F.countDistinct("user_id").alias("true_n"))
    return (
        regs.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(truth))
        .select(
            "idx", F.col("reg").cast("long").alias("reg"),
            F.col("mxr").cast("long").alias("max_rank"),
            F.col("ssum").cast("long").alias("harmonic_scaled"),
            "est_milli",
            F.col("true_n").cast("long").alias("true_n"),
        )
    )
