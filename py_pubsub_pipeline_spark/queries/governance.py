"""Corpus governance & retrieval-serving breadth (round-9 wave).

Ten operators a 100 TB training-corpus platform needs around the
round-8 RAG/curation stack — binary-quantized ANN, multi-view rank
fusion, context near-dup pruning, centroid routing, temperature
mixing, epoch/repeat scheduling, partition compaction planning,
neighbor-Jaccard link prediction, MRR eval, and dedup survivorship
accounting.  Same contract as every registry key: a Spark-first plan
plus a DuckDB oracle twin, deterministic (integer units / DECIMAL
per-term quantization) so the driver's value hash can never flake.

Reference parity note: the reference repo is a Pub/Sub transport shim
(pubsub_pipeline.py:1-243) with no relational surface — these ops
extend SURVEY.md §2C's LLM-pipeline inventory, not §2A/§2B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.graphs import SQL_COPURCHASE_CTES, copurchase_edges
from ..registry import query
from ..tables import table
from .rag import _SQL_COS, _cos_micro, _probe_pool

_SQL_COS_MICRO = "FLOOR((" + _SQL_COS + ") * 1e6 + 0.5)"

# --- binary-quantized ANN -------------------------------------------------
BQ_QUERIES = 10  # probe queries (vec_id < 10, the MMR probe set)
BQ_K = 5         # Hamming neighbors kept per query


@query(
    "emb_binary_quantize",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, dim.i - 1 AS d, CAST(e[dim.i] AS DOUBLE) AS x
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings)
      CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS i) dim),
    m AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN d < 32 AND x >= 0
                           THEN (CAST(1 AS BIGINT) << d) ELSE 0 END)
                  AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN d >= 32 AND x >= 0
                           THEN (CAST(1 AS BIGINT) << (d - 32)) ELSE 0 END)
                  AS BIGINT) AS hi
      FROM ex GROUP BY vec_id),
    q AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
          FROM m WHERE vec_id < {BQ_QUERIES})
    SELECT query_id, vec_id, hamming, rnk FROM (
      SELECT q.query_id, m.vec_id,
             CAST(bit_count(xor(m.lo, q.qlo))
                  + bit_count(xor(m.hi, q.qhi)) AS BIGINT) AS hamming,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY bit_count(xor(m.lo, q.qlo))
                        + bit_count(xor(m.hi, q.qhi)), m.vec_id) AS rnk
      FROM q JOIN m ON m.vec_id <> q.query_id)
    WHERE rnk <= {BQ_K}
    """,
)
def emb_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quantization + Hamming-distance ANN: each 64-dim vector
    collapses to its sign bitmask packed into two BIGINT halves (32
    bits each — both engines' left shift stays in range), and every
    probe query retrieves its top-{BQ_K} neighbors by Hamming
    distance = popcount(xor) over the packed masks.  This is the
    32x-compression retrieval tier every 100 TB vector store runs in
    front of full-precision rescoring (binary pre-filter -> float
    re-rank): 8 bytes/vector instead of 256, and the distance is two
    XOR+POPCNT ops, no floating point at all.

    Scale: packing is ONE hash agg over the posexploded dims (the
    emb_drift_centroid fan-out) — the corpus shuffles 16-byte masks,
    never vectors; the probe scan is the broadcast-probe shape
    (queries x corpus streaming, WindowGroupLimit pre-cut at k).
    Output is all-integer (Hamming, rank) — bit-identical on any
    engine by construction, no quantization contract needed."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    ex = e.select("vec_id", F.posexplode("e").alias("d", "x"))
    m = ex.groupBy("vec_id").agg(
        F.sum(
            F.when(
                (F.col("d") < 32) & (F.col("x") >= 0),
                F.expr("SHIFTLEFT(CAST(1 AS BIGINT), d)"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("lo"),
        F.sum(
            F.when(
                (F.col("d") >= 32) & (F.col("x") >= 0),
                F.expr("SHIFTLEFT(CAST(1 AS BIGINT), d - 32)"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("hi"),
    )
    q = m.filter(F.col("vec_id") < BQ_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    ham = (
        F.bit_count(F.expr("lo ^ qlo")) + F.bit_count(F.expr("hi ^ qhi"))
    ).cast("long")
    w = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    return (
        m.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", ham.alias("hamming"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BQ_K)
    )


# --- multi-view rank fusion ------------------------------------------------
FUS_QUERIES = 10  # probe queries
FUS_POOL = 20     # per-view retrieval depth
FUS_DIM = 16      # truncated matryoshka view width
FUS_RRF = 60      # RRF smoothing constant (the standard k=60)
FUS_K = 10        # fused list depth


def _sql_fusion_pool(vec_expr: str, k: int) -> str:
    cos = _SQL_COS_MICRO.format(a=f"q.{vec_expr}", b=f"c.{vec_expr}")
    return f"""
      SELECT query_id, vec_id, rnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {cos} DESC, c.vec_id) AS rnk
        FROM q JOIN b c ON q.vec_id <> c.vec_id)
      WHERE rnk <= {k}"""


@query(
    "rag_fusion_multiquery",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ef,
             (CAST(embedding AS DOUBLE[]))[1:{FUS_DIM}] AS et
      FROM embeddings),
    q AS (SELECT * FROM b WHERE vec_id < {FUS_QUERIES}),
    p1 AS MATERIALIZED ({_sql_fusion_pool("ef", FUS_POOL)}),
    p2 AS MATERIALIZED ({_sql_fusion_pool("et", FUS_POOL)}),
    fused AS (
      SELECT COALESCE(p1.query_id, p2.query_id) AS query_id,
             COALESCE(p1.vec_id, p2.vec_id) AS vec_id,
             COALESCE(1000000 // ({FUS_RRF} + p1.rnk), 0)
               + COALESCE(1000000 // ({FUS_RRF} + p2.rnk), 0) AS score
      FROM p1
      FULL JOIN p2 ON p2.query_id = p1.query_id
                  AND p2.vec_id = p1.vec_id)
    SELECT query_id, vec_id, CAST(score AS BIGINT) AS rrf_score,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, vec_id) AS fused_rank
      FROM fused)
    WHERE fused_rank <= {FUS_K}
    """,
)
def rag_fusion_multiquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion across retrieval views: each probe
    query retrieves a top-{FUS_POOL} list under the FULL 64-dim
    cosine AND under the {FUS_DIM}-dim matryoshka truncation, and the
    two lists fuse by RRF (score = sum of 1e6//({FUS_RRF}+rank),
    integer units) into one top-{FUS_K} — the standard recipe for
    combining a cheap first-pass view with an expensive one (or BM25
    with dense retrieval; rank_fusion_rrf fuses LEXICAL lists, this
    op fuses EMBEDDING views through the shared pool kernel).

    Scale: both views are the broadcast-probe pool shape
    (_probe_pool, WindowGroupLimit pre-cut) — two streaming corpus
    scans, no self-join; fusion is a full-outer join of two
    queries x {FUS_POOL} bounded lists.  RRF scores are integer
    divisions applied identically on both engines, so ordering can
    never diverge; ties break on vec_id."""
    p1 = _probe_pool(spark, sf_dir, FUS_QUERIES, FUS_POOL)
    p2 = _probe_pool(spark, sf_dir, FUS_QUERIES, FUS_POOL, dims=FUS_DIM)
    c1 = p1.select(
        "query_id", "vec_id",
        F.expr(f"1000000 DIV ({FUS_RRF} + rnk)").alias("s1"),
    )
    c2 = p2.select(
        "query_id", "vec_id",
        F.expr(f"1000000 DIV ({FUS_RRF} + rnk)").alias("s2"),
    )
    fused = c1.join(c2, ["query_id", "vec_id"], "full").select(
        "query_id", "vec_id",
        (F.coalesce(F.col("s1"), F.lit(0))
         + F.coalesce(F.col("s2"), F.lit(0))).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                               "vec_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= FUS_K)
        .select(
            "query_id", "vec_id",
            F.col("score").cast("long").alias("rrf_score"),
            F.col("fused_rank").cast("long").alias("fused_rank"),
        )
    )


# --- context near-dup pruning ----------------------------------------------
DCX_QUERIES = 10
DCX_POOL = 10
DCX_TAU = 350000  # cosine >= 0.35 (micro) => redundant context


@query(
    "rag_dedup_context",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT * FROM b WHERE vec_id < {DCX_QUERIES}),
    pool AS MATERIALIZED (
      SELECT query_id, vec_id, rnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_SQL_COS_MICRO.format(a="q.e", b="c.e")} DESC,
                          c.vec_id) AS rnk
        FROM q JOIN b c ON q.vec_id <> c.vec_id)
      WHERE rnk <= {DCX_POOL}),
    dup AS (
      SELECT DISTINCT pi.query_id, pi.vec_id
      FROM pool pi
      JOIN pool pj ON pj.query_id = pi.query_id AND pj.rnk < pi.rnk
      JOIN b x ON x.vec_id = pi.vec_id
      JOIN b y ON y.vec_id = pj.vec_id
      WHERE {_SQL_COS_MICRO.format(a="x.e", b="y.e")} >= {DCX_TAU})
    SELECT pool.query_id, pool.vec_id, CAST(pool.rnk AS BIGINT) AS rnk,
           dup.vec_id IS NOT NULL AS is_dup
    FROM pool LEFT JOIN dup USING (query_id, vec_id)
    """,
)
def rag_dedup_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result-list near-dup pruning: within each probe query's
    top-{DCX_POOL} retrieval pool, a passage is flagged redundant if
    ANY earlier-ranked pool member sits at cosine >= {DCX_TAU / 1e6}
    — the keep-the-first-seen rule applied to the SERVING list
    (dedup_semantic_prune cleans the corpus offline; sim_mmr_rerank
    re-scores; this op is the cheap boolean filter between them that
    most production RAG stacks actually run).

    Scale: the pool is the shared broadcast-probe kernel; the
    pairwise check is pool x pool per query ({DCX_POOL}^2 bounded
    rows) joined back to vectors by id — the corpus is touched once
    by the pool scan and once by two id-equi-joins on the bounded
    pool ids.  Verdicts are set-membership over floor-quantized
    micro-cosines: exact on both engines."""
    pool = _probe_pool(spark, sf_dir, DCX_QUERIES, DCX_POOL).select(
        "query_id", "vec_id", "rnk"
    )
    b = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    pi = pool.select("query_id", "vec_id", "rnk")
    pj = pool.select(
        "query_id",
        F.col("vec_id").alias("jid"),
        F.col("rnk").alias("jrnk"),
    )
    x = b.select(F.col("vec_id"), F.col("e").alias("xe"))
    y = b.select(F.col("vec_id").alias("jid"), F.col("e").alias("ye"))
    dup = (
        pi.join(pj, "query_id")
        .filter(F.col("jrnk") < F.col("rnk"))
        .join(x, "vec_id")
        .join(y, "jid")
        .filter(_cos_micro("xe", "ye") >= DCX_TAU)
        .select("query_id", "vec_id")
        .distinct()
        .withColumn("d", F.lit(True))
    )
    return pool.join(dup, ["query_id", "vec_id"], "left").select(
        "query_id", "vec_id",
        F.col("rnk").cast("long").alias("rnk"),
        F.coalesce(F.col("d"), F.lit(False)).alias("is_dup"),
    )


# --- centroid routing --------------------------------------------------
RTE_QUERIES = 10


@query(
    "rag_router_centroid",
    oracle=f"""
    WITH dim AS (SELECT UNNEST(generate_series(1, 64)) AS i),
    ex AS (
      SELECT label, dim.i - 1 AS d, CAST(e[dim.i] AS DOUBLE) AS x
      FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings)
      CROSS JOIN dim),
    per AS (
      SELECT label, d, SUM(CAST(x AS DECIMAL(28,12))) AS s
      FROM ex GROUP BY label, d),
    nl AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
    cent AS (
      SELECT per.label, per.d,
             CAST(CAST(per.s AS VARCHAR) AS DOUBLE) / nl.n AS cd
      FROM per JOIN nl USING (label)),
    cnorm AS (
      SELECT label,
             CAST(CAST(SUM(CAST(cd * cd AS DECIMAL(28,12))) AS VARCHAR)
                  AS DOUBLE) AS cc
      FROM cent GROUP BY label),
    qx AS (
      SELECT vec_id AS query_id, dim.i - 1 AS d,
             CAST(e[dim.i] AS DOUBLE) AS x
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id < {RTE_QUERIES})
      CROSS JOIN dim),
    qn AS (
      SELECT query_id,
             CAST(CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS VARCHAR)
                  AS DOUBLE) AS qq
      FROM qx GROUP BY query_id),
    dots AS (
      SELECT qx.query_id, cent.label,
             CAST(CAST(SUM(CAST(qx.x * cent.cd AS DECIMAL(28,12)))
                       AS VARCHAR) AS DOUBLE) AS dp
      FROM qx JOIN cent ON cent.d = qx.d
      GROUP BY qx.query_id, cent.label),
    scored AS (
      SELECT dots.query_id, dots.label,
             CAST(FLOOR(dots.dp / (SQRT(qn.qq) * SQRT(cnorm.cc))
                        * 1e6 + 0.5) AS BIGINT) AS cos_micro
      FROM dots JOIN qn USING (query_id) JOIN cnorm USING (label))
    SELECT query_id, label AS routed_label, cos_micro FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_micro DESC, label) AS rn
      FROM scored)
    WHERE rn = 1
    """,
)
def rag_router_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query routing by centroid similarity: each probe query routes
    to the label (= shard/collection) whose embedding CENTROID it is
    most cosine-similar to — the first stage of every multi-index RAG
    deployment (route the query to 1 of N domain indexes instead of
    fanning out to all), and the serving twin of sim_ivf's coarse
    quantizer.

    Scale: centroids come from the (label, dim) partial-agg shuffle
    (emb_drift_centroid's shape — labels x 64 DECIMAL partial sums,
    vectors never shuffle whole); each query then scores against the
    BROADCAST centroid table (queries x labels x 64 bounded rows).
    Per-dimension products quantize through DECIMAL(28,12) before the
    cross-row sum, so both engines fold the dot product to the same
    double; the final cosine floor-quantizes micro with a label
    tie-break."""
    e = table(spark, sf_dir, "embeddings").select(
        "label", "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    ex = e.select("label", F.posexplode("e").alias("d", "x"))
    per = ex.groupBy("label", "d").agg(
        F.sum(F.col("x").cast("decimal(28,12)")).alias("s")
    )
    nl = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    cent = per.join(F.broadcast(nl), "label").select(
        "label", "d",
        (F.col("s").cast("double") / F.col("n")).alias("cd"),
    )
    cnorm = cent.groupBy("label").agg(
        F.sum((F.col("cd") * F.col("cd")).cast("decimal(28,12)"))
        .cast("double").alias("cc")
    )
    qx = e.filter(F.col("vec_id") < RTE_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.posexplode("e").alias("d", "x"),
    )
    qn = qx.groupBy("query_id").agg(
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)"))
        .cast("double").alias("qq")
    )
    dots = (
        qx.join(F.broadcast(cent), "d")
        .groupBy("query_id", "label")
        .agg(
            F.sum((F.col("x") * F.col("cd")).cast("decimal(28,12)"))
            .cast("double").alias("dp")
        )
    )
    scored = (
        dots.join(F.broadcast(qn), "query_id")
        .join(F.broadcast(cnorm), "label")
        .select(
            "query_id", "label",
            F.floor(
                F.col("dp") / (F.sqrt(F.col("qq")) * F.sqrt(F.col("cc")))
                * 1e6 + F.lit(0.5)
            ).cast("long").alias("cos_micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_micro").desc(), "label"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("routed_label"),
                "cos_micro")
    )


# --- temperature mixing / epoch scheduling --------------------------------
_SQL_TOK = "SUM(n_chars // 4 + 1)"


@query(
    "mix_temperature_sampling",
    oracle=f"""
    WITH s AS (
      SELECT source, CAST({_SQL_TOK} AS BIGINT) AS tok
      FROM documents GROUP BY source),
    t AS (SELECT SUM(tok) AS tot FROM s),
    w AS (
      SELECT source, tok,
             tok * 1000 // (SELECT tot FROM t) AS p_milli,
             CAST(FLOOR(SQRT(CAST(tok * 1000000000
                                  // (SELECT tot FROM t) AS DOUBLE)
                             * 1e9)) AS BIGINT) AS s9
      FROM s)
    SELECT source, tok, CAST(p_milli AS BIGINT) AS p_milli,
           CAST(s9 * 1000 // (SELECT SUM(s9) FROM w) AS BIGINT) AS w_milli
    FROM w
    """,
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened sampling weights (alpha = 0.5): each
    source's raw token share p is replaced by w proportional to
    sqrt(p) — the standard multilingual/multi-domain rebalancing that
    keeps head domains from drowning the tail without inverting the
    order (mix_domain_weights caps, mix_water_filling fills; this is
    the smooth-exponent third member every mixture ablation sweeps).

    Determinism: p is an exact integer parts-per-billion share;
    sqrt runs on the SAME integer-derived double on both engines
    (IEEE-correctly-rounded, single op — the registry's libm rule
    needs quantization only for cross-row SUMS of libm terms), and
    its FLOOR lands back in integer nano-units, so the final
    normalization is pure integer division.  Scale: one hash agg
    over documents into a source-cardinality table; everything after
    is schema-bounded (scalar-subquery totals, the water_filling
    posture)."""
    s = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.expr("SUM(n_chars DIV 4 + 1)").cast("long").alias("tok"))
    )
    tot = s.agg(F.sum("tok").alias("tot"))
    w = s.crossJoin(F.broadcast(tot)).select(
        "source", "tok",
        F.expr("tok * 1000 DIV tot").cast("long").alias("p_milli"),
        F.floor(
            F.sqrt(F.expr("CAST(tok * 1000000000 DIV tot AS DOUBLE)")
                   * F.lit(1e9))
        ).cast("long").alias("s9"),
    )
    stot = w.agg(F.sum("s9").alias("stot"))
    return w.crossJoin(F.broadcast(stot)).select(
        "source", "tok", "p_milli",
        F.expr("s9 * 1000 DIV stot").cast("long").alias("w_milli"),
    )


EPO_MAX = 4        # max epochs/repeats per source (data-constrained cap)
EPO_BUDGET_X = 2   # training budget = 2x the unique corpus


@query(
    "mix_epoch_schedule",
    oracle=f"""
    WITH s AS (
      SELECT source, CAST({_SQL_TOK} AS BIGINT) AS tok
      FROM documents GROUP BY source),
    t AS (SELECT SUM(tok) AS tot, COUNT(*) AS n_src FROM s),
    a AS (
      SELECT source, tok,
             (SELECT tot * {EPO_BUDGET_X} // n_src FROM t) AS alloc
      FROM s),
    e AS (
      SELECT source, tok, alloc,
             LEAST(alloc, tok * {EPO_MAX}) AS eff_tokens
      FROM a)
    SELECT source, tok, CAST(alloc AS BIGINT) AS alloc,
           CAST(eff_tokens AS BIGINT) AS eff_tokens,
           CAST((eff_tokens + tok - 1) // tok AS BIGINT) AS repeats,
           CAST(eff_tokens * 1000 // alloc AS BIGINT) AS util_milli
    FROM e
    """,
)
def mix_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch/repeat scheduling under a token budget: with a training
    budget of {EPO_BUDGET_X}x the unique corpus split evenly across
    sources, each source serves min(allocation, {EPO_MAX} epochs of
    its unique tokens) — the data-constrained-scaling rule (repeat
    small domains up to a cap, never beyond the point where repeats
    stop helping) that turns mixing WEIGHTS into an executable
    per-source epoch plan.  `repeats` is the ceil-epochs the loader
    must cycle; `util_milli` exposes which sources cannot fill their
    allocation even at the cap (the signal to re-water-fill).

    Scale: one hash agg to the source-cardinality table, integer
    arithmetic after (ceil via (a+b-1) DIV b — no floats anywhere);
    the budget scalar folds from a one-row aggregate on both
    engines."""
    s = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.expr("SUM(n_chars DIV 4 + 1)").cast("long").alias("tok"))
    )
    t = s.agg(
        F.sum("tok").alias("tot"), F.count(F.lit(1)).alias("n_src")
    )
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source", "tok",
            F.expr(f"tot * {EPO_BUDGET_X} DIV n_src").cast("long")
            .alias("alloc"),
        )
        .select(
            "source", "tok", "alloc",
            F.least(F.col("alloc"), F.col("tok") * EPO_MAX).cast("long")
            .alias("eff_tokens"),
        )
        .select(
            "source", "tok", "alloc", "eff_tokens",
            F.expr("(eff_tokens + tok - 1) DIV tok").cast("long")
            .alias("repeats"),
            F.expr("eff_tokens * 1000 DIV alloc").cast("long")
            .alias("util_milli"),
        )
    )


# --- partition compaction planning -----------------------------------------
CMP_FILES = 8  # target output file count for the compaction plan


@query(
    "layout_compaction_plan",
    oracle=f"""
    WITH p AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) * 100
                  + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS ym,
             COUNT(*) AS n_rows
      FROM orders GROUP BY 1),
    t AS (SELECT SUM(n_rows) AS tot FROM p),
    c AS (
      SELECT ym, n_rows,
             SUM(n_rows) OVER (ORDER BY ym
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_rows
      FROM p)
    SELECT ym, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(cum_rows AS BIGINT) AS cum_rows,
           CAST((cum_rows - 1)
                // ((SELECT tot FROM t) // {CMP_FILES} + 1)
                AS BIGINT) AS file_bin
    FROM c
    """,
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planning: month partitions of the orders table are
    greedily packed (in key order, by cumulative row count) into
    ~{CMP_FILES} equal output bins — the planning step behind every
    OPTIMIZE/small-file-compaction job: decide which adjacent
    partitions coalesce into which output file BEFORE moving a byte.
    Bin id = (cum-1) DIV ceil(total/{CMP_FILES}) keeps bins contiguous
    in key order (rewritten files stay range-prunable) and the rule
    is pure integer arithmetic, identical on both engines.

    Scale: partition stats are one hash agg (at 100 TB they come
    free from the table manifest); the cumulative sum runs on the
    PARTITION-cardinality table — an unpartitioned window over
    schema-bounded rows (months), the fn_calendar_spine contract,
    never over facts.  Layout-invariant output (scan_file_lineage's
    lesson): logical partitions, not physical file names, so the
    oracle holds on a one-file corpus and a hundred-file one."""
    p = (
        table(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long").alias("ym")
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    t = p.agg(F.sum("n_rows").alias("tot"))
    w = Window.orderBy("ym").rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)
    return (
        p.withColumn("cum_rows", F.sum("n_rows").over(w))
        .crossJoin(F.broadcast(t))
        .select(
            "ym",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("cum_rows").cast("long").alias("cum_rows"),
            F.expr(f"(cum_rows - 1) DIV (tot DIV {CMP_FILES} + 1)")
            .cast("long").alias("file_bin"),
        )
    )


# --- neighbor-Jaccard link prediction ---------------------------------------
JLP_TOPK = 20


@query(
    "graph_jaccard_linkpred",
    oracle=f"""
    WITH {SQL_COPURCHASE_CTES}, deg AS MATERIALIZED (
      SELECT u AS z, COUNT(*) AS d FROM e GROUP BY u
    ), wedge AS (
      SELECT e1.u AS u, e2.v AS v
      FROM e e1 JOIN e e2 ON e2.u = e1.v
      WHERE e1.u < e2.v
    ), cand AS (
      SELECT w.u, w.v, COUNT(*) AS n_common
      FROM wedge w
      LEFT JOIN e ON e.u = w.u AND e.v = w.v
      WHERE e.u IS NULL
      GROUP BY w.u, w.v
    )
    SELECT u, v, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common * 1000 // (du.d + dv.d - n_common) AS BIGINT)
             AS jaccard_milli
    FROM cand
    JOIN deg du ON du.z = cand.u
    JOIN deg dv ON dv.z = cand.v
    ORDER BY jaccard_milli DESC, u, v
    LIMIT {JLP_TOPK}
    """,
)
def graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard: for non-adjacent part
    pairs in the co-purchase graph, |N(u) ∩ N(v)| / |N(u) ∪ N(v)| —
    the set-overlap complement to graph_adamic_adar's
    promiscuity-discounted score (AA rewards RARE shared neighbors;
    Jaccard rewards PROPORTIONALLY shared neighborhoods — recommender
    candidate generators run both and blend).

    Scale: identical physical shape to graph_adamic_adar — wedges by
    the midpoint self-join (cap hub degrees first at 100 TB, the
    df-cap posture), an anti join drops existing edges, degrees
    broadcast against both endpoints, TakeOrdered for the top-k.
    The score is EXACT INTEGER milli-Jaccard (n*1000 DIV union) —
    no DECIMAL quantization needed at all, unlike AA's 1/ln terms."""
    e = copurchase_edges(spark, sf_dir)
    deg = e.groupBy("u").agg(F.count("*").alias("d")).withColumnRenamed(
        "u", "z")
    e1 = e.select(F.col("u"), F.col("v").alias("z"))
    e2 = e.select(F.col("u").alias("z"), F.col("v"))
    wedge = e1.join(e2, "z").filter(F.col("u") < F.col("v"))
    cand = (
        wedge.join(
            e.withColumnRenamed("u", "eu").withColumnRenamed("v", "ev"),
            (F.col("u") == F.col("eu")) & (F.col("v") == F.col("ev")),
            "left_anti",
        )
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_common"))
    )
    du = deg.select(F.col("z").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("z").alias("v"), F.col("d").alias("dv"))
    return (
        cand.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u", "v",
            F.col("n_common").cast("long").alias("n_common"),
            F.expr("n_common * 1000 DIV (du + dv - n_common)")
            .cast("long").alias("jaccard_milli"),
        )
        .orderBy(F.col("jaccard_milli").desc(), "u", "v")
        .limit(JLP_TOPK)
    )


# --- MRR eval ---------------------------------------------------------------
MRR_EV_QUERIES = 50  # the sim_topk probe set
MRR_EV_K = 10        # cutoff


@query(
    "ml_mrr_at_k",
    oracle=f"""
    WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
               FROM embeddings),
    q AS (SELECT * FROM b WHERE vec_id < {MRR_EV_QUERIES}),
    top AS MATERIALIZED (
      SELECT qid, rnk, hit FROM (
        SELECT q.vec_id AS qid,
               CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS hit,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_SQL_COS_MICRO.format(a="q.e", b="c.e")} DESC,
                          c.vec_id) AS rnk
        FROM q JOIN b c ON q.vec_id <> c.vec_id)
      WHERE rnk <= {MRR_EV_K}),
    first AS (
      SELECT qid, MIN(rnk) AS fr FROM top WHERE hit = 1 GROUP BY qid)
    SELECT CAST({MRR_EV_QUERIES} AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_with_hit,
           CAST(SUM(1000000 // fr) // {MRR_EV_QUERIES} AS BIGINT)
             AS mean_rr_micro
    FROM first
    """,
)
def ml_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank at {MRR_EV_K}: over the probe query set,
    the rank of the FIRST same-label neighbor in cosine order, scored
    1e6/rank (0 when no hit lands inside the cutoff) and averaged —
    the single-number eval for "does the right passage show up near
    the top", completing the retrieval-eval trio (ml_recall_at_k
    measures coverage, ml_ndcg graded order, MRR first-hit latency).

    Scale: the same broadcast-probe + WindowGroupLimit shape as
    ml_recall_at_k, then a min/agg over queries x {MRR_EV_K} bounded
    rows to a ONE-ROW output.  All integer micro-units with
    DIV — both engines agree exactly."""
    base = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        "label",
    )
    q = base.filter(F.col("vec_id") < MRR_EV_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    c = base.select("vec_id", F.col("e").alias("ce"), "label")
    w = Window.partitionBy("qid").orderBy(
        F.col("rel_micro").desc(), "vec_id"
    )
    top = (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (F.col("label") == F.col("qlabel")).cast("int").alias("hit"),
            _cos_micro("qe", "ce").alias("rel_micro"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= MRR_EV_K)
    )
    first = (
        top.filter(F.col("hit") == 1)
        .groupBy("qid")
        .agg(F.min("rnk").alias("fr"))
    )
    return first.agg(
        F.lit(MRR_EV_QUERIES).cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_with_hit"),
        F.expr(f"SUM(1000000 DIV fr) DIV {MRR_EV_QUERIES}")
        .cast("long").alias("mean_rr_micro"),
    )


# --- dedup survivorship accounting ------------------------------------------
@query(
    "dedup_survivorship_tokens",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, n_chars // 4 + 1 AS tok, md5(text) AS h
      FROM documents),
    f AS (
      SELECT source, tok,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM d)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dups,
           CAST(SUM(tok) AS BIGINT) AS tok_total,
           CAST(SUM(CASE WHEN rn = 1 THEN tok ELSE 0 END) AS BIGINT)
             AS tok_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN tok ELSE 0 END) * 1000
                // SUM(tok) AS BIGINT) AS retention_milli
    FROM f GROUP BY source
    """,
)
def dedup_survivorship_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship ledger: per source, how many documents and
    TOKENS survive exact deduplication (keep the lowest doc_id per
    md5(text) cluster, the dedup_exact rule) — the accounting row
    every curation run publishes next to its mixing weights, because
    a source that is 40% duplicates contributes far fewer EFFECTIVE
    tokens than its raw size claims (mix_overlap_discounted handles
    the cross-source version; this is the per-source bill).

    Scale: one md5 per document (map-side), a rank window partitioned
    by the HASH (clusters co-shard by construction — millions of
    tiny partitions, the scalable window case), then one hash agg to
    source cardinality.  All integer; token estimate is the shared
    chars/4+1 rule."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.expr("n_chars DIV 4 + 1").alias("tok"),
        F.md5("text").alias("h"),
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    f = d.withColumn("rn", F.row_number().over(w))
    return f.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("rn") > 1).cast("int")).cast("long").alias("n_dups"),
        F.sum("tok").cast("long").alias("tok_total"),
        F.sum(F.when(F.col("rn") == 1, F.col("tok")).otherwise(0))
        .cast("long").alias("tok_kept"),
        F.expr(
            "SUM(CASE WHEN rn = 1 THEN tok ELSE 0 END) * 1000 "
            "DIV SUM(tok)"
        ).cast("long").alias("retention_milli"),
    )
