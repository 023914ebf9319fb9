"""RAG-era corpus-construction operators (round 8): retrieval
chunking, embedding-quality audits, curriculum/budget mixing,
differential-privacy release, calibration, and weighted sampling.

These extend the training-data surface (training.py / curation.py)
with the operations a retrieval-augmented / multi-stage training
pipeline runs between "curated documents" and "served index":
overlap-chunk the corpus for retrieval, audit what dimension
truncation costs recall (matryoshka), audit embedding drift by
label slice, order the corpus into a curriculum, allocate a token
budget across domains under a repetition cap (water-filling),
release counts under differential privacy, check probability
calibration, and draw a weight-proportional sample with
Horvitz-Thompson weights.

Determinism: integer/decimal arithmetic wherever a value crosses the
hash comparison; doubles only through identical expression trees on
both engines (IEEE ops are bit-deterministic; only libm calls and
accumulation order are not, and those quantize through DECIMAL per
the registry.py contract); every rank order ends in a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.blocking import (
    sql_adaptive_bits,
    sql_sign_prefix,
    spark_sign_prefix,
)
from ..functions.dp_noise import (
    spark_gaussian_e4,
    spark_gumbel_e4,
    spark_laplace,
    spark_laplace_e4,
    sql_gaussian_e4,
    sql_gumbel_e4,
    sql_laplace,
    sql_laplace_e4,
)
from ..functions.ckpt import checkpoint
from ..registry import query
from ..tables import table, widen_scan
from .dedup import _grams

# --- chunking -----------------------------------------------------------
CHUNK_W = 64   # tokens per retrieval chunk
CHUNK_S = 48   # stride (CHUNK_W - CHUNK_S = 16 tokens of overlap)

# --- matryoshka ---------------------------------------------------------
MRL_DIMS = 16  # truncated prefix dimensionality (of 64)
MRL_K = 10     # top-k whose recall is audited
MRL_QUERIES = 50  # vec_id < 50 are the probe queries (as sim_topk)

# --- water-filling ------------------------------------------------------
# Repetition caps by quality tier (epochs): md5-gated ~60% of sources
# stand in for the "curated" tier that tolerates more repetition; the
# rest are the "web" tier.  Tiered caps are what make the water level
# meaningful — a uniform cap on a near-uniform corpus either never or
# always binds.
WF_CAP_CURATED = 4
WF_CAP_WEB = 2
WF_TIER_GATE = "8"  # md5(source) first hex < '8' => curated
WF_BUDGET_MULT = 2  # token budget = 2x the corpus

# --- priority sampling --------------------------------------------------
PPS_K = 100  # sample size

# --- DP release ---------------------------------------------------------
DP_EPS = 1  # epsilon (sensitivity 1 for a count)


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    s AS (
      SELECT doc_id, w, len(w) AS n,
             UNNEST(generate_series(0, len(w) - 1, {CHUNK_S})) AS st
      FROM t)
    SELECT doc_id,
           CAST(st // {CHUNK_S} AS BIGINT) AS chunk_id,
           CAST(st AS BIGINT) AS start_tok,
           CAST(LEAST({CHUNK_W}, n - st) AS BIGINT) AS n_tok,
           md5(array_to_string(
             w[st + 1 : st + LEAST({CHUNK_W}, n - st)], ' ')) AS chunk_md5
    FROM s
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window retrieval chunking: each document becomes
    {CHUNK_W}-token chunks on a {CHUNK_S}-token stride (16 tokens of
    overlap), the layout a RAG indexer feeds the embedder.  Each chunk
    carries its start offset, true length (tail chunks are short), and
    an md5 of the chunk text so the hash pins exact token-boundary
    agreement.

    Scale: zero shuffle — tokenize, generate the start offsets with
    ``sequence``, explode, slice.  Fan-out is tokens/{CHUNK_S} per doc
    (~1.33 rows per {CHUNK_W} tokens), linear in corpus bytes and
    embarrassingly parallel; the chunk table partitions exactly like
    the documents scan that produced it."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    t = d.select("doc_id", w.alias("w"), F.size(w).alias("n"))
    s = t.select(
        "doc_id", "w", "n",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_S))
        ).alias("st"),
    )
    n_tok = F.least(F.lit(CHUNK_W), F.col("n") - F.col("st"))
    return s.select(
        "doc_id",
        (F.col("st").cast("long") / CHUNK_S).cast("long").alias("chunk_id"),
        F.col("st").cast("long").alias("start_tok"),
        n_tok.cast("long").alias("n_tok"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("w"), F.col("st") + 1, n_tok))
        ).alias("chunk_md5"),
    )


@query(
    "emb_drift_centroid",
    oracle="""
    WITH dim AS (SELECT UNNEST(generate_series(1, 64)) AS i),
    ex AS (
      SELECT label, dim.i - 1 AS d, CAST(e[dim.i] AS DOUBLE) AS x
      FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
      CROSS JOIN dim),
    per AS (
      SELECT label, d, SUM(CAST(x AS DECIMAL(28,12))) AS s
      FROM ex GROUP BY label, d),
    nl AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
    tot AS (SELECT COUNT(*) AS nn FROM embeddings),
    g AS (SELECT d, SUM(s) AS gs FROM per GROUP BY d),
    cg AS (
      SELECT per.label, per.d,
             CAST(CAST(per.s AS VARCHAR) AS DOUBLE) / nl.n AS cd,
             CAST(CAST(g.gs AS VARCHAR) AS DOUBLE) / tot.nn AS gd
      FROM per JOIN nl USING (label) JOIN g USING (d) CROSS JOIN tot),
    dots AS (
      SELECT label,
             CAST(CAST(SUM(CAST(cd * gd AS DECIMAL(28,12))) AS VARCHAR)
                  AS DOUBLE) AS dp,
             CAST(CAST(SUM(CAST(cd * cd AS DECIMAL(28,12))) AS VARCHAR)
                  AS DOUBLE) AS cc
      FROM cg GROUP BY label),
    gn AS (
      SELECT CAST(CAST(SUM(CAST(gd * gd AS DECIMAL(28,12))) AS VARCHAR)
                  AS DOUBLE) AS gg
      FROM (SELECT DISTINCT d, gd FROM cg))
    SELECT dots.label, nl.n,
           FLOOR(dots.dp / (SQRT(dots.cc) * SQRT(gn.gg)) * 1e6 + 0.5) / 1e6
             AS cos_to_global
    FROM dots JOIN nl USING (label) CROSS JOIN gn
    """,
)
def emb_drift_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding drift monitor: cosine similarity of each
    label's centroid to the global corpus centroid.  A label slice
    whose centroid swings away from the corpus (or all labels
    collapsing to cosine ~1, the anisotropy failure emb_norm_stats
    flags) is the first sign a re-embedded or newly ingested slice no
    longer lives in the same space — run before trusting any cross-
    slice sim_* verdict.

    Scale: one posexplode (64x fan-out, map-side) into a (label, dim)
    hash agg with map-side partials — the shuffle moves labels x 64
    partial sums, never vectors.  Everything after is schema-bounded:
    the global centroid is a 64-row broadcast, the cosine a per-label
    fold over 64 rows.  Per-dimension sums accumulate in
    DECIMAL(28,12) (order-independent), divisions and sqrt are single
    IEEE ops, and the final cosine rounds via the shared floor trick."""
    e = table(spark, sf_dir, "embeddings").select(
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    ex = e.select("label", F.posexplode("e").alias("d", "x"))
    per = ex.groupBy("label", "d").agg(
        F.sum(F.col("x").cast("decimal(28,12)")).alias("s")
    )
    nl = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    tot = e.agg(F.count(F.lit(1)).alias("nn"))
    g = per.groupBy("d").agg(F.sum("s").alias("gs"))
    cg = (
        per.join(F.broadcast(nl), "label")
        .join(F.broadcast(g), "d")
        .crossJoin(F.broadcast(tot))
        .select(
            "label",
            "d",
            (F.col("s").cast("double") / F.col("n")).alias("cd"),
            (F.col("gs").cast("double") / F.col("nn")).alias("gd"),
        )
    )
    dots = cg.groupBy("label").agg(
        F.sum((F.col("cd") * F.col("gd")).cast("decimal(28,12)"))
        .cast("double").alias("dp"),
        F.sum((F.col("cd") * F.col("cd")).cast("decimal(28,12)"))
        .cast("double").alias("cc"),
    )
    gn = (
        cg.select("d", "gd").distinct()
        .agg(
            F.sum((F.col("gd") * F.col("gd")).cast("decimal(28,12)"))
            .cast("double").alias("gg")
        )
    )
    return (
        dots.join(F.broadcast(nl), "label")
        .crossJoin(F.broadcast(gn))
        .select(
            "label",
            "n",
            (
                F.floor(
                    F.col("dp")
                    / (F.sqrt(F.col("cc")) * F.sqrt(F.col("gg")))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("cos_to_global"),
        )
    )


_SQL_COS = (
    "list_inner_product({a}, {b}) / "
    "(sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b})))"
)


def _mrl_rank_sql(vec: str) -> str:
    """Oracle CTE body: per-query top-{MRL_K} by cosine on `vec`."""
    cos = _SQL_COS.format(a=f"q.{vec}", b=f"c.{vec}")
    return f"""
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY FLOOR(({cos}) * 1e6 + 0.5) DESC, c.vec_id) AS rnk
        FROM q JOIN c ON q.vec_id <> c.vec_id)
      WHERE rnk <= {MRL_K}"""


@query(
    "emb_matryoshka_eval",
    oracle=f"""
    WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ef,
                      CAST(embedding AS DOUBLE[])[1:{MRL_DIMS}] AS et
               FROM embeddings),
    q AS (SELECT * FROM b WHERE vec_id < {MRL_QUERIES}),
    c AS (SELECT * FROM b),
    topf AS ({_mrl_rank_sql('ef')}),
    topt AS ({_mrl_rank_sql('et')})
    SELECT topf.query_id,
           CAST(COUNT(topt.neighbor_id) AS BIGINT) AS n_common,
           CAST(COUNT(topt.neighbor_id) * 100 / {MRL_K} AS BIGINT)
             AS recall_pct
    FROM topf LEFT JOIN topt USING (query_id, neighbor_id)
    GROUP BY topf.query_id
    """,
)
def emb_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: for each probe query, exact
    top-{MRL_K} cosine neighbors using the FULL 64-dim embedding vs
    using only the first {MRL_DIMS} dims, and the per-query recall of
    the truncated index against the full one.  This is the
    measurement behind every "truncate MRL embeddings to cut the
    vector index 4x" decision — it prices the recall loss before the
    index is rebuilt.

    Scale: both rankings pre-reduce per (query, candidate-block) —
    block-local top-{MRL_K} first (parallel bounded sorts behind one
    hash exchange), then the global re-rank sees blocks x {MRL_K}
    rows per query.  The probe set is broadcast (bounded at
    {MRL_QUERIES}); candidates stream linearly.  Ranking keys are
    floor-quantized at 1e-6 with a neighbor-id tie-break on both
    engines, so last-ulp noise cannot reorder an overlap membership."""
    def cols(src):
        return src.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("ef"),
            F.slice(
                F.transform("embedding", lambda x: x.cast("double")),
                1, MRL_DIMS,
            ).alias("et"),
        )

    base = cols(table(spark, sf_dir, "embeddings"))
    q = base.filter(F.col("vec_id") < MRL_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("ef").alias("qf"),
        F.col("et").alias("qt"),
    )
    # The candidate side carries the N x {MRL_QUERIES} dot-product fan
    # (twice: full + truncated ranking); widened so the map-side math
    # parallelizes above a single-split test scan (no-op on many-split
    # production input).  The bounded probe side keeps the narrow scan.
    c = cols(widen_scan(table(spark, sf_dir, "embeddings"), "vec_id")).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("ef").alias("cf"),
        F.col("et").alias("ct"),
        (F.col("vec_id") % 32).cast("int").alias("blk"),
    )

    def dot(a: str, b: str) -> F.Column:
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def topk(qv: str, cv: str) -> DataFrame:
        scored = (
            c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                "blk",
                F.floor(
                    dot(qv, cv)
                    / (F.sqrt(dot(qv, qv)) * F.sqrt(dot(cv, cv)))
                    * 1e6
                    + F.lit(0.5)
                ).alias("score"),
            )
        )
        wb = Window.partitionBy("query_id", "blk").orderBy(
            F.col("score").desc(), "neighbor_id"
        )
        local = scored.withColumn("r1", F.row_number().over(wb)).filter(
            F.col("r1") <= MRL_K
        )
        wg = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), "neighbor_id"
        )
        return (
            local.withColumn("rnk", F.row_number().over(wg))
            .filter(F.col("rnk") <= MRL_K)
            .select("query_id", "neighbor_id")
        )

    topf = topk("qf", "cf")
    topt = topk("qt", "ct").withColumn("hit", F.lit(1))
    return (
        topf.join(topt, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_common"),
            (F.count("hit") * 100 / MRL_K).cast("long").alias("recall_pct"),
        )
        .select("query_id", F.col("n_common").cast("long").alias("n_common"),
                "recall_pct")
    )


@query(
    "mix_curriculum",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_tok, doc_id) AS rk
      FROM t),
    s AS (
      SELECT source, ROW_NUMBER() OVER (ORDER BY source) AS sidx
      FROM (SELECT DISTINCT source FROM t)),
    ns AS (SELECT COUNT(*) AS n_src FROM s)
    SELECT r.doc_id, r.source, r.n_tok,
           CAST((r.rk - 1) * ns.n_src + (s.sidx - 1) AS BIGINT) AS pos
    FROM r JOIN s USING (source) CROSS JOIN ns
    """,
)
def mix_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-ordered curriculum with stratified source interleave:
    within each source documents are ranked easiest-first (token
    count, doc_id tie-break), and global training position
    ``pos = (rank-1) * n_sources + source_index`` round-robins the
    sources so no training window sees a single-domain run — the
    standard curriculum + domain-mixing layout.

    Scale (the split-shard rank, as sample_balanced_exact): a plain
    per-source rank window serializes each source onto one task.
    Instead each doc gets a deterministic shard by equal-width
    bucketing of n_tok between the source's broadcast min/max (equal
    lengths shard together, so rank tie semantics survive), the rank
    window runs per (source, shard) — S parallel tasks per source —
    and per-shard counts (a tiny <=S-row window per source) correct
    the offsets to the exact per-source rank."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bounds = t.groupBy("source").agg(
        F.min("n_tok").alias("mn"), F.max("n_tok").alias("mx")
    )
    sh = (
        t.join(F.broadcast(bounds), "source")
        .select(
            "doc_id", "source", "n_tok",
            F.expr(
                f"CAST((n_tok - mn) * {shards} DIV (mx - mn + 1) AS INT)"
            ).alias("shard"),
        )
    )
    per = sh.groupBy("source", "shard").agg(F.count(F.lit(1)).alias("cnt"))
    woff = (
        Window.partitionBy("source").orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = per.select(
        "source", "shard",
        F.coalesce(F.sum("cnt").over(woff), F.lit(0)).alias("off"),
    )
    wloc = Window.partitionBy("source", "shard").orderBy("n_tok", "doc_id")
    ranked = (
        sh.join(F.broadcast(offs), ["source", "shard"])
        .withColumn("rk", F.row_number().over(wloc) + F.col("off"))
    )
    srcs = t.select("source").distinct()
    sidx = srcs.select(
        "source",
        F.row_number().over(Window.orderBy("source")).alias("sidx"),
    )
    ns = sidx.agg(F.count(F.lit(1)).alias("n_src"))
    return (
        ranked.join(F.broadcast(sidx), "source")
        .crossJoin(F.broadcast(ns))
        .select(
            "doc_id", "source", "n_tok",
            ((F.col("rk") - 1) * F.col("n_src") + (F.col("sidx") - 1))
            .cast("long").alias("pos"),
        )
    )


@query(
    "mix_water_filling",
    oracle=f"""
    WITH dom AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
      FROM documents GROUP BY source),
    w AS (
      SELECT source, tok,
             CAST(CASE WHEN substr(md5(source), 1, 1) < '{WF_TIER_GATE}'
                       THEN {WF_CAP_CURATED} ELSE {WF_CAP_WEB} END * tok
                  AS BIGINT) AS cap,
             CAST(FLOOR(SQRT(CAST(tok AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
               AS wq
      FROM dom),
    tt AS (SELECT CAST({WF_BUDGET_MULT} * SUM(tok) AS BIGINT) AS budget
           FROM dom),
    srt AS (
      SELECT *,
             (cap * 1000000000) // wq AS r_milli,
             ROW_NUMBER() OVER (ORDER BY (cap * 1000000000) // wq, source)
               AS k,
             COALESCE(SUM(cap) OVER (
               ORDER BY (cap * 1000000000) // wq, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cap_excl,
             SUM(wq) OVER (
               ORDER BY (cap * 1000000000) // wq, source
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS w_suf
      FROM w),
    cand AS (
      SELECT srt.*, ((tt.budget - cap_excl) * 1000000000) // w_suf
               AS lam_milli,
             COALESCE(LAG(r_milli) OVER (ORDER BY k), 0) AS r_prev
      FROM srt CROSS JOIN tt),
    pick AS (
      SELECT MIN(lam_milli) AS lam
      FROM cand
      WHERE lam_milli >= r_prev AND lam_milli < r_milli)
    SELECT source, tok, cap,
           CAST(CASE WHEN pick.lam IS NULL OR cand.r_milli <= pick.lam
                     THEN cap
                     ELSE (pick.lam * wq) // 1000000000 END AS BIGINT)
             AS alloc,
           CAST(1000 * (CASE WHEN pick.lam IS NULL OR cand.r_milli <= pick.lam
                        THEN cap
                        ELSE (pick.lam * wq) // 1000000000 END) // tok
                AS BIGINT) AS epochs_milli
    FROM cand CROSS JOIN pick
    """,
)
def mix_water_filling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget water-filling across domains: allocate a training
    budget of {WF_BUDGET_MULT}x the corpus across sources with demand
    proportional to sqrt(tokens) (the temperature-mixing rule) under a
    hard per-domain repetition cap — {WF_CAP_CURATED} epochs for the
    curated tier, {WF_CAP_WEB} for the web tier (tier = an md5 gate on
    the source, standing in for a quality label) — the
    data-constrained-scaling allocation.  Domains whose cap sits below
    the water level saturate at the cap; the remaining budget spreads
    over the rest at a common level lambda with
    ``alloc = min(cap, lambda * w)``.

    The exact threshold comes from the classic sorted sweep: domains
    ordered by cap/w, lambda candidate for "first k-1 saturated" is
    (budget - sum(saturated caps)) / sum(remaining w); the unique k
    with r_(k-1) <= lambda < r_k wins.  All of it in exact integer
    milli-units (sqrt is IEEE-exact, then quantized to micro once) on
    a schema-bounded domain table — both engines run the identical
    integer algebra, so the discrete surrogate is bit-reproducible.

    Scale: one fact-side hash agg to (source, tokens); everything
    after runs on rows bounded by domain cardinality.  BIGINT head-
    room: budget * 1e9 caps at ~9e18 — exact through ~4.5e9 corpus
    tokens per run (document and re-derive in DECIMAL beyond)."""
    d = table(spark, sf_dir, "documents")
    dom = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("tok")
    )
    cap_epochs = F.when(
        F.substring(F.md5(F.col("source")), 1, 1) < WF_TIER_GATE,
        F.lit(WF_CAP_CURATED),
    ).otherwise(F.lit(WF_CAP_WEB))
    w = dom.select(
        "source", "tok",
        (cap_epochs * F.col("tok")).cast("long").alias("cap"),
        F.floor(F.sqrt(F.col("tok").cast("double")) * 1e6 + F.lit(0.5))
        .cast("long").alias("wq"),
    )
    tt = dom.agg(
        (F.lit(WF_BUDGET_MULT) * F.sum("tok")).cast("long").alias("budget")
    )
    return water_fill(w, tt)


def water_fill(w: DataFrame, tt: DataFrame) -> DataFrame:
    """The reusable water-filling kernel: given a domain table
    ``(source, tok, cap, wq)`` (cap = absolute token cap, wq =
    integer-quantized demand weight) and a 1-row ``(budget)`` table,
    allocate ``min(cap, lambda * w)`` at the exact sorted-sweep
    threshold — all in integer milli-units, schema-bounded
    (property-tested over random domains in tests/test_properties.py
    beyond the corpus-bound oracle check)."""
    r_milli = F.expr("cap * 1000000000 DIV wq")
    wr = Window.orderBy(r_milli, "source")
    srt = w.select(
        "source", "tok", "cap", "wq",
        r_milli.alias("r_milli"),
        F.row_number().over(wr).alias("k"),
        F.coalesce(
            F.sum("cap").over(
                wr.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("cap_excl"),
        F.sum("wq").over(
            wr.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        ).alias("w_suf"),
    )
    wk = Window.orderBy("k")
    cand = srt.crossJoin(F.broadcast(tt)).select(
        "*",
        F.expr("(budget - cap_excl) * 1000000000 DIV w_suf")
        .alias("lam_milli"),
    ).withColumn(
        "r_prev", F.coalesce(F.lag("r_milli").over(wk), F.lit(0))
    )
    pick = cand.filter(
        (F.col("lam_milli") >= F.col("r_prev"))
        & (F.col("lam_milli") < F.col("r_milli"))
    ).agg(F.min("lam_milli").alias("lam"))
    alloc = F.when(
        F.col("lam").isNull() | (F.col("r_milli") <= F.col("lam")),
        F.col("cap"),
    ).otherwise(F.expr("lam * wq DIV 1000000000"))
    return cand.crossJoin(F.broadcast(pick)).select(
        "source", "tok", "cap",
        alloc.cast("long").alias("alloc"),
        F.expr(
            "CAST(1000 * (CASE WHEN lam IS NULL OR r_milli <= lam THEN cap "
            "ELSE lam * wq DIV 1000000000 END) DIV tok AS BIGINT)"
        ).alias("epochs_milli"),
    )


def _dp_count_hash():
    """52-bit md5 hash of the (lang, source) group key — the shared
    noise stream of privacy_dp_count."""
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", "lang", "source")), 1, 13),
        16, 10,
    ).cast("long")


_DP_COUNT_H_SQL = (
    "CAST(('0x' || substr(md5(lang || '|' || source), 1, 13)) AS BIGINT)"
)


@query(
    "privacy_dp_count",
    oracle=f"""
    WITH g AS (
      SELECT lang, source, COUNT(*) AS n,
             {_DP_COUNT_H_SQL} AS h
      FROM documents GROUP BY lang, source)
    SELECT lang, source,
           CAST(n * 10000 + {sql_laplace_e4('h', 1 / DP_EPS)} AS BIGINT)
             AS noisy_n_e4
    FROM g
    """,
)
def privacy_dp_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release: per-(lang, source) doc
    counts with (discretized, bounded) Laplace(1/epsilon) noise,
    epsilon={DP_EPS} and sensitivity 1 — the third privacy gate beside
    k-anonymity and l-diversity (those audit, this one actually
    perturbs).  The draw is md5-derived from the group key, so the
    release is reproducible run-to-run.  NOTE: the seeded md5 draw is a
    reproducibility / engine-parity simulation — anyone who knows the
    group key can recompute the noise, so a production deployment must
    substitute fresh randomness for the md5 stream to obtain the stated
    epsilon guarantee.

    Round-11 hardening (second consecutive driver-red despite being
    value-exact against every local replica): the release is now PURE
    INTEGER — ``noisy_n_e4 BIGINT = n*10000 + ladder_e4(h >> 42)``
    with the discretized-Laplace ladder pre-scaled to e4 units
    (functions/dp_noise.py laplace_ladder_e4).  No DECIMAL typing,
    rendering, or negative-scale canonicalization anywhere in either
    engine's output; all-integer DP keys (privacy_rr_frequency) have
    never gone red.  (The ``_parts`` decomposition diagnostic was
    retired in round 12 once this key's driver row went green, per its
    own contract.)

    Scale: one hash agg; the noise is a constant-folded array lookup
    on the group rows.  Determinism: integer shift + integer addition
    on both engines — nothing to drift."""
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    return g.select(
        "lang", "source",
        (F.col("n") * 10000 + spark_laplace_e4(_dp_count_hash(), 1 / DP_EPS))
        .cast("long").alias("noisy_n_e4"),
    )


@query(
    "ml_calibration_ece",
    oracle="""
    WITH s AS (
      SELECT LEAST(9, GREATEST(0, CAST(FLOOR(value / 10.0) AS BIGINT)))
               AS bin,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
      FROM events),
    b AS (
      SELECT bin, COUNT(*) AS n, SUM(y) AS k FROM s GROUP BY bin),
    e AS (
      SELECT bin, n, k,
             bin * 100 + 50 AS conf_milli,
             (k * 1000) // n AS acc_milli
      FROM b)
    SELECT bin, n, CAST(k AS BIGINT) AS k,
           CAST(conf_milli AS BIGINT) AS conf_milli,
           CAST(acc_milli AS BIGINT) AS acc_milli,
           CAST(ABS(acc_milli - conf_milli) AS BIGINT) AS gap_milli,
           CAST((SUM(n * ABS(acc_milli - conf_milli)) OVER ()) * 1000
                // (SUM(n) OVER ()) AS BIGINT) AS ece_micro
    FROM e
    """,
)
def ml_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error: event value
    deciles stand in for a model's predicted probability (bin
    midpoint = stated confidence), outcome = click; per bin the
    empirical accuracy, the |accuracy - confidence| gap, and the
    population-weighted ECE — the calibration audit that belongs
    beside ml_brier_decomposition (Brier says how good, ECE says how
    honest the stated probabilities are).

    Scale: one conditional hash agg to <=10 bins; the ECE window runs
    over those bin rows only.  Arithmetic is pure integer milli/micro
    units (the FLOOR-before-CAST rule pins the one double division),
    so the hash cannot drift at any scale."""
    e = table(spark, sf_dir, "events")
    s = e.select(
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0), F.floor(F.col("value") / 10.0).cast("long")
            ),
        ).alias("bin"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("y"),
    )
    b = s.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("long").alias("k")
    )
    ew = b.select(
        "bin", "n", "k",
        (F.col("bin") * 100 + 50).cast("long").alias("conf_milli"),
        F.expr("k * 1000 DIV n").alias("acc_milli"),
    )
    wall = Window.partitionBy()
    return ew.select(
        "bin", "n", "k", "conf_milli", "acc_milli",
        F.abs(F.col("acc_milli") - F.col("conf_milli")).alias("gap_milli"),
        F.expr(
            "SUM(n * ABS(acc_milli - conf_milli)) OVER () * 1000"
        ).cast("long").alias("_wg"),
    ).withColumn("_tn", F.sum("n").over(wall)).select(
        "bin", "n", "k", "conf_milli", "acc_milli", "gap_milli",
        F.expr("_wg DIV _tn").cast("long").alias("ece_micro"),
    )


@query(
    "sample_priority_ppswor",
    oracle=f"""
    WITH k AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             (CAST(n_chars AS BIGINT) * 1000000000) //
             ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 1000000000) + 1) AS key
      FROM documents),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS rn
      FROM k),
    t AS (
      SELECT COALESCE(MAX(CASE WHEN rn = {PPS_K + 1} THEN key END), 0)
               AS tau
      FROM r WHERE rn <= {PPS_K + 1})
    SELECT doc_id, w, key,
           CAST(GREATEST(w, t.tau) AS BIGINT) AS ht_weight
    FROM r CROSS JOIN t
    WHERE rn <= {PPS_K}
    """,
)
def sample_priority_ppswor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup PPSWOR): each document
    draws priority w/u (w = byte weight, u = md5-uniform), the top
    {PPS_K} priorities form the sample, and each sampled item carries
    the Horvitz-Thompson estimation weight max(w, tau) with tau = the
    ({PPS_K}+1)-th priority — an unbiased weighted sample whose
    estimator variance is provably near-optimal.  This is how a
    100 TB corpus yields a faithful weighted sample for eval or
    profiling in one pass.

    Exactness: priority is the integer surrogate (w * 1e9) DIV (u9+1)
    (u9 = 60 md5 bits mod 1e9) — identical integer algebra on both
    engines, doc_id tie-break, no float anywhere.

    Scale: the top-({PPS_K}+1) runs as TakeOrderedAndProject (per-task
    partial top-k, no global sort — plan-gated); tau and the rank
    recheck run on the {PPS_K}+1 collected rows, a bounded single
    task."""
    d = table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    k = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("w"),
        (h % F.lit(1000000000)).alias("u9"),
    ).select(
        "doc_id", "w",
        F.expr("w * 1000000000 DIV (u9 + 1)").alias("key"),
    )
    top = k.orderBy(F.col("key").desc(), "doc_id").limit(PPS_K + 1)
    wr = Window.orderBy(F.col("key").desc(), "doc_id")
    wall = Window.partitionBy()
    r = top.withColumn("rn", F.row_number().over(wr))
    return (
        r.withColumn(
            "tau",
            F.coalesce(
                F.max(F.when(F.col("rn") == PPS_K + 1, F.col("key"))).over(
                    wall
                ),
                F.lit(0),
            ),
        )
        .filter(F.col("rn") <= PPS_K)
        .select(
            "doc_id", "w", "key",
            F.greatest(F.col("w"), F.col("tau")).cast("long")
            .alias("ht_weight"),
        )
    )


# --- semantic prune / MMR ----------------------------------------------
# Sign-prefix width is corpus-adaptive (functions/blocking.py): 4 bits
# through sf0.1 (the certified fixed-width behavior), widening one bit
# per corpus doubling past TARGET_BLOCK<<4 so in-block pair work stays
# linear in N.  Both engines read the width from the same scalar
# subquery over the embeddings count.
SEM_TAU_MICRO = 300000  # cosine >= 0.3 => semantic near-dup
MMR_QUERIES = 10
MMR_POOL = 20
MMR_K = 5
# lambda = 0.7 as integer weights: score = 7*rel - 3*penalty (units of
# 1e-7 cosine; no division anywhere, so no floor-vs-truncate risk).
MMR_WREL = 7
MMR_WPEN = 3

_SQL_COS_MICRO = (
    "FLOOR((" + _SQL_COS + ") * 1e6 + 0.5)"
)


def _dot(a: str, b_: str) -> F.Column:
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b_), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cos_micro(a: str, b_: str) -> F.Column:
    """Floor-quantized micro-cosine (the engine-portable score)."""
    return F.floor(
        _dot(a, b_) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b_, b_))) * 1e6
        + F.lit(0.5)
    ).cast("long")


def _probe_pool(spark: SparkSession, sf_dir: str, n_queries: int, k: int,
                *, block: int | None = None,
                label_mismatch: bool = False,
                dims: int | None = None) -> DataFrame:
    """Shared broadcast-probe cosine-pool kernel for the RAG serving
    ops (sim_mmr_rerank / rag_hard_negatives / rag_context_pack /
    rag_grounding_overlap all start here): score every corpus vector
    against the BROADCAST probe set (vec_id < n_queries) in one
    streaming scan — candidates never self-join — and cut to the
    top-k pool per query with a rank window Spark compiles to
    WindowGroupLimit (k-bounded per-partition sorts).

    `block=B` adds the (query, vec_id % B) pre-cut stage first, so
    the global re-rank sees B*k rows per query and per-partition sort
    parallelism is queries*B, not queries (rag_hard_negatives'
    posture for wide corpora).  `label_mismatch=True` fuses the
    negative-mining predicate (candidate label <> probe label) into
    the broadcast join instead of filtering after scoring.

    `dims=D` scores on the leading-D prefix of each vector (the
    matryoshka truncation) instead of the full width.

    Returns (query_id, vec_id, rel_micro BIGINT, rnk) with rnk in
    1..k by descending floor-quantized micro-cosine, vec_id
    tie-break — the exact ordering every consumer's oracle uses."""
    vec = F.transform("embedding", lambda x: x.cast("double"))
    if dims is not None:
        vec = F.slice(vec, 1, dims)
    cols = [
        F.col("vec_id"),
        vec.alias("e"),
    ]
    if label_mismatch:
        cols.append(F.col("label"))
    base = table(spark, sf_dir, "embeddings").select(*cols)
    qcols = [F.col("vec_id").alias("query_id"), F.col("e").alias("qe")]
    ccols = [F.col("vec_id"), F.col("e").alias("ce")]
    if label_mismatch:
        qcols.append(F.col("label").alias("qlabel"))
        ccols.append(F.col("label"))
        pred = F.col("label") != F.col("qlabel")
    else:
        pred = F.col("query_id") != F.col("vec_id")
    if block is not None:
        ccols.append((F.col("vec_id") % block).cast("int").alias("blk"))
    q = base.filter(F.col("vec_id") < n_queries).select(*qcols)
    scored = (
        base.select(*ccols)
        .join(F.broadcast(q), pred)
        .select(
            "query_id", "vec_id",
            *(["blk"] if block is not None else []),
            _cos_micro("qe", "ce").alias("rel_micro"),
        )
    )
    if block is not None:
        wb = Window.partitionBy("query_id", "blk").orderBy(
            F.col("rel_micro").desc(), "vec_id"
        )
        scored = (
            scored.withColumn("r1", F.row_number().over(wb))
            .filter(F.col("r1") <= k)
        )
    wg = Window.partitionBy("query_id").orderBy(
        F.col("rel_micro").desc(), "vec_id"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wg))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "rel_micro", "rnk")
    )


_SEM_BITS_SQL = sql_adaptive_bits("embeddings")


@query(
    "dedup_semantic_prune",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             {sql_sign_prefix("CAST(embedding AS DOUBLE[])",
                              _SEM_BITS_SQL)} AS bkt
      FROM embeddings),
    close AS (
      SELECT hi.vec_id, COUNT(*) AS n_close
      FROM b lo JOIN b hi ON hi.bkt = lo.bkt AND lo.vec_id < hi.vec_id
      WHERE {_SQL_COS_MICRO.format(a="lo.e", b="hi.e")} >= {SEM_TAU_MICRO}
      GROUP BY hi.vec_id)
    SELECT b.vec_id, b.bkt,
           CAST(COALESCE(close.n_close, 0) AS BIGINT) AS n_close,
           close.n_close IS NULL AS kept
    FROM b LEFT JOIN close USING (vec_id)
    """,
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning: embeddings block by the sign
    pattern of their leading dimensions (the sim_lsh_bucketed family),
    and within a block any vector with a LOWER-id neighbor at cosine
    >= {SEM_TAU_MICRO / 1e6} is dropped — the one-pass
    keep-the-representative rule that turns pairwise "semantically
    same" into a pruned corpus.  Output is the full verdict table
    (kept flag + how many in-block near-dups precede each vector),
    which is what the downstream filter joins against.

    Scale: candidate generation is an equi-join on the block key —
    keys shuffle, vectors never cross except within a block.  The
    prefix width is CORPUS-ADAPTIVE (functions/blocking.py): one more
    bit per corpus doubling keeps expected block population constant,
    so in-block pair work is LINEAR in N (a fixed width would be
    quadratic).  Both engines derive the width from the same integer
    ladder over the embeddings count, injected as an uncorrelated
    scalar subquery — Spark folds it to a literal in a one-row
    pre-job, no join operator enters the plan.  The recall trade
    (near-dups straddling a sign boundary are missed) is the standard
    blocked-dedup contract, measured at both widths by
    scripts/signprefix_recall.py.  Cosines are floor-quantized at
    1e-6 before the threshold so a last-ulp difference cannot flip a
    membership."""
    emb_ref = f"parquet.`{sf_dir}/embeddings.parquet`"
    base = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    bkt = spark_sign_prefix("e", sql_adaptive_bits(emb_ref))
    b = base.select("vec_id", "e", bkt.alias("bkt"))

    def dot(a: str, c: str) -> F.Column:
        return F.aggregate(
            F.zip_with(F.col(a), F.col(c), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    lo = b.select(
        F.col("vec_id").alias("lo_id"), F.col("e").alias("le"), "bkt"
    )
    hi = b.select(
        F.col("vec_id").alias("vec_id"), F.col("e").alias("he"), "bkt"
    )
    close = (
        lo.join(hi, "bkt")
        .filter(F.col("lo_id") < F.col("vec_id"))
        .filter(
            F.floor(
                dot("le", "he")
                / (F.sqrt(dot("le", "le")) * F.sqrt(dot("he", "he")))
                * 1e6
                + F.lit(0.5)
            )
            >= SEM_TAU_MICRO
        )
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    return b.join(close, "vec_id", "left").select(
        "vec_id",
        "bkt",
        F.coalesce(F.col("nc"), F.lit(0)).cast("long").alias("n_close"),
        F.col("nc").isNull().alias("kept"),
    )


def _mmr_oracle() -> str:
    rel_micro = _SQL_COS_MICRO.format(a="q.e", b="c.e")
    sim_micro = _SQL_COS_MICRO.format(a="x.e", b="y.e")
    rounds = []
    prev_sel = "sel1"
    for t in range(2, MMR_K + 1):
        rounds.append(f"""
    pen{t} AS MATERIALIZED (
      SELECT pr.qid, pr.b AS cid, MAX(pr.sim) AS pen
      FROM pr JOIN {prev_sel} s ON s.qid = pr.qid AND s.cid = pr.a
      GROUP BY pr.qid, pr.b),
    sc{t} AS MATERIALIZED (
      SELECT pool.qid, pool.cid,
             {MMR_WREL} * pool.rel
               - {MMR_WPEN} * COALESCE(pen{t}.pen, 0) AS score
      FROM pool
      LEFT JOIN pen{t} ON pen{t}.qid = pool.qid AND pen{t}.cid = pool.cid
      LEFT JOIN {prev_sel} s ON s.qid = pool.qid AND s.cid = pool.cid
      WHERE s.cid IS NULL),
    pick{t} AS MATERIALIZED (
      SELECT qid, cid, {t} AS t, score FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY score DESC, cid) AS rn FROM sc{t})
      WHERE rn = 1),
    sel{t} AS MATERIALIZED (
      SELECT qid, cid, t, score FROM {prev_sel}
      UNION ALL SELECT qid, cid, t, score FROM pick{t})""")
        prev_sel = f"sel{t}"
    return f"""
    WITH b AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT * FROM b WHERE vec_id < {MMR_QUERIES}),
    c AS (SELECT * FROM b),
    pool AS MATERIALIZED (
      SELECT qid, cid, rel FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               CAST({rel_micro} AS BIGINT) AS rel,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {rel_micro} DESC, c.vec_id) AS rn
        FROM q JOIN c ON q.vec_id <> c.vec_id)
      WHERE rn <= {MMR_POOL}),
    pr AS MATERIALIZED (
      SELECT p1.qid, p1.cid AS a, p2.cid AS b,
             CAST({sim_micro} AS BIGINT) AS sim
      FROM pool p1
      JOIN pool p2 ON p2.qid = p1.qid AND p2.cid <> p1.cid
      JOIN b x ON x.vec_id = p1.cid
      JOIN b y ON y.vec_id = p2.cid),
    sel1 AS MATERIALIZED (
      SELECT qid, cid, 1 AS t, {MMR_WREL} * rel AS score FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY rel DESC, cid) AS rn FROM pool)
      WHERE rn = 1),{",".join(rounds)}
    SELECT qid AS query_id, cid AS vec_id,
           CAST(t AS BIGINT) AS mmr_rank, CAST(score AS BIGINT) AS score
    FROM sel{MMR_K}
    """


@query("sim_mmr_rerank", oracle=_mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance reranking: for each probe query the
    top-{MMR_POOL} cosine candidates are greedily re-selected into a
    diversified top-{MMR_K} — each step picks
    argmax {MMR_WREL}*relevance - {MMR_WPEN}*max-similarity-to-
    already-picked (lambda = 0.7) — the serving-side step that stops a
    RAG context window from filling with five copies of the same
    passage (dedup_semantic_prune cleans the corpus; MMR cleans the
    RESULT LIST).

    Scale: relevance scoring is the shared broadcast-probe pool
    kernel (_probe_pool); everything after operates on the bounded
    pool (queries x {MMR_POOL} rows, pairwise sims queries x
    {MMR_POOL}^2) — the greedy recursion unrolls {MMR_K} rounds of
    joins over those bounded frames, never touching the corpus again.
    All scores are integer (floor-quantized cosines, integer lambda
    weights, NO division — Spark DIV truncates where DuckDB //
    floors, so negatives never cross a divide)."""
    base = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    pool = _probe_pool(spark, sf_dir, MMR_QUERIES, MMR_POOL).select(
        F.col("query_id").alias("qid"),
        F.col("vec_id").alias("cid"),
        F.col("rel_micro").alias("rel"),
    )
    p1 = pool.select("qid", F.col("cid").alias("a"))
    p2 = pool.select("qid", F.col("cid").alias("b"))
    bx = base.select(F.col("vec_id").alias("a"), F.col("e").alias("ae"))
    by = base.select(F.col("vec_id").alias("b"), F.col("e").alias("be"))
    pr = (
        p1.join(p2, "qid")
        .filter(F.col("a") != F.col("b"))
        .join(bx, "a")
        .join(by, "b")
        .select("qid", "a", "b", _cos_micro("ae", "be").alias("sim"))
    )
    return mmr_greedy(pool, pr)


def mmr_greedy(pool: DataFrame, pr: DataFrame,
               k: int = MMR_K, wrel: int = MMR_WREL,
               wpen: int = MMR_WPEN) -> DataFrame:
    """The reusable greedy-MMR kernel: given a bounded per-query pool
    ``(qid, cid, rel)`` and its pairwise similarities
    ``(qid, a, b, sim)`` (both integer-scored), run ``k`` greedy
    rounds of argmax ``wrel*rel - wpen*max-sim-to-selected`` with a
    cid tie-break.  Division-free integer scores throughout
    (property-tested over random pools in tests/test_properties.py
    beyond the corpus-bound oracle check).

    Physical shape (optimization round 14): ONE cogrouped Arrow
    kernel over (qid), replacing the previous k-round unrolled-join
    plan.  That plan referenced the running selection twice per round,
    so the logical tree ~doubled per round and the executed plan
    recomputed the corpus-scan pool subtree dozens of times — 13.2 s
    at sf0.01 for 50 output rows, pure plan/recompute overhead.  Both
    inputs are per-query BOUNDED (pool <= MMR_POOL rows, sims <=
    MMR_POOL^2), so the greedy recursion is a per-group scalar loop —
    exactly the shape guide §4.2 sends to a cogrouped kernel: Spark
    does the distribution (one exchange per side), the bounded
    per-group selection runs in-process on integers, and the rounds
    cost ZERO extra shuffles regardless of k.  The incremental
    penalty update (pen' = max(pen, sim(pick, ·))) is equivalent to
    the unrolled MAX-over-selected because max is associative; ints
    cross Arrow losslessly; ties break on (score desc, cid asc) as
    before — re-proven hash-exact against the unchanged DuckDB oracle
    at sf0.001/sf0.01/sf0.1 after the rewrite."""
    import pandas as pd

    def _greedy(key, pool_pdf, pr_pdf):
        qid = int(key[0])
        rel = dict(zip((int(c) for c in pool_pdf["cid"]),
                       (int(r) for r in pool_pdf["rel"])))
        sim: dict[tuple[int, int], int] = {}
        for a, b, s in zip(pr_pdf["a"], pr_pdf["b"], pr_pdf["sim"]):
            sim[(int(a), int(b))] = int(s)
        # pen[c] = MAX sim(selected, c) over pairs PRESENT in pr; a
        # candidate with no pair row to any selected cid scores with 0
        # (the unrolled form's LEFT JOIN + COALESCE(pen, 0)) — which
        # is NOT the same as folding missing pairs into the max as
        # zeros when sims can be negative, hence the None sentinel.
        pen: dict[int, int | None] = dict.fromkeys(rel, None)
        remaining = set(rel)
        out: list[tuple[int, int, int, int]] = []
        t = 0

        def _score(c: int) -> int:
            p = pen[c]
            return wrel * rel[c] - wpen * (0 if p is None else p)

        while remaining and t < k:
            t += 1
            if t == 1:
                pick = max(remaining, key=lambda c: (rel[c], -c))
                score = wrel * rel[pick]
            else:
                pick = max(remaining, key=lambda c: (_score(c), -c))
                score = _score(pick)
            out.append((qid, pick, t, score))
            remaining.discard(pick)
            for c in remaining:
                s = sim.get((pick, c))
                if s is not None and (pen[c] is None or s > pen[c]):
                    pen[c] = s
        return pd.DataFrame(
            out, columns=["query_id", "vec_id", "mmr_rank", "score"]
        )

    # pr derives from pool, so both sides carry the SAME qid
    # attribute id — re-alias pr's key to a fresh expression before
    # cogrouping (cogroup matches keys positionally, not by name).
    prr = pr.select(
        F.col("qid").alias("qid_pr"), "a", "b", "sim"
    )
    return (
        pool.select("qid", "cid", "rel")
        .groupBy("qid")
        .cogroup(prr.groupBy("qid_pr"))
        .applyInPandas(
            _greedy,
            "query_id long, vec_id long, mmr_rank long, score long",
        )
    )


# --- hard negatives / context packing / DP sum ---------------------------
HN_QUERIES = 10   # probe queries (vec_id < 10, the MMR probe set)
HN_K = 5          # hard negatives mined per query
HN_BLK = 32       # candidate blocks for the pre-cut (as matryoshka)

CPK_QUERIES = 10  # probe queries for context packing
CPK_POOL = 20     # relevance pool per query (as MMR)
CPK_BUDGET = 1024  # context-window token budget

DPS_CLIP = 2000   # per-record contribution clip (chars) => sensitivity


@query(
    "rag_hard_negatives",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
      FROM embeddings),
    q AS (SELECT * FROM b WHERE vec_id < {HN_QUERIES})
    SELECT query_id, vec_id, hn_rank, rel_micro FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             CAST({_SQL_COS_MICRO.format(a="q.e", b="c.e")} AS BIGINT)
               AS rel_micro,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_SQL_COS_MICRO.format(a="q.e", b="c.e")} DESC,
                        c.vec_id) AS hn_rank
      FROM q JOIN b c ON c.label <> q.label)
    WHERE hn_rank <= {HN_K}
    """,
)
def rag_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval training: for each probe
    query, the top-{HN_K} cosine-nearest vectors whose LABEL differs
    from the query's — the candidates a bi-encoder scores high but a
    supervisor says are wrong, which is exactly the contrastive batch
    a retriever is fine-tuned against (random negatives are too easy;
    these are the ones that move the loss).

    Scale: the shared broadcast-probe pool kernel (_probe_pool) with
    the label-mismatch predicate fused into the broadcast join and
    the {HN_BLK}-block pre-cut — candidates stream once, never
    self-join; every per-partition sort is k-bounded via
    WindowGroupLimit.  Scores are floor-quantized micro-cosines with
    a vec_id tie-break on both engines."""
    return _probe_pool(
        spark, sf_dir, HN_QUERIES, HN_K,
        block=HN_BLK, label_mismatch=True,
    ).select(
        "query_id", "vec_id",
        F.col("rnk").cast("long").alias("hn_rank"), "rel_micro",
    )


@query(
    "rag_context_pack",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT * FROM b WHERE vec_id < {CPK_QUERIES}),
    pool AS (
      SELECT query_id, vec_id, rel_micro,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY rel_micro DESC, vec_id) AS pack_rank
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               CAST({_SQL_COS_MICRO.format(a="q.e", b="c.e")} AS BIGINT)
                 AS rel_micro,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_SQL_COS_MICRO.format(a="q.e", b="c.e")} DESC,
                          c.vec_id) AS rn
        FROM q JOIN b c ON q.vec_id <> c.vec_id)
      WHERE rn <= {CPK_POOL}),
    tok AS (
      SELECT pool.*, d.n_chars // 4 + 1 AS tok_est
      FROM pool JOIN documents d ON d.doc_id = pool.vec_id),
    cum AS (
      SELECT *, SUM(tok_est) OVER (
               PARTITION BY query_id ORDER BY pack_rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
      FROM tok)
    SELECT query_id, vec_id, CAST(pack_rank AS BIGINT) AS pack_rank,
           rel_micro, CAST(tok_est AS BIGINT) AS tok_est,
           CAST(cum_tok AS BIGINT) AS cum_tok,
           cum_tok <= {CPK_BUDGET} AS kept
    FROM cum
    """,
)
def rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: each probe query's top-{CPK_POOL}
    retrieved passages are packed relevance-first into a
    {CPK_BUDGET}-token context budget — the running token total is
    cut at the budget, and every pool row carries its kept/evicted
    verdict.  This is the serving-side step between "reranked list"
    and "prompt": it decides which retrieved chunk actually makes it
    into the model's context (sim_mmr_rerank diversifies the list;
    this op fits it into the window).

    Token cost is the chars/4 estimate off the joined document row
    (integer, never zero), so both engines pack the identical
    sequence.  Scale: pool construction is the shared broadcast-probe
    pool kernel (_probe_pool) with its WindowGroupLimit pre-cut; the
    pack itself is a running sum over queries x {CPK_POOL} bounded
    rows; the cost join touches only pool rows against the documents
    table's (doc_id, n_chars) projection."""
    pool = _probe_pool(spark, sf_dir, CPK_QUERIES, CPK_POOL).withColumn(
        "pack_rank", F.col("rnk")
    )
    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"),
        F.expr("n_chars DIV 4 + 1").alias("tok_est"),
    )
    wc = Window.partitionBy("query_id").orderBy("pack_rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        pool.join(d, "vec_id")
        .withColumn("cum_tok", F.sum("tok_est").over(wc))
        .select(
            "query_id", "vec_id",
            F.col("pack_rank").cast("long").alias("pack_rank"),
            "rel_micro",
            F.col("tok_est").cast("long").alias("tok_est"),
            F.col("cum_tok").cast("long").alias("cum_tok"),
            (F.col("cum_tok") <= CPK_BUDGET).alias("kept"),
        )
    )


@query(
    "privacy_dp_sum",
    oracle=f"""
    WITH g AS (
      SELECT lang,
             CAST(SUM(LEAST(n_chars, {DPS_CLIP})) AS BIGINT) AS clipped_sum,
             CAST(('0x' || substr(md5('sum|' || lang), 1, 13))
                  AS BIGINT) AS h
      FROM documents GROUP BY lang)
    SELECT lang, clipped_sum,
           CAST(clipped_sum + {sql_laplace('h', DPS_CLIP / DP_EPS)}
                AS DECIMAL(28,4)) AS noisy_sum
    FROM g
    """,
)
def privacy_dp_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private sum release: per-language total of
    per-document contributions CLIPPED at {DPS_CLIP} chars (the clip
    IS the sensitivity bound — without it one huge document reveals
    itself), plus discretized bounded Laplace({DPS_CLIP}/epsilon)
    noise at epsilon={DP_EPS}.  Together with privacy_dp_count this is
    the (count, sum) pair every DP release of a mean builds on.

    The noise draw is md5-derived from 'sum|' || lang (decoupled from
    dp_count's stream, as independent DP mechanisms must draw
    independent noise) and selected from the 1024-entry exact-DECIMAL
    quantile ladder (functions/dp_noise.py) by an integer shift — the
    round-10 hardening that removed libm from both DP releases after
    dp_count's cross-box red.  Scale: one hash agg with map-side
    clipping; noise is a constant-folded array lookup on the group
    rows.  NOTE: the seeded md5 draw is a reproducibility /
    engine-parity simulation — production must substitute fresh
    randomness for the md5 stream to obtain a real epsilon guarantee."""
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.sum(F.least(F.col("n_chars"), F.lit(DPS_CLIP))).cast("long")
        .alias("clipped_sum")
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("sum|"), F.col("lang"))), 1, 13),
        16, 10,
    ).cast("long")
    return g.select(
        "lang", "clipped_sum",
        (F.col("clipped_sum") + spark_laplace(h, DPS_CLIP / DP_EPS))
        .cast("decimal(28,4)").alias("noisy_sum"),
    )


# --- grounding / citation audit ------------------------------------------
GRD_QUERIES = 10  # probe queries (doc_id < 10)
GRD_K = 5         # retrieved passages per query
GRD_N = 3         # n-gram order for the support check


@query(
    "rag_grounding_overlap",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT * FROM b WHERE vec_id < {GRD_QUERIES}),
    pool AS MATERIALIZED (
      SELECT query_id, vec_id, rnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_SQL_COS_MICRO.format(a="q.e", b="c.e")} DESC,
                          c.vec_id) AS rnk
        FROM q JOIN b c ON q.vec_id <> c.vec_id)
      WHERE rnk <= {GRD_K}),
    ids AS (SELECT DISTINCT query_id AS doc_id FROM pool
            UNION SELECT DISTINCT vec_id FROM pool),
    grams AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             md5(array_to_string(w[st : st + {GRD_N - 1}], ' ')) AS g
      FROM (
        SELECT d.doc_id, string_split(d.text, ' ') AS w,
               UNNEST(generate_series(
                 1, len(string_split(d.text, ' ')) - {GRD_N - 1})) AS st
        FROM documents d JOIN ids ON ids.doc_id = d.doc_id)),
    nq AS (SELECT doc_id, COUNT(*) AS n_q FROM grams GROUP BY doc_id),
    common AS (
      SELECT pool.query_id, pool.vec_id, COUNT(rg.g) AS n_common
      FROM pool
      LEFT JOIN grams qg ON qg.doc_id = pool.query_id
      LEFT JOIN grams rg ON rg.doc_id = pool.vec_id AND rg.g = qg.g
      GROUP BY pool.query_id, pool.vec_id)
    SELECT pool.query_id, pool.vec_id, CAST(pool.rnk AS BIGINT) AS rnk,
           CAST(common.n_common AS BIGINT) AS n_common,
           CAST(common.n_common * 1000 // GREATEST(nq.n_q, 1) AS BIGINT)
             AS grounding_milli
    FROM pool
    JOIN common USING (query_id, vec_id)
    JOIN nq ON nq.doc_id = pool.query_id
    """,
)
def rag_grounding_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grounding/citation audit: for each probe query's top-{GRD_K}
    retrieved passages, the fraction of the query document's distinct
    {GRD_N}-grams that also appear in the retrieved passage — the
    lexical-support score behind every "is this answer grounded in
    its citations" check (RAGAS-style faithfulness, attribution
    evals).  A retrieved passage at high cosine but near-zero n-gram
    support is the classic semantic-drift retrieval failure.

    Scale: retrieval is the shared broadcast-probe pool kernel
    (_probe_pool); gram extraction runs ONLY on pool documents (a
    semi-join on the bounded id set cuts the corpus before any
    explode), and the support join matches md5 grams between the two
    bounded gram sets.  All-integer outputs; n-gram tokenization is
    the shared whitespace rule so both engines shingle identically."""
    pool = _probe_pool(spark, sf_dir, GRD_QUERIES, GRD_K).select(
        "query_id", "vec_id", "rnk"
    )
    ids = (
        pool.select(F.col("query_id").alias("doc_id"))
        .union(pool.select(F.col("vec_id").alias("doc_id")))
        .distinct()
    )
    d = table(spark, sf_dir, "documents")
    grams = (
        d.join(F.broadcast(ids), "doc_id")
        .select(
            "doc_id", F.split(F.col("text"), " ").alias("w")
        )
        .select(
            "doc_id", "w",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.size(F.col("w")) - (GRD_N - 1),
                )
            ).alias("st"),
        )
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("w"), F.col("st"), GRD_N))
            ).alias("g"),
        )
        .distinct()
    )
    nq = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_q"))
    qg = grams.select(F.col("doc_id").alias("query_id"), "g")
    rg = grams.select(F.col("doc_id").alias("rvid"),
                      F.col("g").alias("g2"))
    common = (
        pool.join(qg, "query_id", "left")
        .join(
            rg,
            (F.col("vec_id") == F.col("rvid")) & (F.col("g") == F.col("g2")),
            "left",
        )
        .groupBy("query_id", "vec_id")
        .agg(F.count("g2").alias("n_common"))
    )
    return (
        pool.join(common, ["query_id", "vec_id"])
        .join(
            F.broadcast(nq.select(F.col("doc_id").alias("query_id"), "n_q")),
            "query_id",
        )
        .select(
            "query_id", "vec_id",
            F.col("rnk").cast("long").alias("rnk"),
            F.col("n_common").cast("long").alias("n_common"),
            F.expr("n_common * 1000 DIV GREATEST(n_q, 1)").cast("long")
            .alias("grounding_milli"),
        )
    )


# --- DP release completion (round 10, on the dp_noise ladder) -------------
DPSEL_TAU = 10  # partition-selection release threshold (noisy count)


@query(
    "privacy_dp_partition_select",
    oracle=f"""
    WITH g AS (
      SELECT lang, source, COUNT(*) AS n,
             CAST(('0x' || substr(md5('sel|' || lang || '|' || source),
                                  1, 13)) AS BIGINT) AS h
      FROM documents GROUP BY lang, source),
    r AS (
      SELECT lang, source,
             CAST(n + {sql_laplace('h', 1 / DP_EPS)} AS DECIMAL(18,4))
               AS noisy_n
      FROM g)
    SELECT lang, source, noisy_n
    FROM r WHERE noisy_n >= {DPSEL_TAU}
    """,
)
def privacy_dp_partition_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP partition selection (thresholded release): when the GROUP
    KEYS themselves are data-derived (an unknown domain — here the
    observed (lang, source) pairs), releasing even the key list leaks;
    the standard mechanism noises each count and releases ONLY groups
    whose noisy count clears a threshold tau={DPSEL_TAU}.  Small
    (privacy-critical) partitions vanish with high probability; the
    released value is the noisy count itself, never the raw one.
    Completes the release family: dp_count (known domain), dp_sum
    (clipped), this (unknown domain).

    The noise stream is md5-derived from 'sel|' || key — independent of
    dp_count's draw, as parallel mechanisms must be — and selected from
    the round-10 discretized-Laplace DECIMAL ladder
    (functions/dp_noise.py): integer shift + exact decimal compare, so
    the threshold test cannot split across engines.  Scale: one hash
    agg; noise and threshold are constant-folded arithmetic on the
    group rows.  NOTE: the seeded md5 draw is a reproducibility /
    engine-parity simulation — production must substitute fresh
    randomness for the md5 stream to obtain a real epsilon guarantee."""
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("sel|"),
                           F.concat_ws("|", "lang", "source"))), 1, 13),
        16, 10,
    ).cast("long")
    noisy = (F.col("n") + spark_laplace(h, 1 / DP_EPS)).cast("decimal(18,4)")
    return (
        g.select("lang", "source", noisy.alias("noisy_n"))
        .filter(F.col("noisy_n") >= DPSEL_TAU)
    )


def _dp_mean_hash(prefix: str):
    """52-bit md5 hash of prefix||lang — privacy_dp_mean's independent
    per-component noise streams ('meanN|' count, 'meanS|' sum)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(prefix), F.col("lang"))), 1, 13),
        16, 10,
    ).cast("long")


def _dp_mean_h_sql(prefix: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{prefix}' || lang), 1, 13)) AS BIGINT)"
    )


@query(
    "privacy_dp_mean",
    oracle=f"""
    WITH g AS (
      SELECT lang, COUNT(*) AS n,
             CAST(SUM(LEAST(n_chars, {DPS_CLIP})) AS BIGINT) AS clipped_sum,
             {_dp_mean_h_sql('meanN|')} AS hn,
             {_dp_mean_h_sql('meanS|')} AS hs
      FROM documents GROUP BY lang),
    r AS (
      SELECT lang,
             CAST(clipped_sum * 10000
                  + {sql_laplace_e4('hs', DPS_CLIP / DP_EPS)} AS BIGINT)
               AS noisy_sum_e4,
             CAST(n * 10000 + {sql_laplace_e4('hn', 1 / DP_EPS)} AS BIGINT)
               AS noisy_n_e4
      FROM g)
    SELECT lang, noisy_sum_e4, noisy_n_e4,
           CAST(noisy_sum_e4 * 1000 // GREATEST(noisy_n_e4, 1) AS BIGINT)
             AS mean_milli
    FROM r
    """,
)
def privacy_dp_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP mean release, composed the only correct way: noisy clipped
    sum DIVIDED BY noisy count, each with its own independent ladder
    draw ('meanN|'/'meanS|' streams) and its own epsilon share — never
    noise-the-ratio (whose sensitivity is unbounded).  Emits the two
    released components plus the derived mean in milli-chars — the
    (count, sum, mean) triple every DP dashboard builds from.  NOTE:
    the seeded md5 draw is a reproducibility / engine-parity
    simulation — production must substitute fresh randomness for the
    md5 stream to obtain a real epsilon guarantee.

    Round-11 hardening (driver-red in r10 while value-exact against
    every local replica): both components are now PURE INTEGER e4
    units — ``clipped_sum*10^4 + ladder_e4`` / ``n*10^4 + ladder_e4``
    (functions/dp_noise.py laplace_ladder_e4) — so no DECIMAL typing
    or rendering exists anywhere in the release, and the mean is a
    guarded integer division ``noisy_sum_e4 * 1000 DIV
    GREATEST(noisy_n_e4, 1)`` (the guard keeps a pathologically tiny
    partition from dividing by <= 0 instead of releasing NULL/garbage;
    both operands are provably positive at every certified scale —
    per-lang counts dwarf the +-6.94*scale noise bound).  (The
    ``_parts`` decomposition diagnostic was retired in round 12 once
    this key's driver row went green, per its own contract.)

    Scale: one hash agg with map-side clipping; everything after is
    constant-folded integer arithmetic on the lang-cardinality group
    rows.  Envelope: noisy_sum_e4*10^3 needs clipped_sum < 9.2e11 per
    lang (~4.6e8 docs/lang at the 2000-char clip) — far past sf10."""
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.least(F.col("n_chars"), F.lit(DPS_CLIP))).cast("long")
        .alias("clipped_sum"),
    )
    sel = g.select(
        "lang",
        (F.col("clipped_sum") * 10000
         + spark_laplace_e4(_dp_mean_hash("meanS|"), DPS_CLIP / DP_EPS))
        .cast("long").alias("noisy_sum_e4"),
        (F.col("n") * 10000
         + spark_laplace_e4(_dp_mean_hash("meanN|"), 1 / DP_EPS))
        .cast("long").alias("noisy_n_e4"),
    )
    return sel.select(
        "lang", "noisy_sum_e4", "noisy_n_e4",
        F.expr(
            "CAST(noisy_sum_e4 * 1000 DIV GREATEST(noisy_n_e4, 1)"
            " AS BIGINT)"
        ).alias("mean_milli"),
    )


# Gaussian mechanism: sigma for (eps, delta)-DP with L2 sensitivity 1
# via the classical analytic bound sigma = sqrt(2 ln(1.25/delta))/eps.
# delta = 1e-6 (the "cryptographically small vs 1/n" convention).
DP_GAUSS_DELTA = 1e-6
import math as _math  # noqa: E402  (build-time constant only)
DP_GAUSS_SIGMA = _math.sqrt(2 * _math.log(1.25 / DP_GAUSS_DELTA)) / DP_EPS

_DPG_H_SQL = (
    "CAST(('0x' || substr(md5('g|' || lang || '|' || source), 1, 13))"
    " AS BIGINT)"
)


@query(
    "privacy_dp_gaussian_count",
    oracle=f"""
    WITH g AS (
      SELECT lang, source, COUNT(*) AS n,
             {_DPG_H_SQL} AS h
      FROM documents GROUP BY lang, source)
    SELECT lang, source,
           CAST(n * 10000 + {sql_gaussian_e4('h', DP_GAUSS_SIGMA)}
             AS BIGINT) AS noisy_n_e4
    FROM g
    """,
)
def privacy_dp_gaussian_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GAUSSIAN MECHANISM — the other canonical DP release beside
    the family's Laplace keys, and the one production accountants
    actually compose under (zCDP/RDP: Gaussian noise composes with
    exactly-summing rho, which is why TF-Privacy / Opacus / Google's
    DP libraries train and release with it).  Per (lang, source), the
    count releases as ``n*10000 + N(0, sigma)_e4`` with
    sigma = sqrt(2 ln(1.25/delta))/eps (~{DP_GAUSS_SIGMA:.2f} at
    eps={DP_EPS}, delta={DP_GAUSS_DELTA}) — the classical analytic
    (eps, delta) calibration for L2 sensitivity 1.

    Engine-exactness is the functions/dp_noise.py ladder posture: the
    inverse CDF (stdlib NormalDist — pure Python, no C libm at all)
    runs once at table-build time into 1024 integer-e4 literals; both
    engines select by the same integer shift of the same 52-bit md5
    hash ('g|' stream, independent of every Laplace/Gumbel stream),
    so the release is pure-integer end to end.  As with the rest of
    the family, the seeded-md5 draw is an engine-parity SIMULATION of
    the sampler, not a cryptographic noise source.

    Scale: one hash agg; the noise is a constant-folded array lookup
    on the group rows — identical plan class to privacy_dp_count."""
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("g|"), F.concat_ws("|", "lang", "source"))),
            1, 13,
        ), 16, 10,
    ).cast("long")
    return g.select(
        "lang", "source",
        (F.col("n") * 10000 + spark_gaussian_e4(h, DP_GAUSS_SIGMA))
        .cast("long").alias("noisy_n_e4"),
    )


RR_F_HALF = 2251799813685248  # 2^51: top bit of the 52-bit md5 uniform


@query(
    "privacy_rr_frequency",
    oracle=f"""
    WITH d AS (
      SELECT source,
             (lang = 'en') AS truth,
             CAST(('0x' || substr(md5('rr1|' || CAST(doc_id AS VARCHAR)),
                                  1, 13)) AS BIGINT) AS h1,
             CAST(('0x' || substr(md5('rr2|' || CAST(doc_id AS VARCHAR)),
                                  1, 13)) AS BIGINT) AS h2
      FROM documents),
    r AS (
      SELECT source,
             CASE WHEN h1 >= {RR_F_HALF} THEN truth
                  ELSE h2 >= {RR_F_HALF} END AS report
      FROM d)
    SELECT source, COUNT(*) AS n,
           CAST(SUM(CASE WHEN report THEN 1 ELSE 0 END) AS BIGINT)
             AS observed,
           CAST(2000 * SUM(CASE WHEN report THEN 1 ELSE 0 END)
                - 500 * COUNT(*) AS BIGINT) AS est_true_milli
    FROM r GROUP BY source
    """,
)
def privacy_rr_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL differential privacy: randomized response over a per-doc
    boolean (is the doc English), the mechanism each CLIENT applies
    before its bit ever reaches the collector — completing the privacy
    family's other half beside the central-DP releases (count / sum /
    mean / partition-select perturb aggregates; this perturbs at the
    source).  With probability f=1/2 a doc reports a fair coin instead
    of the truth (epsilon = ln(3) per bit); the collector sees only
    reports and publishes the unbiased frequency estimate
    (observed - f·n/2) / (1 - f) = 2·observed - n/2, in exact
    milli-units.  The true per-source count never appears in the
    output — only n, the observed noisy count, and the estimate.

    Determinism/exactness: both decisions (flip? coin?) are single-bit
    integer compares on independent md5 streams ('rr1|'/'rr2|'), the
    estimator is pure integer arithmetic — nothing to drift, no libm
    anywhere (the round-10 DP posture).  Scale: map-side per-row bits
    + ONE hash agg to source cardinality; at 100 TB this is the
    mechanism that runs on a billion clients, and the collector-side
    plan is a conditional count.  NOTE: the seeded md5 decisions are a
    reproducibility / engine-parity simulation — a real deployment
    draws each client's coins fresh, or the stated epsilon=ln(3) does
    not hold."""
    d = table(spark, sf_dir, "documents")

    def h(prefix: str):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), F.col("doc_id").cast("string"))),
                1, 13),
            16, 10,
        ).cast("long")

    report = F.when(
        h("rr1|") >= RR_F_HALF, F.col("lang") == "en"
    ).otherwise(h("rr2|") >= RR_F_HALF)
    return (
        d.select("source", report.alias("report"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("report"), 1).otherwise(0)).cast("long")
            .alias("observed"),
        )
        .select(
            "source", "n", "observed",
            (2000 * F.col("observed") - 500 * F.col("n")).cast("long")
            .alias("est_true_milli"),
        )
    )


# --- DP quantile (exponential mechanism) --------------------------------
DPQ_STEP = 20    # candidate grid: c_j = 20*j chars
DPQ_NCAND = 64   # j in 1..64 -> candidates cover 20..1280 chars

_DPQ_H_SQL = ("CAST(('0x' || substr(md5('q|' || lang || '|' ||"
              " CAST(j AS VARCHAR)), 1, 13)) AS BIGINT)")


@query(
    "privacy_dp_quantile",
    oracle=f"""
    WITH lg AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    bk AS (
      SELECT lang, CAST(n_chars // {DPQ_STEP} AS BIGINT) AS b, COUNT(*) AS c
      FROM documents GROUP BY 1, 2),
    grid AS (
      SELECT lg.lang, lg.n, j
      FROM lg CROSS JOIN UNNEST(range(1, {DPQ_NCAND + 1})) AS t(j)),
    cnt AS (
      SELECT g.lang, g.n, g.j, COALESCE(SUM(bk.c), 0) AS cnt_lt
      FROM grid g LEFT JOIN bk ON bk.lang = g.lang AND bk.b < g.j
      GROUP BY 1, 2, 3),
    sc AS (
      SELECT lang, j,
             CAST(2500 * (-ABS(2 * cnt_lt - n))
                  + {sql_gumbel_e4(_DPQ_H_SQL)} AS BIGINT) AS score_e4
      FROM cnt),
    r AS (
      SELECT lang, j,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY score_e4 DESC, j) AS rnk
      FROM sc)
    SELECT lang, CAST(j * {DPQ_STEP} AS BIGINT) AS q_chars
    FROM r WHERE rnk = 1
    """,
)
def privacy_dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP MEDIAN via the EXPONENTIAL MECHANISM — the selection-typed
    release the family still lacked (dp_count/sum/mean perturb a
    numeric aggregate; partition_select thresholds; rr perturbs at the
    client; THIS selects a value from a candidate domain by utility).
    Per lang, candidates are the fixed grid c_j = {DPQ_STEP}*j
    (j=1..{DPQ_NCAND}; a data-INdependent domain, as the mechanism
    requires); utility u(c_j) = -|2*below(c_j) - n| (twice the usual
    rank distance, kept integer); the winner is drawn with probability
    proportional to exp(eps*u_true/2) via the GUMBEL-MAX TRICK:
    argmax of eps/4*u*1e4 + Gumbel_e4, the Gumbel drawn from the
    1024-entry integer-e4 ladder (functions/dp_noise.py) indexed by
    the 52-bit md5 of 'q|'||lang||'|'||j.  Released value: the chosen
    candidate only — never a raw count.

    Determinism/exactness: utilities are integers, the Gumbel is a
    ladder literal, the argmax tiebreak (score DESC, j ASC) is total —
    pure-integer end to end on both engines (the round-10/11 DP
    posture; zero libm in any released value).  Scale: one hash agg to
    (lang, bucket) cardinality, then a lang x {DPQ_NCAND} grid
    (group-rows-bounded, never data-bounded) with a bounded theta join
    against the histogram.  NOTE: the seeded md5 Gumbel is a
    reproducibility / engine-parity simulation — production must draw
    fresh randomness for the stated epsilon to hold."""
    d = table(spark, sf_dir, "documents")
    lg = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    bk = (
        d.groupBy("lang", F.expr(f"n_chars DIV {DPQ_STEP}").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("lang").alias("b_lang"), "b", "c")
    )
    cj = spark.range(1, DPQ_NCAND + 1).select(F.col("id").alias("j"))
    grid = lg.crossJoin(F.broadcast(cj))
    cnt = (
        grid.join(
            bk,
            (grid["lang"] == bk["b_lang"]) & (bk["b"] < grid["j"]),
            "left",
        )
        .groupBy("lang", "n", "j")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("cnt_lt"))
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("q|"), F.col("lang"), F.lit("|"),
                           F.col("j").cast("string"))), 1, 13),
        16, 10,
    ).cast("long")
    sc = cnt.select(
        "lang", "j",
        (2500 * (-F.abs(2 * F.col("cnt_lt") - F.col("n")))
         + spark_gumbel_e4(h)).cast("long").alias("score_e4"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("score_e4").desc(), "j")
    return (
        sc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("lang", (F.col("j") * DPQ_STEP).cast("long").alias("q_chars"))
    )


# --- late-interaction retrieval (ColBERT MaxSim) ------------------------
MXS_NQ = 20       # vec_id < 20 are the probe queries
MXS_TOKENS = 8    # pseudo token vectors per doc (64-dim -> 8 x 8)
MXS_SUBDIM = 8    # dims per token vector
MXS_K = 5         # neighbors released per query
MXS_SALT = 32     # map-side top-k fan: local cut per (query, salt)

# The one dot product, written ONCE and rendered into both engine
# texts with each engine's 1-based element accessor — identical
# left-associated IEEE tree, so the doubles agree bit-for-bit before
# the single micro-unit rounding.
_MXS_DOT_SPARK = " + ".join(
    f"element_at(qt, {i}) * element_at(dt, {i})"
    for i in range(1, MXS_SUBDIM + 1)
)
_MXS_DOT_SQL = " + ".join(
    f"qt[{i}] * dt[{i}]" for i in range(1, MXS_SUBDIM + 1)
)


@query(
    "rag_maxsim",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    t AS (
      SELECT vec_id,
             [e[i * {MXS_SUBDIM} + 1 : i * {MXS_SUBDIM} + {MXS_SUBDIM}]
              for i in range({MXS_TOKENS})] AS toks
      FROM v),
    scored AS (
      SELECT q.vec_id AS query_id, d.vec_id AS doc_id,
             CAST(list_sum([
               list_max([
                 CAST(FLOOR(({_MXS_DOT_SQL}) * 1000000 + 0.5) AS BIGINT)
                 for dt in d.toks])
               for qt in q.toks]) AS BIGINT) AS maxsim_micro
      FROM t q JOIN t d ON q.vec_id <> d.vec_id
      WHERE q.vec_id < {MXS_NQ}),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY maxsim_micro DESC, doc_id) AS rnk
      FROM scored)
    SELECT query_id, doc_id, maxsim_micro, rnk
    FROM ranked WHERE rnk <= {MXS_K}
    """,
)
def rag_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION retrieval (ColBERT MaxSim): each embedding is
    treated as {MXS_TOKENS} token vectors of {MXS_SUBDIM} dims (the
    64-dim column sliced — the corpus has no token-level embeddings,
    so the slicing is the deterministic stand-in; the OPERATOR is the
    scoring contract), and score(q, d) = sum over query tokens of the
    MAX dot product against any doc token — the asymmetric sum-of-max
    that makes late interaction strictly richer than single-vector
    cosine and is the reranking workhorse of modern RAG stacks.
    Top-{MXS_K} docs per query, released with the score in exact
    micro units.

    Exactness: each token-pair dot is the SAME unrolled
    left-associated 8-term expression on both engines (bit-identical
    IEEE doubles), rounded ONCE to integer micro units
    (FLOOR(x*1e6 + 0.5)); max and sum then run on integers, and the
    (score DESC, doc_id) order is total — nothing to drift.

    Scale: the bounded query side ({MXS_NQ} rows) BROADCASTS to a
    single linear corpus scan; per-pair cost is a constant
    {MXS_TOKENS}x{MXS_TOKENS} = 64-dot codegen expression, no Python,
    no explode — pair rows are O(corpus), never materialized wider.
    The top-k cut is TWO-PHASE: a map-side window over (query,
    doc_id % {MXS_SALT}) keeps {MXS_K} per salt, so the final
    per-query window sees {MXS_SALT}*{MXS_K} rows per query instead
    of the corpus (exact under the shared total order — top-k of
    salted top-ks is the global top-k).  At 100 TB: broadcast stays
    {MXS_NQ} vectors, scan parallelizes, the pre-cut bounds the final
    shuffle to KB."""
    path = __import__("os").path.join(sf_dir, "embeddings.parquet")
    sch = "vec_id long, embedding array<float>, label int"
    toks = F.expr(
        f"transform(sequence(0, {MXS_TOKENS - 1}),"
        f" i -> slice(e, i * {MXS_SUBDIM} + 1, {MXS_SUBDIM}))"
    )

    def side(id_col: str, tok_col: str) -> DataFrame:
        return (
            spark.read.schema(sch).parquet(path)
            .select(
                F.col("vec_id").alias(id_col),
                F.col("embedding").cast("array<double>").alias("e"),
            )
            .select(id_col, toks.alias(tok_col))
        )

    q = side("query_id", "qtoks").filter(F.col("query_id") < MXS_NQ)
    d = side("doc_id", "dtoks")
    score = F.expr(
        "CAST(aggregate(qtoks, CAST(0 AS BIGINT), (acc, qt) -> acc +"
        " array_max(transform(dtoks, dt ->"
        f" CAST(FLOOR(({_MXS_DOT_SPARK}) * 1000000 + 0.5) AS BIGINT)))"
        ") AS BIGINT)"
    )
    pairs = (
        d.join(F.broadcast(q), F.col("query_id") != F.col("doc_id"))
        .select("query_id", "doc_id", score.alias("maxsim_micro"))
    )
    order = [F.col("maxsim_micro").desc(), F.col("doc_id")]
    local = Window.partitionBy(
        "query_id", F.expr(f"doc_id % {MXS_SALT}")
    ).orderBy(*order)
    final = Window.partitionBy("query_id").orderBy(*order)
    return (
        pairs.withColumn("lrnk", F.row_number().over(local))
        .filter(F.col("lrnk") <= MXS_K)
        .drop("lrnk")
        .withColumn("rnk", F.row_number().over(final))
        .filter(F.col("rnk") <= MXS_K)
    )


# --- DoReMi-style domain reweighting ------------------------------------
DRM_REF_CLIP = 400  # chars: reference-model surrogate loss clip
DRM_PRX_CLIP = 250  # chars: proxy-model surrogate loss clip


@query(
    "mix_doremi_step",
    oracle=f"""
    WITH s AS (
      SELECT source, COUNT(*) AS n,
             (SUM(LEAST(n_chars, {DRM_REF_CLIP})) * 1000) // COUNT(*)
               AS ref_milli,
             (SUM(LEAST(n_chars, {DRM_PRX_CLIP})) * 1000) // COUNT(*)
               AS prx_milli
      FROM documents GROUP BY source),
    e AS (
      SELECT source, n,
             GREATEST(0, ref_milli - prx_milli) AS excess_milli,
             1000 + GREATEST(0, ref_milli - prx_milli) // 2 AS mult_milli
      FROM s),
    t AS (
      SELECT *, SUM(mult_milli) OVER () AS tot,
             (mult_milli * 1000) // SUM(mult_milli) OVER () AS w_floor,
             (mult_milli * 1000) % SUM(mult_milli) OVER () AS rem
      FROM e),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr,
             1000 - SUM(w_floor) OVER () AS short
      FROM t)
    SELECT source, n, CAST(excess_milli AS BIGINT) AS excess_milli,
           CAST(mult_milli AS BIGINT) AS mult_milli,
           CAST(w_floor + CASE WHEN rr <= short THEN 1 ELSE 0 END AS BIGINT)
             AS w_milli
    FROM r
    """,
)
def mix_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE DoReMi-style domain-reweighting step (Xie et al. 2023,
    public): per domain (source), the EXCESS LOSS of a proxy model
    over a reference model drives a multiplicative-weights update of
    the sampling distribution — domains where the proxy still lags
    gain weight.  The corpus carries no model losses, so two clipped
    char-mean surrogates stand in (ref clip {DRM_REF_CLIP} /
    proxy clip {DRM_PRX_CLIP}; deterministic, monotone in document
    length spread) — the OPERATOR is the update contract: excess_i =
    max(0, ref_i - proxy_i); alpha'_i proportional to alpha_i *
    (1 + eta*excess_i) with uniform alpha and eta = 1/2, the
    LINEARIZED multiplicative-weights update (the Hedge/MW variant
    with exp replaced by its tangent — chosen here because it keeps
    the release pure-integer: exp over a dense data-derived argument
    is banned from released values per the registry contract).

    The released mixture renormalizes by LARGEST REMAINDER to exact
    integer milli-weights summing to 1000 — the same exact-allocation
    discipline as the mix_* schedulers, so downstream token budgets
    never drift by rounding.  Scale: ONE hash agg to source
    cardinality; every window after runs on the ~20 domain rows.
    At 100 TB the agg is the only data-bounded stage (map-side
    partial over the clip expressions)."""
    d = table(spark, sf_dir, "documents")
    sums = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM(LEAST(n_chars, {DRM_REF_CLIP}))").alias("ref_sum"),
        F.expr(f"SUM(LEAST(n_chars, {DRM_PRX_CLIP}))").alias("prx_sum"),
    )
    return doremi_weights_from_sums(sums)


def doremi_weights_from_sums(sums: DataFrame) -> DataFrame:
    """The DoReMi update applied to pre-aggregated per-source sums —
    factored out of mix_doremi_step so curation_stream's incremental
    reweight stage can FOLD per-batch partial sums (n, ref_sum,
    prx_sum are all additive) and re-release the exact same integer
    contract per trigger.  Input: (source, n, ref_sum, prx_sum);
    output: the mix_doremi_step release columns."""
    s = sums.select(
        "source", "n",
        F.expr("(ref_sum * 1000) DIV n").alias("ref_milli"),
        F.expr("(prx_sum * 1000) DIV n").alias("prx_milli"),
    )
    e = s.select(
        "source", "n",
        F.greatest(F.lit(0), F.col("ref_milli") - F.col("prx_milli"))
        .alias("excess_milli"),
    ).withColumn(
        "mult_milli", F.lit(1000) + F.expr("excess_milli DIV 2")
    )
    all_w = Window.partitionBy()
    t = e.select(
        "*",
        F.sum("mult_milli").over(all_w).alias("tot"),
    ).select(
        "*",
        F.expr("(mult_milli * 1000) DIV tot").alias("w_floor"),
        F.expr("(mult_milli * 1000) % tot").alias("rem"),
    )
    r = t.select(
        "*",
        F.row_number().over(
            Window.partitionBy().orderBy(F.col("rem").desc(), "source")
        ).alias("rr"),
        (F.lit(1000) - F.sum("w_floor").over(all_w)).alias("short"),
    )
    return r.select(
        "source", "n",
        F.col("excess_milli").cast("long").alias("excess_milli"),
        F.col("mult_milli").cast("long").alias("mult_milli"),
        (F.col("w_floor")
         + F.when(F.col("rr") <= F.col("short"), 1).otherwise(0))
        .cast("long").alias("w_milli"),
    )


# --- user-level DP (contribution bounding) -------------------------------
DPU_CAP_DOCS = 50   # L-infinity bound: docs one user contributes per lang
DPU_CAP_LANGS = 3   # L0 bound: langs one user may contribute to
# sensitivity of the per-lang count under user-level adjacency =
# CAP_DOCS * CAP_LANGS (one user removed changes <= 50 docs in each of
# <= 3 langs); scale = sensitivity / eps with eps = DP_EPS = 1.

_DPU_H_SQL = "CAST(('0x' || substr(md5('u|' || lang), 1, 13)) AS BIGINT)"


@query(
    "privacy_dp_user_count",
    oracle=f"""
    WITH sl AS (
      SELECT source, lang, COUNT(*) AS cnt
      FROM documents GROUP BY source, lang),
    keep AS (
      SELECT source, lang, LEAST(cnt, {DPU_CAP_DOCS}) AS capped,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY cnt DESC, lang) AS lrnk
      FROM sl),
    b AS (
      SELECT lang, SUM(capped) AS bounded_n
      FROM keep WHERE lrnk <= {DPU_CAP_LANGS} GROUP BY lang)
    SELECT lang,
           CAST(bounded_n * 10000
                + {sql_laplace_e4('h', DPU_CAP_DOCS * DPU_CAP_LANGS / DP_EPS)}
             AS BIGINT) AS noisy_bounded_n_e4
    FROM (SELECT lang, bounded_n, {_DPU_H_SQL} AS h FROM b)
    """,
)
def privacy_dp_user_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USER-LEVEL DP count — the adjacency every production DP system
    actually needs (a 'user' here = a source; removing one user must
    move the release by a bounded amount no matter HOW MANY rows they
    contributed).  Row-level dp_count bounds nothing per user; this
    key adds the standard CONTRIBUTION BOUNDING pipeline: (1)
    L-infinity bound — each source contributes at most
    {DPU_CAP_DOCS} docs to any lang (LEAST cap); (2) L0 bound — each
    source contributes to at most {DPU_CAP_LANGS} langs (its top
    langs by count, ties by lang — a deterministic total order); (3)
    the bounded per-lang count releases with Laplace scale
    sensitivity/eps = {DPU_CAP_DOCS}*{DPU_CAP_LANGS}/{DP_EPS} from
    the integer-e4 ladder.  Released: the noisy bounded count only —
    never the raw or even the bounded-but-exact count.

    Scale: one (source, lang) hash agg (map-side partial), a
    per-source window over its <= lang-cardinality rows, one final
    lang agg — all group-rows-bounded after the first agg.
    Determinism: caps, ranks, sums, ladder — pure integer on both
    engines.  NOTE: the seeded md5 draw is a reproducibility /
    engine-parity simulation — production must substitute fresh
    randomness for the stated user-level epsilon to hold."""
    d = table(spark, sf_dir, "documents")
    sl = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.col("cnt").desc(), "lang")
    keep = (
        sl.withColumn("lrnk", F.row_number().over(w))
        .filter(F.col("lrnk") <= DPU_CAP_LANGS)
        .select("lang",
                F.least(F.col("cnt"), F.lit(DPU_CAP_DOCS)).alias("capped"))
    )
    b = keep.groupBy("lang").agg(F.sum("capped").alias("bounded_n"))
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("u|"), F.col("lang"))), 1, 13),
        16, 10,
    ).cast("long")
    return b.select(
        "lang",
        (F.col("bounded_n") * 10000
         + spark_laplace_e4(h, DPU_CAP_DOCS * DPU_CAP_LANGS / DP_EPS))
        .cast("long").alias("noisy_bounded_n_e4"),
    )


# --- DP top-k (one-shot Gumbel) -------------------------------------------
DPT_K = 3  # released ranks

_DPT_H_SQL = ("CAST(('0x' || substr(md5('topk|' || lang || '|' || source),"
              " 1, 13)) AS BIGINT)")


@query(
    "privacy_dp_topk",
    oracle=f"""
    WITH g AS (
      SELECT lang, source, COUNT(*) AS n, {_DPT_H_SQL} AS h
      FROM documents GROUP BY lang, source),
    sc AS (
      SELECT lang, source,
             CAST(n * 5000 + {sql_gumbel_e4('h')} AS BIGINT) AS score_e4
      FROM g),
    r AS (
      SELECT lang, source,
             ROW_NUMBER() OVER (ORDER BY score_e4 DESC, lang, source)
               AS rnk
      FROM sc)
    SELECT rnk, lang, source FROM r WHERE rnk <= {DPT_K}
    """,
)
def privacy_dp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP TOP-K by the ONE-SHOT GUMBEL mechanism (Durfee & Rogers
    2019, public): add independent Gumbel noise to every candidate's
    utility and release the IDENTITIES of the top {DPT_K} in noisy
    order — provably equivalent to peeling the exponential mechanism
    {DPT_K} times, at one pass instead of k.  Candidates are the
    (lang, source) groups, utility their count scaled by eps/2 into
    e4 units (n*5000 for eps={DP_EPS}), the Gumbel drawn from the
    integer-e4 ladder (functions/dp_noise.py) keyed by
    'topk|'||lang||'|'||source.  Released: rank and identity ONLY —
    never a count, noisy or raw; this is the "what are the k most
    common X" query every DP deployment answers without leaking
    magnitudes.

    Completes the selection side of the DP family: dp_quantile
    selects ONE value from a fixed grid; this selects k candidates
    from the data-derived group set (safe here because identities
    compete only through their noisy scores — the Gumbel-max
    argument; partition_select is the thresholded cousin that
    additionally hides the candidate SET).  Pure integer end-to-end
    on both engines; tiebreak (score DESC, lang, source) total.
    Scale: ONE hash agg; the top-k window runs on group rows.  NOTE:
    the seeded md5 Gumbel is a reproducibility / engine-parity
    simulation — production draws fresh randomness or the epsilon
    does not hold."""
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("topk|"), F.col("lang"), F.lit("|"),
                           F.col("source"))), 1, 13),
        16, 10,
    ).cast("long")
    sc = g.select(
        "lang", "source",
        (F.col("n") * 5000 + spark_gumbel_e4(h)).cast("long")
        .alias("score_e4"),
    )
    w = Window.partitionBy().orderBy(
        F.col("score_e4").desc(), "lang", "source")
    return (
        sc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= DPT_K)
        .select("rnk", "lang", "source")
    )


# --- zCDP composition accountant (round 13, VERDICT r12 item 8) ------------
# The Gaussian mechanism landed in round 12 precisely because
# accountants compose under it; this releases the composed ledger.
# All transcendental constants are Python-precomputed integer literals
# (the dp_noise ladder posture): at query time both engines do only
# BIGINT sums, one EXACT integer sqrt (floor(sqrt(double)) plus a
# two-sided integer correction, sound past 2^53), and integer
# division.
_ACC_DELTA_PRIME = 1e-6  # conversion target delta' for zCDP -> (eps, delta)
_ACC_LN_INV_DELTA_E8 = int(_math.log(1 / _ACC_DELTA_PRIME) * 1e8)


def _acc_rows() -> list[tuple]:
    """(seq, release, mechanism, eps_e4, delta_e12, rho_e8) for every
    registered DP release, derived from the family's own module
    constants.  Pure-eps mechanisms convert at rho = eps^2/2 (the
    generic pure-DP -> zCDP bound; the exponential-mechanism rows
    admit a tighter eps^2/8 — the generic bound keeps one documented
    conversion per row).  privacy_dp_mean spends TWO eps draws (its S
    and N streams); privacy_dp_topk is DPT_K peeled exponential
    mechanisms (Gumbel one-shot); partition selection carries the
    Laplace tail delta P(Lap(1/eps) > tau-1) = exp(-eps*(tau-1))/2;
    the Gaussian row is (eps, delta) with rho = 1/(2 sigma^2)."""
    def pure(eps: float) -> tuple[int, int, int]:
        return (int(eps * 1e4), 0, int(eps * eps / 2 * 1e8))

    ln3 = _math.log(3.0)
    sel_delta = 0.5 * _math.exp(-DP_EPS * (DPSEL_TAU - 1))
    entries = [
        ("privacy_dp_count", "laplace", *pure(DP_EPS)),
        ("privacy_dp_sum", "laplace", *pure(DP_EPS)),
        ("privacy_dp_mean", "laplace x2", *pure(2 * DP_EPS)),
        ("privacy_dp_partition_select", "laplace+threshold",
         int(DP_EPS * 1e4), int(sel_delta * 1e12),
         int(DP_EPS * DP_EPS / 2 * 1e8)),
        ("privacy_dp_quantile", "exponential", *pure(DP_EPS)),
        ("privacy_dp_topk", f"oneshot-gumbel k={DPT_K}",
         *pure(DPT_K * DP_EPS)),
        ("privacy_dp_user_count", "laplace user-level", *pure(DP_EPS)),
        ("privacy_rr_frequency", "randomized-response",
         int(ln3 * 1e4), 0, int(ln3 * ln3 / 2 * 1e8)),
        ("privacy_dp_gaussian_count", "gaussian",
         int(DP_EPS * 1e4), int(DP_GAUSS_DELTA * 1e12),
         int(1 / (2 * DP_GAUSS_SIGMA ** 2) * 1e8)),
    ]
    return [(i + 1, k, m, e, dl, r)
            for i, (k, m, e, dl, r) in enumerate(entries)]


def _acc_oracle() -> str:
    vals = ",\n      ".join(
        f"(CAST({s} AS BIGINT), '{k}', '{m}', CAST({e} AS BIGINT),"
        f" CAST({dl} AS BIGINT), CAST({r} AS BIGINT))"
        for s, k, m, e, dl, r in _acc_rows()
    )
    ln = _ACC_LN_INV_DELTA_E8
    return f"""
    WITH rel(seq, release, mechanism, eps_e4, delta_e12, rho_e8) AS (
      VALUES {vals}),
    c AS (
      SELECT *,
             CAST(SUM(eps_e4) OVER w AS BIGINT) AS eps_basic_e4,
             CAST(SUM(delta_e12) OVER w AS BIGINT) AS delta_cum_e12,
             CAST(SUM(rho_e8) OVER w AS BIGINT) AS rho_cum_e8
      FROM rel
      WINDOW w AS (ORDER BY seq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    q0 AS (SELECT *, rho_cum_e8 * {ln} AS x,
                  CAST(FLOOR(SQRT(CAST(rho_cum_e8 * {ln} AS DOUBLE)))
                    AS BIGINT) AS s0
           FROM c),
    q1 AS (SELECT *, s0 - CASE WHEN s0 * s0 > x THEN 1 ELSE 0 END AS s1
           FROM q0),
    q2 AS (SELECT *, s1 + CASE WHEN (s1 + 1) * (s1 + 1) <= x
                          THEN 1 ELSE 0 END AS s
           FROM q1)
    SELECT seq, release, mechanism, eps_e4, delta_e12, rho_e8,
           eps_basic_e4, delta_cum_e12, rho_cum_e8,
           CAST(rho_cum_e8 // 10000 + (2 * s) // 10000 AS BIGINT)
             AS eps_zcdp_e4,
           CAST(LEAST(eps_basic_e4,
                      rho_cum_e8 // 10000 + (2 * s) // 10000) AS BIGINT)
             AS eps_best_e4
    FROM q2
    """


@query("privacy_dp_accountant", oracle=_acc_oracle())
def privacy_dp_accountant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED PRIVACY LEDGER of the DP release family (round 13,
    VERDICT r12 item 8): one row per registered release (count / sum /
    mean / partition_select / quantile / topk / user_count / rr /
    gaussian) with its mechanism, per-release (eps, delta), and zCDP
    rho, then the running composition under BOTH accountants —
    basic/sequential (eps_tot = sum eps, delta_tot = sum delta) and
    zCDP (rho_tot = sum rho, converted back at delta' = 1e-6 via
    eps = rho + 2*sqrt(rho * ln(1/delta'))) — and eps_best, the
    tighter of the two, which is what a real accountant reports.

    The HONEST readout this corpus of releases produces: with 9
    queries at eps ~ 1-3, BASIC composition is tighter (eps_best
    follows eps_basic; zCDP's sqrt advantage needs many small-eps
    releases to amortize its constant) — the ledger shows WHERE the
    crossover lives rather than asserting zCDP always wins.  The
    Gaussian row is the one only zCDP composes natively (basic must
    carry its delta additively).

    Exactness (the dp_noise posture): every transcendental —
    ln(1/delta'), ln(3), sigma, the selection tail delta — is a
    Python-time integer literal shared by both plans; at query time
    the engines do BIGINT window sums, integer division, and one
    EXACT isqrt: floor(sqrt(double)) then a two-sided integer
    correction (s^2 <= x < (s+1)^2 enforced with exact BIGINT
    multiplies), sound even where x > 2^53 makes the double sqrt
    round.  Scale: a 9-row governance table — constant at any corpus
    size; the point is the arithmetic contract, priced for the
    registry gate like every release it audits."""
    rows = _acc_rows()
    df = spark.createDataFrame(
        rows,
        "seq LONG, release STRING, mechanism STRING, eps_e4 LONG,"
        " delta_e12 LONG, rho_e8 LONG",
    )
    w = ("(ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING"
         " AND CURRENT ROW)")
    ln = _ACC_LN_INV_DELTA_E8
    x = f"(rho_cum_e8 * {ln})"
    return (
        df.selectExpr(
            "*",
            f"SUM(eps_e4) OVER {w} AS eps_basic_e4",
            f"SUM(delta_e12) OVER {w} AS delta_cum_e12",
            f"SUM(rho_e8) OVER {w} AS rho_cum_e8",
        )
        .selectExpr(
            "*",
            f"CAST(FLOOR(SQRT(CAST({x} AS DOUBLE))) AS BIGINT) AS s0")
        .selectExpr(
            "*", f"s0 - CASE WHEN s0 * s0 > {x} THEN 1 ELSE 0 END AS s1")
        .selectExpr(
            "*",
            f"s1 + CASE WHEN (s1 + 1) * (s1 + 1) <= {x}"
            " THEN 1 ELSE 0 END AS s")
        .selectExpr(
            "seq", "release", "mechanism", "eps_e4", "delta_e12",
            "rho_e8", "eps_basic_e4", "delta_cum_e12", "rho_cum_e8",
            "rho_cum_e8 DIV 10000 + (2 * s) DIV 10000 AS eps_zcdp_e4",
            "LEAST(eps_basic_e4, rho_cum_e8 DIV 10000"
            " + (2 * s) DIV 10000) AS eps_best_e4",
        )
    )


# --- pseudo-relevance feedback (RM3/Rocchio-lite) ---------------------------
PRF_NQ = 5      # doc_id < 5 are the probe queries
PRF_FB = 3      # feedback depth: top docs mined for expansion terms
PRF_TERMS = 5   # expansion terms added per query
PRF_K = 3       # released ranks after expansion

# Shared unit: 3-WORD SHINGLES, the dedup stack's discipline — the
# corpus's flat word vocabulary is ~30 tokens (everything a stopword),
# while shingles give a 16k+ vocabulary where document frequency means
# something.  DF-capped at <= 20% of docs before any join.
# MATERIALIZED on toks/rt (round 12, VERDICT r11 item 7): each is
# consumed by multiple CTEs — inlined, DuckDB re-derived the sf10
# shingle explosion per consumer and spilled past the 18.6 GiB temp
# cap (the round-11 envelope); materialized once, the sf10 oracle
# finishes in ~17 s and the envelope is retired.
_PRF_BASE_SQL = """
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    toks AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tok
      FROM w, UNNEST(generate_series(1, len(ws) - 2)) t(i)),
    n_docs AS (SELECT COUNT(*) AS n FROM documents),
    rare AS (
      SELECT tok FROM toks GROUP BY tok
      HAVING COUNT(*) * 5 <= (SELECT n FROM n_docs)),
    rt AS MATERIALIZED (SELECT toks.doc_id, toks.tok FROM toks
           JOIN rare ON rare.tok = toks.tok)
"""


@query(
    "rag_prf_expansion",
    oracle=f"""
    WITH {_PRF_BASE_SQL},
    q AS (SELECT doc_id AS query_id, tok FROM rt
          WHERE doc_id < {PRF_NQ}),
    s1 AS (
      SELECT q.query_id, rt.doc_id, COUNT(*) AS overlap
      FROM q JOIN rt ON rt.tok = q.tok AND rt.doc_id <> q.query_id
      GROUP BY 1, 2),
    fb AS (
      SELECT query_id, doc_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY overlap DESC, doc_id) AS r FROM s1)
      WHERE r <= {PRF_FB}),
    exp_terms AS (
      SELECT query_id, tok
      FROM (
        SELECT fb.query_id, rt.tok, COUNT(*) AS fb_df,
               ROW_NUMBER() OVER (PARTITION BY fb.query_id
                                  ORDER BY COUNT(*) DESC, rt.tok) AS r
        FROM fb JOIN rt ON rt.doc_id = fb.doc_id
        WHERE NOT EXISTS (SELECT 1 FROM q
                          WHERE q.query_id = fb.query_id
                            AND q.tok = rt.tok)
        GROUP BY fb.query_id, rt.tok)
      WHERE r <= {PRF_TERMS}),
    q2 AS (
      SELECT query_id, tok FROM q
      UNION
      SELECT query_id, tok FROM exp_terms),
    s2 AS (
      SELECT q2.query_id, rt.doc_id, COUNT(*) AS score2
      FROM q2 JOIN rt ON rt.tok = q2.tok AND rt.doc_id <> q2.query_id
      GROUP BY 1, 2)
    SELECT query_id, doc_id, CAST(score2 AS BIGINT) AS score2, rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY score2 DESC, doc_id) AS rnk FROM s2)
    WHERE rnk <= {PRF_K}
    """,
)
def rag_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSEUDO-RELEVANCE FEEDBACK (Rocchio/RM3, public IR canon) — the
    classic two-pass retrieval loop RAG stacks rediscovered as "query
    expansion": retrieve top-{PRF_FB} docs by distinct-term overlap,
    mine the {PRF_TERMS} terms most frequent in that feedback set but
    ABSENT from the query, add them to the query, retrieve again, and
    release the post-expansion top-{PRF_K}.  Probes are doc_id <
    {PRF_NQ} (their own term sets as queries).  The term unit is the
    3-WORD SHINGLE (the dedup stack's): the corpus's flat word
    vocabulary is ~30 tokens — every word a stopword — while shingles
    give a 16k+ vocabulary where document frequency discriminates.

    Scale discipline: shingles are DF-STOPWORDED (df <= 20% of the
    corpus) before any join, so the inverted-index candidate streams
    stay bounded exactly as the dedup stack's df-capped shingle joins
    do; both retrieval passes are term-key equi-joins (query side
    bounded: {PRF_NQ} queries, +{PRF_TERMS} terms each after
    expansion), and every ranking is a group-limit window under a
    total order (score DESC, doc_id).  Pure integer scores on both
    engines — the released artifact is the expansion CONTRACT, not a
    similarity heuristic."""
    d = table(spark, sf_dir, "documents")
    # Shingle construction via the zip-slice kernel (dedup._grams) —
    # the old element_at(split(text), i)-inside-transform form inlined
    # the split() into the lambda body, re-tokenizing the document
    # once per element (the O(tokens^2) trap _grams' docstring
    # documents; 7.7 s -> 3.6 s at sf0.1, round 14).  Short-text
    # guard kept (empty grams for < 3 words — DuckDB's
    # generate_series yields nothing there, and slice() with a
    # negative length would error under ANSI).  _grams array_distincts
    # per doc, so the exploded (doc_id, tok) rows are already
    # distinct — the old row-level .distinct() exchange is dropped.
    w = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(w) < 3, F.array().cast("array<string>")
    ).otherwise(_grams())
    toks = d.select("doc_id", F.explode(grams).alias("tok"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n"))
    rare = (
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * 5 <= F.col("n"))
        .select("tok")
    )
    # rt feeds FOUR consumers (q, both retrieval passes, fb_terms);
    # without a lineage cut each re-derives the shingle explosion +
    # df-filter.  The checkpoint materializes it once, disk-backed,
    # and nothing survives the query (guide §2.3 reuse discipline,
    # same pattern as the graph family).
    rt = (
        toks.join(rare, "tok")
        .select("doc_id", "tok")
        .transform(checkpoint)
    )
    q = (
        rt.filter(F.col("doc_id") < PRF_NQ)
        .select(F.col("doc_id").alias("query_id"), "tok")
    )

    def retrieve(qset: DataFrame, score_col: str) -> DataFrame:
        return (
            qset.join(rt, "tok")
            .filter(F.col("doc_id") != F.col("query_id"))
            .groupBy("query_id", "doc_id")
            .agg(F.count(F.lit(1)).alias(score_col))
        )

    s1 = retrieve(q, "overlap")
    fb = (
        s1.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("query_id")
                .orderBy(F.col("overlap").desc(), "doc_id")),
        )
        .filter(F.col("r") <= PRF_FB)
        .select("query_id", "doc_id")
    )
    fb_terms = (
        fb.join(rt, "doc_id")
        .join(
            q.select(F.col("query_id").alias("q_qid"),
                     F.col("tok").alias("q_tok")),
            (F.col("query_id") == F.col("q_qid"))
            & (F.col("tok") == F.col("q_tok")),
            "left_anti",
        )
        .groupBy("query_id", "tok")
        .agg(F.count(F.lit(1)).alias("fb_df"))
    )
    exp_terms = (
        fb_terms.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("query_id")
                .orderBy(F.col("fb_df").desc(), "tok")),
        )
        .filter(F.col("r") <= PRF_TERMS)
        .select("query_id", "tok")
    )
    q2 = q.unionByName(exp_terms).distinct()
    s2 = retrieve(q2, "score2")
    return (
        s2.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id")
                .orderBy(F.col("score2").desc(), "doc_id")),
        )
        .filter(F.col("rnk") <= PRF_K)
        .select("query_id", "doc_id",
                F.col("score2").cast("long").alias("score2"), "rnk")
    )
