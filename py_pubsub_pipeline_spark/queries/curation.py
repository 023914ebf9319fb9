"""Corpus-curation operators, batch 3 (round 4): deterministic
training shuffle, domain-mix weighting, quantile feature binning,
one-pass correlation matrix, and winnowing fingerprints.

These fill the remaining gaps between "filtered, deduplicated corpus"
and "batches on the trainer": a reproducible global shuffle, the
domain mixing computation (how much of each source to sample),
numeric feature binning for quality-score calibration, the standard
one-pass statistics sweep, and the winnowing fingerprint scheme
(Schleimer/Wilkerson/Aiken, the MOSS algorithm) whose guarantees
doc-level MinHash doesn't give (any shared run of >= w+k-1 tokens is
detected through a SHARED fingerprint).

Determinism: hash keys are md5 (portable across engines), every
window ORDER BY ends in a unique key, floating outputs round to 6
decimals on both sides, counts cast to BIGINT explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.splitwin import split_window
from ..functions.ckpt import checkpoint
from ..registry import query
from ..tables import table

N_SHARDS = 16     # shuffle output shards (first md5 hex char)
WINNOW_W = 4      # winnowing window: min-hash over 4 consecutive grams
N_BUCKETS = 10    # quantile bins

_HEX = "0123456789abcdef"


@query(
    "shuffle_deterministic",
    oracle="""
    WITH k AS (
      SELECT doc_id,
             md5('shuf|' || CAST(doc_id AS VARCHAR)) AS key
      FROM documents),
    s AS (
      SELECT doc_id, key,
             strpos('0123456789abcdef', substr(key, 1, 1)) - 1 AS shard
      FROM k)
    SELECT doc_id, CAST(shard AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY shard ORDER BY key, doc_id) AS BIGINT) AS pos
    FROM s
    """,
)
def shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle: every document gets a
    reproducible (shard, pos) slot — shard from the first hex char of
    a salted md5, position by rank of the full hash within the shard.
    This is the pre-training shuffle a reproducible data pipeline
    needs: the order is a pure function of doc_id (stable across
    reruns, partitioning, and engines), unlike ORDER BY rand(seed),
    which Spark evaluates per-partition and DuckDB can't reproduce.

    Scale: one shuffle on the shard key; each shard sorts
    independently (16-way here — widen the prefix to 2-3 hex chars
    for 256/4096 shards so per-shard sort stays executor-sized).  No
    global total order is ever materialized; trainers read shards in
    shard-id order and rows in pos order, which IS the global
    permutation."""
    d = table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("shuf|"), F.col("doc_id").cast("string")))
    s = d.select(
        "doc_id",
        key.alias("key"),
    ).withColumn(
        "shard",
        (F.instr(F.lit(_HEX), F.substring("key", 1, 1)) - 1).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    return s.select(
        "doc_id", "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


@query(
    "mix_domain_weights",
    oracle="""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    z AS (SELECT SUM(sqrt(CAST(n_tokens AS DOUBLE))) AS z FROM s)
    SELECT s.source, s.n_docs, s.n_tokens,
           ROUND(sqrt(CAST(s.n_tokens AS DOUBLE)) / z.z, 6) AS mix_weight
    FROM s, z
    """,
)
def mix_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing weights by temperature sampling (tau = 0.5, the
    sqrt rule): each source's share of the training mix is
    sqrt(tokens) / sum(sqrt(tokens)) — the standard compromise between
    proportional sampling (drowns small domains) and uniform (repeats
    tiny ones).  Output is the per-source plan the sampler
    (sample_balanced's hash gate with per-source rates) consumes.

    Scale: one hash agg over the corpus (map-side partials), then a
    sources-sized (i.e. tiny) broadcast of the normalizer; sqrt is
    correctly-rounded IEEE on both engines and the final ratio rounds
    to 6 so the few-term normalizer sum can't leak ulp noise."""
    d = table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long")
        .alias("n_tokens"),
    )
    z = s.agg(F.sum(F.sqrt(F.col("n_tokens").cast("double"))).alias("z"))
    return (
        s.join(F.broadcast(z))
        .select(
            "source", "n_docs", "n_tokens",
            F.round(
                F.sqrt(F.col("n_tokens").cast("double")) / F.col("z"), 6
            ).alias("mix_weight"),
        )
    )


@query(
    "quantile_bucketize",
    oracle=f"""
    WITH hist AS MATERIALIZED (
      SELECT l_extendedprice AS v, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1),
    tot AS (SELECT SUM(cnt) AS n FROM hist),
    cum AS (
      SELECT v, cnt, SUM(cnt) OVER (ORDER BY v) AS cum FROM hist),
    b AS (
      SELECT [{", ".join(
          f"MIN(CASE WHEN cum >= ({k} * n + 9) // 10 THEN v END)"
          for k in range(1, N_BUCKETS))}] AS bnds
      FROM cum, tot),
    assigned AS (
      SELECT h.v, h.cnt,
             CAST(len(list_filter(b.bnds, x -> x <= h.v)) AS INT) AS bucket
      FROM hist h, b)
    SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS n,
           MIN(v) AS min_price, MAX(v) AS max_price
    FROM assigned GROUP BY bucket
    """,
)
def quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile feature binning (the quality-score calibration shape):
    exact decile boundaries of l_extendedprice under the SQL
    percentile_disc rule — boundary_k = smallest actual value whose
    cumulative count reaches ceil(k·n/10), so both engines select the
    identical double and no interpolation arithmetic can diverge —
    then every value gets its bucket as the count of boundaries <= it.

    Physical shape (round-5 rewrite): the boundaries come from the
    value HISTOGRAM — one (value, count) hash agg, a split-window
    running count over the value domain, and nine conditional MINs
    with the rank thresholds in exact integer arithmetic
    ((k·n+9) DIV 10).  The previous form ran nine independent
    percentile_disc aggregates, EACH buffering every value in the
    task: ~9 full-column in-heap copies, which OOMed an 8 GB heap at
    sf1 — the documented exact-percentile hazard arriving an order of
    magnitude earlier than expected.  The histogram form's memory is
    bounded by shard width at any corpus size, and the bucket
    assignment + profile also run on the histogram (distinct values),
    never re-touching raw rows.

    Scale: one fact-scan hash agg (map-side combining), one domain-
    sized split-window exchange, a 9-element broadcast, a domain-sized
    profile agg.  No global sort, no full-column buffers."""
    from ..functions.splitwin import split_window

    li = table(spark, sf_dir, "lineitem")
    hist = (
        li.groupBy(F.col("l_extendedprice").alias("v"))
        .agg(F.count("*").alias("cnt"))
        # hist feeds the running-sum pass, the total agg AND the
        # bucket assignment — three consumers, each otherwise re-
        # scanning and re-aggregating the fact table; one value-
        # cardinality materialization instead.
        .transform(checkpoint)
    )
    cum = split_window(hist, ["v"], running_sums={"cum": "cnt"})
    tot = hist.agg(F.sum("cnt").alias("n"))
    bnds = cum.crossJoin(F.broadcast(tot)).agg(
        F.array(*[
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"({k} * n + 9) DIV 10"),
                    F.col("v"),
                )
            )
            for k in range(1, N_BUCKETS)
        ]).alias("bnds")
    )
    assigned = hist.crossJoin(F.broadcast(bnds)).select(
        "v",
        "cnt",
        F.size(F.filter(F.col("bnds"), lambda x: x <= F.col("v")))
        .cast("int").alias("bucket"),
    )
    return assigned.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.min("v").alias("min_price"),
        F.max("v").alias("max_price"),
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query(
    "corr_matrix",
    oracle=f"""
    WITH c AS (
      SELECT
        {",".join(
            f"ROUND(corr({a}, {b}), 6) AS r_{a[2:]}_{b[2:]}"
            for i, a in enumerate(_CORR_COLS)
            for b in _CORR_COLS[i + 1:]
        )}
      FROM lineitem)
    {" UNION ALL ".join(
        f"SELECT '{a[2:]}|{b[2:]}' AS pair, r_{a[2:]}_{b[2:]} AS r FROM c"
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    )}
    """,
)
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the four lineitem
    measures in ONE scan: all 6 upper-triangle corr() aggregates run
    in a single hash-agg pass (each keeps its own (n, sum, sumsq,
    sumxy) state), then the 1-row result unpivots to (pair, r) rows.
    The naive form — one scan per pair — reads the fact table 6 times;
    this is the feature-statistics sweep a training pipeline runs per
    snapshot, at one-scan cost.

    Scale: map-side partial correlation states (a few doubles per
    pair), one exchange of ONE row; the unpivot is driver-free
    (stack on the aggregated row).  Rounds to 6 before comparison on
    both engines because summation order differs (Spark merges
    per-partition states; DuckDB streams)."""
    li = table(spark, sf_dir, "lineitem")
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ]
    agg = li.agg(*[
        F.round(F.corr(a, b), 6).alias(f"r_{a[2:]}_{b[2:]}")
        for a, b in pairs
    ])
    stack_args = ", ".join(
        f"'{a[2:]}|{b[2:]}', r_{a[2:]}_{b[2:]}" for a, b in pairs
    )
    return agg.select(
        F.expr(f"stack({len(pairs)}, {stack_args}) AS (pair, r)")
    )


@query(
    "agg_sketch_rollup",
    # Engine sketches differ, so the oracle checks the bounded-error
    # CONTRACT (same device as agg_approx): the NDV recovered by
    # MERGING per-(flag,status) sketches must land within 5% of the
    # exact per-flag distinct count.  DuckDB emits the same booleans
    # as literal TRUE (HLL rsd at lgK=12 is ~1.6% << 5%); a merge
    # regression (double-counted or dropped sketch state) flips a
    # boolean and fails the hash.
    oracle="""
    SELECT l_returnflag, TRUE AS merged_ndv_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-sketch rollup — the property that matters at 100 TB:
    build an HLL sketch per fine-grained group ONCE (here per
    (returnflag, linestatus); in production per day/partition), then
    answer coarser-grain NDV questions by UNIONING the sketch bytes —
    no re-scan of the fact data, which is how a lakehouse serves
    "distinct users this month" from daily sketch tables.  The query
    merges the per-status sketches up to per-flag NDV and verifies
    each merged estimate against the exact distinct count computed
    from the raw data.

    Scale: stage 1 is a map-side-combining sketch agg (fixed bytes per
    group, never a distinct expansion); stage 2 shuffles only sketch
    blobs (KBs per group).  The exact countDistinct here is the test
    harness, not the production path."""
    li = table(spark, sf_dir, "lineitem")
    sk = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    merged = sk.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact")
    )
    return (
        merged.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            (
                F.abs(F.col("approx") - F.col("exact")) / F.col("exact")
                <= F.lit(0.05)
            ).alias("merged_ndv_within_5pct"),
        )
    )


_TAG_RE = "<[^>]*>"
_SCRIPT_RE = "<script>.*?</script>"


@query(
    "text_html_strip",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             '<p class="d' || CAST(doc_id AS VARCHAR) || '">'
             || CASE WHEN doc_id % 3 = 0
                THEN '<b>hdr</b><script>var x=1;</script>' ELSE '' END
             || text || '</p>' AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_TAG_RE}')) AS BIGINT)
             AS n_tags,
           md5(trim(regexp_replace(
                 regexp_replace(t, '{_SCRIPT_RE}', ' ', 'g'),
                 '{_TAG_RE}', ' ', 'g'))) AS stripped_md5
    FROM aug
    """,
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping — the first transform every
    web-crawl corpus runs: drop <script> blocks WITH their contents,
    then strip remaining tags, keeping text.  The synthetic corpus has
    no markup, so both engines first wrap documents in deterministic
    tags (a function of doc_id) — the strip path itself is the
    production kernel.  Patterns are RE2-and-Java-safe (non-greedy
    span, no lookaround); the stripped text is compared by md5.

    Scale: pure map-side regex in whole-stage codegen — one scan, zero
    shuffles, linear per byte (same plan class as text_pii_redact)."""
    d = table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    aug = F.concat(
        F.lit('<p class="d'), did, F.lit('">'),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("<b>hdr</b><script>var x=1;</script>"))
        .otherwise(F.lit("")),
        F.col("text"), F.lit("</p>"),
    )
    t = d.select("doc_id", aug.alias("t"))
    stripped = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _SCRIPT_RE, " "),
            _TAG_RE, " ",
        )
    )
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_TAG_RE), F.lit(0)))
        .cast("long").alias("n_tags"),
        F.md5(stripped).alias("stripped_md5"),
    )


@query(
    "dedup_url_normalize",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'HTTPS://WWW.Example' || CAST(doc_id % 7 AS VARCHAR)
             || '.COM/Path/' || CAST(doc_id % 50 AS VARCHAR)
             || '/?utm_source=x&id=' || CAST(doc_id % 10 AS VARCHAR)
             || '&utm_campaign=y#frag' AS url
      FROM documents),
    c AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^[a-zA-Z]+://[^/]+'))
             || regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        substr(url,
                               len(regexp_extract(url, '^[a-zA-Z]+://[^/]+'))
                               + 1),
                        '#.*$', ''),
                      'utm_[a-z]+=[^&]*&?', '', 'g'),
                    '/\\?', '?'),
                  '[?&]+$', '') AS canonical
      FROM u)
    SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_copies,
           MIN(doc_id) AS keep_id
    FROM c GROUP BY canonical
    """,
)
def dedup_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawl-frontier/document-key
    step: scheme+host lowercased (case-insensitive per RFC 3986),
    fragment dropped (never sent to the server), utm_* tracking params
    stripped, empty query tails and the pre-query trailing slash
    tidied — then exact dedup on the canonical key.  Synthetic URLs
    are derived from doc_id (the corpus has none), mapping 500 raw
    URLs onto their canonical classes; path case and the non-tracking
    id= param survive, as they must.

    Scale: canonicalization is map-side regex/string codegen; the
    dedup is one hash agg on the canonical key (same shape as
    dedup_exact — group on a short derived key, never the payload)."""
    d = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"), (did % 7).cast("string"),
        F.lit(".COM/Path/"), (did % 50).cast("string"),
        F.lit("/?utm_source=x&id="), (did % 10).cast("string"),
        F.lit("&utm_campaign=y#frag"),
    )
    u = d.select("doc_id", url.alias("url"))
    scheme_host = F.regexp_extract(F.col("url"), "^[a-zA-Z]+://[^/]+", 0)
    rest = F.expr(
        "substring(url, length(regexp_extract(url, '^[a-zA-Z]+://[^/]+', 0))"
        " + 1)"
    )
    canonical = F.concat(
        F.lower(scheme_host),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(rest, "#.*$", ""),
                    "utm_[a-z]+=[^&]*&?", "",
                ),
                "/\\?", "?",
            ),
            "[?&]+$", "",
        ),
    )
    return (
        u.select("doc_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
    )


PARA_W = 20  # tokens per synthetic paragraph


@query(
    "dedup_paragraph",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    par AS (
      SELECT doc_id,
             md5(array_to_string(
               w[{PARA_W}*j+1 : {PARA_W}*j+{PARA_W}], ' ')) AS ph
      FROM tok, UNNEST(generate_series(
        0, CAST(ceil(len(w) / {PARA_W}.0) AS BIGINT) - 1)) t(j)),
    df AS (SELECT ph, COUNT(DISTINCT doc_id) AS nd FROM par GROUP BY ph)
    SELECT par.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_paras,
           ROUND(SUM(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS dup_frac
    FROM par JOIN df USING (ph)
    GROUP BY par.doc_id
    """,
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level duplication profile — the CCNet/RefinedWeb step
    between exact doc dedup and near-dup: hash each paragraph, count
    how many DISTINCT documents share it, and report per document the
    fraction of its paragraphs that are cross-document duplicates
    (boilerplate headers, licenses, navigation chrome).  The corpus
    has no paragraph breaks, so paragraphs are deterministic
    {PARA_W}-token chunks — the hash/df/flag pipeline is the
    production kernel; swap the chunker for split-on-blank-line on a
    real corpus.

    Scale: paragraphs hash to 16-byte keys before any shuffle; the df
    table is paragraph-vocabulary-sized.  At 100 TB the duplicated
    subset (df >= 2) is the small side — broadcast it and left-join
    for the flag (the decontaminate_ngram shape); the inner df join
    here keeps the oracle exactly mirrored at test scale."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    chunks = F.transform(
        F.sequence(
            F.lit(0),
            F.ceil(F.size(w) / F.lit(float(PARA_W))).cast("long") - 1,
        ),
        lambda j: F.md5(
            F.array_join(F.slice(w, j * PARA_W + 1, PARA_W), " ")
        ),
    )
    par = d.select("doc_id", F.explode(chunks).alias("ph"))
    df_tbl = par.groupBy("ph").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    dup_flag = F.when(F.col("nd") >= 2, 1).otherwise(0)
    return (
        par.join(df_tbl, "ph")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_paras"),
            F.sum(dup_flag).cast("long").alias("n_dup_paras"),
            F.round(
                F.sum(dup_flag) * F.lit(1.0) / F.count("*"), 6
            ).alias("dup_frac"),
        )
    )


@query(
    "text_winnow",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT doc_id, t.i AS i,
             CAST(('0x' || substr(
               md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))
               AS BIGINT) AS h
      FROM tok, UNNEST(generate_series(1, len(w) - 2)) t(i)),
    m AS (
      SELECT doc_id, i,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                          AND CURRENT ROW) AS fp
      FROM g)
    SELECT DISTINCT doc_id, fp FROM m WHERE i >= {WINNOW_W}
    """,
)
def text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    local fingerprinting scheme): hash every word-3-gram in POSITION
    order, slide a window of {WINNOW_W} consecutive hashes, and keep
    the window minimum — the selected fingerprint set per document.
    The winnowing guarantee doc-level MinHash can't give: any shared
    token run of length >= w + k - 1 (= {WINNOW_W + 2} words) between
    two documents yields at least one SHARED selected fingerprint, so
    an inverted index on (fp -> docs) finds local overlap (quotes,
    boilerplate, partial plagiarism) with a bounded fraction (~2/(w+1))
    of all gram hashes stored.

    Hashes are the first 60 bits of md5 (engine-portable, same trick
    as the hash-gate samplers); positions keep gram order (this is NOT
    the distinct-shingle set dedup uses — winnowing is positional),
    and only full windows (position >= {WINNOW_W}) select, matching
    the oracle's 1-based indexing exactly.

    Scale: one projection builds the in-order gram-hash array
    row-level (the arrays_zip-of-slices trick — no O(tokens^2)
    re-tokenize), posexplode streams it, the window min runs on a
    (doc_id, pos) sort that shares the doc_id exchange, and the
    DISTINCT is a hash agg on (doc_id, 8-byte fp)."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n = F.size(w) - 2
    z = F.arrays_zip(
        F.slice(w, 1, n).alias("t1"),
        F.slice(w, 2, n).alias("t2"),
        F.slice(w, 3, n).alias("t3"),
    )
    grams = F.transform(
        z,
        lambda t: F.conv(
            F.substring(
                F.md5(F.concat_ws(
                    " ", t.getField("t1"), t.getField("t2"), t.getField("t3")
                )),
                1, 15,
            ),
            16, 10,
        ).cast("long"),
    )
    g = d.select("doc_id", F.posexplode(grams).alias("pos", "h"))
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    return (
        g.select("doc_id", "pos", F.min("h").over(win).alias("fp"))
        # pos is 0-based; full windows start once WINNOW_W hashes are
        # in frame: pos >= WINNOW_W - 1, i.e. oracle's 1-based i >= W
        .filter(F.col("pos") >= WINNOW_W - 1)
        .select("doc_id", "fp")
        .distinct()
    )


_CMS_DEPTH = 4
_CMS_WIDTH = 1024
_CMS_TOPK = 10
_CMS_SLACK = 4  # candidate-slate width multiplier for the exact recount


@query(
    "agg_countmin_topk",
    oracle=f"""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS est
    FROM (SELECT UNNEST(string_split(text, ' ')) AS token
          FROM documents)
    GROUP BY token
    ORDER BY est DESC, token
    LIMIT {_CMS_TOPK}
    """,
)
def agg_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters through a REAL count-min sketch: the token stream
    folds into a {_CMS_DEPTH}x{_CMS_WIDTH} counter grid (one hash row
    per salt), candidates read back est = min over rows of their
    counter — the classic Cormode-Muthukrishnan estimator, built
    entirely from groupBy/join so the sketch is mergeable (counter
    grids from two corpus shards ADD).

    The oracle is the EXACT top-{_CMS_TOPK}, made scale-robust by the
    standard two-pass pattern: the sketch (est >= true, inflated only
    by collisions) NOMINATES a {_CMS_SLACK}x candidate slate, and a
    second pass recounts ONLY those tokens exactly, so collisions can
    reorder the slate's tail but not the exact final top-k.  (The
    pre-round-5 form asserted the sketch answer itself was exact —
    true at the certified widths/vocabularies, but the 10x-vocabulary
    sf1 corpus pushed collision mass over zero and broke the oracle;
    the recount makes the contract hold at any corpus whose true
    top-{_CMS_TOPK} survives into a {_CMS_SLACK}x-slack est ranking,
    the same slack analysis a production CMS+heap pipeline runs.)

    The slate dependency is GUARDED, not assumed (round-7): the plan
    asserts kth exact recount > the slate's minimum sketch estimate —
    the sufficient condition for "no excluded token can displace the
    top-k" (excluded tokens have true <= est <= slate floor) — and
    raises through assert_true when a distribution defeats the slate,
    so the operator can error but never silently mis-rank.

    Certified envelope: exact through sf1 (~350k vocabulary; ~86
    tokens/cell).  The sf10 probe (3.5M vocabulary) breaks the slate:
    this synthetic corpus's token counts are nearly UNIFORM — the
    true top-10 gap is ~55 counts while collision noise at 850
    tokens/cell is ~2000 — so no broadcast-sized width can rank the
    near-ties, and no slack rescues a slate the noise fully scrambles.
    That is the textbook CMS limitation (heavy-hitter sketches need a
    skewed distribution to have anything to find); on Zipfian real
    text the same grid ranks the head reliably, and production sizes
    width ~ stream_mass / (head gap) per the standard analysis.

    Scale: sketch build = one explode + a {_CMS_DEPTH}x-fanout
    hash-agg onto <= {_CMS_DEPTH * _CMS_WIDTH} cells (map-side
    partials collapse each task to the grid size); estimate = two
    broadcast joins of grid-sized dims; candidate slate = TakeOrdered
    over the grid-sized estimate; exact recount = one more token-
    stream pass filtered by a broadcast semi-join on the slate (the
    stream is touched twice, each time collapsing map-side)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("token"))
    r = F.explode(
        F.array(*[F.lit(i) for i in range(_CMS_DEPTH)])
    ).alias("r")
    pos = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("r").cast("string"), F.col("token"))),
                1, 8,
            ),
            16, 10,
        ).cast("long") % _CMS_WIDTH
    )
    cells = tok.select("token", r).select(
        "r", pos.alias("pos"), "token"
    )
    sketch = cells.groupBy("r", "pos").agg(F.count("*").alias("c"))
    cand = tok.distinct().select("token", r).select(
        "token", "r", pos.alias("pos")
    )
    est = (
        cand.join(F.broadcast(sketch), ["r", "pos"])
        .groupBy("token")
        .agg(F.min("c").cast("long").alias("est"))
    )
    slate_est = (
        est.orderBy(F.col("est").desc(), "token")
        .limit(_CMS_TOPK * _CMS_SLACK)
    )
    exact = (
        tok.join(F.broadcast(slate_est.select("token")), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("est"))
    )
    topk = exact.orderBy(F.col("est").desc(), "token").limit(_CMS_TOPK)
    # Verifiable slate guard: every token OUTSIDE the slate has
    # true count <= its est <= the slate's minimum est (CMS never
    # under-counts), so kth_exact > slate_floor proves no excluded
    # token can displace the exact top-k.  assert_true makes a
    # too-narrow slate (the documented sf10 uniform-counts break)
    # fail LOUDLY at run time instead of returning a silently
    # unprovable ranking; it lives in a filter so column pruning
    # cannot drop the check.
    kth = topk.agg(F.min("est").alias("__kth_exact"))
    floor_ = slate_est.agg(F.min("est").alias("__slate_floor"))
    return (
        topk.join(F.broadcast(kth)).join(F.broadcast(floor_))
        .where(
            F.assert_true(
                F.col("__kth_exact") > F.col("__slate_floor"),
                F.lit(
                    "agg_countmin_topk: candidate slate too narrow for "
                    "this distribution — widen _CMS_WIDTH or _CMS_SLACK"
                ),
            ).isNull()
        )
        .drop("__kth_exact", "__slate_floor")
    )


@query(
    "agg_bitmap_intersect",
    oracle="""
    SELECT
      (SELECT COUNT(DISTINCT user_id) FROM events
        WHERE event_type = 'purchase') AS n_purchase,
      (SELECT COUNT(DISTINCT user_id) FROM events
        WHERE event_type = 'view') AS n_view,
      (SELECT COUNT(*) FROM
        (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
         INTERSECT
         SELECT DISTINCT user_id FROM events WHERE event_type = 'view') t)
        AS n_both
    """,
)
def agg_bitmap_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT audience overlap through mergeable bitmaps: each side's
    user set folds into (word = id//64, bits = bit_or(1<<id%64)) — the
    roaring-bitmap shape on plain longs — then one word-aligned join
    ANDs the sides and popcounts (the OR twin is agg_bitmap_rollup).

    Why not COUNT(DISTINCT a) + INTERSECT? Those re-shuffle raw user
    ids per question; the bitmap form is a reusable, ADDITIVE artifact
    — shards bit_or in, every boolean audience question after that is
    word-local bit math on dims 64x smaller than the id sets. The
    oracle asks DuckDB the same three questions the exact way, so the
    whole bitmap pipeline is verified against set semantics."""
    e = table(spark, sf_dir, "events")

    def bitmap(event_type: str, bits_name: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == event_type)
            .select(
                (F.col("user_id") / 64).cast("long").alias("word"),
                (F.col("user_id") % 64).cast("int").alias("bit"),
            )
            .groupBy("word")
            .agg(
                F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
                .alias(bits_name)
            )
        )

    p = bitmap("purchase", "pbits")
    v = bitmap("view", "vbits")
    j = p.join(v, "word", "full_outer").select(
        F.coalesce(F.col("pbits"), F.lit(0)).alias("pbits"),
        F.coalesce(F.col("vbits"), F.lit(0)).alias("vbits"),
    )
    return j.agg(
        F.sum(F.bit_count("pbits")).cast("long").alias("n_purchase"),
        F.sum(F.bit_count("vbits")).cast("long").alias("n_view"),
        F.sum(F.bit_count(F.col("pbits").bitwiseAND(F.col("vbits"))))
        .cast("long").alias("n_both"),
    )


# Token budget multiple for the epoch planner: train on 4x the corpus.
_BUDGET_X = 4.0
# Beyond ~4 epochs repeated data stops helping (Muennighoff et al.'s
# measured repetition decay) — flag sources the plan would over-repeat.
_EPOCH_CAP = 4.0


@query(
    "mix_token_budget",
    oracle=f"""
    WITH s AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), z AS (
      SELECT SUM(SQRT(CAST(n_tokens AS DOUBLE))) AS z,
             SUM(n_tokens) AS tot FROM s
    )
    SELECT source, n_tokens,
           ROUND(SQRT(CAST(n_tokens AS DOUBLE)) / z.z
                 * ({_BUDGET_X} * z.tot), 1) AS planned_tokens,
           ROUND(SQRT(CAST(n_tokens AS DOUBLE)) / z.z
                 * ({_BUDGET_X} * z.tot) / n_tokens, 6) AS epochs,
           SQRT(CAST(n_tokens AS DOUBLE)) / z.z
             * ({_BUDGET_X} * z.tot) / n_tokens > {_EPOCH_CAP} AS over_cap
    FROM s, z
    """,
)
def mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch planner under an absolute token budget: turn
    mix_domain_weights' sqrt-rule shares into planned token counts for
    a budget of 4x the corpus, and the per-source EPOCH count
    (planned / available) — the repetition factor the sampler must
    realize. Sources pushed past ~4 epochs are flagged: measured
    scaling behavior says repeated tokens decay in value beyond that,
    so an over_cap source needs its excess redistributed (or more
    crawl).

    Scale: identical plan to mix_domain_weights — one corpus hash agg,
    then a sources-sized broadcast of the two normalizers; sqrt and
    the ratios are correctly-rounded IEEE ops on identical integer
    inputs, so both engines agree before the rounding."""
    d = table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long")
        .alias("n_tokens"))
    z = s.agg(
        F.sum(F.sqrt(F.col("n_tokens").cast("double"))).alias("z"),
        F.sum("n_tokens").alias("tot"))
    planned = (F.sqrt(F.col("n_tokens").cast("double")) / F.col("z")
               * (_BUDGET_X * F.col("tot")))
    return s.join(F.broadcast(z)).select(
        "source", "n_tokens",
        F.round(planned, 1).alias("planned_tokens"),
        F.round(planned / F.col("n_tokens"), 6).alias("epochs"),
        (planned / F.col("n_tokens") > _EPOCH_CAP).alias("over_cap"),
    )


@query(
    "ml_decision_stump",
    oracle=f"""
    WITH b AS (
      SELECT quantile_disc(n_chars,
               [{", ".join(str(k / 10.0) for k in range(1, 10))}]) AS bnds
      FROM documents
    ), binned AS (
      SELECT CAST(len(list_filter(b.bnds, x -> x <= n_chars)) AS INT)
               AS bucket,
             COUNT(*) AS nb,
             COUNT(*) FILTER (WHERE lang = 'en') AS pb
      FROM documents, b GROUP BY 1
    ), cum AS (
      SELECT bucket AS k,
             SUM(nb) OVER (ORDER BY bucket
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS n_l,
             SUM(pb) OVER (ORDER BY bucket
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS p_l,
             SUM(nb) OVER () AS n,
             SUM(pb) OVER () AS p
      FROM binned
    ), scored AS (
      SELECT k,
             CAST(n_l AS BIGINT) AS n_left,
             CAST(p_l AS BIGINT) AS pos_left,
             CAST(n - n_l AS BIGINT) AS n_right,
             CAST(p - p_l AS BIGINT) AS pos_right,
             (CAST(n_l AS DOUBLE)
              * (1.0 - (CAST(p_l AS DOUBLE)/n_l)*(CAST(p_l AS DOUBLE)/n_l)
                 - (CAST(n_l - p_l AS DOUBLE)/n_l)
                   *(CAST(n_l - p_l AS DOUBLE)/n_l))
              + CAST(n - n_l AS DOUBLE)
              * (1.0 - (CAST(p - p_l AS DOUBLE)/(n - n_l))
                   *(CAST(p - p_l AS DOUBLE)/(n - n_l))
                 - (CAST((n - n_l) - (p - p_l) AS DOUBLE)/(n - n_l))
                   *(CAST((n - n_l) - (p - p_l) AS DOUBLE)/(n - n_l))))
             / CAST(n AS DOUBLE) AS gini
      FROM cum WHERE k > 0 AND n_l > 0 AND n - n_l > 0
    )
    SELECT CAST(k AS INT) AS split_decile, n_left, pos_left, n_right,
           pos_right, ROUND(gini, 6) AS gini
    FROM scored
    ORDER BY gini, k LIMIT 1
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a one-split decision stump fully relationally: find the
    decile threshold of n_chars that best separates lang='en' by
    weighted Gini impurity — the canonical "is this feature
    predictive" probe (and the inner step of tree ensembles),
    expressed so the ENGINE owns the search.

    Plan: exact decile boundaries (one aggregate), broadcast into a
    map-side bucket assign — NO 9x candidate fan-out of the fact
    table — then per-bucket (count, positives) hash agg (10 rows),
    cumulative sums over those 10 rows, and an argmin. Scale cost is
    one scan + one bounded agg; the split search runs on the 10-row
    aggregate. Gini stays in +,*,/ on identical integers, so both
    engines produce bit-identical doubles; ties break on the decile
    index."""
    d = table(spark, sf_dir, "documents")
    bnds = d.agg(F.array(*[
        F.expr(f"percentile_disc({k / 10.0}) WITHIN GROUP "
               f"(ORDER BY n_chars)") for k in range(1, 10)
    ]).alias("bnds"))
    binned = (
        d.select("n_chars", (F.col("lang") == "en").alias("pos"))
        .join(F.broadcast(bnds))
        .select(
            F.size(F.filter(F.col("bnds"), lambda x: x <= F.col("n_chars")))
            .cast("int").alias("bucket"),
            "pos")
        .groupBy("bucket")
        .agg(F.count("*").alias("nb"), F.count_if("pos").alias("pb"))
    )
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    cum = binned.select(
        F.col("bucket").alias("k"),
        F.sum("nb").over(wc).alias("n_l"),
        F.sum("pb").over(wc).alias("p_l"),
        F.sum("nb").over(wall).alias("n"),
        F.sum("pb").over(wall).alias("p"),
    ).filter((F.col("k") > 0) & (F.col("n_l") > 0)
             & (F.col("n") - F.col("n_l") > 0))
    nl, pl = F.col("n_l").cast("double"), F.col("p_l").cast("double")
    nr = (F.col("n") - F.col("n_l")).cast("double")
    pr = (F.col("p") - F.col("p_l")).cast("double")
    g = (nl * (F.lit(1.0) - (pl / nl) * (pl / nl)
               - ((nl - pl) / nl) * ((nl - pl) / nl))
         + nr * (F.lit(1.0) - (pr / nr) * (pr / nr)
                 - ((nr - pr) / nr) * ((nr - pr) / nr))
         ) / F.col("n").cast("double")
    return (
        cum.select(
            F.col("k").cast("int").alias("split_decile"),
            F.col("n_l").cast("long").alias("n_left"),
            F.col("p_l").cast("long").alias("pos_left"),
            (F.col("n") - F.col("n_l")).cast("long").alias("n_right"),
            (F.col("p") - F.col("p_l")).cast("long").alias("pos_right"),
            g.alias("_g"),
        )
        .orderBy("_g", "split_decile").limit(1)
        .select("split_decile", "n_left", "pos_left", "n_right",
                "pos_right", F.round("_g", 6).alias("gini"))
    )


@query(
    "ml_logreg_irls",
    oracle="""
    WITH stats AS (
      SELECT CAST(CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
               / COUNT(*) AS mu,
             SQRT(CAST(CAST(SUM(CAST(n_chars * n_chars AS DECIMAL(28,6))) AS STRING) AS DOUBLE) / COUNT(*)
                  - POWER(CAST(CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS STRING) AS DOUBLE) / COUNT(*), 2)) AS sd
      FROM documents
    ), d AS (
      SELECT (n_chars - s.mu) / s.sd AS x,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      FROM documents, stats s
    ), it1 AS (
      -- Newton step from beta = (0,0): p = 0.5, w = 0.25 for every row
      SELECT CAST(CAST(SUM(CAST(y - 0.5 AS DECIMAL(18,9))) AS STRING) AS DOUBLE) AS g0,
             CAST(CAST(SUM(CAST((y - 0.5) * x AS DECIMAL(18,9))) AS STRING) AS DOUBLE) AS g1,
             CAST(CAST(SUM(CAST(0.25 AS DECIMAL(18,9))) AS STRING) AS DOUBLE) AS h00,
             CAST(CAST(SUM(CAST(0.25 * x AS DECIMAL(18,9))) AS STRING) AS DOUBLE) AS h01,
             CAST(CAST(SUM(CAST(0.25 * x * x AS DECIMAL(18,9))) AS STRING) AS DOUBLE) AS h11
      FROM d
    ), b1 AS (
      SELECT (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01) AS b0,
             (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01) AS b1
      FROM it1
    ), it2 AS (
      SELECT CAST(CAST(SUM(CAST(y - p AS DECIMAL(18,9))) AS STRING) AS DOUBLE) AS g0,
             CAST(CAST(SUM(CAST((y - p) * x AS DECIMAL(18,9))) AS STRING) AS DOUBLE) AS g1,
             CAST(CAST(SUM(CAST(p * (1 - p) AS DECIMAL(18,9))) AS STRING) AS DOUBLE) AS h00,
             CAST(CAST(SUM(CAST(p * (1 - p) * x AS DECIMAL(18,9))) AS STRING) AS DOUBLE) AS h01,
             CAST(CAST(SUM(CAST(p * (1 - p) * x * x AS DECIMAL(18,9))) AS STRING) AS DOUBLE) AS h11,
             ANY_VALUE(bb0) AS pb0, ANY_VALUE(bb1) AS pb1
      FROM (SELECT x, y, b.b0 AS bb0, b.b1 AS bb1,
                   1.0 / (1.0 + EXP(-(b.b0 + b.b1 * x))) AS p
            FROM d, b1 b)
    ), b2 AS (
      SELECT pb0 + (h11 * g0 - h01 * g1)
                   / (h00 * h11 - h01 * h01) AS b0,
             pb1 + (h00 * g1 - h01 * g0)
                   / (h00 * h11 - h01 * h01) AS b1
      FROM it2
    )
    SELECT ROUND(b0, 6) AS beta0, ROUND(b1, 6) AS beta1,
           (SELECT ROUND(
              CAST(SUM(CAST(-(y * LN(1.0/(1.0 + EXP(-(b.b0 + b.b1*x))))
                             + (1-y) * LN(1.0 - 1.0/(1.0 + EXP(-(b.b0
                               + b.b1*x)))))
                        AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
            FROM d, b2 b) AS log_loss
    FROM b2
    """,
)
def ml_logreg_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained INSIDE the engine: two IRLS/Newton
    steps for P(lang='en' | standardized n_chars), each iteration one
    full-scan aggregate of the gradient and 2x2 Hessian co-moments,
    the solve and update on the single-row result — the declarative
    form of the iterative-driver loop (cf. the closed-form
    ml_linreg_ols; logistic has no closed form, so the ENGINE runs the
    iterations). Output: fitted betas and the final mean log-loss.

    Scale: K iterations = K scans, each a map-side-partial aggregate
    shuffling ONE co-moment row per partition; betas travel as a
    broadcast single-row dim between passes — no driver-side
    .collect() of parameters. Determinism: every per-row term
    (sigmoids, co-moments, losses) quantizes through DECIMAL(18,9)
    before summing, so the 1-ulp engine variance of exp/ln can't
    reach the 6-decimal rounding through accumulation order."""
    d0 = table(spark, sf_dir, "documents")
    stats = d0.agg(
        (F.sum(F.col("n_chars").cast("decimal(18,6)")).cast("double")
         / F.count("*")).alias("mu"),
        F.sqrt(
            F.sum((F.col("n_chars") * F.col("n_chars"))
                  .cast("decimal(28,6)")).cast("double") / F.count("*")
            - F.pow(
                F.sum(F.col("n_chars").cast("decimal(18,6)")).cast("double")
                / F.count("*"), 2)
        ).alias("sd"),
    )
    d = d0.crossJoin(F.broadcast(stats)).select(
        ((F.col("n_chars") - F.col("mu")) / F.col("sd")).alias("x"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )

    def q(c):  # quantize a per-row term before the order-free sum
        return F.sum(c.cast("decimal(18,9)")).cast("double")

    it1 = d.agg(
        q(F.col("y") - 0.5).alias("g0"),
        q((F.col("y") - 0.5) * F.col("x")).alias("g1"),
        q(F.lit(0.25)).alias("h00"),
        q(F.lit(0.25) * F.col("x")).alias("h01"),
        q(F.lit(0.25) * F.col("x") * F.col("x")).alias("h11"),
    )
    det = (F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01"))
    b1 = it1.select(
        ((F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1")) / det)
        .alias("b0"),
        ((F.col("h00") * F.col("g1") - F.col("h01") * F.col("g0")) / det)
        .alias("b1"),
    )
    scored = d.crossJoin(F.broadcast(b1)).select(
        "x", "y", F.col("b0").alias("pb0"), F.col("b1").alias("pb1"),
        (F.lit(1.0) / (F.lit(1.0)
                       + F.exp(-(F.col("b0") + F.col("b1") * F.col("x")))))
        .alias("p"),
    )
    wgt = F.col("p") * (F.lit(1.0) - F.col("p"))
    it2 = scored.agg(
        q(F.col("y") - F.col("p")).alias("g0"),
        q((F.col("y") - F.col("p")) * F.col("x")).alias("g1"),
        q(wgt).alias("h00"),
        q(wgt * F.col("x")).alias("h01"),
        q(wgt * F.col("x") * F.col("x")).alias("h11"),
        F.any_value("pb0").alias("pb0"),
        F.any_value("pb1").alias("pb1"),
    )
    b2 = it2.select(
        (F.col("pb0")
         + (F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1")) / det)
        .alias("b0"),
        (F.col("pb1")
         + (F.col("h00") * F.col("g1") - F.col("h01") * F.col("g0")) / det)
        .alias("b1"),
    )
    p2 = (F.lit(1.0)
          / (F.lit(1.0) + F.exp(-(F.col("b0") + F.col("b1") * F.col("x")))))
    loss = d.crossJoin(F.broadcast(b2)).agg(
        (q(-(F.col("y") * F.log(p2)
             + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p2)))
         / F.count("*")).alias("raw_loss"),
        F.any_value("b0").alias("b0"),
        F.any_value("b1").alias("b1"),
    )
    return loss.select(
        F.round("b0", 6).alias("beta0"),
        F.round("b1", 6).alias("beta1"),
        F.round("raw_loss", 6).alias("log_loss"),
    )


_RFM_SNAPSHOT = "1998-12-31"
_RFM_Q = 5  # quintile scores per dimension


@query(
    "agg_rfm_segments",
    oracle=f"""
    WITH rfm AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate),
                       TIMESTAMP '{_RFM_SNAPSHOT} 00:00:00') AS recency,
             COUNT(*) AS frequency,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS STRING) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    ), b AS (
      SELECT quantile_disc(recency,
               [{", ".join(str(k / _RFM_Q) for k in range(1, _RFM_Q))}])
               AS rb,
             quantile_disc(frequency,
               [{", ".join(str(k / _RFM_Q) for k in range(1, _RFM_Q))}])
               AS fb,
             quantile_disc(monetary,
               [{", ".join(str(k / _RFM_Q) for k in range(1, _RFM_Q))}])
               AS mb
      FROM rfm
    ), scored AS (
      SELECT
        -- recency: LOWER is better -> invert the bucket
        {_RFM_Q} - CAST(len(list_filter(b.rb, x -> x <= recency)) AS INT)
          AS r_score,
        1 + CAST(len(list_filter(b.fb, x -> x <= frequency)) AS INT)
          AS f_score,
        1 + CAST(len(list_filter(b.mb, x -> x <= monetary)) AS INT)
          AS m_score,
        monetary
      FROM rfm, b
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(CAST(SUM(CAST(monetary AS DECIMAL(28,2))) AS STRING) AS DOUBLE)
                 / COUNT(*), 4) AS avg_monetary
    FROM scored GROUP BY 1, 2, 3
    """,
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary,
    quintile-scored) — the marketing-analytics standard, built the
    SCALE-SAFE way: scores come from {_RFM_Q - 1} exact quantile
    boundaries broadcast into a map-side bucket assign, NOT from a
    global NTILE (which needs a total sort of the customer aggregate;
    the boundary form is quantile_bucketize's pattern lifted to three
    dimensions at once). Recency inverts its bucket so 5 = best in
    every dimension. Output: customer count and average spend per
    (r, f, m) cell — the segment table a campaign targets from.

    Plan: one customer aggregate (hash agg keyed on custkey), one
    3-array boundary aggregate, broadcast join, then a <=125-group
    hash agg. Discrete quantiles pick actual data values — both
    engines agree exactly, no interpolation drift."""
    o = table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(F.lit(_RFM_SNAPSHOT).cast("timestamp_ntz").cast("date"),
                   F.max("o_orderdate").cast("date")).alias("recency"),
        F.count("*").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(28,2)")).cast("double")
        .alias("monetary"),
    )
    qs = [k / _RFM_Q for k in range(1, _RFM_Q)]
    b = rfm.agg(
        F.array(*[F.expr(f"percentile_disc({q}) WITHIN GROUP "
                         f"(ORDER BY recency)") for q in qs]).alias("rb"),
        F.array(*[F.expr(f"percentile_disc({q}) WITHIN GROUP "
                         f"(ORDER BY frequency)") for q in qs]).alias("fb"),
        F.array(*[F.expr(f"percentile_disc({q}) WITHIN GROUP "
                         f"(ORDER BY monetary)") for q in qs]).alias("mb"),
    )

    def bucket(arr, col):
        return F.size(F.filter(F.col(arr), lambda x: x <= F.col(col)))

    scored = rfm.join(F.broadcast(b)).select(
        (F.lit(_RFM_Q) - bucket("rb", "recency")).cast("int")
        .alias("r_score"),
        (F.lit(1) + bucket("fb", "frequency")).cast("int").alias("f_score"),
        (F.lit(1) + bucket("mb", "monetary")).cast("int").alias("m_score"),
        "monetary",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.round(F.sum(F.col("monetary").cast("decimal(28,2)")).cast("double")
                / F.count("*"), 4).alias("avg_monetary"),
    )


_CV_FOLDS = 5


@query(
    "ml_crossval_ols",
    oracle=f"""
    WITH rows_f AS (
      SELECT CAST(CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)
                        || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8))
                  AS BIGINT) % {_CV_FOLDS} AS INT) AS fold,
             CAST(l_quantity AS DOUBLE) AS x,
             l_extendedprice AS y
      FROM lineitem
    ), fm AS (
      SELECT fold, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(x AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(y AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(x*x AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(x*y AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(y*y AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS syy
      FROM rows_f GROUP BY fold
    ), tot AS (
      SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
             SUM(sxx) AS sxx, SUM(sxy) AS sxy, SUM(syy) AS syy
      FROM fm
    ), per_fold AS (
      SELECT f.fold,
             t.n - f.n AS tn, t.sx - f.sx AS tsx, t.sy - f.sy AS tsy,
             t.sxx - f.sxx AS tsxx, t.sxy - f.sxy AS tsxy,
             f.n AS vn, f.sx AS vsx, f.sy AS vsy,
             f.sxx AS vsxx, f.sxy AS vsxy, f.syy AS vsyy
      FROM fm f, tot t
    ), fit AS (
      SELECT fold, vn, vsx, vsy, vsxx, vsxy, vsyy,
             (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx) AS b1,
             (tsy - (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx)
                    * tsx) / tn AS b0
      FROM per_fold
    )
    SELECT fold, CAST(vn AS BIGINT) AS n_test,
           ROUND(b0, 6) AS beta0, ROUND(b1, 6) AS beta1,
           ROUND(1.0 - (vsyy + vn*b0*b0 + b1*b1*vsxx - 2.0*b0*vsy
                        - 2.0*b1*vsxy + 2.0*b0*b1*vsx)
                       / (vsyy - vsy*vsy/vn), 6) + 0.0 AS test_r2
    FROM fit
    """,
)
def ml_crossval_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_CV_FOLDS}-fold cross-validated OLS in ONE PASS over the
    data: fold assignment is a pure md5 hash of the row key (the
    sample_hash discipline — no RNG, no leakage via partitioning),
    per-fold co-moments are a single hash agg, and each fold's
    TRAINING moments come from subtracting its row from the total —
    the associativity of co-moments means "train on k-1 folds" never
    rescans anything. Each fold's coefficients are then scored on its
    own held-out moments (test R^2 from the same six sufficient
    statistics). This is the eval loop a feature pipeline runs per
    candidate feature, as a query.

    Scale: one scan, one {_CV_FOLDS}-row aggregate, algebra on those
    rows. Co-moment sums quantize through DECIMAL; everything after
    is identical double arithmetic on identical inputs."""
    li = table(spark, sf_dir, "lineitem")
    fold = (
        F.conv(F.substring(F.md5(F.concat_ws(
            ":", F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"))), 1, 8), 16, 10)
        .cast("long") % _CV_FOLDS
    ).cast("int")
    rows_f = li.select(
        fold.alias("fold"),
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )

    def m(expr, scale):
        return F.sum(expr.cast(f"decimal({scale},6)")).cast("double")

    fm = rows_f.groupBy("fold").agg(
        F.count("*").alias("n"),
        m(F.col("x"), 28).alias("sx"), m(F.col("y"), 28).alias("sy"),
        m(F.col("x") * F.col("x"), 38).alias("sxx"),
        m(F.col("x") * F.col("y"), 38).alias("sxy"),
        m(F.col("y") * F.col("y"), 38).alias("syy"),
    ).transform(checkpoint)  # k rows; reused by tot AND pf —
    # without the barrier both consumers re-scan the fact table
    tot = fm.agg(*[F.sum(c).alias(c)
                   for c in ("n", "sx", "sy", "sxx", "sxy", "syy")])
    pf = fm.crossJoin(F.broadcast(
        tot.select(*[F.col(c).alias(f"t_{c}")
                     for c in ("n", "sx", "sy", "sxx", "sxy", "syy")])))
    tn = F.col("t_n") - F.col("n")
    tsx, tsy = F.col("t_sx") - F.col("sx"), F.col("t_sy") - F.col("sy")
    tsxx = F.col("t_sxx") - F.col("sxx")
    tsxy = F.col("t_sxy") - F.col("sxy")
    b1 = (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx)
    b0 = (tsy - b1 * tsx) / tn
    fit = pf.select(
        "fold", F.col("n").alias("vn"), F.col("sx").alias("vsx"),
        F.col("sy").alias("vsy"), F.col("sxx").alias("vsxx"),
        F.col("sxy").alias("vsxy"), F.col("syy").alias("vsyy"),
        b1.alias("b1"), b0.alias("b0"),
    )
    sse = (F.col("vsyy") + F.col("vn") * F.col("b0") * F.col("b0")
           + F.col("b1") * F.col("b1") * F.col("vsxx")
           - 2.0 * F.col("b0") * F.col("vsy")
           - 2.0 * F.col("b1") * F.col("vsxy")
           + 2.0 * F.col("b0") * F.col("b1") * F.col("vsx"))
    sst = F.col("vsyy") - F.col("vsy") * F.col("vsy") / F.col("vn")
    return fit.select(
        "fold",
        F.col("vn").cast("long").alias("n_test"),
        F.round("b0", 6).alias("beta0"),
        F.round("b1", 6).alias("beta1"),
        # + 0.0 normalizes IEEE negative zero: at scales where test R^2
        # rounds to exactly 0, DuckDB's ROUND keeps the -0.0 sign and
        # Spark's doesn't (sf1 parity split on repr('-0.0') vs '0.0');
        # adding +0.0 maps -0.0 -> +0.0 on both engines and is exact
        # for every other value.
        (F.round(F.lit(1.0) - sse / sst, 6) + F.lit(0.0)).alias("test_r2"),
    )


@query(
    "ml_gains_lift",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
               / GREATEST(len(string_split(text, ' ')), 1) AS score,
             doc_id
      FROM documents
    ), b AS (
      SELECT quantile_disc(score, [0.1, 0.2, 0.3, 0.4, 0.5,
                                   0.6, 0.7, 0.8, 0.9]) AS bnds
      FROM scored
    ), binned AS (
      SELECT 10 - CAST(len(list_filter(b.bnds, x -> x <= s.score))
                       AS INT) AS decile,  -- 1 = highest scores
             y
      FROM scored s, b
    ), per_d AS (
      SELECT decile, COUNT(*) AS n, SUM(y) AS pos FROM binned
      GROUP BY decile
    ), tot AS (SELECT SUM(n) AS n, SUM(pos) AS pos FROM per_d)
    SELECT d.decile,
           CAST(d.n AS BIGINT) AS n,
           CAST(d.pos AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(d.pos) OVER (ORDER BY d.decile
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / t.pos, 6) AS cum_capture,
           ROUND((CAST(d.pos AS DOUBLE) / d.n)
                 / (CAST(t.pos AS DOUBLE) / t.n), 6) AS lift
    FROM per_d d, tot t
    """,
)
def ml_gains_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift chart of a scoring model (here: stopword-density
    predicting lang='en'): rank the population into score deciles
    (1 = highest), and report each decile's lift over base rate plus
    the cumulative capture curve — THE chart that decides whether a
    ranking model earns its complexity ("top 2 deciles capture 60%"
    or it doesn't ship). Completes the model-eval suite: confusion
    (ml_langid_confusion), agreement (ml_cohens_kappa), CV
    (ml_crossval_ols), and now business-value ranking.

    Plan: map-side scoring, one discrete-decile boundary aggregate
    broadcast into the bucket assign (quantile_bucketize's pattern —
    no global NTILE sort), a 10-row decile agg, and the cumulative
    window over those 10 rows. Capture and lift divide exact
    integer counts."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        (F.size(F.filter(
            toks, lambda t: t.isin("the", "a", "of", "and", "is")))
         .cast("double")
         / F.greatest(F.size(toks), F.lit(1))).alias("score"),
    )
    b = scored.agg(F.array(*[
        F.expr(f"percentile_disc({k / 10.0}) WITHIN GROUP "
               f"(ORDER BY score)") for k in range(1, 10)
    ]).alias("bnds"))
    binned = scored.join(F.broadcast(b)).select(
        (F.lit(10) - F.size(F.filter(
            F.col("bnds"), lambda x: x <= F.col("score"))))
        .cast("int").alias("decile"),
        "y",
    )
    per_d = binned.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("y").alias("pos"))
    tot = per_d.agg(F.sum("n").alias("tn"), F.sum("pos").alias("tpos"))
    wcum = (Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return per_d.crossJoin(F.broadcast(tot)).select(
        "decile",
        F.col("n").cast("long").alias("n"),
        F.col("pos").cast("long").alias("n_pos"),
        F.round(F.sum("pos").over(wcum).cast("double") / F.col("tpos"), 6)
        .alias("cum_capture"),
        F.round((F.col("pos").cast("double") / F.col("n"))
                / (F.col("tpos").cast("double") / F.col("tn")), 6)
        .alias("lift"),
    )


@query(
    "ml_auc_roc",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
               / GREATEST(len(string_split(text, ' ')), 1) AS score
      FROM documents
    ), ranked AS (
      SELECT y,
             CAST(RANK() OVER (ORDER BY score) AS DOUBLE)
             + (CAST(COUNT(*) OVER (PARTITION BY score) AS DOUBLE) - 1.0)
               / 2.0 AS r
      FROM scored
    ), sums AS (
      SELECT COUNT(*) FILTER (WHERE y = 1) AS np,
             COUNT(*) FILTER (WHERE y = 0) AS nn,
             CAST(SUM(CAST(r AS DECIMAL(28,1))) FILTER (WHERE y = 1)
                  AS DOUBLE) AS rp
      FROM ranked
    )
    SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           ROUND((rp - np * (np + 1.0) / 2.0)
                 / (np * CAST(nn AS DOUBLE)), 6) AS auc
    FROM sums
    """,
)
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC AUC of the stopword-density score for lang='en', by
    the rank-sum identity AUC = (R_pos - n_pos(n_pos+1)/2) /
    (n_pos*n_neg) — the probability a random positive outranks a
    random negative, which is Mann-Whitney's U normalized (the
    trapezoid-over-thresholds construction gives the same number
    with more code). Ties take average ranks, so tied scores
    contribute exactly 1/2. The single most-quoted classifier
    metric, computed without sampling, binning, or approximation.

    Plan: map-side scoring, then the weighted-histogram rank — one
    hash agg collapses rows to distinct scores (tied rows SHARE an
    average rank, so grouping loses nothing), and the rank cumsum
    over the score domain runs through the split-window rewrite
    (functions/splitwin.py): sharded parallel windows, never a
    single-task global sort. Rank sums go through DECIMAL(28,1);
    average rank for a score group = rows_before + (n+1)/2, exactly
    the RANK + (ties-1)/2 the oracle spells."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        (F.size(F.filter(
            toks, lambda t: t.isin("the", "a", "of", "and", "is")))
         .cast("double")
         / F.greatest(F.size(toks), F.lit(1))).alias("score"),
    )
    hist = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("np_v"),
    )
    h = split_window(hist, ["score"], running_sums={"cum": "n"})
    ranked = h.select(
        "np_v", "n",
        ((F.col("cum") - F.col("n")).cast("double")
         + (F.col("n").cast("double") + 1.0) / 2.0).alias("r"),
    )
    sums = ranked.agg(
        F.sum("np_v").alias("np"),
        F.sum(F.col("n") - F.col("np_v")).alias("nn"),
        F.sum((F.col("np_v") * F.col("r")).cast("decimal(28,1)"))
        .cast("double").alias("rp"),
    )
    np_, nn_ = F.col("np"), F.col("nn")
    return sums.select(
        np_.cast("long").alias("n_pos"),
        nn_.cast("long").alias("n_neg"),
        F.round((F.col("rp") - np_ * (np_ + 1.0) / 2.0)
                / (np_ * nn_.cast("double")), 6).alias("auc"),
    )


_BRIER_BINS = 10


@query(
    "ml_brier_decomposition",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             LEAST(CAST(len(list_filter(string_split(text, ' '),
                     t -> t IN ('the', 'a', 'of', 'and', 'is')))
                   AS DOUBLE)
                   / GREATEST(len(string_split(text, ' ')), 1) * 5.0,
                   1.0) AS p
      FROM documents
    ), binned AS (
      SELECT LEAST(CAST(FLOOR(p * {_BRIER_BINS}) AS INT),
                   {_BRIER_BINS - 1}) AS b, p, y
      FROM scored
    ), per_b AS (
      SELECT b, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(p AS DECIMAL(18,9))) AS STRING) AS DOUBLE) / COUNT(*)
               AS pbar,
             CAST(CAST(SUM(CAST(y AS DECIMAL(18,9))) AS STRING) AS DOUBLE) / COUNT(*)
               AS ybar
      FROM binned GROUP BY b
    ), tot AS (
      SELECT SUM(n) AS n,
             CAST(CAST(SUM(CAST(n * ybar AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
               / SUM(n) AS ybase,
             (SELECT CAST(CAST(SUM(CAST((p - y) * (p - y) AS DECIMAL(18,9))) AS STRING) AS DOUBLE) / COUNT(*) FROM binned) AS brier
      FROM per_b
    )
    SELECT ROUND(t.brier, 6) AS brier,
           ROUND(CAST(CAST(SUM(CAST(b.n * (b.pbar - b.ybar) * (b.pbar - b.ybar)
                               AS DECIMAL(18,9))) AS STRING) AS DOUBLE) / t.n, 6)
             AS calibration,
           ROUND(CAST(CAST(SUM(CAST(b.n * (b.ybar - t.ybase)
                               * (b.ybar - t.ybase)
                               AS DECIMAL(18,9))) AS STRING) AS DOUBLE) / t.n, 6)
             AS resolution,
           ROUND(t.ybase * (1.0 - t.ybase), 6) AS uncertainty
    FROM per_b b, tot t
    GROUP BY t.brier, t.n, t.ybase
    """,
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy decomposition: brier =
    calibration - resolution + uncertainty over {_BRIER_BINS}
    probability bins — the diagnosis behind a probability-scoring
    model: calibration (do predicted levels match observed rates —
    fixable by recalibration) vs resolution (does the score separate
    outcomes at all — not fixable without a better model). The
    score here is the scaled stopword density as a pseudo-
    probability, the same signal ml_auc_roc ranks; AUC measures
    ordering, Brier measures the probability VALUES.

    Plan: map-side scoring + fixed-width binning, a bins-sized agg,
    and the decomposition on those rows; every mean goes through
    DECIMAL-quantized sums. (The identity holds up to within-bin
    variance — the standard binned form.)"""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    p = F.least(
        F.size(F.filter(toks, lambda t: t.isin(
            "the", "a", "of", "and", "is"))).cast("double")
        / F.greatest(F.size(toks), F.lit(1)) * 5.0, F.lit(1.0))
    scored = d.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        p.alias("p"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("p") * _BRIER_BINS).cast("int"),
                F.lit(_BRIER_BINS - 1)).alias("b"),
        "p", "y",
    ).transform(checkpoint)  # feeds per-bin AND global brier

    def dm(e):
        return F.sum(e.cast("decimal(18,9)")).cast("double") / F.count("*")

    per_b = binned.groupBy("b").agg(
        F.count("*").alias("n"),
        dm(F.col("p")).alias("pbar"),
        dm(F.col("y")).alias("ybar"),
    )
    brier = binned.agg(
        dm((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")))
        .alias("brier"))
    tot = per_b.agg(
        F.sum("n").alias("tn"),
        (F.sum((F.col("n") * F.col("ybar")).cast("decimal(18,6)"))
         .cast("double") / F.sum("n")).alias("ybase"),
    )
    cal = (F.col("n") * (F.col("pbar") - F.col("ybar"))
           * (F.col("pbar") - F.col("ybar"))).cast("decimal(18,9)")
    res = (F.col("n") * (F.col("ybar") - F.col("ybase"))
           * (F.col("ybar") - F.col("ybase"))).cast("decimal(18,9)")
    return (
        per_b.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(brier))
        .groupBy("brier", "tn", "ybase")
        .agg(
            F.round(F.sum(cal).cast("double") / F.col("tn"), 6)
            .alias("calibration"),
            F.round(F.sum(res).cast("double") / F.col("tn"), 6)
            .alias("resolution"),
        )
        .select(
            F.round("brier", 6).alias("brier"),
            "calibration", "resolution",
            F.round(F.col("ybase") * (F.lit(1.0) - F.col("ybase")), 6)
            .alias("uncertainty"),
        )
    )


@query(
    "ml_shapley_r2",
    oracle="""
    WITH z AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x1,
             l_discount AS x2,
             l_extendedprice AS y
      FROM lineitem
    ), mom AS (
      SELECT COUNT(*) AS n,
             CAST(CAST(SUM(CAST(x1 AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(x2 AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS s2,
             CAST(CAST(SUM(CAST(y AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(x1*x1 AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS s11,
             CAST(CAST(SUM(CAST(x2*x2 AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS s22,
             CAST(CAST(SUM(CAST(y*y AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(x1*x2 AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS s12,
             CAST(CAST(SUM(CAST(x1*y AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS s1y,
             CAST(CAST(SUM(CAST(x2*y AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS s2y
      FROM z
    ), corr AS (
      SELECT (n*s1y - s1*sy)
               / SQRT((n*s11 - s1*s1) * (n*syy - sy*sy)) AS r1,
             (n*s2y - s2*sy)
               / SQRT((n*s22 - s2*s2) * (n*syy - sy*sy)) AS r2,
             (n*s12 - s1*s2)
               / SQRT((n*s11 - s1*s1) * (n*s22 - s2*s2)) AS r12
      FROM mom
    )
    SELECT ROUND(r1*r1, 6) AS r2_x1_alone,
           ROUND(r2*r2, 6) AS r2_x2_alone,
           ROUND((r1*r1 + r2*r2 - 2*r1*r2*r12) / (1 - r12*r12), 6)
             AS r2_both,
           ROUND(0.5 * (r1*r1
                 + ((r1*r1 + r2*r2 - 2*r1*r2*r12)/(1 - r12*r12)
                    - r2*r2)), 6) AS shapley_x1,
           ROUND(0.5 * (r2*r2
                 + ((r1*r1 + r2*r2 - 2*r1*r2*r12)/(1 - r12*r12)
                    - r1*r1)), 6) AS shapley_x2
    FROM corr
    """,
)
def ml_shapley_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley decomposition of explained variance for the
    two-feature regression (quantity, discount -> price): each
    feature's Shapley value averages its marginal R^2 contribution
    over both orderings — the attribution that, unlike "R^2 alone"
    or "R^2 last", sums exactly to the full model's R^2 even when
    features are correlated (the two-feature case is closed-form;
    the 2^k general case is where sampling starts). This is feature
    attribution with the same game-theoretic guarantee SHAP gives
    model predictions, applied to variance explained.

    Plan: ONE co-moment aggregate (9 sums, DECIMAL-quantized) —
    every R^2 on every feature subset derives from the correlation
    algebra on that single row. No per-subset rescans, ever."""
    li = table(spark, sf_dir, "lineitem")
    z = li.select(
        F.col("l_quantity").cast("double").alias("x1"),
        F.col("l_discount").alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )

    def sm(e, p):
        return F.sum(e.cast(f"decimal({p},6)")).cast("double")

    mom = z.agg(
        F.count("*").alias("n"),
        sm(F.col("x1"), 28).alias("s1"), sm(F.col("x2"), 28).alias("s2"),
        sm(F.col("y"), 28).alias("sy"),
        sm(F.col("x1") * F.col("x1"), 38).alias("s11"),
        sm(F.col("x2") * F.col("x2"), 38).alias("s22"),
        sm(F.col("y") * F.col("y"), 38).alias("syy"),
        sm(F.col("x1") * F.col("x2"), 38).alias("s12"),
        sm(F.col("x1") * F.col("y"), 38).alias("s1y"),
        sm(F.col("x2") * F.col("y"), 38).alias("s2y"),
    )
    n = F.col("n")
    r1 = ((n * F.col("s1y") - F.col("s1") * F.col("sy"))
          / F.sqrt((n * F.col("s11") - F.col("s1") * F.col("s1"))
                   * (n * F.col("syy") - F.col("sy") * F.col("sy"))))
    r2 = ((n * F.col("s2y") - F.col("s2") * F.col("sy"))
          / F.sqrt((n * F.col("s22") - F.col("s2") * F.col("s2"))
                   * (n * F.col("syy") - F.col("sy") * F.col("sy"))))
    r12 = ((n * F.col("s12") - F.col("s1") * F.col("s2"))
           / F.sqrt((n * F.col("s11") - F.col("s1") * F.col("s1"))
                    * (n * F.col("s22") - F.col("s2") * F.col("s2"))))
    corr = mom.select(r1.alias("r1"), r2.alias("r2"), r12.alias("r12"))
    both = ((F.col("r1") ** 2 + F.col("r2") ** 2
             - 2 * F.col("r1") * F.col("r2") * F.col("r12"))
            / (1 - F.col("r12") ** 2))
    return corr.select(
        F.round(F.col("r1") ** 2, 6).alias("r2_x1_alone"),
        F.round(F.col("r2") ** 2, 6).alias("r2_x2_alone"),
        F.round(both, 6).alias("r2_both"),
        F.round(0.5 * (F.col("r1") ** 2 + (both - F.col("r2") ** 2)), 6)
        .alias("shapley_x1"),
        F.round(0.5 * (F.col("r2") ** 2 + (both - F.col("r1") ** 2)), 6)
        .alias("shapley_x2"),
    )


@query(
    "ml_average_precision",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
               / GREATEST(len(string_split(text, ' ')), 1) AS score
      FROM documents
    ), ranked AS (
      SELECT y,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS k,
             SUM(y) OVER (ORDER BY score DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS tp
      FROM scored
    )
    SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
           ROUND(CAST(CAST(SUM(CAST(CASE WHEN y = 1
                                    THEN CAST(tp AS DOUBLE) / k END
                               AS DECIMAL(18,12))) AS STRING) AS DOUBLE)
                 / SUM(y), 6) AS average_precision,
           ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS base_rate
    FROM ranked
    """,
)
def ml_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (the area under the PR curve as
    rankers report it): mean of precision@k over the positions where
    a positive sits — the metric that replaces ROC AUC when
    positives are rare, because PR space doesn't credit the easy
    true negatives AUC inflates on. Reported beside the base rate
    (= AP of a random ranker), which is the comparison that makes
    the number readable. Tie order is pinned by doc_id so both
    engines walk the identical ranking (AP, unlike AUC, has no
    closed-form tie averaging — the pinned order IS the metric's
    definition here, stated rather than hidden).

    Plan: map-side scoring, then the split-window rewrite
    (functions/splitwin.py) carries the global position and running
    true-positive count across deterministic score shards — parallel
    windows plus a shard-count-sized boundary pass, never a
    single-task global sort. Precision terms DECIMAL-quantized
    before the mean."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        (F.size(F.filter(toks, lambda t: t.isin(
            "the", "a", "of", "and", "is"))).cast("double")
         / F.greatest(F.size(toks), F.lit(1))).alias("score"),
    )
    ranked = split_window(
        scored,
        [F.col("score").desc(), "doc_id"],
        bucket="score",
        descending=True,
        row_number="k",
        running_sums={"tp": "y"},
    ).select("y", "k", "tp")
    term = F.when(F.col("y") == 1,
                  F.col("tp").cast("double") / F.col("k")) \
        .cast("decimal(18,12)")
    return ranked.agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.round(F.sum(term).cast("double") / F.sum("y"), 6)
        .alias("average_precision"),
        F.round(F.sum("y").cast("double") / F.count("*"), 6)
        .alias("base_rate"),
    )


# Cost matrix for the threshold decision: a missed 'en' doc (FN)
# costs 5, a wrongly kept non-'en' doc (FP) costs 1.
_COST_FN, _COST_FP = 5.0, 1.0


@query(
    "ml_cost_curve",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
               / GREATEST(len(string_split(text, ' ')), 1) AS score
      FROM documents
    ), b AS (
      SELECT quantile_disc(score, [0.1, 0.2, 0.3, 0.4, 0.5,
                                   0.6, 0.7, 0.8, 0.9]) AS ths
      FROM scored
    ), th AS (
      SELECT UNNEST(b.ths) AS th FROM b
    ), costs AS (
      SELECT th.th,
             COUNT(*) FILTER (WHERE s.y = 1 AND s.score < th.th) AS fn,
             COUNT(*) FILTER (WHERE s.y = 0 AND s.score >= th.th) AS fp
      FROM scored s CROSS JOIN th
      GROUP BY th.th
    )
    SELECT ROUND(th, 6) AS threshold,
           CAST(fn AS BIGINT) AS n_fn, CAST(fp AS BIGINT) AS n_fp,
           ROUND({_COST_FN} * fn + {_COST_FP} * fp, 1) AS total_cost,
           ROW_NUMBER() OVER (
             ORDER BY {_COST_FN} * fn + {_COST_FP} * fp, th) = 1
             AS is_optimal
    FROM costs
    """,
)
def ml_cost_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-theoretic threshold selection: total misclassification
    COST (FN x {_COST_FN} + FP x {_COST_FP}) at each decile threshold
    of the score, with the argmin flagged — the step that turns a
    scored classifier into a DECISION, which none of the pure metrics
    (AUC ranks, Brier calibrates, AP summarizes) do: a 5:1 cost
    asymmetry moves the optimal cut far from 0.5, and the curve shows
    how much the wrong default threshold costs per million docs.

    Plan: discrete decile thresholds (boundary agg), one
    threshold-fanned conditional count (9x fan-out of the scan,
    bounded by the grid — or 9 conditional aggs in one pass at scale,
    agg_bootstrap_se's alternative), exact integer costs; the
    optimum flag uses a rank over the 9-row result with threshold
    tie-break."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        (F.size(F.filter(toks, lambda t: t.isin(
            "the", "a", "of", "and", "is"))).cast("double")
         / F.greatest(F.size(toks), F.lit(1))).alias("score"),
    )
    b = scored.agg(F.array(*[
        F.expr(f"percentile_disc({k / 10.0}) WITHIN GROUP "
               f"(ORDER BY score)") for k in range(1, 10)
    ]).alias("ths"))
    th = b.select(F.explode("ths").alias("th"))
    costs = (
        scored.crossJoin(F.broadcast(th))
        .groupBy("th")
        .agg(
            F.count_if((F.col("y") == 1) & (F.col("score") < F.col("th")))
            .alias("fn"),
            F.count_if((F.col("y") == 0) & (F.col("score") >= F.col("th")))
            .alias("fp"),
        )
    )
    total = _COST_FN * F.col("fn") + _COST_FP * F.col("fp")
    wbest = Window.orderBy(total, "th")
    return costs.select(
        F.round("th", 6).alias("threshold"),
        F.col("fn").cast("long").alias("n_fn"),
        F.col("fp").cast("long").alias("n_fp"),
        F.round(total, 1).alias("total_cost"),
        (F.row_number().over(wbest) == 1).alias("is_optimal"),
    )


# Smoothing pseudo-count for leave-one-out target encoding: the encoded
# value of a tiny category shrinks toward the global mean.
_TE_SMOOTH = 10


@query(
    "ml_target_encode",
    oracle=f"""
    WITH oc AS (
      SELECT o.o_orderkey, c.c_nationkey,
             CAST(o.o_totalprice AS DECIMAL(18,6)) AS price
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), per_nation AS (
      SELECT c_nationkey, SUM(price) AS s_n, COUNT(*) AS n_n
      FROM oc GROUP BY c_nationkey
    ), gl AS (
      SELECT SUM(price) AS s_g, COUNT(*) AS n_g FROM oc
    )
    SELECT oc.o_orderkey, oc.c_nationkey,
           FLOOR(
             (CAST(CAST(pn.s_n - oc.price AS STRING) AS DOUBLE)
              + {_TE_SMOOTH}.0 * (CAST(CAST(g.s_g AS STRING) AS DOUBLE)
                                  / CAST(g.n_g AS DOUBLE)))
             / CAST(pn.n_n - 1 + {_TE_SMOOTH} AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS nation_price_enc
    FROM oc
    JOIN per_nation pn ON pn.c_nationkey = oc.c_nationkey
    CROSS JOIN gl g
    """,
)
def ml_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT smoothed target encoding — the feature-
    engineering transform that replaces a categorical column with the
    target mean of its category, done leakage-free: each row's own
    target is EXCLUDED from its encoding (plain category means leak
    the label into the feature; LOO is the standard fix), and small
    categories shrink toward the global mean through {_TE_SMOOTH}
    pseudo-observations (the same Beta-prior idea as
    agg_eb_shrunk_rates, applied to a continuous target). Encodes
    customer nation by mean order value.

    enc(row) = (S_cat − y_row + m·μ_global) / (n_cat − 1 + m).

    Exactness: all sums run in DECIMAL(18,6) (order-independent), the
    leave-one-out subtraction happens IN decimal, and the two final
    divisions execute in the same IEEE order on both engines before
    ROUND(6).  The oracle's decimal->double hops go through VARCHAR:
    DuckDB's direct cast double-rounds (int128 then /10^scale), up to
    1 ulp off Spark's correctly-rounded BigDecimal path once a
    nation's sum passes double's 15.95 significant digits (split at
    sf1; see functions/exprs.py sql_dsum).

    Scale: the category stats are a groupBy onto a nation-bounded dim
    that BROADCASTS back onto the fact rows (no window over the fact
    — a per-category window would serialize each category through one
    task, the sample_balanced_exact hazard); the global mean enters
    as a broadcast single-row cross join. Cost: one fact shuffle for
    the customer join, one dim-sized agg, map-side encode."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    oc = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey",
        "c_nationkey",
        F.col("o_totalprice").cast("decimal(18,6)").alias("price"),
    )
    per_nation = oc.groupBy("c_nationkey").agg(
        F.sum("price").alias("s_n"), F.count("*").alias("n_n")
    )
    glob = oc.agg(
        F.sum("price").alias("s_g"), F.count("*").alias("n_g")
    )
    m = F.lit(float(_TE_SMOOTH))
    enc = (
        (F.col("s_n") - F.col("price")).cast("double")
        + m * (F.col("s_g").cast("double") / F.col("n_g").cast("double"))
    ) / (F.col("n_n") - 1 + _TE_SMOOTH).cast("double")
    return (
        oc.join(F.broadcast(per_nation), "c_nationkey")
        .crossJoin(F.broadcast(glob))
        .select(
            "o_orderkey",
            "c_nationkey",
            # floor(x*1e6 + 0.5), not ROUND(x, 6): at sf1 one encoding
            # lands where x*1e6 rounds IEEE-exactly onto the .5
            # boundary — DuckDB's multiply-based ROUND goes up while
            # Spark's BigDecimal ROUND reads the decimal value and
            # goes down.  The floor form runs the identical double
            # arithmetic on both engines, boundary or not.
            (F.floor(enc * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
            .alias("nation_price_enc"),
        )
    )


_NDCG_K = 10
_NDCG_QUERIES = 8


@query(
    "ml_ndcg",
    oracle=f"""
    WITH scored AS (
      SELECT vec_id % {_NDCG_QUERIES} AS query_id, vec_id, label,
             substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS h
      FROM embeddings
    ), ranked AS (
      SELECT query_id, label,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY h, vec_id) AS rn,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY label DESC, vec_id) AS ideal_rn
      FROM scored
    ), terms AS (
      SELECT query_id,
             CASE WHEN rn <= {_NDCG_K}
                  THEN CAST((power(2, label) - 1.0) / log2(rn + 1)
                            AS DECIMAL(18,12)) END AS dcg_term,
             CASE WHEN ideal_rn <= {_NDCG_K}
                  THEN CAST((power(2, label) - 1.0) / log2(ideal_rn + 1)
                            AS DECIMAL(18,12)) END AS idcg_term
      FROM ranked
    )
    SELECT query_id,
           ROUND(CAST(SUM(dcg_term) AS DOUBLE), 6) AS dcg,
           ROUND(CAST(SUM(idcg_term) AS DOUBLE), 6) AS idcg,
           ROUND(CAST(SUM(dcg_term) AS DOUBLE)
                 / CAST(SUM(idcg_term) AS DOUBLE), 6) AS ndcg
    FROM terms GROUP BY query_id
    """,
)
def ml_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{_NDCG_K} — the graded-relevance RANKING metric that
    completes the eval family (ml_auc_roc scores binary ordering,
    ml_average_precision scores binary ranking, gains/lift scores
    deciles; none of them credit a ranker for putting a rel-9 result
    above a rel-3 one — nDCG's 2^rel−1 gain does).  Queries are the
    vec_id%{_NDCG_QUERIES} partitions of the embeddings table; the
    system ranking under eval is the deterministic md5 pseudo-score
    (a hash is exactly reproducible on both engines — plug a model
    score column into the same plan in production); relevance is the
    label.  nDCG = DCG/IDCG with IDCG from the label-sorted ideal
    ranking.

    Exactness: gains are exact small-int powers of two; each
    gain/log2(rank+1) term is QUANTIZED through DECIMAL(18,12) before
    the cross-row sum (the registry's libm rule: last-ulp log2
    differences between engines die in the quantization, and decimal
    addition is order-independent), with one rounded double division
    at the end.

    Scale: two row_number windows per query partition and a
    query-bounded agg — the standard offline-eval shape; at 10^6
    queries the partitions parallelize and no partition exceeds its
    candidate-list length."""
    emb = table(spark, sf_dir, "embeddings")
    scored = emb.select(
        (F.col("vec_id") % _NDCG_QUERIES).alias("query_id"),
        "vec_id",
        "label",
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8).alias("h"),
    )
    w_sys = Window.partitionBy("query_id").orderBy("h", "vec_id")
    w_ideal = Window.partitionBy("query_id").orderBy(
        F.desc("label"), "vec_id"
    )
    ranked = scored.select(
        "query_id", "label",
        F.row_number().over(w_sys).alias("rn"),
        F.row_number().over(w_ideal).alias("ideal_rn"),
    )
    gain = F.pow(F.lit(2), F.col("label")) - 1.0
    terms = ranked.select(
        "query_id",
        F.when(F.col("rn") <= _NDCG_K,
               (gain / F.log2(F.col("rn") + 1)).cast("decimal(18,12)"))
        .alias("dcg_term"),
        F.when(F.col("ideal_rn") <= _NDCG_K,
               (gain / F.log2(F.col("ideal_rn") + 1))
               .cast("decimal(18,12)"))
        .alias("idcg_term"),
    )
    return terms.groupBy("query_id").agg(
        F.round(F.sum("dcg_term").cast("double"), 6).alias("dcg"),
        F.round(F.sum("idcg_term").cast("double"), 6).alias("idcg"),
        F.round(
            F.sum("dcg_term").cast("double")
            / F.sum("idcg_term").cast("double"), 6
        ).alias("ndcg"),
    )


_WOE_BINS = 10
_WOE_SMOOTH = 0.5  # Laplace half-count per bin side


@query(
    "ml_woe_binning",
    oracle=f"""
    WITH base AS (
      SELECT o_totalprice, o_orderkey,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders
    ), binned AS (
      SELECT y,
             NTILE({_WOE_BINS}) OVER (ORDER BY o_totalprice, o_orderkey)
               AS bin
      FROM base
    ), cells AS (
      SELECT bin,
             SUM(y) AS good, COUNT(*) - SUM(y) AS bad
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT SUM(good) AS g, SUM(bad) AS b FROM cells
    ), woe AS (
      SELECT c.bin, c.good, c.bad,
             ln(((CAST(c.good AS DOUBLE) + {_WOE_SMOOTH})
                 / (CAST(t.g AS DOUBLE) + {_WOE_SMOOTH * _WOE_BINS}))
                / ((CAST(c.bad AS DOUBLE) + {_WOE_SMOOTH})
                   / (CAST(t.b AS DOUBLE) + {_WOE_SMOOTH * _WOE_BINS})))
               AS w,
             (CAST(c.good AS DOUBLE) + {_WOE_SMOOTH})
               / (CAST(t.g AS DOUBLE) + {_WOE_SMOOTH * _WOE_BINS})
             - (CAST(c.bad AS DOUBLE) + {_WOE_SMOOTH})
               / (CAST(t.b AS DOUBLE) + {_WOE_SMOOTH * _WOE_BINS}) AS dp
      FROM cells c CROSS JOIN tot t
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(good AS BIGINT) AS n_events,
           CAST(bad AS BIGINT) AS n_nonevents,
           ROUND(w, 6) AS woe,
           ROUND(CAST(SUM(CAST(dp * w AS DECIMAL(18,12))) OVER ()
                      AS DOUBLE), 6) AS information_value
    FROM woe
    """,
)
def ml_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT-OF-EVIDENCE binning + INFORMATION VALUE — the
    credit-scoring-era feature transform that still runs in every
    regulated-model shop: bin a continuous feature into deciles,
    score each bin by ln(event%/non-event%) (monotone evidence scale,
    directly pluggable into a scorecard), and summarize the feature's
    total predictive power as IV = Σ (Δproportion)·WOE — the
    screening number (<0.02 useless, >0.5 suspicious) that decides
    whether the feature enters the model at all. Complements
    ml_target_encode (continuous target) with the binary-target
    evidence encoding; target here: is the order high-priority.

    Exactness: bin assignment is NTILE over the totally-ordered
    (price, key) pair — identical on both engines; counts are exact;
    the {_WOE_SMOOTH}-smoothed proportions guarantee no log-of-zero;
    the ln terms follow the registry libm rule (per-bin products
    quantized through DECIMAL(18,12) before the IV sum, final
    ROUND(6)).

    Scale: the exact equal-count binning runs through the
    split-window rewrite (functions/splitwin.py) — a parallel global
    ROW_NUMBER over (price, key) plus NTILE's closed-form bucket
    assignment (the first n mod k buckets take ceil(n/k) rows, the
    rest floor(n/k)), bit-identical to the engines' NTILE at any
    corpus — never the single-task NTILE window rounds 1-4 carried.
    Everything downstream — the {_WOE_BINS}-row cell table, the
    WOE/IV math — is bin-bounded and free."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_totalprice", "o_orderkey",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0).alias("y"),
    )
    n_tot = base.agg(F.count(F.lit(1)).alias("n"))
    rn = split_window(
        base,
        ["o_totalprice", "o_orderkey"],
        bucket="o_totalprice",
        row_number="rn",
    ).crossJoin(F.broadcast(n_tot))
    big = F.floor(F.col("n") / _WOE_BINS) + 1
    num_big = F.col("n") % _WOE_BINS
    small = F.floor(F.col("n") / _WOE_BINS)
    binned = rn.select(
        "y",
        F.when(F.col("rn") <= big * num_big,
               F.floor((F.col("rn") - 1) / big) + 1)
        .otherwise(num_big
                   + F.floor((F.col("rn") - big * num_big - 1) / small)
                   + 1)
        .cast("int").alias("bin"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum("y").alias("good"),
        (F.count("*") - F.sum("y")).alias("bad"),
    )
    tot = cells.agg(F.sum("good").alias("g"), F.sum("bad").alias("b"))
    gs = _WOE_SMOOTH * _WOE_BINS
    gp = (F.col("good").cast("double") + _WOE_SMOOTH) / (
        F.col("g").cast("double") + gs
    )
    bp = (F.col("bad").cast("double") + _WOE_SMOOTH) / (
        F.col("b").cast("double") + gs
    )
    woe = cells.crossJoin(F.broadcast(tot)).select(
        "bin", "good", "bad",
        F.log(gp / bp).alias("w"),
        (gp - bp).alias("dp"),
    )
    iv = F.sum((F.col("dp") * F.col("w")).cast("decimal(18,12)")).over(
        Window.partitionBy()
    )
    return woe.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("good").cast("long").alias("n_events"),
        F.col("bad").cast("long").alias("n_nonevents"),
        F.round("w", 6).alias("woe"),
        F.round(iv.cast("double"), 6).alias("information_value"),
    )


_BH_ALPHA = 0.1
# Logistic approximation to the normal CDF: Phi(z) ~ 1/(1+exp(-1.702 z)).
# One shared constant; max |error| ~ 0.0095 — fine for a RANKING-based
# procedure (BH consumes p-value ORDER, and the map is monotone).
_BH_LOGISTIC = 1.702


@query(
    "agg_benjamini_hochberg",
    oracle=f"""
    WITH rates AS (
      SELECT c.c_nationkey AS nation,
             COUNT(*) AS n,
             SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS k
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ), gl AS (
      SELECT CAST(SUM(k) AS DOUBLE) / SUM(n) AS p0 FROM rates
    ), tests AS (
      SELECT r.nation, r.n, r.k,
             (CAST(r.k AS DOUBLE) / r.n - g.p0)
               / sqrt(g.p0 * (1.0 - g.p0) / r.n) AS z
      FROM rates r CROSS JOIN gl g
    ), pvals AS (
      SELECT nation, n, k, z,
             2.0 * (1.0 / (1.0 + exp({_BH_LOGISTIC} * abs(z)))) AS p
      FROM tests
    ), ranked AS (
      SELECT nation, n, k, z, p,
             ROW_NUMBER() OVER (ORDER BY p, nation) AS i,
             COUNT(*) OVER () AS m
      FROM pvals
    ), cutoff AS (
      SELECT COALESCE(MAX(i), 0) AS k_max
      FROM ranked
      WHERE CAST(p AS DECIMAL(18,12))
            <= CAST(i * {_BH_ALPHA} / m AS DECIMAL(18,12))
    )
    SELECT r.nation AS nation, CAST(r.n AS BIGINT) AS n,
           CAST(r.k AS BIGINT) AS k,
           ROUND(r.z, 6) AS z, ROUND(r.p, 6) AS p_value,
           CAST(r.i AS BIGINT) AS p_rank,
           ROUND(r.i * {_BH_ALPHA} / r.m, 6) AS bh_threshold,
           (r.i <= c.k_max) AS discovery
    FROM ranked r CROSS JOIN cutoff c
    """,
)
def agg_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR control — the multiplicity correction
    the single-test family (agg_ab_ztest, agg_chi_square,
    agg_mann_whitney) silently needs the moment you run one test PER
    SLICE: testing 25 nations at α=0.1 expects 2-3 false positives;
    BH's step-up rule (largest k with p₍k₎ ≤ k·α/m; everything
    ranked at-or-under k discovers) bounds the false-discovery RATE
    instead. Family here: per-nation urgent-order-rate z-tests
    against the global rate.

    Determinism: p-values use the logistic CDF approximation
    Φ(z) ≈ 1/(1+e^(−1.702z)) — a documented, shared-constant,
    MONOTONE map, so BH (which consumes only p-value ORDER and the
    k·α/m comparison) is unaffected by its ≤0.01 absolute error; the
    step-up comparison runs in DECIMAL(18,12) so an exp() last-ulp
    wiggle can't flip a boundary case; ordering ties break by
    nation.

    Scale: the test family is slice-bounded (one row per nation);
    ranking and the step-up MAX are windows over that dim-sized
    table. The fact-table cost is the one rate aggregation."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    rates = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count("*").alias("n"),
            F.sum(urgent.cast("int")).alias("k"),
        )
    )
    glob = rates.agg(
        (F.sum("k").cast("double") / F.sum("n")).alias("p0")
    )
    z = (F.col("k").cast("double") / F.col("n") - F.col("p0")) / F.sqrt(
        F.col("p0") * (1.0 - F.col("p0")) / F.col("n")
    )
    tests = rates.crossJoin(F.broadcast(glob)).select(
        "nation", "n", "k", z.alias("z")
    )
    p = 2.0 * (1.0 / (1.0 + F.exp(_BH_LOGISTIC * F.abs(F.col("z")))))
    pvals = tests.withColumn("p", p)
    wr = Window.orderBy("p", "nation")
    wall = Window.partitionBy()
    ranked = pvals.select(
        "nation", "n", "k", "z", "p",
        F.row_number().over(wr).alias("i"),
        F.count("*").over(wall).alias("m"),
    )
    passes = F.col("p").cast("decimal(18,12)") <= (
        F.col("i") * _BH_ALPHA / F.col("m")
    ).cast("decimal(18,12)")
    cutoff = ranked.agg(
        F.coalesce(F.max(F.when(passes, F.col("i"))), F.lit(0))
        .alias("k_max")
    )
    return ranked.crossJoin(F.broadcast(cutoff)).select(
        "nation",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round("z", 6).alias("z"),
        F.round("p", 6).alias("p_value"),
        F.col("i").cast("long").alias("p_rank"),
        F.round(F.col("i") * _BH_ALPHA / F.col("m"), 6)
        .alias("bh_threshold"),
        (F.col("i") <= F.col("k_max")).alias("discovery"),
    )


_UPLIFT_GATE = "8"  # md5(o_orderkey) first hex < '8' => treated (~1/2)
_UPLIFT_GRID = (-1000.0, 0.0, 2500.0, 5000.0, 7500.0, 10000.0)


@query(
    "ml_uplift_tlearner",
    oracle=f"""
    WITH base AS (
      SELECT substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 1)
               < '{_UPLIFT_GATE}' AS treated,
             CAST(c.c_acctbal AS DOUBLE) AS x,
             CAST(o.o_totalprice AS DOUBLE) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), mom AS (
      SELECT treated, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(x AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(y AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS sxy
      FROM base GROUP BY treated
    ), fit AS (
      SELECT treated,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
             sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
               * (sx / n) AS a
      FROM mom
    )
    SELECT g.x AS acctbal,
           ROUND(t.a + t.b * g.x, 4) AS pred_treated,
           ROUND(cl.a + cl.b * g.x, 4) AS pred_control,
           ROUND((t.a + t.b * g.x) - (cl.a + cl.b * g.x), 4) AS uplift
    FROM (SELECT UNNEST([{', '.join(str(v) for v in _UPLIFT_GRID)}])
            AS x) g
    CROSS JOIN (SELECT a, b FROM fit WHERE treated) t
    CROSS JOIN (SELECT a, b FROM fit WHERE NOT treated) cl
    """,
)
def ml_uplift_tlearner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-LEARNER UPLIFT MODELING — the heterogeneous-treatment-effect
    estimator the experimentation suite stops short of: agg_ab_ztest
    and agg_diff_in_diff report ONE average effect; the T-learner
    fits a separate outcome model per arm (here OLS of order value on
    account balance; treatment = deterministic md5 gate standing in
    for assignment) and reads the CONDITIONAL effect
    τ(x) = f₁(x) − f₀(x) off the model pair across a covariate grid —
    the who-does-the-treatment-help curve targeting decisions need
    (uplift<0 segments exist even under a positive average).

    Exactness: per-arm co-moments quantize every x·y product through
    DECIMAL(28,6) (order-independent), the two closed-form fits run
    in one IEEE order, and the grid is literal constants — both
    engines evaluate identical doubles before ROUND(4).

    Scale: one fact join + one two-group co-moment agg; the grid
    evaluation is a constant-size cross join against the 2-row model
    table. Swapping OLS for any co-moment-expressible learner keeps
    the shape."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    treated = (
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
        < _UPLIFT_GATE
    )
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        treated.alias("treated"),
        F.col("c_acctbal").cast("double").alias("x"),
        F.col("o_totalprice").cast("double").alias("y"),
    )
    dd = lambda col: F.sum(col.cast("decimal(28,6)")).cast("double")  # noqa: E731
    mom = base.groupBy("treated").agg(
        F.count("*").alias("n"),
        dd(F.col("x")).alias("sx"), dd(F.col("y")).alias("sy"),
        dd(F.col("x") * F.col("x")).alias("sxx"),
        dd(F.col("x") * F.col("y")).alias("sxy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = mom.select(
        "treated", b.alias("b"),
        (F.col("sy") / F.col("n") - b * (F.col("sx") / F.col("n")))
        .alias("a"),
    )
    grid = o.sparkSession.createDataFrame(
        [(v,) for v in _UPLIFT_GRID], "x double"
    )
    t_fit = fit.filter(F.col("treated")).select(
        F.col("a").alias("ta"), F.col("b").alias("tb"))
    c_fit = fit.filter(~F.col("treated")).select(
        F.col("a").alias("ca"), F.col("b").alias("cb"))
    pred_t = F.col("ta") + F.col("tb") * F.col("x")
    pred_c = F.col("ca") + F.col("cb") * F.col("x")
    return (
        grid.crossJoin(F.broadcast(t_fit))
        .crossJoin(F.broadcast(c_fit))
        .select(
            F.col("x").alias("acctbal"),
            F.round(pred_t, 4).alias("pred_treated"),
            F.round(pred_c, 4).alias("pred_control"),
            F.round(pred_t - pred_c, 4).alias("uplift"),
        )
    )


_CONF_ALPHA = 0.1  # target 90% coverage


@query(
    "ml_conformal_interval",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), idx AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY d) - 1 AS t,
             (ROW_NUMBER() OVER (ORDER BY d) - 1) % 5 AS fold
      FROM daily
    ), mom AS (
      SELECT COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
             SUM(t * t) AS stt, SUM(t * y) AS sty
      FROM idx WHERE fold < 3
    ), fit AS (
      SELECT CAST(n * sty - st * sy AS DOUBLE)
               / CAST(n * stt - st * st AS DOUBLE) AS b,
             CAST(sy AS DOUBLE) / n
               - (CAST(n * sty - st * sy AS DOUBLE)
                  / CAST(n * stt - st * st AS DOUBLE))
                 * (CAST(st AS DOUBLE) / n) AS a,
             n AS n_train
      FROM mom
    ), scored AS (
      SELECT i.t, i.fold, ABS(i.y - f.a - f.b * i.t) AS r
      FROM idx i CROSS JOIN fit f
    ), cal AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r, t) AS rk,
             COUNT(*) OVER () AS nc
      FROM scored WHERE fold = 3
    ), q AS (
      SELECT MIN(r) AS qhat
      FROM cal
      WHERE rk >= CEIL((nc + 1) * (1.0 - {_CONF_ALPHA}))
    )
    SELECT (SELECT CAST(n_train AS BIGINT) FROM fit) AS n_train,
           (SELECT CAST(MAX(nc) AS BIGINT) FROM cal) AS n_cal,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND((SELECT qhat FROM q), 4) AS q_hat,
           ROUND(CAST(COUNT(*) FILTER (
             WHERE s.r <= (SELECT qhat FROM q)) AS DOUBLE)
             / COUNT(*), 4) AS test_coverage
    FROM scored s WHERE s.fold = 4
    """,
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL PREDICTION INTERVAL — the distribution-free
    uncertainty wrapper (Vovk; the modern default for honest
    forecast bands): fit any model on TRAIN (here the OLS day-trend),
    take the ⌈(n+1)(1−α)⌉-th smallest absolute residual on a
    disjoint CALIBRATION fold as q̂, and ŷ ± q̂ covers ≥ 1−α of
    future points BY THEOREM — no normality, no homoscedasticity
    (the assumptions ts_newey_west_se just showed are violated).
    Folds split deterministically by day index mod 5 (3 train / 1
    cal / 1 test); the test fold's empirical coverage audits the
    guarantee, the agg_heavy_hitters_bounds pattern of shipping the
    theorem with its own check.

    Exactness: the fit is exact-integer co-moments; residuals are
    fixed-order doubles; q̂ is an ORDER STATISTIC (exact pick under
    the total (r, t) order — the agg_median_ci discipline), not an
    interpolated quantile.

    Scale: spine-bounded end to end; for per-series intervals the
    same plan partitions every window and agg by series key."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    rn = F.row_number().over(Window.orderBy("d")) - 1
    idx = daily.select("y", rn.alias("t"), (rn % 5).alias("fold"))
    mom = idx.filter(F.col("fold") < 3).agg(
        F.count("*").alias("n"), F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    bnum = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")) \
        .cast("double")
    bden = (F.col("n") * F.col("stt") - F.col("st") * F.col("st")) \
        .cast("double")
    fit = mom.select(
        (bnum / bden).alias("b"),
        (F.col("sy").cast("double") / F.col("n")
         - (bnum / bden) * (F.col("st").cast("double") / F.col("n")))
        .alias("a"),
        F.col("n").alias("n_train"),
    )
    scored = idx.crossJoin(F.broadcast(fit)).select(
        "t", "fold",
        F.abs(F.col("y") - F.col("a") - F.col("b") * F.col("t"))
        .alias("r"),
        "n_train",
    )
    wcal = Window.orderBy("r", "t")
    cal = scored.filter(F.col("fold") == 3).select(
        "r",
        F.row_number().over(wcal).alias("rk"),
        F.count("*").over(Window.partitionBy()).alias("nc"),
    )
    q = cal.filter(
        F.col("rk") >= F.ceil((F.col("nc") + 1) * (1.0 - _CONF_ALPHA))
    ).agg(F.min("r").alias("qhat"))
    ncal = cal.agg(F.max("nc").alias("n_cal"))
    test = scored.filter(F.col("fold") == 4)
    return (
        test.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(ncal))
        .agg(
            F.max("n_train").cast("long").alias("n_train"),
            F.max("n_cal").cast("long").alias("n_cal"),
            F.count("*").cast("long").alias("n_test"),
            F.round(F.max("qhat"), 4).alias("q_hat"),
            F.round(
                F.count_if(F.col("r") <= F.col("qhat")).cast("double")
                / F.count("*"), 4
            ).alias("test_coverage"),
        )
    )


@query(
    "agg_ab_srm_check",
    oracle="""
    WITH assigned AS (
      SELECT CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)
                       < 'cd' THEN 'treatment' ELSE 'control' END
               AS arm
      FROM orders
    ), cells AS (
      SELECT arm, COUNT(*) AS n FROM assigned GROUP BY arm
    ), tot AS (
      SELECT SUM(n) AS nt FROM cells
    )
    SELECT c.arm AS arm, CAST(c.n AS BIGINT) AS n,
           CASE WHEN c.arm = 'treatment' THEN 0.80078125
                ELSE 0.19921875 END AS expected_share,
           ROUND(CAST(c.n AS DOUBLE) / t.nt, 6) AS observed_share,
           ROUND(
             (CAST(c.n AS DOUBLE)
              - t.nt * CASE WHEN c.arm = 'treatment'
                            THEN 0.80078125 ELSE 0.19921875 END)
             * (CAST(c.n AS DOUBLE)
                - t.nt * CASE WHEN c.arm = 'treatment'
                              THEN 0.80078125 ELSE 0.19921875 END)
             / (t.nt * CASE WHEN c.arm = 'treatment'
                            THEN 0.80078125 ELSE 0.19921875 END),
             6) AS chi2_term,
           (CAST(c.n AS DOUBLE) / t.nt
            - CASE WHEN c.arm = 'treatment'
                   THEN 0.80078125 ELSE 0.19921875 END)
           * (CAST(c.n AS DOUBLE) / t.nt
              - CASE WHEN c.arm = 'treatment'
                     THEN 0.80078125 ELSE 0.19921875 END)
           < 0.0001 AS within_tolerance
    FROM cells c CROSS JOIN tot t
    """,
)
def agg_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO MISMATCH (SRM) check — the #1 experiment-validity
    gate (Microsoft/LinkedIn run it on every experiment, and ~6% of
    experiments fail it): before reading ANY metric from
    agg_ab_ztest/agg_cuped, verify the realized assignment split
    matches the DESIGNED ratio — a mismatch means broken logging,
    biased redirect, or bot filtering ate one arm, and every
    downstream readout is garbage. The md5 2-hex-char gate < 'cd'
    assigns 205/256 = 0.80078125 exactly (the hash-gate family's
    designed share is a dyadic rational, stated as an exact literal,
    not '0.8'); the chi-square-vs-design terms and a tolerance flag
    come back per arm.

    Exactness: counts exact; expected shares are exact double
    literals; fixed-order arithmetic rounded at 6.

    Scale: one map-side assignment + a 2-row agg — the cheapest
    query in the registry guarding the most expensive mistake."""
    o = table(spark, sf_dir, "orders")
    arm = F.when(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2)
        < "cd",
        "treatment",
    ).otherwise("control")
    cells = o.select(arm.alias("arm")).groupBy("arm").agg(
        F.count("*").alias("n")
    )
    tot = cells.agg(F.sum("n").alias("nt"))
    exp_share = F.when(
        F.col("arm") == "treatment", F.lit(0.80078125)
    ).otherwise(F.lit(0.19921875))
    nd = F.col("n").cast("double")
    ntd = F.col("nt").cast("double")
    dev = nd - ntd * exp_share
    share_dev = nd / F.col("nt") - exp_share
    return cells.crossJoin(F.broadcast(tot)).select(
        "arm",
        F.col("n").cast("long").alias("n"),
        exp_share.alias("expected_share"),
        F.round(nd / F.col("nt"), 6).alias("observed_share"),
        F.round(dev * dev / (ntd * exp_share), 6).alias("chi2_term"),
        (share_dev * share_dev < 0.0001).alias("within_tolerance"),
    )


# Nested training fractions as md5 2-hex-char gates (exact dyadic
# shares of 256): '19'=25/256, '33'=51/256, '66'=102/256, 'cc'=204/256.
# Test set = the complement of the largest gate, so every train set is
# disjoint from test and nested in the next larger one.
_LC_GATES = (("10pct", "19"), ("20pct", "33"),
             ("40pct", "66"), ("80pct", "cc"))


def _lc_oracle() -> str:
    fits = []
    evals = []
    for label, gate in _LC_GATES:
        fits.append(f"""
    m_{label} AS (
      SELECT COUNT(*) AS n,
             CAST(CAST(SUM(CAST(x AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(y AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS sxy
      FROM base WHERE g < '{gate}'),
    f_{label} AS (
      SELECT n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
             sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
               * (sx / n) AS a
      FROM m_{label})""")
        evals.append(f"""
    SELECT '{label}' AS train_frac,
           (SELECT CAST(n AS BIGINT) FROM f_{label}) AS n_train,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(CAST(CAST(SUM(CAST(
             (t.y - f.a - f.b * t.x) * (t.y - f.a - f.b * t.x)
             AS DECIMAL(28,4))) AS STRING) AS DOUBLE) / COUNT(*), 4) AS test_mse
    FROM test t CROSS JOIN f_{label} f""")
    return f"""
    WITH base AS (
      SELECT substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 2) AS g,
             CAST(c.c_acctbal AS DOUBLE) AS x,
             CAST(o.o_totalprice AS DOUBLE) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), test AS (
      SELECT x, y FROM base WHERE g >= 'cc'
    ),{','.join(fits)}
    {' UNION ALL '.join(evals)}
    """


@query("ml_learning_curve", oracle=_lc_oracle())
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNING CURVE — held-out error versus training-set size, the
    scaling-law measurement and the budget question behind every
    'do we need more data?' debate: NESTED subsets (10% ⊂ 20% ⊂ 40%
    ⊂ 80% via md5-gate thresholds — the nesting removes subset-choice
    noise, so curve differences are pure sample-size effect) each fit
    the model (OLS of order value on account balance), and all
    evaluate on the SAME disjoint test set. A flat curve says the
    model is capacity-limited (more data won't help — change the
    model); a falling curve says data-limited (mix_token_budget's
    epoch planning becomes the lever).

    Exactness: gates are exact hex-prefix comparisons; co-moments and
    squared errors quantize through DECIMAL before sums; fits are
    fixed-order closed forms.

    Scale: ONE scan computes all four models' co-moments as
    conditional aggregates (nested gates are cumulative predicates —
    no per-size rescans); the 4-row model table broadcasts back onto
    the shared test set for one evaluation pass."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2)
        .alias("g"),
        F.col("c_acctbal").cast("double").alias("x"),
        F.col("o_totalprice").cast("double").alias("y"),
    )
    dd = lambda col: F.sum(col.cast("decimal(28,6)")).cast("double")  # noqa: E731
    agg_cols = []
    for label, gate in _LC_GATES:
        inset = F.col("g") < gate
        agg_cols += [
            F.count_if(inset).alias(f"n_{label}"),
            dd(F.when(inset, F.col("x"))).alias(f"sx_{label}"),
            dd(F.when(inset, F.col("y"))).alias(f"sy_{label}"),
            dd(F.when(inset, F.col("x") * F.col("x")))
            .alias(f"sxx_{label}"),
            dd(F.when(inset, F.col("x") * F.col("y")))
            .alias(f"sxy_{label}"),
        ]
    mom = base.agg(*agg_cols)
    fits = None
    for label, _ in _LC_GATES:
        n = F.col(f"n_{label}").cast("double")
        bnum = n * F.col(f"sxy_{label}") - F.col(f"sx_{label}") \
            * F.col(f"sy_{label}")
        bden = n * F.col(f"sxx_{label}") - F.col(f"sx_{label}") \
            * F.col(f"sx_{label}")
        row = mom.select(
            F.lit(label).alias("train_frac"),
            F.col(f"n_{label}").cast("long").alias("n_train"),
            (bnum / bden).alias("b"),
            (F.col(f"sy_{label}") / n - (bnum / bden)
             * (F.col(f"sx_{label}") / n)).alias("a"),
        )
        fits = row if fits is None else fits.unionByName(row)
    test = base.filter(F.col("g") >= "cc").select("x", "y")
    err = F.col("y") - F.col("a") - F.col("b") * F.col("x")
    return (
        test.crossJoin(F.broadcast(fits))
        .groupBy("train_frac", "n_train")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.round(
                F.sum((err * err).cast("decimal(28,4)")).cast("double")
                / F.count("*"), 4
            ).alias("test_mse"),
        )
    )


_ENS_BETA = 0.999  # effective-number-of-samples decay (Cui et al. 2019)


@query(
    "ml_class_weights",
    oracle=f"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), eff AS (
      SELECT lang, n,
             (1.0 - power({_ENS_BETA}, n)) / (1.0 - {_ENS_BETA})
               AS e_n
      FROM counts
    ), w AS (
      SELECT lang, n, e_n, 1.0 / e_n AS raw_w FROM eff
    ), norm AS (
      SELECT CAST(CAST(SUM(CAST(raw_w AS DECIMAL(18,12))) AS STRING) AS DOUBLE) AS tw,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM w
    )
    SELECT w.lang AS lang, CAST(w.n AS BIGINT) AS n,
           ROUND(w.e_n, 4) AS effective_n,
           ROUND(w.raw_w / nm.tw * nm.k, 6) AS class_weight
    FROM w CROSS JOIN norm nm
    """,
)
def ml_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFFECTIVE-NUMBER class weights (Cui et al., CVPR 2019) — the
    principled answer to 'weight rare classes by 1/n or 1/√n?':
    samples overlap in information, so the effective sample count is
    (1−β^n)/(1−β), which saturates — weights grow for rare classes
    but STOP rewarding raw count differences between two already-huge
    classes (inverse-frequency weighting over-boosts mid-size classes;
    β→1 recovers 1/n, β→0 recovers uniform). Emits per-language
    weights normalized to mean 1 — the loss-weighting companion to
    sample_balanced's data-side rebalancing (weight the loss or
    resample the data; both consume this table's n).

    Exactness: power(β, n) with integer n is exponentiation-by-
    squaring territory but engines may differ by ulps — outputs round
    at 4/6 and the normalization sum quantizes through DECIMAL.

    Scale: one language-bounded count agg; everything after runs on
    the class table."""
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    e_n = (1.0 - F.pow(F.lit(_ENS_BETA), F.col("n"))) / (1.0 - _ENS_BETA)
    w = counts.select("lang", "n", e_n.alias("e_n")).withColumn(
        "raw_w", 1.0 / F.col("e_n")
    )
    norm = w.agg(
        F.sum(F.col("raw_w").cast("decimal(18,12)")).cast("double")
        .alias("tw"),
        F.count("*").alias("k"),
    )
    return w.crossJoin(F.broadcast(norm)).select(
        "lang",
        F.col("n").cast("long").alias("n"),
        F.round("e_n", 4).alias("effective_n"),
        F.round(F.col("raw_w") / F.col("tw") * F.col("k"), 6)
        .alias("class_weight"),
    )


_ATTR_WINDOW = 5  # touchpoints credited per conversion (last-N-touch)


@query(
    "agg_attribution_models",
    oracle=f"""
    WITH purch AS (
      SELECT user_id, ts, event_id FROM events
      WHERE event_type = 'purchase'
    ), touches AS (
      SELECT p.event_id AS conv_id, e.event_type AS channel,
             ROW_NUMBER() OVER (
               PARTITION BY p.event_id
               ORDER BY e.ts DESC, e.event_id DESC) AS pos
      FROM purch p
      JOIN events e ON e.user_id = p.user_id
                   AND (e.ts < p.ts
                        OR (e.ts = p.ts AND e.event_id < p.event_id))
    ), windowed AS (
      SELECT conv_id, channel, pos,
             MAX(pos) OVER (PARTITION BY conv_id) AS k
      FROM (SELECT * FROM touches WHERE pos <= {_ATTR_WINDOW})
    ), credits AS (
      SELECT channel,
             CASE WHEN pos = 1 THEN 1.0 ELSE 0.0 END AS last_touch,
             CASE WHEN pos = k THEN 1.0 ELSE 0.0 END AS first_touch,
             1.0 / k AS linear,
             CASE WHEN k = 1 THEN 1.0
                  WHEN k = 2 THEN 0.5
                  WHEN pos = 1 OR pos = k THEN 0.4
                  ELSE 0.2 / (k - 2) END AS u_shaped
      FROM windowed
    )
    SELECT channel,
           ROUND(CAST(CAST(SUM(CAST(last_touch AS DECIMAL(18,12))) AS STRING) AS DOUBLE), 4) AS last_touch,
           ROUND(CAST(CAST(SUM(CAST(first_touch AS DECIMAL(18,12))) AS STRING) AS DOUBLE), 4) AS first_touch,
           ROUND(CAST(CAST(SUM(CAST(linear AS DECIMAL(18,12))) AS STRING) AS DOUBLE), 4) AS linear,
           ROUND(CAST(CAST(SUM(CAST(u_shaped AS DECIMAL(18,12))) AS STRING) AS DOUBLE), 4) AS u_shaped
    FROM credits GROUP BY channel
    """,
)
def agg_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TOUCH ATTRIBUTION — four credit models over each
    conversion's last {_ATTR_WINDOW} touchpoints, side by side:
    last-touch (what ad platforms default to), first-touch
    (discovery credit), linear (equal split) and U-shaped (40/40
    endpoints, 20 spread between). Every model sums to exactly 1.0
    per conversion BY CONSTRUCTION, so each column totals the
    conversion count and the models are directly comparable — the
    spread between a channel's last-touch and first-touch credit is
    the closer-vs-opener diagnosis that budget reallocation reads
    (funnel_conversion counts stage transitions; this divides the
    conversion's value among the stages).

    Exactness: positions come from the total (ts, event_id) order;
    rational credits (1/k, 0.2/(k−2)) are identical IEEE divisions
    both engines and quantize through DECIMAL(18,12) before the
    channel sums.

    Scale: the touch join is per-user and window-capped at
    {_ATTR_WINDOW} rows per conversion BEFORE the credit math, so
    state per conversion is bounded; output is channel-bounded. The
    rank window partitions per conversion (small by cap)."""
    e = table(spark, sf_dir, "events")
    purch = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("conv_id"),
    )
    touches = (
        purch.join(
            e,
            (F.col("user_id") == F.col("p_user"))
            & (
                (F.col("ts") < F.col("p_ts"))
                | ((F.col("ts") == F.col("p_ts"))
                   & (F.col("event_id") < F.col("conv_id")))
            ),
        )
        .select(
            "conv_id", F.col("event_type").alias("channel"),
            "ts", "event_id",
        )
    )
    wpos = Window.partitionBy("conv_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    windowed = (
        touches.withColumn("pos", F.row_number().over(wpos))
        .filter(F.col("pos") <= _ATTR_WINDOW)
        .withColumn(
            "k", F.max("pos").over(Window.partitionBy("conv_id"))
        )
    )
    pos, k = F.col("pos"), F.col("k")
    credits = windowed.select(
        "channel",
        F.when(pos == 1, 1.0).otherwise(0.0).alias("last_touch"),
        F.when(pos == k, 1.0).otherwise(0.0).alias("first_touch"),
        (1.0 / k).alias("linear"),
        F.when(k == 1, 1.0)
        .when(k == 2, 0.5)
        .when((pos == 1) | (pos == k), 0.4)
        .otherwise(0.2 / (k - 2)).alias("u_shaped"),
    )
    dsum12 = lambda c: F.round(  # noqa: E731
        F.sum(F.col(c).cast("decimal(18,12)")).cast("double"), 4
    ).alias(c)
    return credits.groupBy("channel").agg(
        dsum12("last_touch"), dsum12("first_touch"),
        dsum12("linear"), dsum12("u_shaped"),
    )


# --- dedup-aware mixing ---------------------------------------------------
MODW_N = 5  # shingle order shared with text_source_overlap


@query(
    "mix_overlap_discounted",
    oracle=f"""
    WITH g AS MATERIALIZED (
      SELECT DISTINCT source,
             md5(array_to_string(w[st : st + {MODW_N - 1}], ' ')) AS g
      FROM (
        SELECT source, string_split(text, ' ') AS w,
               UNNEST(generate_series(
                 1, len(string_split(text, ' ')) - {MODW_N - 1})) AS st
        FROM documents)),
    n AS MATERIALIZED (
      SELECT source, COUNT(*) AS n_grams FROM g GROUP BY source),
    ov AS (
      SELECT a.source AS source, MAX(cnt) AS max_common FROM (
        SELECT a.source, b.source AS other, COUNT(*) AS cnt
        FROM g a JOIN g b ON b.g = a.g AND b.source <> a.source
        GROUP BY a.source, b.source) a
      GROUP BY a.source),
    dom AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
      FROM documents GROUP BY source),
    eff AS (
      SELECT dom.source, dom.tok,
             CAST(COALESCE(ov.max_common, 0) * 1000 // n.n_grams AS BIGINT)
               AS overlap_milli,
             CAST(dom.tok * (1000 - COALESCE(ov.max_common, 0) * 1000
                             // n.n_grams) // 1000 AS BIGINT) AS eff_tok
      FROM dom JOIN n USING (source) LEFT JOIN ov USING (source)),
    z AS (SELECT SUM(SQRT(CAST(eff_tok AS DOUBLE))) AS z FROM eff)
    SELECT eff.source, eff.tok, eff.overlap_milli, eff.eff_tok,
           ROUND(SQRT(CAST(eff.eff_tok AS DOUBLE)) / z.z, 6) AS mix_weight
    FROM eff, z
    """,
)
def mix_overlap_discounted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware mixing weights: each source's token mass is
    discounted by its worst cross-source shingle overlap (the
    text_source_overlap share against its most-duplicated partner)
    BEFORE the sqrt temperature rule — two near-mirror domains should
    not both draw full weight, or the mixed corpus double-counts
    their shared text.  This composes the contamination census into
    the sampling plan: effective_tokens = tok * (1 - max_overlap),
    weight = sqrt(eff) / sum(sqrt(eff)).

    Scale: the overlap side is text_source_overlap's single
    shingle-distinct pass + gram-keyed join (per-gram fan-out bounded
    by source cardinality); everything after runs on the
    source-cardinality domain table with a 1-row normalizer
    broadcast.  Discounts are exact integer milli; the sqrt/ratio
    rounds to 6 as mix_domain_weights does."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    g = (
        d.select("source", w.alias("w"))
        .select(
            "source", "w",
            F.explode(
                F.sequence(F.lit(1), F.size(F.col("w")) - (MODW_N - 1))
            ).alias("st"),
        )
        .select(
            "source",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("w"), F.col("st"), MODW_N))
            ).alias("g"),
        )
        .distinct()
    )
    n = g.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = g.select(F.col("source").alias("source"), "g")
    b = g.select(F.col("source").alias("other"), "g")
    ov = (
        a.join(b, "g")
        .filter(F.col("source") != F.col("other"))
        .groupBy("source", "other")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("source")
        .agg(F.max("cnt").alias("max_common"))
    )
    dom = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("tok")
    )
    eff = (
        dom.join(F.broadcast(n), "source")
        .join(F.broadcast(ov), "source", "left")
        .select(
            "source", "tok",
            F.expr("COALESCE(max_common, 0) * 1000 DIV n_grams")
            .cast("long").alias("overlap_milli"),
            F.expr(
                "tok * (1000 - COALESCE(max_common, 0) * 1000 DIV n_grams) "
                "DIV 1000"
            ).cast("long").alias("eff_tok"),
        )
    )
    z = eff.agg(
        F.sum(F.sqrt(F.col("eff_tok").cast("double"))).alias("z")
    )
    return eff.join(F.broadcast(z)).select(
        "source", "tok", "overlap_milli", "eff_tok",
        F.round(
            F.sqrt(F.col("eff_tok").cast("double")) / F.col("z"), 6
        ).alias("mix_weight"),
    )
