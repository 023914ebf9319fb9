"""Training-data pipeline operators, batch 2: sequence packing,
benchmark decontamination, PII detection/redaction, and
language-balanced sampling.

These are the corpus-preparation steps between "deduplicated documents"
and "token stream on the trainer": pack documents into fixed-token
sequences, drop eval-set contamination, scrub PII, and rebalance the
language mix.  Everything is built-in column expressions + window
functions — no Python in the hot path — and every shuffle is keyed on
bounded-cardinality or hash-sharded keys (per-query notes below).

Determinism: all arithmetic is integer (token counts, offsets, ranks);
hash gates and rank keys use md5 (cross-engine, unlike xxhash64 which
DuckDB lacks); every windowed ORDER BY ends in a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ckpt import checkpoint
from ..registry import query
from ..tables import table

PACK_BUDGET = 128  # tokens per packed training sequence

_NGRAM = 8          # decontamination n-gram width
_BENCH_GATE = "08"  # md5-prefix gate: ~3% of docs form the "eval set"

_EMAIL_RE = "[a-z0-9]+@[a-z.]+[a-z]"
_PHONE_RE = "\\+1-555-[0-9]{4}"


@query(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    c AS (
      SELECT doc_id, lang, shard, n_tok,
             COALESCE(SUM(n_tok) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_excl
      FROM t)
    -- CAST: DuckDB types the windowed SUM as HUGEINT (int128), which
    -- its pandas/arrow fetch path converts to float64 — a hash over
    -- stringified values then sees 3.0 vs Spark's 3.  BIGINT keeps the
    -- fetch integral on every client path.
    SELECT doc_id, lang, shard, n_tok,
           CAST(cum_excl // {PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST(cum_excl % {PACK_BUDGET} AS BIGINT) AS seq_off
    FROM c
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing (concat-and-chunk): documents
    are laid end-to-end in doc_id order within a (lang, shard) stream
    and chunked into {PACK_BUDGET}-token training sequences; each doc
    gets the sequence id and offset where it starts.  This is the
    packing layout LLM trainers consume (no padding waste), expressed
    as ONE exclusive running sum — no Python, no iteration.

    Scale: the running sum needs a total order, which would serialize
    on a single partition corpus-wide; sharding the stream by a 16-way
    md5 prefix (lang, shard) bounds every window partition to ~1/16 of
    a language while keeping assignment deterministic — at 100 TB,
    widen the prefix to 2-3 hex chars (256/4096-way).  One sort-shuffle
    on (lang, shard), then pure map-side arithmetic."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return t.select(
        "doc_id",
        "lang",
        "shard",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("cum_excl"),
    ).select(
        "doc_id",
        "lang",
        "shard",
        "n_tok",
        F.expr(f"cum_excl DIV {PACK_BUDGET}").alias("seq_id"),
        (F.col("cum_excl") % PACK_BUDGET).alias("seq_off"),
    )


def _ngrams8() -> F.Column:
    """Distinct word-8-grams of `text`, built by zipping the token
    array against its 8 shifted slices (row-level expressions — NOT
    element_at inside a transform lambda, which projection collapse
    would inline into an O(tokens^2) re-tokenize; see dedup._grams)."""
    w = F.split(F.col("text"), " ")
    n = F.size(w) - (_NGRAM - 1)
    z = F.arrays_zip(
        *[F.slice(w, i + 1, n).alias(f"t{i}") for i in range(_NGRAM)]
    )
    return F.array_distinct(
        F.transform(
            z,
            lambda t: F.concat_ws(
                " ", *[t.getField(f"t{i}") for i in range(_NGRAM)]
            ),
        )
    )


@query(
    "decontaminate_ngram",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    gr AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+{_NGRAM - 1}], ' ') AS g
      FROM tok, UNNEST(generate_series(1, len(w) - {_NGRAM - 1})) t(i)),
    bench AS (
      SELECT DISTINCT g FROM gr
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_BENCH_GATE}')
    SELECT gr.doc_id, COUNT(*) AS n_shared
    FROM gr JOIN bench USING (g)
    WHERE substr(md5(CAST(gr.doc_id AS VARCHAR)), 1, 2) >= '{_BENCH_GATE}'
    GROUP BY gr.doc_id
    """,
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training documents that share any
    word-{_NGRAM}-gram with the held-out eval set (an md5-gated ~3% of
    docs standing in for an external benchmark), with the count of
    shared distinct n-grams — the standard exact-overlap contamination
    check run before training.

    Scale: the eval set's distinct n-grams are corpus-fraction-sized
    and BROADCAST; training docs stream past them map-side, so the
    only shuffle is the final per-doc count.  At 100 TB with a big
    benchmark, hash the grams to 8-byte keys and fall back to a
    shuffled semi-join — same plan shape, no quadratic anywhere."""
    d = table(spark, sf_dir, "documents")
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    grams = d.select(
        "doc_id", gate.alias("gate"), F.explode(_ngrams8()).alias("g")
    )
    bench = (
        grams.filter(F.col("gate") < _BENCH_GATE)
        .select("g")
        .distinct()
        .withColumnRenamed("g", "bg")
    )
    return (
        grams.filter(F.col("gate") >= _BENCH_GATE)
        .join(F.broadcast(bench), F.col("g") == F.col("bg"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


@query(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@mail.example.com' ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                THEN ' call +1-555-'
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: count and mask email/phone patterns
    per document.  The synthetic corpus contains no PII, so both
    engines first inject deterministic markers (a function of doc_id)
    into a subset of docs — the detection/redaction path itself is the
    production regex kernel.  Patterns are restricted to the
    RE2-and-Java-compatible subset (no lookaround, no backrefs) so
    both engines match identically; the redacted text is compared by
    md5 to keep the result row narrow.

    Scale: pure map-side column expressions in whole-stage codegen —
    one scan, zero shuffles; regex cost is linear per byte."""
    d = table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" contact user"), did,
                        F.lit("@mail.example.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" call +1-555-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"),
                               4, "0"))).otherwise(F.lit("")),
    )
    t = d.select("doc_id", aug.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE, "<PHONE>",
    )
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_EMAIL_RE), F.lit(0)))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PHONE_RE), F.lit(0)))
        .cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


@query(
    "sample_balanced",
    oracle="""
    WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    tgt AS (SELECT MIN(n) AS t FROM cnt)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN cnt ON cnt.lang = d.lang, tgt
    WHERE CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS DECIMAL(38,0)) * cnt.n
          < CAST(tgt.t AS DECIMAL(38,0)) * 4294967296
    """,
)
def sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced downsampling via a HASH-GATE RATE FILTER:
    every language keeps docs at rate t/n (t = the smallest language's
    count, n = this language's count), gated on the md5 of the doc id
    — a deterministic, engine- and partitioning-invariant lottery
    (df.sample() is seeded per-partition; hash-gating survives
    repartitioning and reruns, which is what keeps a training mix
    reproducible).

    The gate is exact integer arithmetic on both engines: u = the
    first 8 md5 hex chars as an integer (uniform on [0, 2^32)), keep
    iff u * n < t * 2^32 — no float-boundary row can flip between
    engines.  Per-language kept counts are Binomial(n, t/n) ≈ t, the
    standard trade for an embarrassingly parallel sampler; the exact-
    quota form is sample_balanced_exact below.

    Scale: the per-language counts are a tiny broadcast; the gate is a
    pure MAP-SIDE filter — no window, no per-language partition, no
    serialization point.  This is the form that survives a language
    with 10^10 documents: the gate multiplies through decimal(38,0) on
    both engines (u,t < 2^32 and n < corpus size, so the product never
    overflows decimal — while long*long would wrap past n ~ 2^31)."""
    d = table(spark, sf_dir, "documents")
    cnt = d.groupBy("lang").agg(F.count("*").alias("n"))
    tgt = cnt.agg(F.min("n").alias("t"))
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        d.select("doc_id", "lang", u.alias("u"))
        .join(F.broadcast(cnt), "lang")
        .join(F.broadcast(tgt))
        # decimal widening: u < 2^32 but n is unbounded — long*long
        # silently wraps past 2^63 with ANSI off, corrupting the gate
        # at exactly the 10^10-docs-per-language scale this targets;
        # decimal(38,0) products can never overflow here (u,t < 2^32,
        # n < corpus size => product < 10^29)
        .filter(
            F.col("u").cast("decimal(38,0)") * F.col("n")
            < F.col("t").cast("decimal(38,0)") * F.lit(4294967296)
        )
        .select("doc_id", "lang")
    )


@query(
    "sample_balanced_exact",
    oracle="""
    WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    tgt AS (SELECT MIN(n) AS t FROM cnt),
    rk AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
      FROM documents)
    SELECT rk.doc_id, rk.lang
    FROM rk, tgt
    WHERE rk.r <= tgt.t
    """,
)
def sample_balanced_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-language quota variant of sample_balanced: each
    language keeps precisely t docs (t = the smallest language's
    count), chosen by md5 rank.  Deterministic like the hash-gate
    form; the hash-gate rate filter above stays the default when
    Binomial(n, t/n) per-language counts are acceptable.

    SPLIT-SHARD RANK (the splitwin.py rewrite, specialised to a
    per-group quota): a plain ``Window.partitionBy(lang)`` serializes
    each language onto ONE task — the plan that dies first when one
    language holds 10^10 docs.  Instead each doc gets a deterministic
    shard from the top 32 bits of its own md5 order key (u = first 8
    hex chars as an int, shard = u * S >> 32 — pure integer map-side
    math, monotone in the md5 string order because equal-length
    lowercase hex sorts lexicographically as its numeric value), so:

    1. per-(lang, shard) counts -> prefix offsets via a window over
       <= S rows per language (tiny, bounded by shard count);
    2. shards whose offset already exceeds the quota t are dropped
       BEFORE the rank window ever sorts them (broadcast semi-style
       inner join) — the expensive sort sees ~t survivors per
       language, not n;
    3. ROW_NUMBER per (lang, shard) + the shard's offset = the exact
       global per-language md5 rank; keep rank <= t.

    Scale: one hash exchange on (lang, shard) = S parallel tasks per
    language instead of 1; the count pass is a partial-agg shuffle of
    (lang, shard, n) rows only; offsets and quota join as broadcasts.
    Equal md5 prefixes shard together, so rank ties (impossible here
    anyway — doc_id breaks them) never straddle a boundary."""
    d = table(spark, sf_dir, "documents")
    tgt = d.groupBy("lang").count().agg(F.min("count").alias("t"))
    shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    h = F.md5(F.col("doc_id").cast("string"))
    u = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    s = d.select(
        "doc_id", "lang", h.alias("__sbx_h"),
        F.shiftright(u * shards, 32).cast("int").alias("__sbx_shard"),
    )
    per = s.groupBy("lang", "__sbx_shard").agg(F.count(F.lit(1)).alias("n"))
    woff = (
        Window.partitionBy("lang").orderBy("__sbx_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = per.select(
        "lang", "__sbx_shard",
        F.coalesce(F.sum("n").over(woff), F.lit(0)).alias("__sbx_off"),
    )
    # Shards that start at or past the quota contribute nothing; prune
    # them before the sort (inner join doubles as the qualifier).
    qual = (
        offs.join(F.broadcast(tgt))
        .filter(F.col("__sbx_off") < F.col("t"))
    )
    wloc = Window.partitionBy("lang", "__sbx_shard").orderBy(
        "__sbx_h", "doc_id"
    )
    return (
        s.join(F.broadcast(qual), ["lang", "__sbx_shard"])
        .withColumn("__sbx_r", F.row_number().over(wloc))
        .filter(F.col("__sbx_r") + F.col("__sbx_off") <= F.col("t"))
        .select("doc_id", "lang")
    )


@query(
    "text_pseudonymize",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                THEN ' contact user' || CAST(doc_id % 10 AS VARCHAR)
                     || '@mail.example.com' ELSE '' END AS t
      FROM documents),
    ex AS (
      SELECT doc_id, t,
             NULLIF(regexp_extract(t, '{_EMAIL_RE}'), '') AS email
      FROM aug),
    ps AS (
      SELECT doc_id, t, email,
             CASE WHEN email IS NOT NULL
                  THEN 'user-' || substr(md5(email), 1, 8)
                       || '@anon.invalid' END AS pseudo
      FROM ex)
    SELECT doc_id, email, pseudo,
           md5(CASE WHEN email IS NOT NULL
                    THEN replace(t, email, pseudo) ELSE t END)
             AS pseudonymized_md5
    FROM ps
    """,
)
def text_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-preserving pseudonymization — the privacy transform that
    KEEPS joinability: each detected email maps to a STABLE hash-
    derived pseudonym (same address -> same pseudonym, across
    documents and across runs), unlike text_pii_redact's destructive
    <EMAIL> masking. The injected addresses reuse 10 identities
    across docs, so the stability property is observable in the
    output (10 distinct pseudonyms); the full pseudonymized text is
    md5-compared so a replacement drift fails the hash.

    Scale: pure map-side regex + hash expressions in codegen — zero
    shuffle, linear per byte; the pseudonym needs no lookup table
    (the hash IS the mapping), which is what makes it work at
    corpus scale with no coordination."""
    d = table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                (F.col("doc_id") % 10).cast("string"),
                F.lit("@mail.example.com"),
            ),
        ).otherwise(F.lit("")),
    )
    t = d.select("doc_id", aug.alias("t"))
    email = F.nullif(
        F.regexp_extract(F.col("t"), _EMAIL_RE, 0), F.lit("")
    )
    withx = t.select("doc_id", "t", email.alias("email"))
    pseudo = F.when(
        F.col("email").isNotNull(),
        F.concat(
            F.lit("user-"),
            F.substring(F.md5(F.col("email")), 1, 8),
            F.lit("@anon.invalid"),
        ),
    )
    ps = withx.withColumn("pseudo", pseudo)
    out_text = F.when(
        F.col("email").isNotNull(),
        F.replace(F.col("t"), F.col("email"), F.col("pseudo")),
    ).otherwise(F.col("t"))
    return ps.select(
        "doc_id", "email", "pseudo",
        F.md5(out_text).alias("pseudonymized_md5"),
    )


# Fuzzy decontamination: eval membership is an md5 gate (~1/16 of the
# corpus stands in for the benchmark set); signatures agree on >= this
# many of the 16 minhash slots => estimated Jaccard >= 0.5.
_FUZZY_EVAL_GATE = "0"
_FUZZY_MIN_AGREE = 8
_FUZZY_N_MH = 16


@query(
    "decontaminate_fuzzy",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM tok, UNNEST(generate_series(1, len(w) - 2)) t(i)
    ), hashes AS (
      SELECT doc_id, t.i AS i,
             MIN(md5(CAST(t.i AS VARCHAR) || '|' || s)) AS mh
      FROM sh, UNNEST(generate_series(0, {_FUZZY_N_MH - 1})) t(i)
      GROUP BY doc_id, t.i
    ), split AS (
      SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               = '{_FUZZY_EVAL_GATE}' AS is_eval
      FROM documents
    ), agree AS (
      SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
             COUNT(*) AS mh_agree
      FROM hashes t
      JOIN split st ON st.doc_id = t.doc_id AND NOT st.is_eval
      JOIN hashes e ON e.i = t.i AND e.mh = t.mh
      JOIN split se ON se.doc_id = e.doc_id AND se.is_eval
      GROUP BY 1, 2
    )
    SELECT train_id, eval_id, CAST(mh_agree AS BIGINT) AS mh_agree,
           ROUND(CAST(mh_agree AS DOUBLE) / {_FUZZY_N_MH}, 6)
             AS est_jaccard
    FROM agree WHERE mh_agree >= {_FUZZY_MIN_AGREE}
    """,
)
def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination — the paraphrase-robust
    complement to decontaminate_ngram: exact 8-gram overlap misses an
    eval item whose wording drifted (translation, whitespace, light
    paraphrase); MinHash signature agreement estimates JACCARD
    overlap, so a training doc that shares half its shingle set with
    any benchmark doc is flagged even with zero verbatim 8-grams.
    Flags train docs whose 16-slot signature agrees with an eval
    doc's on ≥ {_FUZZY_MIN_AGREE} slots (Ĵ ≥ 0.5), with the estimate
    (calibrated corpus-wide by dedup_minhash_estimate).  The eval
    set is an md5-gate stand-in (~1/16 of docs) for the real
    benchmark corpus.

    Scale — why this is NOT the LSH-band shape: benchmark sets are
    SMALL BY NATURE (thousands of docs), so their signature table is
    a broadcast dim; the probe is one map-side pass over the train
    corpus's signatures — linear, no banding, no candidate shuffle.
    The signatures themselves come from the same one-groupBy/16-MIN
    aggregation as dedup_minhash_lsh (map-side combining, no x16
    explode). The md5 hash family keeps the oracle exactly
    reproducible."""
    from .dedup import _shingles

    # wide=True parallelizes the 16-MIN md5 kernel above a single-split
    # test scan (no-op on many-split production input); the checkpoint
    # stops the broadcast eval side from re-running the whole signature
    # agg (tagged feeds the train stream AND the broadcast dim).
    sh = _shingles(spark, sf_dir, wide=True)
    hashes = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s"))))
            .alias(f"mh{i}")
            for i in range(_FUZZY_N_MH)
        ]
    ).transform(checkpoint)
    is_eval = (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        == _FUZZY_EVAL_GATE
    )
    tagged = hashes.withColumn("is_eval", is_eval)
    train = tagged.filter(~F.col("is_eval"))
    ev = tagged.filter(F.col("is_eval"))
    t, e = train.alias("t"), ev.alias("e")
    agree = sum(
        F.when(F.col(f"t.mh{i}") == F.col(f"e.mh{i}"), 1).otherwise(0)
        for i in range(_FUZZY_N_MH)
    )
    return (
        t.crossJoin(F.broadcast(e))
        .select(
            F.col("t.doc_id").alias("train_id"),
            F.col("e.doc_id").alias("eval_id"),
            agree.alias("mh_agree"),
        )
        .filter(F.col("mh_agree") >= _FUZZY_MIN_AGREE)
        .select(
            "train_id", "eval_id",
            F.col("mh_agree").cast("long").alias("mh_agree"),
            F.round(F.col("mh_agree").cast("double") / _FUZZY_N_MH, 6)
            .alias("est_jaccard"),
        )
    )


@query(
    "mix_packing_efficiency",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    c AS (
      SELECT doc_id, lang, shard, n_tok,
             COALESCE(SUM(n_tok) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_excl
      FROM t)
    SELECT lang, shard,
           CAST(SUM(n_tok) AS BIGINT) AS total_tok,
           CAST((MAX(cum_excl + n_tok) + {PACK_BUDGET} - 1)
                // {PACK_BUDGET} AS BIGINT) AS n_seqs,
           ROUND(CAST(SUM(n_tok) AS DOUBLE)
                 / (CAST((MAX(cum_excl + n_tok) + {PACK_BUDGET} - 1)
                         // {PACK_BUDGET} AS BIGINT) * {PACK_BUDGET}),
                 6) AS utilization,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (
             WHERE cum_excl // {PACK_BUDGET}
                   != (cum_excl + n_tok - 1) // {PACK_BUDGET}
           ) AS BIGINT) AS n_split_docs
    FROM c GROUP BY lang, shard
    """,
)
def mix_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACKING-EFFICIENCY audit of the pack_sequences layout — the two
    numbers that decide whether concat-and-chunk is good enough or a
    doc-boundary-respecting packer (first-fit bins) is worth its
    shuffle: per (lang, shard) stream, the token UTILIZATION
    (total/(n_seqs·{PACK_BUDGET}) — concat-and-chunk wastes only the
    final sequence's tail, so this approaches 1 as streams grow) and
    the count of SPLIT documents (those straddling a
    {PACK_BUDGET}-token boundary — each split costs the model a
    mid-document attention break; too many argues for boundary-
    respecting packing despite its lower utilization).  Shares
    pack_sequences' exact layout arithmetic, so the audit can never
    drift from the layout it audits.

    Scale: the same single (lang, shard) sort-shuffle as
    pack_sequences, then a stream-bounded agg; every quantity is
    exact integer arithmetic (the HUGEINT window-sum lesson applies —
    all casts pinned BIGINT)."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        .alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.select(
        "lang", "shard", "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("cum_excl"),
    )
    n_seqs = F.expr(
        f"(MAX(cum_excl + n_tok) + {PACK_BUDGET} - 1) DIV {PACK_BUDGET}"
    )
    split = (
        F.expr(f"cum_excl DIV {PACK_BUDGET}")
        != F.expr(f"(cum_excl + n_tok - 1) DIV {PACK_BUDGET}")
    )
    return c.groupBy("lang", "shard").agg(
        F.sum("n_tok").cast("long").alias("total_tok"),
        n_seqs.cast("long").alias("n_seqs"),
        F.round(
            F.sum("n_tok").cast("double")
            / (n_seqs * PACK_BUDGET).cast("double"), 6
        ).alias("utilization"),
        F.count("*").cast("long").alias("n_docs"),
        F.count_if(split).cast("long").alias("n_split_docs"),
    )


_PREF_PAIRS_PER_GROUP = 3


@query(
    "mix_preference_pairs",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, source,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               * 1000
               + len(string_split(text, ' ')) AS q
      FROM documents
    ), ranked AS (
      SELECT doc_id, lang, source, q,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY q DESC, doc_id) AS r_best,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY q ASC, doc_id) AS r_worst
      FROM scored
    )
    SELECT b.lang AS lang, b.source AS source,
           CAST(b.r_best AS BIGINT) AS pair_rank,
           b.doc_id AS chosen_id, w.doc_id AS rejected_id,
           CAST(b.q - w.q AS BIGINT) AS quality_margin
    FROM ranked b
    JOIN ranked w ON w.lang = b.lang AND w.source = b.source
                 AND w.r_worst = b.r_best
    WHERE b.r_best <= {_PREF_PAIRS_PER_GROUP} AND b.q > w.q
    """,
)
def mix_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-PAIR MINING — the post-training data shape (DPO/
    RLHF reward modeling consumes (chosen, rejected) pairs): within
    each (lang, source) stratum, pair the k-th HIGHEST-quality doc
    with the k-th LOWEST (k ≤ {_PREF_PAIRS_PER_GROUP}), carrying the
    quality margin as the pair's signal strength — max-margin pairing
    gives the strongest preference signal per stratum, and pairing
    WITHIN strata keeps the contrast about quality, not language or
    domain (the same confound discipline as agg_covariate_balance).
    Degenerate pairs (equal scores) are dropped, so every emitted
    pair has a strict preference.

    Exactness: the quality score is a pure-INTEGER composite
    (distinct-vocab count ×1000 + token count — lexical diversity
    dominates, length tiebreaks), so ranking, pairing and margins
    carry no float anywhere; both row_number orders are total.

    Scale: two rank windows per stratum partition and one
    stratum-keyed self-join on the rank index — window partitions
    bounded by stratum size; at 100 TB swap the global per-stratum
    rank for the hash-reservoir top-k/bottom-k (sample_reservoir's
    TakeOrdered shape) and the pairing logic is unchanged."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    q = (
        F.size(F.array_distinct(toks)).cast("long") * 1000
        + F.size(toks)
    )
    scored = d.select("doc_id", "lang", "source", q.alias("q"))
    wb = Window.partitionBy("lang", "source").orderBy(
        F.desc("q"), "doc_id"
    )
    ww = Window.partitionBy("lang", "source").orderBy("q", "doc_id")
    ranked = scored.select(
        "doc_id", "lang", "source", "q",
        F.row_number().over(wb).alias("r_best"),
        F.row_number().over(ww).alias("r_worst"),
    )
    b, w = ranked.alias("b"), ranked.alias("w")
    return (
        b.join(
            w,
            (F.col("w.lang") == F.col("b.lang"))
            & (F.col("w.source") == F.col("b.source"))
            & (F.col("w.r_worst") == F.col("b.r_best")),
        )
        .filter(
            (F.col("b.r_best") <= _PREF_PAIRS_PER_GROUP)
            & (F.col("b.q") > F.col("w.q"))
        )
        .select(
            F.col("b.lang").alias("lang"),
            F.col("b.source").alias("source"),
            F.col("b.r_best").cast("long").alias("pair_rank"),
            F.col("b.doc_id").alias("chosen_id"),
            F.col("w.doc_id").alias("rejected_id"),
            (F.col("b.q") - F.col("w.q")).cast("long")
            .alias("quality_margin"),
        )
    )
