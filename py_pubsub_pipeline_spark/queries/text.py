"""Text analysis over the documents table: tokenization, corpus stats,
quality scoring, language-ID heuristic, fingerprinting, token counting.

Everything is built-in column expressions (split / explode /
higher-order array functions / md5) — no Python in the hot path, so
whole-stage codegen applies and at 100 TB these are one scan + one
bounded-key hash agg each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ckpt import checkpoint
from ..functions.splitwin import split_window
from ..registry import query
from ..tables import table

# Tiny per-language function-word lexicons for the n-gram/stopword
# language-ID heuristic. Deterministic scoring; ties break by the
# fixed language order below.
_LANG_LEX = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "los", "y", "es", "una"),
    "zh": ("的", "是", "了", "在", "和"),
}
_LANG_ORDER = ("en", "de", "fr", "es", "zh")


def _tokens(col: str = "text"):
    return F.split(F.col(col), " ")


# Gopher/MassiveText repetition thresholds — the single source of
# truth for text_repetition AND the streaming curation composite
# (curation_stream.py imports these, per its stage-sharing contract).
REP_DUP_MAX = 0.82
REP_TOPBG_MAX = 0.08


def norm_expr(col: str = "text"):
    """text_normalize's canonicalization expression (lowercase, map
    non-alphanumerics to spaces, collapse runs, trim) — shared with
    the streaming curation composite so the two cannot drift."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(col)), "[^a-z0-9 ]", " "),
            " +", " ",
        )
    )


@query(
    "text_tokens",
    oracle="""
    SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies: tokenize -> explode -> hash agg.
    Shuffle volume is bounded by vocabulary size, not corpus size."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("n_docs"))
    )


@query(
    "text_lang_stats",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus statistics."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(_tokens())).cast("long").alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
    )


@query(
    "text_quality",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_uniq,
           CAST(list_sum(list_transform(string_split(text, ' '), t -> LENGTH(t)))
                AS BIGINT) AS sum_token_len,
           CAST(list_sum(list_transform(string_split(text, ' '), t -> LENGTH(t)))
                AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> t IN ('the', 'a', 'of', 'and', 'is')))
                AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) AS uniq_ratio
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals (length, lexical diversity,
    stopword density) — the standard pre-training filter features."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens()
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "is"))
    )
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        sum_len.alias("sum_token_len"),
        (sum_len.cast("double") / F.size(toks)).alias("avg_token_len"),
        (stop.cast("double") / F.size(toks)).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "uniq_ratio"
        ),
    )


def _lex_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _LANG_LEX[lang])
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({words})))"


def _langid_case_sql() -> str:
    """The argmax-with-tie-break cascade as one SQL CASE expression
    (shared by text_langid and ml_langid_confusion)."""
    return f"""CASE
             WHEN {_lex_sql('en')} >= {_lex_sql('de')}
              AND {_lex_sql('en')} >= {_lex_sql('fr')}
              AND {_lex_sql('en')} >= {_lex_sql('es')}
              AND {_lex_sql('en')} >= {_lex_sql('zh')} THEN 'en'
             WHEN {_lex_sql('de')} >= {_lex_sql('fr')}
              AND {_lex_sql('de')} >= {_lex_sql('es')}
              AND {_lex_sql('de')} >= {_lex_sql('zh')} THEN 'de'
             WHEN {_lex_sql('fr')} >= {_lex_sql('es')}
              AND {_lex_sql('fr')} >= {_lex_sql('zh')} THEN 'fr'
             WHEN {_lex_sql('es')} >= {_lex_sql('zh')} THEN 'es'
             ELSE 'zh'
           END"""


def _langid_pred_col() -> "F.Column":
    """The same cascade as a Spark Column (shared with the confusion
    matrix op)."""
    toks = _tokens()

    def _score(lex: tuple[str, ...]):
        # nb: a 1-arg lambda only — F.filter treats a second parameter
        # as the positional index column.
        return F.size(F.filter(toks, lambda t: t.isin(*lex)))

    scores = {lang: _score(lex) for lang, lex in _LANG_LEX.items()}
    pred = F.lit("zh")
    # Build the cascade back-to-front so earlier languages win ties.
    for i in range(len(_LANG_ORDER) - 2, -1, -1):
        lang = _LANG_ORDER[i]
        cond = None
        for other in _LANG_ORDER[i + 1:]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang).otherwise(pred)
    return pred


@query(
    "text_langid",
    oracle=f"""
    SELECT doc_id, lang, {_langid_case_sql()} AS pred_lang
    FROM documents
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-lexicon language-ID heuristic: score each language by
    function-word hits, argmax with a fixed tie-break order (first in
    _LANG_ORDER wins ties — encoded as >= cascading on both engines)."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", _langid_pred_col().alias("pred_lang"))


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(text)) AS exact_fp,
           md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' '))
             AS bag_fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact (case-normalized md5) and
    bag-of-words (sorted-token md5 — invariant to word order, the
    'fingerprint clustering' key for fuzzy exact-dedup)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.lower(F.col("text"))).alias("exact_fp"),
        F.md5(
            F.array_join(F.array_sort(F.split(F.lower(F.col("text")), " ")), " ")
        ).alias("bag_fp"),
    )


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]')) AS INTEGER)
             AS bpe_ish_tokens,
           CAST(CEIL(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS byte_est_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, BPE-ish regex pieces,
    and the chars/4 estimator used for quick budget math."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_tokens()).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), F.lit(0))).alias(
            "bpe_ish_tokens"
        ),
        F.ceil(F.col("n_chars").cast("double") / 4.0).cast("long").alias(
            "byte_est_tokens"
        ),
    )


ROLL_B, ROLL_M = 131, (1 << 31) - 1


@query(
    "text_rolling_hash",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split_regex(lower(text), ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (acc, c) -> (acc * {ROLL_B} + c) % {ROLL_M}) AS roll_fp
    FROM documents
    """,
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp-Rabin document fingerprint: the polynomial rolling hash
    h = fold((acc*B + char) mod M) over the lowercased character
    stream. One map-side fold per row, no shuffle; the same recurrence
    extended with the B^w subtraction term gives O(1)-per-position
    substring (chunk) fingerprints for content-defined chunking.
    B=131, M=2^31-1 keeps acc*B+c < 2^63 (no overflow in either
    engine's BIGINT)."""
    codes = F.transform(
        F.split(F.lower(F.col("text")), ""),
        lambda c: F.ascii(c).cast("long"),
    )
    h = F.aggregate(
        codes, F.lit(0).cast("long"),
        lambda acc, c: (acc * ROLL_B + c) % ROLL_M,
    )
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", h.alias("roll_fp"))


@query(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(
                 regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                 ' +', ' ', 'g'))) AS norm_hash,
           length(trim(regexp_replace(
                 regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                 ' +', ' ', 'g'))) AS n_chars_norm
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization before dedup (the step that makes 'Hello,
    World!' and 'hello  world' the same document): lowercase, map
    non-alphanumerics to spaces, collapse runs, trim. Output carries
    the md5 of the normalized text, not the text — downstream exact
    dedup groups on a 16-byte key and the shuffle never moves
    documents. Pure codegen'd expressions, shuffle-free, one scan.
    Both engines use the same POSIX-class-free regexes so Java and
    RE2-style semantics agree."""
    d = table(spark, sf_dir, "documents")
    norm = norm_expr()
    return d.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        F.length(norm).alias("n_chars_norm"),
    )


@query(
    "text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    nd AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             ROUND(tf.tf * ln((1.0 + nd.n) / (1.0 + df.df)), 6) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN nd),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rnk
      FROM scored)
    SELECT doc_id, token, tfidf, rnk FROM ranked WHERE rnk <= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf = ln((1+N)/
    (1+df)), sklearn-style minus the +1). The document-frequency table
    is VOCABULARY-sized and joins the term-frequency stream on the
    token key — at corpus scale df is a broadcast dim, tf never
    re-scans raw text, and the per-doc top-3 is a bounded window.
    Scores round to 6 before ranking so ln() ulp noise can't flip the
    order; token tie-break makes the cut total."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count("*").alias("n"))
    scored = (
        tf.join(df, "token")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * F.log((F.lit(1.0) + F.col("n")) / (F.lit(1.0) + F.col("df"))),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "text_er_blocked",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars, substr(text, 1, 40) AS head
      FROM documents),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             levenshtein(a.head, b.head) AS dist
      FROM d a JOIN d b
        ON a.lang = b.lang
       AND a.n_chars // 8 = b.n_chars // 8
       AND a.doc_id < b.doc_id)
    SELECT a_id, b_id, dist FROM pairs WHERE dist <= 12
    """,
)
def text_er_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy matching with BLOCKING — the standard
    ER recipe: candidate pairs come from an equi-join on cheap
    blocking keys (language + length band), and the expensive edit
    distance runs only within blocks. The blocking key turns an
    O(N²) all-pairs Levenshtein into a shuffle on a fixed-width key
    plus per-block work quadratic only in block size — the same
    shape as dedup_ngram's inverted index, with the standard ER
    trade: pairs straddling a band boundary are missed (recall < 1;
    widen with overlapping bands when that matters). Distance runs
    on a 40-char prefix so per-pair cost is bounded regardless of
    document length."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.substring("text", 1, 40).alias("head")
    )
    a = d.select(
        F.col("doc_id").alias("a_id"), "lang",
        (F.col("n_chars") / 8).cast("long").alias("band"),
        F.col("head").alias("head_a"),
    )
    b = d.select(
        F.col("doc_id").alias("b_id"),
        F.col("lang").alias("lang_b"),
        (F.col("n_chars") / 8).cast("long").alias("band_b"),
        F.col("head").alias("head_b"),
    )
    return (
        a.join(
            b,
            (a.lang == b.lang_b)
            & (a.band == b.band_b)
            & (F.col("a_id") < F.col("b_id")),
        )
        .select(
            "a_id", "b_id",
            F.levenshtein("head_a", "head_b").alias("dist"),
        )
        .filter(F.col("dist") <= 12)
    )


@query(
    "text_repetition",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    wc AS (
      SELECT doc_id, t, COUNT(*) AS c
      FROM (SELECT doc_id, UNNEST(w) AS t FROM tok)
      GROUP BY doc_id, t),
    ws AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct
      FROM wc GROUP BY doc_id),
    bg AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] AS b
      FROM tok, UNNEST(generate_series(1, len(w) - 1)) t(i)),
    bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
    bs AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(MAX(c) AS BIGINT) AS max_bigram
      FROM bc GROUP BY doc_id)
    SELECT w.doc_id, w.n_tokens,
           CAST(1 AS DOUBLE)
             - CAST(w.n_distinct AS DOUBLE) / CAST(w.n_tokens AS DOUBLE)
             AS dup_word_frac,
           COALESCE(CAST(b.max_bigram AS DOUBLE)
                      / CAST(b.n_bigrams AS DOUBLE), 0.0) AS top_bigram_frac,
           (CAST(1 AS DOUBLE)
              - CAST(w.n_distinct AS DOUBLE) / CAST(w.n_tokens AS DOUBLE)
              <= {REP_DUP_MAX}
            AND COALESCE(CAST(b.max_bigram AS DOUBLE)
                           / CAST(b.n_bigrams AS DOUBLE), 0.0)
                <= {REP_TOPBG_MAX})
             AS keep
    FROM ws w LEFT JOIN bs b ON b.doc_id = w.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher/MassiveText rule
    family): per document, the duplicate-word fraction
    (1 - distinct/total) and the top-bigram fraction (occurrences of
    the most frequent 2-gram over all 2-grams), plus the keep/drop
    verdict. Boilerplate, templated spam, and degenerate generations
    score high on both and are dropped before training.

    Scale shape: two explode -> hash-agg pipelines (words, bigrams),
    both keyed by (doc_id, gram) — partial aggregation collapses
    per-doc repeats map-side, so the shuffle carries at most the
    per-doc DISTINCT gram sets, and the second agg reduces to one row
    per doc. No Python, no window over the corpus; bigrams are built
    from row-level slices (see queries/dedup.py's projection-collapse
    pitfall note). Thresholds (0.82 / 0.08) sit inside this synthetic
    corpus's score distribution so both branches are exercised."""
    docs = table(spark, sf_dir, "documents")
    w = _tokens()
    tok = docs.select("doc_id", w.alias("w"))
    ws = (
        tok.select("doc_id", F.explode("w").alias("t"))
        .groupBy("doc_id", "t")
        .count()
        .groupBy("doc_id")
        .agg(
            F.sum("count").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
        )
    )
    n = F.size(F.col("w")) - 1
    z = F.arrays_zip(
        F.slice(F.col("w"), 1, n).alias("t1"),
        F.slice(F.col("w"), 2, n).alias("t2"),
    )
    big = F.transform(z, lambda p: F.concat_ws(" ", p["t1"], p["t2"]))
    bs = (
        tok.select("doc_id", F.explode(big).alias("b"))
        .groupBy("doc_id", "b")
        .count()
        .groupBy("doc_id")
        .agg(
            F.sum("count").alias("n_bigrams"),
            F.max("count").alias("max_bigram"),
        )
    )
    dup = F.lit(1).cast("double") - (
        F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")
    )
    top_bg = F.coalesce(
        F.col("max_bigram").cast("double") / F.col("n_bigrams").cast("double"),
        F.lit(0.0),
    )
    return (
        ws.join(bs, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            dup.alias("dup_word_frac"),
            top_bg.alias("top_bigram_frac"),
            ((dup <= REP_DUP_MAX) & (top_bg <= REP_TOPBG_MAX)).alias("keep"),
        )
    )


@query(
    "quality_gate",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tok,
             len(list_distinct(string_split(text, ' '))) AS n_uniq,
             list_sum(list_transform(string_split(text, ' '),
                                     t -> LENGTH(t))) AS sum_len,
             len(list_filter(string_split(text, ' '),
                             t -> t IN ('the', 'a', 'of', 'and', 'is')))
               AS n_stop
      FROM documents)
    SELECT doc_id,
           CAST(
             CASE WHEN n_tok < 25 THEN 1 ELSE 0 END
             + CASE WHEN n_uniq * 10 < n_tok * 3 THEN 2 ELSE 0 END
             + CASE WHEN n_stop * 100 < n_tok * 2 THEN 4 ELSE 0 END
             + CASE WHEN sum_len < 3 * n_tok OR sum_len > 10 * n_tok
                    THEN 8 ELSE 0 END
           AS INT) AS reason_mask,
           (n_tok >= 25 AND n_uniq * 10 >= n_tok * 3
            AND n_stop * 100 >= n_tok * 2
            AND sum_len >= 3 * n_tok AND sum_len <= 10 * n_tok) AS keep
    FROM m
    """,
)
def quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality GATE (the C4/Gopher-style keep/drop decision
    the per-signal queries feed): minimum length, lexical diversity
    >= 0.3, stopword density >= 2%, mean word length in [3, 10] —
    emitted as a keep boolean plus a reason BITMASK so downstream
    reporting can attribute every drop (bit 0 = too short, 1 = low
    diversity, 2 = no stopwords, 3 = word length out of range).

    Every threshold compares INTEGERS via cross-multiplication
    (n_uniq*10 >= n_tok*3, not n_uniq/n_tok >= 0.3): no float
    division means no engine can disagree at a ratio boundary — the
    same exactness discipline as the md5 hash-gate samplers.

    Scale: one scan, zero shuffles, all codegen; the gate composes
    with sample_balanced/mix_domain_weights as the filter stage ahead
    of them."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "is"))
    )
    m = d.select(
        "doc_id", n_tok.alias("n_tok"), n_uniq.alias("n_uniq"),
        sum_len.alias("sum_len"), n_stop.alias("n_stop"),
    )
    r1 = F.col("n_tok") < 25
    r2 = F.col("n_uniq") * 10 < F.col("n_tok") * 3
    r3 = F.col("n_stop") * 100 < F.col("n_tok") * 2
    r4 = (F.col("sum_len") < 3 * F.col("n_tok")) | (
        F.col("sum_len") > 10 * F.col("n_tok")
    )
    mask = (
        F.when(r1, 1).otherwise(0)
        + F.when(r2, 2).otherwise(0)
        + F.when(r3, 4).otherwise(0)
        + F.when(r4, 8).otherwise(0)
    )
    return m.select(
        "doc_id",
        mask.cast("int").alias("reason_mask"),
        (~r1 & ~r2 & ~r3 & ~r4).alias("keep"),
    )


_ZIPF_TOPK = 1000


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH c AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w
    ), top AS (
      SELECT w, c FROM c ORDER BY c DESC, w LIMIT {_ZIPF_TOPK}
    ), r AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rnk FROM top
    ), t AS (
      SELECT CAST(LN(CAST(rnk AS DOUBLE)) AS DECIMAL(18,8)) AS x,
             CAST(LN(CAST(c AS DOUBLE)) AS DECIMAL(18,8)) AS y,
             CAST(LN(CAST(rnk AS DOUBLE)) * LN(CAST(rnk AS DOUBLE))
                  AS DECIMAL(18,8)) AS xx,
             CAST(LN(CAST(rnk AS DOUBLE)) * LN(CAST(c AS DOUBLE))
                  AS DECIMAL(18,8)) AS xy
      FROM r
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
           ROUND((COUNT(*) * CAST(SUM(xy) AS DOUBLE)
                  - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
                 / (COUNT(*) * CAST(SUM(xx) AS DOUBLE)
                    - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)),
                 6) AS zipf_slope
    FROM t
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent of the corpus: OLS slope of log(freq) on
    log(rank) over the top-1000 vocabulary. Natural corpora sit near
    -1; a slope far off flags synthetic/templated text — a corpus-
    level quality monitor (companion to the per-doc text_quality).

    Plan: token hash-agg (shuffle bounded by vocab), then
    TakeOrderedAndProject for the top-k — per-task partial top-1000,
    never a global sort even with a billion-term vocabulary — then
    rank + regression over the 1000-row result (single tiny task by
    construction). The log-space regression terms quantize through
    DECIMAL(18,8) before summing so accumulation order can't move the
    6-decimal rounding."""
    d = table(spark, sf_dir, "documents")
    top = (
        d.select(F.explode(_tokens()).alias("w"))
        .groupBy("w").agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(_ZIPF_TOPK)
    )
    r = top.select(
        "c",
        F.row_number().over(
            Window.orderBy(F.col("c").desc(), "w")).alias("rnk"),
    )
    lx = F.log(F.col("rnk").cast("double"))
    ly = F.log(F.col("c").cast("double"))
    t = r.select(
        lx.cast("decimal(18,8)").alias("x"),
        ly.cast("decimal(18,8)").alias("y"),
        (lx * lx).cast("decimal(18,8)").alias("xx"),
        (lx * ly).cast("decimal(18,8)").alias("xy"),
    )
    n = F.count("*")
    return t.agg(
        n.cast("long").alias("n_vocab"),
        F.round(
            (n * F.sum("xy").cast("double")
             - F.sum("x").cast("double") * F.sum("y").cast("double"))
            / (n * F.sum("xx").cast("double")
               - F.sum("x").cast("double") * F.sum("x").cast("double")),
            6,
        ).alias("zipf_slope"),
    )


_FUZZY_MAXDIST = 3


@query(
    "join_fuzzy_levenshtein",
    oracle=f"""
    WITH names AS (
      SELECT DISTINCT p_name AS name,
             split_part(p_name, ' ', 2) AS blk
      FROM part
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
    FROM names a JOIN names b
      ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {_FUZZY_MAXDIST}
    """,
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join: candidate name pairs within an
    equality block (shared head noun) kept when edit distance <= 3 —
    the classic record-linkage shape (cf. text_er_blocked, which
    blocks on a different key and scores by token overlap; this one
    uses true Levenshtein, the metric dedupe tools standardize on).

    Scale: the block key turns O(n^2) into a per-block quadratic —
    the standard ER trade. DISTINCT first collapses the fact table to
    the name domain (shuffle bounded by vocabulary); the self-join is
    an equality hash join on the block key with the distance predicate
    applied post-join, never a cross join. Skewed blocks are handled
    the same way as join_skew_salted (salt the block key)."""
    p = table(spark, sf_dir, "part")
    names = p.select(
        F.col("p_name").alias("name"),
        F.element_at(F.split("p_name", " "), 2).alias("blk"),
    ).distinct()
    a, b = names.alias("a"), names.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.name") < F.col("b.name")))
        .withColumn("dist", F.levenshtein(F.col("a.name"), F.col("b.name")))
        .filter(F.col("dist") <= _FUZZY_MAXDIST)
        .select(F.col("a.name").alias("name_a"),
                F.col("b.name").alias("name_b"),
                F.col("dist").cast("int"))
    )


@query(
    "text_novelty_rate",
    oracle="""
    WITH g AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             md5(t.s) AS gh
      FROM (
        SELECT doc_id,
               string_split(text, ' ') AS w,
               len(string_split(text, ' ')) AS nw
        FROM documents), UNNEST(generate_series(1, nw - 2)) AS t_(i),
        LATERAL (SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s) t
    ), first_seen AS (
      SELECT gh, MIN(doc_id) AS first_doc FROM g GROUP BY gh
    ), per_doc AS (
      SELECT d.source, g.doc_id,
             COUNT(*) FILTER (WHERE f.first_doc < g.doc_id) AS n_seen,
             COUNT(*) AS n_grams
      FROM g JOIN first_seen f ON f.gh = g.gh
      JOIN documents d ON d.doc_id = g.doc_id
      GROUP BY d.source, g.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(CAST(SUM(CAST(1.0 - CAST(n_seen AS DOUBLE) / n_grams
                               AS DECIMAL(18,9))) AS STRING) AS DOUBLE)
                 / COUNT(*), 6) AS avg_novelty
    FROM per_doc GROUP BY source
    """,
)
def text_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty profiling: per document, the fraction of its
    distinct word-3-grams NOT seen in any earlier document (doc_id as
    ingestion order), averaged per source — the curve a curation
    pipeline watches to decide when a crawl source has gone stale
    (novelty decays toward 0 as a source re-crawls itself; cf. the
    dedup family, which asks about pairs — novelty is a property of
    the STREAM order).

    Plan: distinct (doc, gram-hash) pairs from one explode, the
    corpus-wide first-occurrence via a gram-keyed hash agg, one join
    back on gram hash, then per-doc and per-source aggs. Shuffles are
    bounded by distinct grams and docs, never raw token volume; the
    per-doc novelty ratios are quantized through DECIMAL(18,9) before
    the cross-doc average so accumulation order can't move the
    rounding."""
    from .dedup import _gram_hashes

    d = table(spark, sf_dir, "documents")
    # Shared zip-slice shingle kernel (dedup._gram_hashes): the old
    # element_at(w, i)-inside-a-transform-lambda form re-tokenized the
    # document once per gram after projection collapse (the O(tokens^2)
    # trap _grams' docstring documents), and carried 32-char md5 hex
    # through both gram-keyed shuffles; the kernel hashes to 8-byte
    # longs inside the projection.  The row-level .distinct() is
    # dropped: doc_id is unique and the kernel array_distinct's per
    # doc, so it was an identity shuffle.  Gram-hash membership
    # semantics unchanged (xxhash64 injective in practice — the
    # _gram_hashes contract used by the whole dedup family).
    grams = d.select("doc_id", F.explode(_gram_hashes()).alias("gh"))
    first_seen = grams.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first_seen, "gh")
        .groupBy("doc_id")
        .agg(
            F.count_if(F.col("first_doc") < F.col("doc_id")).alias("n_seen"),
            F.count("*").alias("n_grams"),
        )
        .join(d.select("doc_id", "source"), "doc_id")
    )
    novelty = (F.lit(1.0) - F.col("n_seen").cast("double")
               / F.col("n_grams")).cast("decimal(18,9)")
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.sum(novelty).cast("double") / F.count("*"), 6)
        .alias("avg_novelty"),
    )


@query(
    "ml_langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang AS true_lang, {_langid_case_sql()} AS pred_lang
      FROM documents
    )
    SELECT true_lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY true_lang), 6)
             AS recall_share
    FROM pred GROUP BY true_lang, pred_lang
    """,
)
def ml_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the CONFUSION MATRIX of the
    text_langid heuristic against the corpus's true labels — count
    and per-true-language recall share of every (true, predicted)
    cell. This is the eval loop a curation pipeline runs after every
    classifier change (which mislabelings would leak wrong-language
    docs past a filter?), sharing the exact scoring cascade with
    text_langid so the matrix always reflects the deployed model.

    Plan: one scan scoring each doc map-side (codegen'd array
    expressions), a |langs|^2-bounded hash agg, and the recall
    normalization as a window over that tiny matrix — the same
    matrix-shape discipline as win_event_transitions."""
    d = table(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("true_lang"),
        _langid_pred_col().alias("pred_lang"),
    )
    counts = pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("true_lang")
    return counts.select(
        "true_lang", "pred_lang", "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6)
        .alias("recall_share"),
    )


# Ordered suffix-strip rules (first match wins; longest first so
# 'running' -> 'runn' via 'ing' not 'g'). Minimum stem length 3.
_STEM_RE = "(sses|ing|ed|es|s)$"


@query(
    "text_stem_suffix",
    oracle=f"""
    WITH toks AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS t FROM documents
    ), stemmed AS (
      SELECT lang, t,
             CASE WHEN length(t) >= 5
                  THEN regexp_replace(t, '{_STEM_RE}', '')
                  ELSE t END AS stem
      FROM toks
    )
    SELECT lang,
           CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab_raw,
           CAST(COUNT(DISTINCT stem) AS BIGINT) AS vocab_stemmed,
           ROUND(1.0 - CAST(COUNT(DISTINCT stem) AS DOUBLE)
                       / COUNT(DISTINCT t), 6) AS vocab_reduction
    FROM stemmed GROUP BY lang
    """,
)
def text_stem_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based suffix stemming (the Porter step-1 shape: strip
    sses/ing/ed/es/s from tokens of length >= 5) with the vocabulary
    reduction it buys per language — the normalization knob between
    raw tokens (text_tokens) and aggressive fingerprinting
    (text_fingerprint): stemming folds inflected forms so dedup and
    retrieval see one term where morphology made five.

    Plan: map-side regexp (RE2-safe alternation anchored at $, same
    discipline as text_pii_redact), then two distinct-aggs whose
    exchanges carry distinct (lang, term) pairs — vocabulary-bounded,
    not token-bounded. The identical regex executes on both engines;
    the length guard keeps short function words intact."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(_tokens()).alias("t"))
    stemmed = toks.select(
        "lang", "t",
        F.when(F.length("t") >= 5,
               F.regexp_replace("t", _STEM_RE, ""))
        .otherwise(F.col("t")).alias("stem"),
    )
    return stemmed.groupBy("lang").agg(
        F.countDistinct("t").cast("long").alias("vocab_raw"),
        F.countDistinct("stem").cast("long").alias("vocab_stemmed"),
        F.round(F.lit(1.0) - F.countDistinct("stem").cast("double")
                / F.countDistinct("t"), 6).alias("vocab_reduction"),
    )


@query(
    "ml_cohens_kappa",
    oracle=f"""
    WITH pred AS (
      SELECT lang AS t, {_langid_case_sql()} AS p FROM documents
    ), cells AS (
      SELECT t, p, COUNT(*) AS c FROM pred GROUP BY t, p
    ), tots AS (
      SELECT SUM(c) AS n,
             CAST(SUM(CASE WHEN t = p THEN c ELSE 0 END) AS DOUBLE)
               AS agree
      FROM cells
    ), ch AS (
      SELECT CAST(CAST(SUM(CAST(tr.rt * pc.cp AS DECIMAL(38,0))) AS STRING) AS DOUBLE)
               AS chance_num
      FROM (SELECT t, SUM(c) AS rt FROM cells GROUP BY t) tr
      JOIN (SELECT p, SUM(c) AS cp FROM cells GROUP BY p) pc
        ON pc.p = tr.t
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           ROUND(agree / n, 6) AS p_observed,
           ROUND(chance_num / (CAST(n AS DOUBLE) * n), 6) AS p_chance,
           ROUND((agree / n - chance_num / (CAST(n AS DOUBLE) * n))
                 / (1.0 - chance_num / (CAST(n AS DOUBLE) * n)), 6)
             AS kappa
    FROM tots, ch
    """,
)
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the langid classifier against truth:
    chance-corrected agreement — raw accuracy flatters any classifier
    on an imbalanced label mix (predict-the-majority scores high);
    kappa subtracts exactly the agreement the marginals would produce
    by luck. Shares the deployed scoring cascade with text_langid /
    ml_langid_confusion, and turns that confusion matrix into the one
    scalar a model gate thresholds on.

    Plan: one scoring scan, a |langs|^2 cell agg, then marginal
    algebra on the tiny matrix (the chance term sums row*column
    products through DECIMAL(38,0) — exact integers end to end until
    the final three divisions)."""
    d = table(spark, sf_dir, "documents")
    cells = (
        d.select(F.col("lang").alias("t"),
                 _langid_pred_col().alias("p"))
        .groupBy("t", "p").agg(F.count("*").alias("c"))
    )
    g = cells.agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("t") == F.col("p"), F.col("c"))
              .otherwise(0)).cast("double").alias("agree"),
    )
    tr = cells.groupBy("t").agg(F.sum("c").alias("rt"))
    pc = cells.groupBy("p").agg(F.sum("c").alias("cp"))
    chance = (
        tr.join(pc, tr.t == pc.p)
        .agg(F.sum((F.col("rt") * F.col("cp")).cast("decimal(38,0)"))
             .cast("double").alias("chance_num"))
    )
    po = F.col("agree") / F.col("n")
    pe = F.col("chance_num") / (F.col("n").cast("double") * F.col("n"))
    return g.crossJoin(F.broadcast(chance)).select(
        F.col("n").cast("long").alias("n_docs"),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_chance"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


_VOCAB_KS = (100, 1000)


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH c AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w
    ), r AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rnk,
             SUM(c) OVER () AS tot
      FROM c
    ), cum AS (
      SELECT rnk,
             SUM(c) OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS cm,
             tot
      FROM r
    )
    SELECT k AS vocab_size,
           CAST(MAX(CASE WHEN rnk = k THEN cm END) AS BIGINT)
             AS tokens_covered,
           CAST(ANY_VALUE(tot) AS BIGINT) AS tokens_total,
           ROUND(CAST(MAX(CASE WHEN rnk = k THEN cm END) AS DOUBLE)
                 / ANY_VALUE(tot), 6) AS coverage
    FROM cum, UNNEST([{", ".join(map(str, _VOCAB_KS))}]) t(k)
    WHERE rnk <= k
    GROUP BY k
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all token
    occurrences do the top-K terms cover, for K in {_VOCAB_KS} — the
    tokenizer-budget planning number (how big a vocab before <unk>
    mass is acceptable), read straight off the cumulative frequency
    curve that text_zipf_slope fits.

    Plan: token hash agg (vocab-bounded shuffle), then rank AND
    running sum over the vocab aggregate come from ONE split-window
    pass (functions/splitwin.py): deterministic count shards,
    parallel per-shard windows, shard-count-sized offset pass —
    never the single-task full-vocab window (and one window stage
    where rounds 1-4 ran two). The curve is sampled AT the K
    boundary rows (rnk <= k), so output is |Ks| rows regardless of
    vocab size. Shard-balance note: the hapax tail (c = 1) ties into
    one shard — the split still parallelizes the head, and tie
    colocation is what keeps the numbering exact."""
    d = table(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(_tokens()).alias("w"))
        .groupBy("w").agg(F.count("*").alias("c"))
    )
    tot = c.agg(F.sum("c").alias("tot"))
    cum = split_window(
        c,
        [F.col("c").desc(), "w"],
        # log-space buckets: term counts are Zipfian, so equal-width
        # on raw c would pile the tail into one shard
        bucket=F.log(F.col("c").cast("double")),
        descending=True,
        row_number="rnk",
        running_sums={"cm": "c"},
    ).crossJoin(F.broadcast(tot)).select("rnk", "tot", "cm")
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _VOCAB_KS])).alias("k"))
    return (
        cum.crossJoin(F.broadcast(ks))
        .filter(F.col("rnk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.max(F.when(F.col("rnk") == F.col("k"), F.col("cm")))
            .cast("long").alias("tokens_covered"),
            F.any_value("tot").cast("long").alias("tokens_total"),
            F.round(
                F.max(F.when(F.col("rnk") == F.col("k"), F.col("cm")))
                .cast("double") / F.any_value("tot"), 6).alias("coverage"),
        )
        .withColumnRenamed("k", "vocab_size")
    )


_BURST_MIN_CF = 50
_BURST_TOPK = 20


@query(
    "text_term_burstiness",
    oracle=f"""
    WITH tf AS (
      SELECT token, COUNT(*) AS cf, COUNT(DISTINCT doc_id) AS df
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
            FROM documents)
      GROUP BY token
    )
    SELECT token, CAST(cf AS BIGINT) AS cf, CAST(df AS BIGINT) AS df,
           ROUND(CAST(cf AS DOUBLE) / df, 6) AS burstiness
    FROM tf
    WHERE cf >= {_BURST_MIN_CF}
    ORDER BY CAST(cf AS DOUBLE) / df DESC, token
    LIMIT {_BURST_TOPK}
    """,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church/Gale): collection frequency over
    document frequency — a term used 500 times across 500 docs is
    vocabulary; used 500 times across 20 docs it's a TOPIC marker
    (or boilerplate the dedup stack should look at). The top-k
    burstiest frequent terms are the content-word shortlist TF-IDF's
    global weighting can't directly give (cf. text_novelty_rate,
    which looks at gram reuse over TIME; this is reuse CONCENTRATION
    over documents).

    Plan: explode + one hash agg (vocab-bounded exchange carrying
    (cf, df) pairs), frequency floor, then TakeOrderedAndProject —
    per-task partial top-k, never a vocab sort. The ratio of two
    exact integers orders identically on both engines; ties break on
    the token."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cf"), F.countDistinct("doc_id").alias("df"))
        .filter(F.col("cf") >= _BURST_MIN_CF)
    )
    burst = F.col("cf").cast("double") / F.col("df")
    return (
        tf.orderBy(burst.desc(), "token")
        .limit(_BURST_TOPK)
        .select(
            "token",
            F.col("cf").cast("long").alias("cf"),
            F.col("df").cast("long").alias("df"),
            F.round(burst, 6).alias("burstiness"),
        )
    )


_JSD_TOPV = 200  # capped vocabulary: top-N corpus terms + OTHER


@query(
    "text_jsd_vs_corpus",
    oracle=f"""
    WITH tok AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        ORDER BY c DESC, w LIMIT {_JSD_TOPV})
    ), mapped AS (
      SELECT t.source,
             CASE WHEN v.w IS NOT NULL THEN t.w ELSE '<OTHER>' END AS term
      FROM tok t LEFT JOIN vocab v ON v.w = t.w
    ), sc AS (
      SELECT source, term, COUNT(*) AS c FROM mapped GROUP BY 1, 2
    ), stot AS (SELECT source, SUM(c) AS n FROM sc GROUP BY source),
    gc AS (SELECT term, SUM(c) AS c FROM sc GROUP BY term),
    gtot AS (SELECT SUM(c) AS n FROM gc),
    probs AS (
      SELECT sc.source,
             CAST(sc.c AS DOUBLE) / stot.n AS p,
             CAST(gc.c AS DOUBLE) / gtot.n AS q
      FROM sc
      JOIN stot ON stot.source = sc.source
      JOIN gc ON gc.term = sc.term
      CROSS JOIN gtot
    )
    SELECT source,
           ROUND(CAST(CAST(SUM(CAST(
             0.5 * p * LN(2.0 * p / (p + q)) / LN(2.0)
             + 0.5 * q * LN(2.0 * q / (p + q)) / LN(2.0)
             AS DECIMAL(18,12))) AS STRING) AS DOUBLE), 6) AS jsd_bits
    FROM probs GROUP BY source
    """,
)
def text_jsd_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram
    distribution from the whole-corpus distribution, in bits over a
    capped vocabulary (top-{_JSD_TOPV} terms + an <OTHER> bucket) —
    the bounded, symmetric domain-distance that tells a mixing
    pipeline which sources actually add distributional diversity and
    which are near-clones (dq_drift_psi is this for numeric bins
    over time; JSD is the text-domain version, and unlike raw KL it
    never blows up on terms one side lacks).

    NB: the source-vs-corpus comparison is self-inclusive (each
    source is part of the corpus mix), which only SHRINKS distances
    — fine for ranking sources against each other, stated here so
    nobody reads the numbers as source-vs-rest. Terms a source never
    uses contribute only through its <OTHER> mass, so per-source
    support never includes zero-count rows.

    Plan: the vocabulary cap is a TakeOrdered (zipf's trick) that
    bounds every later exchange at {_JSD_TOPV}+1 terms per source;
    the per-term JSD contributions quantize through DECIMAL(18,12)
    before the per-source sum (libm LN discipline)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(_tokens()).alias("w"))
    vocab = (
        tok.groupBy("w").agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "w").limit(_JSD_TOPV)
        .select("w")
    )
    mapped = (
        tok.join(F.broadcast(vocab.withColumnRenamed("w", "vw")),
                 tok.w == F.col("vw"), "left")
        .select(
            "source",
            F.when(F.col("vw").isNotNull(), F.col("w"))
            .otherwise(F.lit("<OTHER>")).alias("term"))
    )
    sc = mapped.groupBy("source", "term").agg(F.count("*").alias("c"))
    stot = sc.groupBy("source").agg(F.sum("c").alias("n"))
    gc = sc.groupBy("term").agg(F.sum("c").alias("gcc"))
    gtot = gc.agg(F.sum("gcc").alias("gn"))
    probs = (
        sc.join(F.broadcast(stot), "source")
        .join(F.broadcast(gc), "term")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            (F.col("c").cast("double") / F.col("n")).alias("p"),
            (F.col("gcc").cast("double") / F.col("gn")).alias("q"))
    )
    ln2 = F.log(F.lit(2.0))
    term = (
        0.5 * F.col("p") * F.log(2.0 * F.col("p")
                                 / (F.col("p") + F.col("q"))) / ln2
        + 0.5 * F.col("q") * F.log(2.0 * F.col("q")
                                   / (F.col("p") + F.col("q"))) / ln2
    ).cast("decimal(18,12)")
    return probs.groupBy("source").agg(
        F.round(F.sum(term).cast("double"), 6).alias("jsd_bits"))


_PMI_MIN_PAIR = 25
_PMI_TOPK = 20


@query(
    "text_pmi_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS nw
      FROM documents
    ), bi AS (
      SELECT w[i] AS a, w[i+1] AS b, COUNT(*) AS c_ab
      FROM toks, UNNEST(generate_series(1, nw - 1)) t(i)
      GROUP BY 1, 2 HAVING COUNT(*) >= {_PMI_MIN_PAIR}
    ), uni AS (
      SELECT t.t AS term, COUNT(*) AS c
      FROM (SELECT UNNEST(string_split(text, ' ')) AS t
            FROM documents) t
      GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni
    )
    SELECT bi.a, bi.b, CAST(bi.c_ab AS BIGINT) AS n_pair,
           ROUND(LN(CAST(bi.c_ab AS DOUBLE) * tot.n
                    / (CAST(ua.c AS DOUBLE) * ub.c)) / LN(2.0), 6)
             AS pmi_bits
    FROM bi
    JOIN uni ua ON ua.term = bi.a
    JOIN uni ub ON ub.term = bi.b
    CROSS JOIN tot
    ORDER BY LN(CAST(bi.c_ab AS DOUBLE) * tot.n
                / (CAST(ua.c AS DOUBLE) * ub.c)) DESC, bi.a, bi.b
    LIMIT {_PMI_TOPK}
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information: adjacent
    word pairs that co-occur far beyond what their individual
    frequencies predict (PMI = log2 of the observed/expected ratio) —
    the classic multiword-expression extractor ("new york", "machine
    learning") that raw bigram counts can't give because frequent
    words dominate them. The {_PMI_MIN_PAIR}-count floor is PMI's
    standard rare-pair correction (a hapax pair otherwise maxes the
    score).

    Plan: positional bigram explode -> hash agg (pair-bounded),
    unigram agg (vocab-bounded), two marginal joins on the surviving
    pairs only, TakeOrdered top-k. PMI orders by a ratio of exact
    integer products — the LN is monotone, so cross-engine ulp can't
    reorder; ties break lexicographically."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    bi = (
        d.select(F.explode(
            F.when(F.size(w) >= 2,
                   F.transform(F.sequence(F.lit(0), F.size(w) - 2),
                               lambda i: F.struct(
                                   w[i].alias("a"), w[i + 1].alias("b"))))
            .otherwise(F.array().cast(
                "array<struct<a:string,b:string>>"))).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b").agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_PAIR)
    )
    uni = (
        d.select(F.explode(w).alias("term"))
        .groupBy("term").agg(F.count("*").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("double").alias("n"))
    scored = (
        bi.join(uni.withColumnRenamed("term", "a")
                .withColumnRenamed("c", "ca"), "a")
        .join(uni.withColumnRenamed("term", "b")
              .withColumnRenamed("c", "cb"), "b")
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.log(F.col("c_ab").cast("double") * F.col("n")
                / (F.col("ca").cast("double") * F.col("cb"))) / F.log(F.lit(2.0))
    return (
        scored.orderBy(pmi.desc(), "a", "b")
        .limit(_PMI_TOPK)
        .select("a", "b", F.col("c_ab").cast("long").alias("n_pair"),
                F.round(pmi, 6).alias("pmi_bits"))
    )


@query(
    "text_yule_k",
    oracle="""
    WITH tf AS (
      SELECT lang, w, COUNT(*) AS m
      FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY lang, w
    ), fof AS (
      SELECT lang, m, COUNT(*) AS vm FROM tf GROUP BY lang, m
    )
    SELECT lang,
           CAST(SUM(vm * m) AS BIGINT) AS n_tokens,
           CAST(SUM(vm) AS BIGINT) AS vocab,
           ROUND(10000.0 * (CAST(SUM(vm * m * m) AS DOUBLE)
                            - SUM(vm * m))
                 / (CAST(SUM(vm * m) AS DOUBLE) * SUM(vm * m)), 6)
             AS yule_k
    FROM fof GROUP BY lang
    """,
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K lexical-richness characteristic per language:
    K = 10^4 * (sum(m^2 * V_m) - N) / N^2 over the FREQUENCY-OF-
    FREQUENCIES spectrum (V_m = how many terms occur exactly m
    times) — the repetitiveness constant that, unlike type-token
    ratio (text_quality's uniq_ratio), is provably insensitive to
    sample LENGTH, so languages and sources of different corpus
    sizes compare fairly. High K = a few terms dominate (templated/
    repetitive); low K = rich vocabulary.

    Plan: term-frequency hash agg, then the freq-of-freq agg — the
    second exchange carries one row per DISTINCT FREQUENCY (dozens),
    the signature shape of this statistic; K is exact-integer
    arithmetic until two final divisions."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(_tokens()).alias("w"))
        .groupBy("lang", "w").agg(F.count("*").alias("m"))
    )
    fof = tf.groupBy("lang", "m").agg(F.count("*").alias("vm"))
    n_tok = F.sum(F.col("vm") * F.col("m"))
    return fof.groupBy("lang").agg(
        n_tok.cast("long").alias("n_tokens"),
        F.sum("vm").cast("long").alias("vocab"),
        F.round(10000.0 * (F.sum(F.col("vm") * F.col("m") * F.col("m"))
                           .cast("double") - n_tok)
                / (n_tok.cast("double") * n_tok), 6).alias("yule_k"),
    )


# Flesch reading-ease constants (Flesch 1948) and the vowel-group
# syllable heuristic: one syllable per maximal [aeiouy]+ run.
_SYL_RE = "[aeiouy]+"
_SENT_RE = "[.!?]"


@query(
    "text_readability",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_words,
             GREATEST(len(regexp_extract_all(text, '{_SENT_RE}')), 1)
               AS n_sentences,
             GREATEST(len(regexp_extract_all(text, '{_SYL_RE}')), 1)
               AS n_syllables
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           ROUND(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE)
                            / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE)),
                 4) AS flesch
    FROM m
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH READING-EASE per document — the classic readability
    quality gate (alongside text_quality's ratio features and
    text_perplexity_lm's LM score): 206.835 − 1.015·(words/sentences)
    − 84.6·(syllables/words), with syllables approximated as maximal
    vowel-group runs (the standard dictionary-free heuristic) and
    sentence count floored at 1 (this corpus is unpunctuated word
    salad, so every document is one "sentence" — the formula and its
    plan shape are what's under test; on punctuated text the same
    regex does real work).

    Exactness: all three counts are exact integers from the SAME
    RE2-and-Java-safe character classes on both engines; the formula
    is one fixed IEEE operation sequence rounded to 4 places.

    Scale: pure map-side regexp counting, zero shuffle, whole-stage
    codegen; at 100 TB this runs at scan speed next to the other
    per-document quality columns in one pass."""
    d = table(spark, sf_dir, "documents")
    n_words = F.size(_tokens())
    n_sent = F.greatest(F.regexp_count("text", F.lit(_SENT_RE)), F.lit(1))
    n_syl = F.greatest(F.regexp_count("text", F.lit(_SYL_RE)), F.lit(1))
    m = d.select(
        "doc_id", "lang",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syl.cast("long").alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - 1.015 * (F.col("n_words").cast("double")
                   / F.col("n_sentences").cast("double"))
        - 84.6 * (F.col("n_syllables").cast("double")
                  / F.col("n_words").cast("double"))
    )
    return m.select(
        "doc_id", "lang", "n_words", "n_sentences", "n_syllables",
        F.round(flesch, 4).alias("flesch"),
    )


# Homoglyph / leetspeak canonicalization map (digit -> letter). The
# obfuscation gate below SIMULATES adversarial substitution on every
# 9th doc so the normalizer has real work on a clean corpus.
_LEET_FROM = "0135"
_LEET_TO = "oles"


@query(
    "text_homoglyph_normalize",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang, text,
             CASE WHEN doc_id % 9 = 0
                  THEN translate(text, '{_LEET_TO}', '{_LEET_FROM}')
                  ELSE text END AS wire
      FROM documents
    ), norm AS (
      SELECT doc_id, lang, text, wire,
             translate(wire, '{_LEET_FROM}', '{_LEET_TO}') AS canon
      FROM base
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE wire != text) AS BIGINT)
             AS n_obfuscated,
           CAST(COUNT(*) FILTER (WHERE canon = text) AS BIGINT)
             AS n_recovered,
           CAST(COUNT(DISTINCT md5(wire)) AS BIGINT) AS ndv_wire,
           CAST(COUNT(DISTINCT md5(canon)) AS BIGINT) AS ndv_canon
    FROM norm GROUP BY lang
    """,
)
def text_homoglyph_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOMOGLYPH / LEETSPEAK canonicalization — the adversarial-dedup
    gap: exact and shingle dedup treat 'fr33 sp4m' and 'free spam' as
    unrelated, so spammers re-enter a deduped corpus by character
    substitution. The normalizer folds digit-for-letter homoglyphs
    back ({'->'.join([_LEET_FROM, _LEET_TO])}, one translate() —
    codepoint-parallel, not regex) BEFORE fingerprinting. The query
    plants obfuscation on every 9th doc (the corpus is clean;
    deterministic injection gives the normalizer real work, the
    dq_sequence_gaps pattern), then proves recovery: every obfuscated
    doc maps back byte-identically, and the distinct-fingerprint
    count collapses to the clean corpus's.

    Scale: translate() is map-side and codegen'd; slots in front of
    text_fingerprint/dedup_exact at scan cost. The real-world map is
    larger (confusable unicode ranges, NFKC first — text_normalize's
    job); the mechanism and the audit shape are what's pinned."""
    d = table(spark, sf_dir, "documents")
    wire = F.when(
        F.col("doc_id") % 9 == 0,
        F.translate("text", _LEET_TO, _LEET_FROM),
    ).otherwise(F.col("text"))
    base = d.select("doc_id", "lang", "text", wire.alias("wire"))
    norm = base.withColumn(
        "canon", F.translate("wire", _LEET_FROM, _LEET_TO)
    )
    return norm.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_if(F.col("wire") != F.col("text")).cast("long")
        .alias("n_obfuscated"),
        F.count_if(F.col("canon") == F.col("text")).cast("long")
        .alias("n_recovered"),
        F.countDistinct(F.md5("wire")).cast("long").alias("ndv_wire"),
        F.countDistinct(F.md5("canon")).cast("long").alias("ndv_canon"),
    )


# RAKE stopword delimiter set (the en function words double as phrase
# boundaries on this corpus) and report size.
_RAKE_STOPS = ("the", "a", "of", "and", "is")
_RAKE_TOP = 15


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t.i AS pos, w[CAST(t.i AS INT)] AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           UNNEST(generate_series(1, len(w))) t(i)
    ), marked AS (
      SELECT doc_id, pos, tok,
             CASE WHEN tok IN {_RAKE_STOPS} THEN 1 ELSE 0 END AS stop
      FROM toks
    ), phr AS (
      SELECT doc_id, pos, tok, stop,
             SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos)
               AS phrase_id
      FROM marked
    ), members AS (
      SELECT doc_id, phrase_id, tok FROM phr WHERE stop = 0
    ), plen AS (
      SELECT doc_id, phrase_id, COUNT(*) AS len
      FROM members GROUP BY doc_id, phrase_id
    ), scores AS (
      SELECT m.tok AS word,
             SUM(p.len) AS degree,
             COUNT(*) AS freq
      FROM members m
      JOIN plen p ON p.doc_id = m.doc_id AND p.phrase_id = m.phrase_id
      GROUP BY m.tok
    )
    SELECT word, CAST(degree AS BIGINT) AS degree,
           CAST(freq AS BIGINT) AS freq,
           ROUND(CAST(degree AS DOUBLE) / freq, 6) AS rake_score
    FROM scores
    ORDER BY ROUND(CAST(degree AS DOUBLE) / freq, 6) DESC, word
    LIMIT {_RAKE_TOP}
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — the PHRASE-based
    keyword scorer the frequency family misses: split text into
    candidate phrases at stopword boundaries, score each word by
    degree/frequency (degree = total length of phrases it appears in
    — words living in LONG phrases score high even at low frequency,
    the opposite bias to raw counts; tfidf finds distinctive TERMS,
    PMI finds collocated PAIRS, RAKE finds topical PHRASES' heads).
    Top-{_RAKE_TOP} corpus keywords ship as the tag vocabulary.

    Plan: the phrase segmentation is the gaps-and-islands prefix-sum
    (win_streaks' identity applied to token streams): stopword flags
    → running SUM over position = phrase id, no regex splitting, no
    Python. Exactness: degree and frequency are exact integers; one
    rounded division; LIMIT under a total (rounded score, word)
    order.

    Scale: the position window partitions per document (bounded by
    doc length); phrase stats and word scores are two vocab-bounded
    hash aggs. At 100 TB this is explode + two shuffles of
    (word/phrase, small-int) pairs — the text_tokens profile."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    marked = toks.withColumn(
        "stop", F.col("tok").isin(*_RAKE_STOPS).cast("int")
    )
    wp = Window.partitionBy("doc_id").orderBy("pos")
    phr = marked.withColumn("phrase_id", F.sum("stop").over(wp))
    members = phr.filter(F.col("stop") == 0).select(
        "doc_id", "phrase_id", "tok"
    )
    plen = members.groupBy("doc_id", "phrase_id").agg(
        F.count("*").alias("len")
    )
    scores = (
        members.join(plen, ["doc_id", "phrase_id"])
        .groupBy(F.col("tok").alias("word"))
        .agg(F.sum("len").alias("degree"), F.count("*").alias("freq"))
    )
    rake = F.round(
        F.col("degree").cast("double") / F.col("freq"), 6
    )
    return (
        scores.select(
            "word",
            F.col("degree").cast("long").alias("degree"),
            F.col("freq").cast("long").alias("freq"),
            rake.alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "word")
        .limit(_RAKE_TOP)
    )


# Burrows' Delta marker words: the corpus's function-word set (shared
# with the langid lexicon / RAKE stoplist — high-frequency, topic-free).
_DELTA_WORDS = ("the", "a", "of", "and", "is")


@query(
    "text_burrows_delta",
    oracle=f"""
    WITH toks AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS tok
      FROM documents
    ), totals AS (
      SELECT source, COUNT(*) AS n FROM toks GROUP BY source
    ), freqs AS (
      SELECT t.source, w.wd,
             CAST(COUNT(*) FILTER (WHERE t.tok = w.wd) AS DOUBLE)
               / MAX(tt.n) AS f
      FROM toks t
      JOIN totals tt ON tt.source = t.source
      CROSS JOIN (SELECT UNNEST({list(_DELTA_WORDS)}) AS wd) w
      GROUP BY t.source, w.wd
    ), stats AS (
      SELECT wd,
             CAST(CAST(SUM(CAST(f AS DECIMAL(18,12))) AS STRING) AS DOUBLE)
               / COUNT(*) AS mu,
             sqrt(CAST(CAST(SUM(CAST(f * f AS DECIMAL(18,12))) AS STRING) AS DOUBLE)
                    / COUNT(*)
                  - (CAST(CAST(SUM(CAST(f AS DECIMAL(18,12))) AS STRING) AS DOUBLE)
                     / COUNT(*))
                    * (CAST(CAST(SUM(CAST(f AS DECIMAL(18,12))) AS STRING) AS DOUBLE)
                       / COUNT(*))) AS sigma
      FROM freqs GROUP BY wd
    ), z AS (
      -- zero-variance markers (identical usage everywhere) carry no
      -- stylistic signal and would divide by zero: dropped, and the
      -- pair mean divides by the RETAINED word count.
      SELECT f.source, f.wd, (f.f - s.mu) / s.sigma AS z
      FROM freqs f JOIN stats s ON s.wd = f.wd
      WHERE s.sigma > 0
    )
    SELECT a.source AS source_a, b.source AS source_b,
           ROUND(CAST(CAST(SUM(CAST(ABS(a.z - b.z) AS DECIMAL(18,12))) AS STRING) AS DOUBLE) / COUNT(*), 6) AS delta
    FROM z a JOIN z b ON b.wd = a.wd AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURROWS' DELTA — the stylometry/authorship distance (Burrows
    2002): sources are profiled by their FUNCTION-WORD relative
    frequencies (topic-free words authors use unconsciously),
    z-normalized per word across sources, and every source pair gets
    delta = mean |z_a − z_b|. In a curation pipeline this is the
    SOURCE-STYLE distance matrix: near-zero delta between two
    'different' crawl sources flags mirrors/syndication that URL
    dedup missed (stylistic fingerprints survive re-hosting), and
    high delta identifies stylistic diversity worth preserving in a
    mix — content-free where text_jsd_vs_corpus is topical.

    Exactness: relative frequencies are one division each; the
    per-word mean/std use DECIMAL co-moments with IEEE sqrt (the
    ts_sax_motifs recipe), so every z is bit-identical; |z−z| terms
    quantize through DECIMAL before the pair sum.

    Scale: profile table is sources × marker-words (schema-bounded);
    the pair join runs on THAT, never on tokens — the fact cost is
    one token-stream count. Marker vocabularies of 150+ words (the
    literary standard) change row counts, not plan shape."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    # ONE token pass: the per-source token total and all marker-word
    # counts come out of a single conditional hash agg (count_if = 0
    # when the word is absent — the dense grid by construction, no
    # crossJoin + left join).  The old form exploded the token stream
    # twice (totals + counts) and the grid's two consumers (stats, z)
    # re-derived both — up to four explode passes per run.  The
    # source-cardinality profile is checkpointed so stats, z
    # and the pair join all read one materialization.
    prof = (
        toks.groupBy("source").agg(
            F.count("*").alias("n"),
            *[F.count_if(F.col("tok") == w).alias(f"c{i}")
              for i, w in enumerate(_DELTA_WORDS)],
        )
        .transform(checkpoint)
    )
    grid = prof.select(
        "source",
        F.explode(F.array(*[
            F.struct(
                F.lit(w).alias("wd"),
                (F.col(f"c{i}").cast("double") / F.col("n")).alias("f"),
            )
            for i, w in enumerate(_DELTA_WORDS)
        ])).alias("wf"),
    ).select("source", F.col("wf.wd").alias("wd"), F.col("wf.f").alias("f"))
    mu = (F.sum(F.col("f").cast("decimal(18,12)")).cast("double")
          / F.count("*"))
    ef2 = (F.sum((F.col("f") * F.col("f")).cast("decimal(18,12)"))
           .cast("double") / F.count("*"))
    stats = grid.groupBy("wd").agg(mu.alias("mu"), ef2.alias("ef2")).select(
        "wd", "mu",
        F.sqrt(F.col("ef2") - F.col("mu") * F.col("mu")).alias("sigma"),
    )
    z = (
        grid.join(F.broadcast(stats), "wd")
        .filter(F.col("sigma") > 0)
        .select(
            "source", "wd",
            ((F.col("f") - F.col("mu")) / F.col("sigma")).alias("z"),
        )
    )
    a, b = z.alias("a"), z.alias("b")
    return (
        a.join(
            b,
            (F.col("b.wd") == F.col("a.wd"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.round(
                F.sum(
                    F.abs(F.col("a.z") - F.col("b.z"))
                    .cast("decimal(18,12)")
                ).cast("double") / F.count("*"),
                6,
            ).alias("delta")
        )
    )


_FW_ALPHA = 0.01  # Dirichlet pseudo-count per word
_FW_TOP = 10      # top discriminative words per side


@query(
    "text_fightin_words",
    oracle=f"""
    WITH toks AS (
      SELECT CASE WHEN source < 'src1' OR source >= 'src2'
                  THEN 'corpus_a' ELSE 'corpus_b' END AS grp,
             UNNEST(string_split(text, ' ')) AS w
      FROM documents
    ), counts AS (
      SELECT w,
             SUM(CASE WHEN grp = 'corpus_a' THEN 1 ELSE 0 END) AS ya,
             SUM(CASE WHEN grp = 'corpus_b' THEN 1 ELSE 0 END) AS yb
      FROM toks GROUP BY w
    ), tot AS (
      SELECT SUM(ya) AS na, SUM(yb) AS nb,
             COUNT(*) AS v
      FROM counts
    ), lo AS (
      SELECT c.w, c.ya, c.yb,
             ln((c.ya + {_FW_ALPHA})
                / (t.na + {_FW_ALPHA} * t.v - c.ya - {_FW_ALPHA}))
             - ln((c.yb + {_FW_ALPHA})
                  / (t.nb + {_FW_ALPHA} * t.v - c.yb - {_FW_ALPHA}))
               AS delta,
             1.0 / (c.ya + {_FW_ALPHA}) + 1.0 / (c.yb + {_FW_ALPHA})
               AS var_d
      FROM counts c CROSS JOIN tot t
    ), z AS (
      SELECT w, CAST(ya AS BIGINT) AS count_a,
             CAST(yb AS BIGINT) AS count_b,
             ROUND(delta / sqrt(var_d), 6) AS z_score
      FROM lo
    )
    SELECT * FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY z_score DESC, w) AS rn
      FROM z) WHERE rn <= {_FW_TOP}
    UNION ALL
    SELECT * FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY z_score, w) AS rn
      FROM z) WHERE rn <= {_FW_TOP}
    """,
)
def text_fightin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'FIGHTIN' WORDS' (Monroe-Colaresi-Quinn 2008) — the
    statistically-honest corpus-comparison keyword method: raw
    count differences crown frequent words, plain log-odds crown
    rare flukes; the Dirichlet-smoothed log-odds-ratio Z-SCORE
    δ/√(1/(y_a+α) + 1/(y_b+α)) corrects both, ranking words by how
    confidently their usage differs between two corpus halves (here
    a deterministic source split). The standard tool for 'what
    distinguishes source A from source B' in mix curation — where
    text_burrows_delta says HOW FAR apart two sources are, this says
    WHICH WORDS carry the difference. Emits top-{_FW_TOP} per side.

    Exactness: counts exact; each ln applies once to a
    deterministically-computed double (fixed operation order, shared
    α literal), z rounds at 6 BEFORE the rank windows so an ulp
    wiggle cannot reorder the cut; ties break by word.

    Scale: one vocab-keyed count agg (map-side partials), the totals
    as a broadcast scalar, two rank windows over the vocab table."""
    d = table(spark, sf_dir, "documents")
    grp = F.when(
        (F.col("source") < "src1") | (F.col("source") >= "src2"),
        "corpus_a",
    ).otherwise("corpus_b")
    toks = d.select(grp.alias("grp"),
                    F.explode(F.split("text", " ")).alias("w"))
    counts = toks.groupBy("w").agg(
        F.sum(F.when(F.col("grp") == "corpus_a", 1).otherwise(0))
        .alias("ya"),
        F.sum(F.when(F.col("grp") == "corpus_b", 1).otherwise(0))
        .alias("yb"),
    )
    tot = counts.agg(
        F.sum("ya").alias("na"), F.sum("yb").alias("nb"),
        F.count("*").alias("v"),
    )
    a = _FW_ALPHA
    delta = F.log(
        (F.col("ya") + a)
        / (F.col("na") + a * F.col("v") - F.col("ya") - a)
    ) - F.log(
        (F.col("yb") + a)
        / (F.col("nb") + a * F.col("v") - F.col("yb") - a)
    )
    var_d = 1.0 / (F.col("ya") + a) + 1.0 / (F.col("yb") + a)
    z = counts.crossJoin(F.broadcast(tot)).select(
        "w",
        F.col("ya").cast("long").alias("count_a"),
        F.col("yb").cast("long").alias("count_b"),
        F.round(delta / F.sqrt(var_d), 6).alias("z_score"),
    )
    # TakeOrdered per direction (per-partition top-k, merged on the
    # driver) instead of a full-vocab rank window; the rank column is
    # re-derived over the bounded <=_FW_TOP-row result.
    top_a = (
        z.orderBy(F.desc("z_score"), "w").limit(_FW_TOP)
        .withColumn("rn", F.row_number().over(
            Window.orderBy(F.desc("z_score"), "w")))
    )
    top_b = (
        z.orderBy("z_score", "w").limit(_FW_TOP)
        .withColumn("rn", F.row_number().over(
            Window.orderBy("z_score", "w")))
    )
    return top_a.unionByName(top_b)


# --- cross-source contamination matrix ------------------------------------
SRCOV_N = 5  # shingle order (words) for the overlap census


@query(
    "text_source_overlap",
    oracle=f"""
    WITH g AS MATERIALIZED (
      SELECT DISTINCT source,
             md5(array_to_string(w[st : st + {SRCOV_N - 1}], ' ')) AS g
      FROM (
        SELECT source, string_split(text, ' ') AS w,
               UNNEST(generate_series(
                 1, len(string_split(text, ' ')) - {SRCOV_N - 1})) AS st
        FROM documents)),
    n AS MATERIALIZED (
      SELECT source, COUNT(*) AS n_grams FROM g GROUP BY source),
    pair AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_common
      FROM g a JOIN g b ON b.g = a.g AND b.source <> a.source
      GROUP BY a.source, b.source)
    SELECT pair.source_a, pair.source_b,
           CAST(pair.n_common AS BIGINT) AS n_common,
           CAST(pair.n_common * 1000 // n.n_grams AS BIGINT) AS share_milli
    FROM pair JOIN n ON n.source = pair.source_a
    """,
)
def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every ordered pair of
    sources, how many distinct {SRCOV_N}-gram shingles of source A
    also appear in source B, and that count as a share of A's shingle
    vocabulary — the census that finds syndication/mirroring BETWEEN
    domains (dedup_* finds the duplicate documents; this says which
    domain pairs to look at, and feeds the mixing weights: two
    near-identical sources should not both get full weight).

    Scale: one shingle pass to distinct (source, gram) — the same
    single-exchange discipline as the capped dedup family — then the
    overlap join keys on the gram hash, so per-gram fan-out is
    bounded by the number of sources sharing it (<= source
    cardinality, ~dozens), never corpus-quadratic.  Counts and
    shares are exact integers."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    g = (
        d.select("source", w.alias("w"))
        .select(
            "source", "w",
            F.explode(
                F.sequence(F.lit(1), F.size(F.col("w")) - (SRCOV_N - 1))
            ).alias("st"),
        )
        .select(
            "source",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("w"), F.col("st"), SRCOV_N))
            ).alias("g"),
        )
        .distinct()
    )
    n = g.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = g.select(F.col("source").alias("source_a"), "g")
    b = g.select(F.col("source").alias("source_b"), "g")
    pair = (
        a.join(b, "g")
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return pair.join(
        F.broadcast(n.select(F.col("source").alias("source_a"), "n_grams")),
        "source_a",
    ).select(
        "source_a", "source_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.expr("n_common * 1000 DIV n_grams").cast("long")
        .alias("share_milli"),
    )
