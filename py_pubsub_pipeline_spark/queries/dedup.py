"""Deduplication family: exact, n-gram Jaccard (inverted index),
MinHash+LSH banding, SimHash fingerprints.

All deterministic and fully oracle-checked — including MinHash: the
hash family is md5(i || '|' || shingle) compared lexicographically,
which both engines compute identically (no random seeds, no
engine-specific hash). Spark ML's MinHashLSH is deliberately NOT used
here: its seeded random coefficients can't be reproduced in the SQL
oracle; the banding scheme below is the same algorithm with a portable
hash family.

Scale notes:
- exact dedup = hash agg on the text (or its md5 at 100 TB: group on
  a 16-byte key instead of multi-KB strings);
- the Jaccard inverted-index join is quadratic in per-shingle doc
  frequency — correct at test scale, and the reason minhash_lsh
  exists: banding bounds candidate generation, and the band-signature
  join shuffles fixed-width signatures, not shingle sets;
- simhash is one scan, all map-side until a per-doc agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.ckpt import DISK as _CKPT_DISK
from ..functions.splitwin import split_window, str_bucket
from ..registry import query
from ..tables import table, widen_scan

JACCARD_THRESHOLD = 0.5
N_MINHASH = 16
N_BANDS = 4  # 4 rows per band

# Shared SQL fragment: distinct word-3-gram shingles per doc.
_SQL_SHINGLES = """
tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       FROM tok, UNNEST(generate_series(1, len(w) - 2)) t(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""

# Same CTEs with the shingle stream pinned MATERIALIZED: DuckDB
# evaluates a plain CTE by INLINING it per reference, so an oracle
# that reads `sh` three times re-derives the whole shingle explosion
# three times — at sf10 that turned dedup_ngram_capped's oracle into
# a >55 GiB temp spill that never finished (round-9 bench), the exact
# degenerate-CTE class oracle.py's temp cap exists to catch.  The
# hint is purely an evaluation directive (identical result set); with
# it the same oracle completes sf10 in ~90 s under the caps.  Applied
# to the two bench-basket near-dup oracles, which are the ones driven
# at every scale.
_SQL_SHINGLES_MAT = _SQL_SHINGLES.replace(
    "sh AS (SELECT DISTINCT", "sh AS MATERIALIZED (SELECT DISTINCT"
)


def _sql_wide_minhash(n: int) -> str:
    """DuckDB CTE body: n minhash slots as n independent MIN aggregates
    in ONE pass over the shingle stream (mirrors the Spark plan shape).
    The earlier UNNEST(generate_series(0, n-1)) formulation exploded
    the shingle stream n-fold before grouping — at sf10 that overflowed
    the oracle's 24GB memory + 20GB temp envelope; this form holds the
    stream at 1x and only widens the (tiny) per-doc output row."""
    cols = ",\n             ".join(
        f"MIN(md5('{i}|' || s)) AS mh{i}" for i in range(n)
    )
    return f"SELECT doc_id,\n             {cols}\n      FROM sh GROUP BY doc_id"


def _grams() -> F.Column:
    """Column expr: distinct word-3-gram shingles of `text`. Built with
    higher-order functions — one projection, no Python."""
    # Build 3-grams by zipping the token array against its two shifted
    # slices. NOT via element_at(w, i) inside a transform lambda:
    # projection collapse inlines the split() into the lambda body,
    # re-tokenizing the document once per element (O(tokens^2) — 6s for
    # 5k docs). Here every w reference is a row-level expression,
    # evaluated once per row; the per-element work is field access.
    w = F.split(F.col("text"), " ")
    n = F.size(w) - 2
    z = F.arrays_zip(
        F.slice(w, 1, n).alias("t1"),
        F.slice(w, 2, n).alias("t2"),
        F.slice(w, 3, n).alias("t3"),
    )
    return F.array_distinct(
        F.transform(
            z,
            lambda t: F.concat_ws(
                " ", t.getField("t1"), t.getField("t2"), t.getField("t3")
            ),
        )
    )


def _shingles(spark: SparkSession, sf_dir: str,
              wide: bool = False) -> DataFrame:
    """(doc_id, s): one row per distinct shingle per doc.

    wide=True hash-repartitions the document scan by doc_id to the
    session core count BEFORE shingling when the scan is narrower
    (tables.widen_scan) — the minhash consumers run 16-32 md5 MIN
    aggregates per shingle directly above this, and the test corpus's
    single-row-group parquet otherwise serializes all of it on one
    task; their groupBy(doc_id) then reuses the layout, so the wide
    form shuffles 8-byte-keyed doc rows once instead of adding an
    exchange.  No-op on a production many-split scan."""
    d = table(spark, sf_dir, "documents")
    if wide:
        d = widen_scan(d, "doc_id")
    return d.select("doc_id", F.explode(_grams()).alias("s"))


def _gram_hashes() -> F.Column:
    """Column expr: distinct xxhash64 of each word-3-gram of `text`.
    Same construction as _grams(), but the hash moves INSIDE the
    per-element lambda so the multi-word shingle string dies in the
    projection that built it: array_distinct, the explode, and every
    downstream shuffle carry 8-byte longs instead of ~20-40-byte
    strings (measured 2.49s -> under 2s on the capped Jaccard at
    sf0.1). Membership semantics are unchanged — xxhash64 is injective
    in practice (a same-doc collision needs 2^-64; both engines would
    still agree since only Spark-side cardinality could shift)."""
    w = F.split(F.col("text"), " ")
    n = F.size(w) - 2
    z = F.arrays_zip(
        F.slice(w, 1, n).alias("t1"),
        F.slice(w, 2, n).alias("t2"),
        F.slice(w, 3, n).alias("t3"),
    )
    return F.array_distinct(
        F.transform(
            z,
            lambda t: F.xxhash64(
                F.concat_ws(
                    " ", t.getField("t1"), t.getField("t2"), t.getField("t3")
                )
            ),
        )
    )


def _hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h): one row per distinct hashed shingle per doc.

    Deliberately NOT widened (tables.widen_scan) — the r14 widen was
    re-adjudicated in r15 (VERDICT r14 item 1): two same-session
    interleaved A/B probes at sf0.1 driver conditions, widened form
    as of commit 73c972b vs this narrow scan (OPTIMIZATION_r15.md
    item 1 records them), could not reproduce the r14 15-25% win —
    pooled mins capped 1.412 s (no widen) vs 1.616 s (widen), jaccard
    a wash (1.615 vs 1.540) — and the r14 driver's own run
    had the widened pair 2.5x slower.  Unlike the minhash kernels
    (16-32 md5 MINs per shingle, where _shingles(wide=True) is an
    unambiguous win), the xxhash64 explode here is light per byte:
    the added round-trip exchange costs as much as the one-task map
    stage it parallelizes, and every downstream consumer already
    gets 32-way parallelism from the inverted-index exchange the
    plan needs anyway.  On a production many-split scan both forms
    are identical (widen_scan no-ops), so this is purely the honest
    local plan."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", F.explode(_gram_hashes()).alias("h"))


def _inverted(sh: DataFrame) -> DataFrame:
    """(h, ds): the shingle inverted index — doc list per hashed
    shingle. The xxhash64 turns multi-word shingle strings into 8-byte
    shuffle keys. Both the pair generator and the size computation
    hang off this one aggregation, so its exchange is built once and
    reused (ReusedExchange in the physical plan) instead of
    re-shingling the corpus per consumer."""
    return sh.groupBy(F.xxhash64("s").alias("h")).agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds")
    )


def _sizes(inv: DataFrame) -> DataFrame:
    """(doc_id, n): per-doc distinct-shingle count, derived from the
    shared inverted index (sum of memberships). Dim-table-sized — one
    row per doc — so it broadcasts into the pair stream."""
    return (
        inv.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )


# Pair packing: (a_id, b_id) -> a_id * 2^31 + b_id, one 8-byte shuffle
# key instead of two. Holds for doc_id < 2^31 (any corpus whose ids fit
# an int — at larger id spaces widen to a struct key).
_PACK = 1 << 31


def _pair_counts(inv: DataFrame) -> DataFrame:
    """(a_id, b_id, shared): co-occurrence counts via the inverted
    index, pair-generation formulation: group docs per shingle, emit
    ordered combinations, count. One shuffle on the shingle key + one
    on the pair — versus a self-join's two shuffled sides + merge.
    Each pair packs into a single int64 so the count aggregation
    hashes one word per probe."""
    docs_per = inv.filter(F.size("ds") > 1)
    pairs = docs_per.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ds",
                    lambda d, i: F.transform(
                        F.slice(F.col("ds"), i + 2, F.size("ds")),
                        lambda e: d * F.lit(_PACK) + e,
                    ),
                )
            )
        ).alias("pk")
    )
    return (
        pairs.groupBy("pk")
        .agg(F.count("*").alias("shared"))
        .select(
            F.expr(f"pk DIV {_PACK}").alias("a_id"),
            (F.col("pk") % _PACK).alias("b_id"),
            "shared",
        )
    )


def _with_jaccard(shared: DataFrame, sizes: DataFrame) -> DataFrame:
    """Attach |A|,|B| (broadcast — bounded by doc count, tiny next to
    the pair stream) and compute exact Jaccard >= threshold."""
    return (
        shared.join(
            F.broadcast(
                sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na")
            ),
            "a_id",
        )
        .join(
            F.broadcast(
                sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb")
            ),
            "b_id",
        )
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", "jaccard")
    )


def _exact_jaccard(inv: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate (a_id, b_id) pairs: count shared
    shingles restricted to the candidate set, then verify."""
    shared = (
        _pair_counts(inv)
        .join(cand, ["a_id", "b_id"], "left_semi")
    )
    return _with_jaccard(shared, _sizes(inv))


@query(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id.
    Hashing first means the shuffle key is 16 bytes, not the document."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    ).select("keep_id", "n_copies")


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLES_MAT},
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT a_id, b_id,
           CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs by word-3-gram Jaccard >= 0.5 via a
    hashed-shingle self-join (no doc×doc cross product — only docs
    sharing a shingle ever meet).

    Physical shape, measured fastest of three formulations at sf0.1
    (1.7x over collect_list + pair-explode): hash each shingle to
    int64, SHUFFLE_HASH self-join on the hash (no sort phase, build
    side = one partition's shingle slice), a<b as the join residual,
    then count shared shingles per int64-packed pair. The self-join
    reads ONE shuffled exchange twice (ReusedExchange — the corpus is
    shingled and exchanged once); set sizes are a plain codegen'd
    count per doc. At 100 TB the known hazard is a stop-shingle with
    huge document frequency inflating the join output quadratically —
    production runs cap shingle df (drop the top-k most common) or
    take the MinHash+LSH path below."""
    sh = _hashed_shingles(spark, sf_dir).hint("SHUFFLE_HASH")
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select((F.col("a.doc_id") * _PACK + F.col("b.doc_id")).alias("pk"))
        .groupBy("pk")
        .agg(F.count("*").alias("shared"))
        .select(
            F.expr(f"pk DIV {_PACK}").alias("a_id"),
            (F.col("pk") % _PACK).alias("b_id"),
            "shared",
        )
    )
    sizes = _hashed_shingles(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").alias("n")
    )
    return _with_jaccard(shared, sizes)


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    sig_w AS ({_sql_wide_minhash(N_MINHASH)}),
    bands AS (
      SELECT doc_id, b.b AS band,
             CASE b.b {" ".join(
                 f"WHEN {b} THEN " + " || '|' || ".join(
                     f"mh{b * (N_MINHASH // N_BANDS) + j}"
                     for j in range(N_MINHASH // N_BANDS))
                 for b in range(N_BANDS))}
             END AS sig
      FROM sig_w, UNNEST(generate_series(0, {N_BANDS - 1})) b(b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    cdocs AS (
      SELECT a_id AS doc_id FROM cand UNION SELECT b_id FROM cand),
    shc AS (
      SELECT sh.doc_id, sh.s FROM sh JOIN cdocs USING (doc_id)),
    inter AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS shared
      FROM cand c
      JOIN shc sa ON sa.doc_id = c.a_id
      JOIN shc sb ON sb.doc_id = c.b_id AND sb.s = sa.s
      GROUP BY 1, 2)
    SELECT i.a_id, i.b_id,
           CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.a_id
    JOIN sizes sb ON sb.doc_id = i.b_id
    WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared)
            >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup detection, the 100 TB scale path:
    16 minhashes -> 4 bands of 4 -> candidates share a band signature ->
    exact-Jaccard verify. Candidate generation shuffles fixed-width
    signatures only; the quadratic shingle join runs on candidates, a
    vanishing fraction of all pairs. Portable hash family (md5 string
    min) so the oracle reproduces it exactly.

    Physical shape (2.9x over the first formulation at sf0.1): the 16
    minhashes are 16 independent MIN aggregates in ONE groupBy(doc_id)
    — all map-side-combining, one shuffle of 5k x 16 partial rows —
    NOT an explode(x16) of the shingle stream into a 12M-row shuffle.
    Band signatures are then plain column concats (no collect_list /
    array_sort). The verify stage restricts the shingle inverted index
    to candidate documents FIRST (left-semi), so the exact-Jaccard
    pair counting touches only candidate shingles, never the corpus
    pair stream."""
    # sh and cand are each consumed twice but deliberately NOT
    # checkpointed (r14 measurement): the shingle stream is huge-
    # output / cheap-compute (scan -> explode fuses into each
    # consumer's partial agg; materializing it ran 2.7x SLOWER), and
    # the banded self-join's exchanges are ReusedExchange across its
    # consumers already — the checkpoint trade only pays for small-
    # output / EXPENSIVE-compute subtrees with no exchange reuse.
    sh = _shingles(spark, sf_dir, wide=True)
    rows_per_band = N_MINHASH // N_BANDS
    per_doc = sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))
            ).alias(f"mh{i}")
            for i in range(N_MINHASH)
        ]
    )
    band_sigs = [
        F.concat_ws(
            "|",
            *[F.col(f"mh{b * rows_per_band + j}") for j in range(rows_per_band)],
        ).alias(f"sig{b}")
        for b in range(N_BANDS)
    ]
    stack_args = ", ".join(f"{b}, sig{b}" for b in range(N_BANDS))
    bands = per_doc.select("doc_id", *band_sigs).select(
        "doc_id",
        F.expr(f"stack({N_BANDS}, {stack_args}) AS (band, sig)"),
    )
    a = bands.select(F.col("doc_id").alias("a_id"), "band", "sig")
    b = bands.select(
        F.col("doc_id").alias("b_id"),
        F.col("band").alias("band_b"),
        F.col("sig").alias("sig_b"),
    )
    cand = (
        a.join(
            b,
            (a.band == b.band_b) & (a.sig == b.sig_b) & (a.a_id < b.b_id),
        )
        .select("a_id", "b_id")
        .distinct()
    )
    cand_docs = cand.select(F.col("a_id").alias("doc_id")).unionByName(
        cand.select(F.col("b_id").alias("doc_id"))
    ).distinct()
    sh_cand = sh.join(cand_docs, "doc_id", "left_semi")
    return _exact_jaccard(_inverted(sh_cand), cand)


@query(
    "dedup_simhash",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents),
    nib AS (
      SELECT doc_id, p.p AS p,
             strpos('0123456789abcdef', substr(md5(t), p.p + 1, 1)) - 1 AS v
      FROM tok, UNNEST(generate_series(0, 15)) p(p)),
    bits AS (
      SELECT doc_id, p, b.b AS b,
             SUM((v >> b.b) & 1) AS ones, COUNT(*) AS total
      FROM nib, UNNEST(generate_series(0, 3)) b(b)
      GROUP BY 1, 2, 3),
    nibbles AS (
      SELECT doc_id, p,
             SUM(CASE WHEN 2 * ones > total THEN 1 << b ELSE 0 END) AS nv
      FROM bits GROUP BY 1, 2)
    SELECT doc_id,
           string_agg(substr('0123456789abcdef', CAST(nv AS INTEGER) + 1, 1),
                      '' ORDER BY p) AS simhash
    FROM nibbles GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (majority vote over the
    first 16 md5 nibbles of each distinct token), emitted as a 16-char
    hex string. Near-dup docs differ in a few bits — pair search is
    then hamming-distance banding over these fixed-width keys."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t")
    )
    nib = tok.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("p"),
        F.md5("t").alias("h"),
    ).select(
        "doc_id",
        "p",
        F.expr("instr('0123456789abcdef', substring(h, p + 1, 1)) - 1").alias("v"),
    )
    bits = (
        nib.select(
            "doc_id", "p", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"), "v"
        )
        .withColumn("bit", F.expr("shiftright(v, b) & 1"))
        .groupBy("doc_id", "p", "b")
        .agg(F.sum("bit").alias("ones"), F.count("*").alias("total"))
    )
    nibbles = bits.groupBy("doc_id", "p").agg(
        F.sum(
            F.when(2 * F.col("ones") > F.col("total"), F.expr("shiftleft(1, b)")).otherwise(0)
        ).alias("nv")
    )
    return nibbles.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "nv"))),
                lambda st: F.substring(
                    F.lit("0123456789abcdef"), st.getField("nv").cast("int") + 1, 1
                ),
            ),
            "",
        ).alias("simhash")
    )


SPAN_W = 8  # tokens per exact-substring window


@query(
    "dedup_substring",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    wins AS (
      SELECT doc_id,
             UNNEST(CASE WHEN len(t) < {SPAN_W} THEN []
                    ELSE list_transform(
                      generate_series(1, len(t) - {SPAN_W - 1}),
                      i -> md5(array_to_string(t[i : i + {SPAN_W - 1}], ' ')))
                    END) AS w
      FROM toks)
    SELECT w AS span_hash,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM wins
    GROUP BY w
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-substring duplication detection (the Lee et al.
    'Deduplicating Training Data' ExactSubstr shape, re-expressed
    relationally): every {SPAN_W}-token window fingerprints to a
    16-byte md5; a window hash appearing in >= 2 distinct documents
    is a duplicated span (boilerplate, licenses, templated text) that
    near-dup doc-level methods miss when the surrounding document
    differs. The suffix-array formulation is pointer-chasing and
    single-machine; the window-hash formulation is one explode + one
    hash agg — shuffle volume is DISTINCT-window-sized (16-byte keys,
    never text), and the {SPAN_W}-token stride-1 blowup is bounded at
    ~1 hash per token, i.e. O(corpus tokens) — linear, the same cost
    class as tokenization itself."""
    d = table(spark, sf_dir, "documents")
    wins = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(split(text, ' ')) < {SPAN_W} THEN array() "
                f"ELSE transform(sequence(1, size(split(text, ' ')) - {SPAN_W - 1}), "
                f"i -> md5(array_join(slice(split(text, ' '), i, {SPAN_W}), ' '))) "
                f"END"
            )
        ).alias("w"),
    )
    return (
        wins.groupBy(F.col("w").alias("span_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


DF_CAP = 50  # drop shingles appearing in more than this many docs


@query(
    "dedup_ngram_capped",
    oracle=f"""
    WITH {_SQL_SHINGLES_MAT},
    df AS MATERIALIZED (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
    kept AS MATERIALIZED (
      SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s)
      WHERE df.df <= {DF_CAP}),
    ksz AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT i.a_id, i.b_id,
           CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) AS jaccard
    FROM inter i
    JOIN ksz sa ON sa.doc_id = i.a_id
    JOIN ksz sb ON sb.doc_id = i.b_id
    WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared)
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency-capped n-gram Jaccard — the TURNKEY form of
    dedup_ngram_jaccard for adversarial corpora (the r1-documented
    hazard made safe): the inverted-index join is quadratic in
    per-shingle df, so one boilerplate shingle shared by 1M docs
    produces 5·10^11 pairs. Here shingles with df > {DF_CAP} are
    dropped BEFORE pair generation — join output is bounded by
    sum(df²) <= |shingles|·{DF_CAP} — and Jaccard is DEFINED over the
    capped shingle sets (both engines, same definition, exact oracle).
    Rationale: a shingle in >{DF_CAP} docs is boilerplate with no
    discriminative value; dropping it removes noise pairs as well as
    the blowup."""
    sh = _hashed_shingles(spark, sf_dir)
    # The df cap is computed as COUNT(*) OVER (PARTITION BY h) on the
    # shingle stream itself, NOT as a separate df aggregation joined
    # back: the window's hash exchange on h is the SAME exchange the
    # self-join needs, so the corpus is shingled and shuffled exactly
    # ONCE — the final AQE plan runs one ShuffleQueryStage over the
    # shingle stream with every other consumer a ReusedExchange (the
    # MERGE hint keeps both join inputs on that exchange; AQE's
    # broadcast election would rebuild the shingle projection for the
    # broadcast side instead of reusing the shuffle).  Sizes re-read
    # the same exchange output before their own doc_id aggregation.
    # Interleaved A/B at sf0.1 (round 5, same box state): 1.52s vs
    # 2.15s for the prior broadcast-anti-join-stop-list form (which
    # paid three shingle computations: df agg, join, sizes) vs 2.49s
    # for a df-table equi-join vs 1.92s for a collect_list postings
    # build whose pair explode is interpreted, not codegen.  Skew: a
    # boilerplate shingle's occurrences land in one window partition,
    # but the per-key work is a linear count — same skew class as the
    # df aggregation it replaces — and those rows are dropped before
    # pair generation, which stays bounded by |shingles|*DF_CAP.
    kept = (
        sh.withColumn("df", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("df") <= DF_CAP)
        .drop("df")
        .hint("MERGE")
    )
    a, b = kept.alias("a"), kept.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select((F.col("a.doc_id") * _PACK + F.col("b.doc_id")).alias("pk"))
        .groupBy("pk")
        .agg(F.count("*").alias("shared"))
        .select(
            F.expr(f"pk DIV {_PACK}").alias("a_id"),
            (F.col("pk") % _PACK).alias("b_id"),
            "shared",
        )
    )
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    return _with_jaccard(shared, sizes)


N_EST_HASHES = 32  # minhash slots for the Jaccard estimator


@query(
    "dedup_minhash_estimate",
    oracle=f"""
    WITH {_SQL_SHINGLES_MAT},
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT i.a_id, i.b_id,
             CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared)
               AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.a_id
      JOIN sizes sb ON sb.doc_id = i.b_id
      WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared)
            >= {JACCARD_THRESHOLD}),
    pdocs AS (
      SELECT a_id AS doc_id FROM pairs UNION SELECT b_id FROM pairs),
    shp AS (
      SELECT sh.doc_id, sh.s FROM sh JOIN pdocs USING (doc_id)),
    sig_w AS ({_sql_wide_minhash(N_EST_HASHES).replace("FROM sh ", "FROM shp ")})
    SELECT p.a_id, p.b_id, p.jaccard,
           CAST({" + ".join(
               f"(CASE WHEN ha.mh{i} = hb.mh{i} THEN 1 ELSE 0 END)"
               for i in range(N_EST_HASHES))} AS BIGINT) AS mh_agree,
           ({" + ".join(
               f"(CASE WHEN ha.mh{i} = hb.mh{i} THEN 1 ELSE 0 END)"
               for i in range(N_EST_HASHES))}) / {N_EST_HASHES}.0 AS mh_est
    FROM pairs p
    JOIN sig_w ha ON ha.doc_id = p.a_id
    JOIN sig_w hb ON hb.doc_id = p.b_id
    """,
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash as a Jaccard ESTIMATOR, validated against the exact
    value on every near-dup pair: est = (agreeing slots)/{N_EST_HASHES}
    with E[est] = J — the property the entire MinHash+LSH stack rests
    on, here surfaced as data (jaccard vs mh_est side by side) rather
    than assumed. The hash family is the portable md5 one
    (min over shingles of md5('i|'||shingle)), so the estimate is
    bit-identical cross-engine and the oracle checks it EXACTLY — no
    tolerance contract needed.

    Scale: signatures are {N_EST_HASHES} independent MIN aggregates in
    ONE groupBy(doc_id) (map-side combining, one shuffle of fixed-
    width partials — never an explode of the shingle stream); the
    pair set is the exact near-dup output, and the agreement count is
    two broadcast-sized signature joins. At 100 TB you run this on a
    PAIR SAMPLE as the estimator-calibration audit (is my banding
    threshold where I think it is?) — same plan, sampled pairs."""
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    sh = _shingles(spark, sf_dir, wide=True)
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s"))))
            .alias(f"mh{i}")
            for i in range(N_EST_HASHES)
        ]
        # sig feeds TWO broadcasts (sa and sb); each broadcast executes
        # its subtree, so without a checkpoint the shingle + 32-min-agg
        # pass runs twice.  One doc-cardinality materialization instead.
    ).localCheckpoint(eager=False, storageLevel=_CKPT_DISK)
    sa = sig.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_EST_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_EST_HASHES)],
    )
    agree = None
    for i in range(N_EST_HASHES):
        term = (F.col(f"a{i}") == F.col(f"b{i}")).cast("long")
        agree = term if agree is None else agree + term
    return (
        pairs.join(F.broadcast(sa), "a_id")
        .join(F.broadcast(sb), "b_id")
        .select(
            "a_id", "b_id", "jaccard",
            agree.alias("mh_agree"),
            (agree / float(N_EST_HASHES)).alias("mh_est"),
        )
    )


CONTAINMENT_THRESHOLD = 0.8


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
      GROUP BY 1, 2)
    SELECT i.a_id, i.b_id,
           CAST(i.shared AS DOUBLE) / sa.n AS containment,
           CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.a_id
    JOIN sizes sb ON sb.doc_id = i.b_id
    WHERE CAST(i.shared AS DOUBLE) / sa.n >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment: |A∩B| / |A| — the measure that catches
    a document CONTAINED in another (quotes, excerpts, supersets)
    where Jaccard stays low because the container is much larger.
    Pairs are ORDERED (a contained-in b is not b contained-in a), so
    the join keeps both directions and reports Jaccard alongside for
    the contrast.

    Scale: the same inverted-index shuffle as the Jaccard family —
    shared counts on hashed shingles, sizes broadcast — with the
    ordered (no a<b halving) pair stream costing 2x the symmetric
    form; the same df-cap mitigation applies verbatim when a
    boilerplate shingle shows up."""
    sh = _hashed_shingles(spark, sf_dir).hint("SHUFFLE_HASH")
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
        )
        .agg(F.count("*").alias("shared"))
    )
    sizes = _hashed_shingles(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").alias("n")
    )
    return (
        shared.join(
            F.broadcast(
                sizes.withColumnRenamed("doc_id", "a_id")
                .withColumnRenamed("n", "na")
            ),
            "a_id",
        )
        .join(
            F.broadcast(
                sizes.withColumnRenamed("doc_id", "b_id")
                .withColumnRenamed("n", "nb")
            ),
            "b_id",
        )
        .withColumn(
            "containment", F.col("shared").cast("double") / F.col("na")
        )
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("a_id", "b_id", "containment", "jaccard")
    )


SPAN_DUP_MIN_FRAC = 0.5


@query(
    "dedup_span_fraction",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    wins AS (
      SELECT doc_id,
             UNNEST(CASE WHEN len(t) < {SPAN_W} THEN []
                    ELSE list_transform(
                      generate_series(1, len(t) - {SPAN_W - 1}),
                      i -> md5(array_to_string(t[i : i + {SPAN_W - 1}], ' ')))
                    END) AS w
      FROM toks),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS nd FROM wins GROUP BY w),
    per_doc AS (
      SELECT wins.doc_id,
             COUNT(*) AS n_windows,
             SUM(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS n_dup
      FROM wins JOIN df ON df.w = wins.w
      GROUP BY wins.doc_id)
    SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows,
           CAST(n_dup AS BIGINT) AS n_dup,
           CAST(n_dup AS DOUBLE) / n_windows AS dup_frac
    FROM per_doc
    WHERE CAST(n_dup AS DOUBLE) / n_windows >= {SPAN_DUP_MIN_FRAC}
    """,
)
def dedup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCUMENT-level verdict from the span index: the fraction of a
    doc's {SPAN_W}-token windows that appear in at least one OTHER
    document — the roll-up that turns dedup_substring's span-level
    findings into a drop/keep scoring (a doc that is mostly shared
    spans is boilerplate even when no single pair-wise match is
    large). Exact rational output (int/int in double).

    Scale: the window-hash stream aggregates twice — df per hash
    (distinct-window-bounded) and the per-doc roll-up — both hash
    aggs with map-side partials; the df dim joins back on the 16-byte
    hash key. Linear in corpus tokens, same cost class as
    dedup_substring itself."""
    d = table(spark, sf_dir, "documents")
    wins = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(split(text, ' ')) < {SPAN_W} THEN array() "
                f"ELSE transform(sequence(1, size(split(text, ' ')) - {SPAN_W - 1}), "
                f"i -> md5(array_join(slice(split(text, ' '), i, {SPAN_W}), ' '))) "
                f"END"
            )
        ).alias("w"),
    )
    df = wins.groupBy("w").agg(F.countDistinct("doc_id").alias("nd"))
    per_doc = (
        wins.join(df, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum((F.col("nd") >= 2).cast("long")).alias("n_dup"),
        )
    )
    frac = F.col("n_dup").cast("double") / F.col("n_windows")
    return (
        per_doc.select(
            "doc_id",
            F.col("n_windows").cast("long").alias("n_windows"),
            F.col("n_dup").cast("long").alias("n_dup"),
            frac.alias("dup_frac"),
        )
        .filter(F.col("dup_frac") >= SPAN_DUP_MIN_FRAC)
    )


@query(
    "dedup_skeleton",
    oracle="""
    WITH sk AS (
      SELECT doc_id,
             md5(array_to_string(
               list_transform(string_split(text, ' ')[1:8],
                              t -> CAST(length(t) AS VARCHAR)), ',')) AS skel
      FROM documents
    )
    SELECT skel,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id
    FROM sk GROUP BY skel HAVING COUNT(*) > 1
    """,
)
def dedup_skeleton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-skeleton dedup: fingerprint each document by the
    WORD-LENGTH sequence of its OPENING (first 8 tokens — templates
    and mail merges share their header shape while every token
    differs), and cluster identical skeletons — a form-letter signal
    Jaccard/MinHash score as unrelated and text_fingerprint's bag
    hash misses entirely. The full-document skeleton is the
    high-precision variant (this corpus has no full-length shape
    twins; the opening skeleton is the recall end of the same
    family). Dedup now covers content (exact/minhash/simhash), spans
    (substring/winnow), structure (paragraph), and SHAPE.

    Plan: one map-side skeleton hash (transform + join — codegen'd
    array ops, the 16-byte hash is what shuffles, never the length
    sequence), one hash agg; min-doc_id canonical selection inline."""
    d = table(spark, sf_dir, "documents")
    skel = F.md5(F.array_join(
        F.transform(F.slice(F.split(F.col("text"), " "), 1, 8),
                    lambda t: F.length(t).cast("string")), ","))
    return (
        d.select("doc_id", skel.alias("skel"))
        .groupBy("skel")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.min("doc_id").cast("long").alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


_SNM_WINDOW = 3
_SNM_MAXDIST = 3


@query(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH names AS (
      SELECT DISTINCT p_name AS name FROM part
    ), ordered AS (
      SELECT name, ROW_NUMBER() OVER (ORDER BY name) AS rn FROM names
    ), cand AS (
      SELECT a.name AS name_a, b.name AS name_b
      FROM ordered a JOIN ordered b
        ON b.rn > a.rn AND b.rn <= a.rn + {_SNM_WINDOW}
    )
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INT) AS dist
    FROM cand
    WHERE levenshtein(name_a, name_b) <= {_SNM_MAXDIST}
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER (Hernandez-Stolfo): sort the name
    domain once, compare each record only to its {_SNM_WINDOW}
    successors, keep pairs within edit distance {_SNM_MAXDIST} — the
    THIRD classic candidate-generation strategy in the repo beside
    equality blocking (join_fuzzy_levenshtein / text_er_blocked) and
    LSH banding: SNM catches near-duplicates that straddle a block
    boundary (different head noun, adjacent spelling), at linear
    O(n*w) candidates instead of per-block quadratic.

    Plan: DISTINCT collapses to the name domain, the global position
    comes from the split-window rewrite (functions/splitwin.py) —
    deterministic shards over an 8-byte name-prefix proxy, parallel
    per-shard numbering, shard-count-sized boundary pass, never a
    single-task total-order sort — then a banded self-join on rank
    ranges: rn is dense so the band join is an equi-join per offset
    under the hood. Distance applies to the O(n*w) stream."""
    p = table(spark, sf_dir, "part")
    names = p.select(F.col("p_name").alias("name")).distinct()
    ordered = split_window(
        names, ["name"], bucket=str_bucket("name"), row_number="rn")
    a = ordered.select(F.col("name").alias("name_a"),
                       F.col("rn").alias("ra"))
    b = ordered.select(F.col("name").alias("name_b"),
                       F.col("rn").alias("rb"))
    return (
        a.join(b, (F.col("rb") > F.col("ra"))
               & (F.col("rb") <= F.col("ra") + _SNM_WINDOW))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= _SNM_MAXDIST)
        .select("name_a", "name_b", F.col("dist").cast("int"))
    )


@query(
    "dedup_golden_record",
    oracle="""
    WITH sk AS (
      SELECT doc_id, lang, source, n_chars,
             md5(array_to_string(
               list_transform(string_split(text, ' ')[1:8],
                              t -> CAST(length(t) AS VARCHAR)), ',')) AS g
      FROM documents
    ), clusters AS (
      SELECT g FROM sk GROUP BY g HAVING COUNT(*) > 1
    ), members AS (
      SELECT sk.* FROM sk JOIN clusters c ON c.g = sk.g
    ), survivor AS (
      SELECT g, doc_id AS survivor_id, n_chars AS survivor_chars
      FROM (SELECT g, doc_id, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY g
                     ORDER BY n_chars DESC, doc_id) AS rn
            FROM members)
      WHERE rn = 1
    ), lang_mode AS (
      SELECT g, lang AS mode_lang
      FROM (SELECT g, lang, COUNT(*) AS c,
                   ROW_NUMBER() OVER (PARTITION BY g
                     ORDER BY COUNT(*) DESC, lang) AS rn
            FROM members GROUP BY g, lang)
      WHERE rn = 1
    )
    SELECT s.g AS cluster_key, s.survivor_id, s.survivor_chars,
           l.mode_lang,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM members m
            WHERE m.g = s.g) AS n_members,
           (SELECT MIN(source) FROM members m WHERE m.g = s.g)
             AS first_source
    FROM survivor s JOIN lang_mode l ON l.g = s.g
    """,
)
def dedup_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden-record construction over duplicate
    clusters (here: the opening-skeleton clusters): per cluster,
    merge attributes by PER-FIELD rules — longest-content survivor
    for the record identity, modal language, lexicographically first
    source — the MDM step after dedup finds clusters
    (dedup_canonical's min-id pick is one rule; real survivorship
    applies a different rule per attribute, which is what this
    exercises). Every rule ends in a unique tie-break so the golden
    record is deterministic.

    Plan: cluster membership via one hash agg + semi join, then one
    rank window and one mode window per ruled attribute, all
    partitioned by the 16-byte cluster key; the per-cluster scalars
    aggregate membership rows only."""
    d = table(spark, sf_dir, "documents")
    g = F.md5(F.array_join(
        F.transform(F.slice(F.split(F.col("text"), " "), 1, 8),
                    lambda t: F.length(t).cast("string")), ","))
    sk = d.select("doc_id", "lang", "source", "n_chars", g.alias("g"))
    clusters = (sk.groupBy("g").agg(F.count("*").alias("n"))
                .filter(F.col("n") > 1).select("g"))
    members = sk.join(F.broadcast(clusters), "g")
    wsurv = Window.partitionBy("g").orderBy(
        F.col("n_chars").desc(), "doc_id")
    survivor = (
        members.withColumn("rn", F.row_number().over(wsurv))
        .filter(F.col("rn") == 1)
        .select("g", F.col("doc_id").alias("survivor_id"),
                F.col("n_chars").alias("survivor_chars"))
    )
    lang_counts = members.groupBy("g", "lang").agg(
        F.count("*").alias("c"))
    wmode = Window.partitionBy("g").orderBy(F.col("c").desc(), "lang")
    lang_mode = (
        lang_counts.withColumn("rn", F.row_number().over(wmode))
        .filter(F.col("rn") == 1)
        .select("g", F.col("lang").alias("mode_lang"))
    )
    stats = members.groupBy("g").agg(
        F.count("*").cast("long").alias("n_members"),
        F.min("source").alias("first_source"),
    )
    return (
        survivor.join(lang_mode, "g").join(stats, "g")
        .select(F.col("g").alias("cluster_key"), "survivor_id",
                "survivor_chars", "mode_lang", "n_members", "first_source")
    )


# Portable soundex-lite: consonant classes as chained regex passes —
# built from regexp_replace on BOTH engines, never the engines' own
# soundex() (Spark has one, DuckDB doesn't; and implementations vary).
_PHON_PASSES = (
    ("[bfpv]", "1"), ("[cgjkqsxz]", "2"), ("[dt]", "3"),
    ("l", "4"), ("[mn]", "5"), ("r", "6"), ("[aeiouyhw]", ""),
)


def _phon_sql(col: str) -> str:
    expr = f"lower({col})"
    for pat, rep in _PHON_PASSES:
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    return (f"substr(lower({col}), 1, 1) || substr({expr}, 1, 3)")


@query(
    "dedup_phonetic_block",
    oracle=f"""
    WITH names AS (SELECT DISTINCT p_name AS name FROM part),
    coded AS (
      SELECT name, {_phon_sql('name')} AS code FROM names
    )
    SELECT a.name AS name_a, b.name AS name_b, a.code,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
    FROM coded a JOIN coded b
      ON b.code = a.code AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 4
    """,
)
def dedup_phonetic_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking for ER: a soundex-style code (first letter +
    first three consonant-class digits, vowels dropped) built from
    PORTABLE chained regex passes — deliberately not the engines'
    soundex() (Spark ships one, DuckDB doesn't, and variants
    disagree) — then candidate pairs within a code block verified by
    edit distance. Phonetic blocking is the FOURTH candidate
    strategy (equality block / LSH band / sorted neighborhood /
    sound-alike): it catches misspellings that CHANGE the block key
    every other strategy hangs on ('gizmo'/'gismo' share a code,
    not a prefix).

    Plan: DISTINCT to the name domain, map-side code derivation
    (7 chained regexes, codegen'd), equality hash join on the code,
    distance residual — per-block quadratic with the usual salt
    escape for hot codes."""
    p = table(spark, sf_dir, "part")
    names = p.select(F.col("p_name").alias("name")).distinct()
    expr = F.lower(F.col("name"))
    for pat, rep in _PHON_PASSES:
        expr = F.regexp_replace(expr, pat, rep)
    code = F.concat(F.substring(F.lower(F.col("name")), 1, 1),
                    F.substring(expr, 1, 3))
    coded = names.select("name", code.alias("code"))
    a = coded.select(F.col("name").alias("name_a"), "code")
    b = coded.select(F.col("name").alias("name_b"),
                     F.col("code").alias("code_b"))
    return (
        a.join(b, (F.col("code") == F.col("code_b"))
               & (F.col("name_a") < F.col("name_b")))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 4)
        .select("name_a", "name_b", "code", F.col("dist").cast("int"))
    )


# Incremental split: docs whose md5 first hex digit < 'd' form the
# standing CORPUS (~81%); the rest are the NEW batch to be admitted.
_INCR_GATE = "d"


@query(
    "dedup_incremental",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    tagged AS (
      SELECT s.doc_id, s.s,
             substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 1) < '{_INCR_GATE}'
               AS in_corpus
      FROM sh s
    ), hits AS (
      SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
             COUNT(*) AS shared
      FROM tagged n JOIN tagged c ON c.s = n.s
      WHERE NOT n.in_corpus AND c.in_corpus
      GROUP BY 1, 2
    ), verdicts AS (
      SELECT h.new_id, h.corpus_id,
             CAST(h.shared AS DOUBLE)
               / (sn.n + sc.n - h.shared) AS jaccard
      FROM hits h
      JOIN sizes sn ON sn.doc_id = h.new_id
      JOIN sizes sc ON sc.doc_id = h.corpus_id
      WHERE CAST(h.shared AS DOUBLE) / (sn.n + sc.n - h.shared)
            >= {JACCARD_THRESHOLD}
    )
    SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_corpus_dups,
           CAST(MIN(corpus_id) AS BIGINT) AS first_dup_of,
           ROUND(MAX(jaccard), 6) AS max_jaccard
    FROM verdicts GROUP BY new_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dedup — the shape production actually runs:
    a new crawl batch is admitted against the STANDING corpus, not by
    re-deduping the world (the full-corpus queries here rebuild
    everything; a daily pipeline can't).  The corpus/new split is a
    deterministic md5 gate (~81/19).  Only NEW×CORPUS candidate pairs
    are generated — the join is one-sided, so its cost scales with
    the BATCH (times per-shingle corpus df), not with corpus²; new×new
    pairs are left to the next full compaction, corpus×corpus pairs
    were already settled when those docs were admitted.  Emits, per
    new doc that collides, how many corpus near-dups it has, the
    canonical (lowest-id) collision, and the worst Jaccard — the
    admission verdict a curation gate consumes.

    Scale: at 100 TB the corpus side of the join is served by the
    PERSISTED shingle inverted index (the same (h, doc_id) table
    dedup_ngram_capped builds — write it out partitioned by h bucket
    and the daily job shuffles only the new batch's shingles into it;
    a bucketed-table join makes the corpus side zero-shuffle,
    join_bucketed's plan).  The df cap applies to the corpus postings
    exactly as in dedup_ngram_capped; uncapped here because the
    oracle defines exact semantics."""
    sh = _shingles(spark, sf_dir)
    in_corpus = (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        < _INCR_GATE
    )
    tagged = sh.select("doc_id", "s", in_corpus.alias("in_corpus"))
    new = tagged.filter(~F.col("in_corpus")).select(
        F.col("doc_id").alias("new_id"), "s"
    )
    corpus = tagged.filter(F.col("in_corpus")).select(
        F.col("doc_id").alias("corpus_id"), "s"
    )
    hits = (
        new.join(corpus, "s")
        .groupBy("new_id", "corpus_id")
        .agg(F.count("*").alias("shared"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    verdicts = (
        hits.join(
            F.broadcast(sizes.withColumnRenamed("doc_id", "new_id")
                        .withColumnRenamed("n", "nn")), "new_id")
        .join(
            F.broadcast(sizes.withColumnRenamed("doc_id", "corpus_id")
                        .withColumnRenamed("n", "nc")), "corpus_id")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("nn") + F.col("nc") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return verdicts.groupBy("new_id").agg(
        F.count("*").cast("long").alias("n_corpus_dups"),
        F.min("corpus_id").cast("long").alias("first_dup_of"),
        F.round(F.max("jaccard"), 6).alias("max_jaccard"),
    )


# Content-defined chunking: a token position ends a chunk when the md5
# of its trailing 3-token window falls in 1/8 of hash space — expected
# chunk length 8 tokens, boundaries move WITH content, not offsets.
_CDC_GATE = "2"  # first hex digit < '2' => boundary (2/16 = 1/8)


@query(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t.i AS pos, w[CAST(t.i AS INT)] AS tok,
             CASE WHEN t.i >= 3 AND substr(md5(
                      w[CAST(t.i AS INT) - 2] || ' ' ||
                      w[CAST(t.i AS INT) - 1] || ' ' ||
                      w[CAST(t.i AS INT)]), 1, 1) < '{_CDC_GATE}'
                  THEN 1 ELSE 0 END AS boundary
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           UNNEST(generate_series(1, len(w))) t(i)
    ), chunked AS (
      SELECT doc_id, pos, tok,
             COALESCE(SUM(boundary) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk_id
      FROM toks
    ), chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS h,
             COUNT(*) AS n_tok
      FROM chunked GROUP BY doc_id, chunk_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique,
           CAST(SUM(n_tok) AS BIGINT) AS total_tok,
           ROUND(1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 6)
             AS dedup_ratio,
           ROUND(CAST(SUM(n_tok) AS DOUBLE) / COUNT(*), 6)
             AS avg_chunk_tok
    FROM chunks
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING dedup — the STORAGE-layer dedup
    primitive (rsync/borg/venti lineage) the document-level family
    can't replace: fixed-offset blocks break on a one-token insert
    (every later block shifts), but a boundary defined by CONTENT
    (trailing-window hash in 1/8 of hash space ⇒ ~8-token expected
    chunks) re-synchronizes immediately, so two near-identical docs
    share every chunk outside the edit. Reports the corpus's
    chunk-store dedup ratio — the number a dedup-aware document
    store would achieve — plus the realized chunk geometry.

    Plan: boundary flags are map-side (md5 of a 3-token slide);
    chunk ids are the per-doc prefix sum (the gaps-and-islands
    identity, third use after win_streaks and text_rake_keywords);
    chunk fingerprints aggregate tokens per (doc, chunk) and the
    store-level stats are one distinct-agg over fingerprints.

    Scale: everything keys on (doc, chunk) or the chunk hash — the
    shingle-pipeline profile; expected chunk length is the ONE knob
    (the gate width), and the md5 family keeps it oracle-exact."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    wlag = Window.partitionBy("doc_id").orderBy("pos")
    win3 = F.concat_ws(
        " ", F.lag("tok", 2).over(wlag), F.lag("tok", 1).over(wlag),
        F.col("tok")
    )
    boundary = F.when(
        (F.col("pos") >= 3)
        & (F.substring(F.md5(win3), 1, 1) < _CDC_GATE), 1
    ).otherwise(0)
    flagged = toks.withColumn("boundary", boundary)
    wpre = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = flagged.withColumn(
        "chunk_id", F.coalesce(F.sum("boundary").over(wpre), F.lit(0))
    )
    chunks = (
        chunked.groupBy("doc_id", "chunk_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ).getField("tok"),
                ).cast("binary")
            ).alias("h"),
            F.count("*").alias("n_tok"),
        )
    )
    return chunks.agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.countDistinct("h").cast("long").alias("n_unique"),
        F.sum("n_tok").cast("long").alias("total_tok"),
        F.round(
            F.lit(1.0) - F.countDistinct("h").cast("double") / F.count("*"),
            6,
        ).alias("dedup_ratio"),
        F.round(F.sum("n_tok").cast("double") / F.count("*"), 6)
        .alias("avg_chunk_tok"),
    )


# Shared oracle fragment for the prefix-filter family: the global
# rarest-first ranking done over 8-BYTE HASH keys, never the shingle
# strings — DuckDB's rank sort carries full rows, and sorting the
# string-bearing stream spilled past the 20 GB temp cap at sf10 (the
# same arrays-out-of-windows lesson as the blocked-kNN oracle).  All
# downstream set arithmetic (sizes, candidates, intersections) runs
# on the hashed relation so cardinalities stay self-consistent.
_SQL_PREFIX_RANKED = """
    shh AS MATERIALIZED (SELECT doc_id, hash(s) AS k FROM sh),
    hsizes AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY doc_id),
    dfreq AS (SELECT k, COUNT(*) AS df FROM shh GROUP BY k),
    ranked AS (
      SELECT shh.doc_id, shh.k, hz.n,
             ROW_NUMBER() OVER (PARTITION BY shh.doc_id
                                ORDER BY d.df, shh.k) AS r
      FROM shh
      JOIN dfreq d ON d.k = shh.k
      JOIN hsizes hz ON hz.doc_id = shh.doc_id),
    pref AS MATERIALIZED (
      SELECT doc_id, k, n, r FROM ranked
      WHERE r <= n - (n + 1) // 2 + 1)
"""


@query(
    "dedup_prefix_filter",
    oracle=f"""
    WITH {_SQL_SHINGLES_MAT},{_SQL_PREFIX_RANKED},
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM pref a JOIN pref b
        ON a.k = b.k AND a.doc_id < b.doc_id
      WHERE GREATEST(a.n, b.n) <= 2 * LEAST(a.n, b.n)),
    pc AS MATERIALIZED (
      SELECT c.a_id, c.b_id, x.k
      FROM cand c JOIN shh x ON x.doc_id = c.a_id),
    inter AS (
      SELECT pc.a_id, pc.b_id, COUNT(*) AS shared
      FROM pc
      JOIN shh y ON y.doc_id = pc.b_id AND y.k = pc.k
      GROUP BY 1, 2)
    SELECT i.a_id, i.b_id, CAST(i.shared AS BIGINT) AS shared,
           CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) AS jaccard
    FROM inter i
    JOIN hsizes sa ON sa.doc_id = i.a_id
    JOIN hsizes sb ON sb.doc_id = i.b_id
    WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared)
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-FILTERED set-similarity self-join (AllPairs — Bayardo,
    Ma & Srikant, WWW'07; the candidate-pruning half of PPJoin): the
    sub-quadratic EXACT alternative to dedup_ngram_jaccard's full
    inverted-index join.  Tokens get a global rarest-first total order
    (document frequency ASC, token); a doc of size n indexes only its
    PREFIX — the first n - ceil(t*n) + 1 tokens under that order
    (t = {JACCARD_THRESHOLD}: n - (n+1)//2 + 1).  The prefix lemma:
    two sets with Jaccard >= t MUST share a token inside both
    prefixes, so joining prefix-against-prefix loses no true pair
    while the quadratic blowup moves from the full df distribution to
    the df of each doc's RAREST tokens.  A size filter
    (max(n_a,n_b) <= 2*min — Jaccard >= 0.5 is impossible otherwise)
    prunes candidates before verification; exact Jaccard over the
    full shingle sets then verifies each survivor, so the released
    pairs are IDENTICAL to dedup_ngram_jaccard's (pytest asserts
    set-equality — the filter is lossless by construction).

    The rank tie-break (df, then token value) differs per engine only
    in the token representation (xxhash64 vs string); the prefix
    lemma holds under ANY consistent total order, so the verified
    output is engine-identical even though the candidate sets need
    not be.

    Scale: this is THE published recipe for exact all-pairs
    similarity at corpus scale — the inverted index holds prefix
    tokens only (rare by construction: a token with huge df sits at
    every doc's suffix and never enters the index), so per-token
    posting lists stay short where dedup_ngram_jaccard's explode
    quadratically; verification touches candidate pairs only
    (cand ⋈ shingles twice, shuffles bounded by |candidates| x
    set size, not df^2).  The df agg is vocab-bounded with map-side
    partials; the rank window is ONE corpus shuffle on doc_id.
    PPJoin's positional filter (rank arithmetic bounding the maximum
    possible overlap per candidate) is the next refinement on the
    same plan shape when verification dominates."""
    sh = _hashed_shingles(spark, sf_dir)
    dfreq = sh.groupBy("h").agg(F.count("*").alias("df"))
    wr = Window.partitionBy("doc_id").orderBy("df", "h")
    wn = Window.partitionBy("doc_id")
    ranked = (
        sh.join(dfreq, "h")
        .select(
            "doc_id", "h",
            F.row_number().over(wr).alias("r"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
    )
    pref = ranked.filter(
        F.col("r") <= F.expr("n - (n + 1) DIV 2 + 1")
    ).select("doc_id", "h", "n")
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.greatest(F.col("a.n"), F.col("b.n"))
                <= 2 * F.least(F.col("a.n"), F.col("b.n"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
        )
        .distinct()
    )
    shared = (
        cand.join(sh.select(F.col("doc_id").alias("a_id"), "h"), "a_id")
        .join(sh.select(F.col("doc_id").alias("b_id"), "h"), ["b_id", "h"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("shared"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    jac = F.col("shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("shared")
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("a_id"),
                                     F.col("n").alias("na"))),
            "a_id",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("b_id"),
                                     F.col("n").alias("nb"))),
            "b_id",
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(
            "a_id", "b_id",
            F.col("shared").cast("long").alias("shared"),
            "jaccard",
        )
    )


def _prefix_ranked(sh: DataFrame) -> DataFrame:
    """(doc_id, h, r, n): each doc's shingles ranked under the global
    rarest-first total order (document frequency ASC, hash) with the
    doc's set size — the shared front half of the prefix-filter
    family (dedup_prefix_filter, dedup_ppjoin)."""
    dfreq = sh.groupBy("h").agg(F.count("*").alias("df"))
    wr = Window.partitionBy("doc_id").orderBy("df", "h")
    wn = Window.partitionBy("doc_id")
    return sh.join(dfreq, "h").select(
        "doc_id", "h",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )


def _verify_pairs(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate (a_id, b_id) pairs:
    join each side's full shingle set, count the intersection, attach
    broadcast sizes, filter >= threshold.  Shuffles are bounded by
    |candidates| x set size — never df^2 of the full index."""
    shared = (
        cand.join(sh.select(F.col("doc_id").alias("a_id"), "h"), "a_id")
        .join(sh.select(F.col("doc_id").alias("b_id"), "h"), ["b_id", "h"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("shared"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    jac = F.col("shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("shared")
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("a_id"),
                                     F.col("n").alias("na"))),
            "a_id",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("b_id"),
                                     F.col("n").alias("nb"))),
            "b_id",
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(
            "a_id", "b_id",
            F.col("shared").cast("long").alias("shared"),
            "jaccard",
        )
    )


@query(
    "dedup_ppjoin",
    oracle=f"""
    WITH {_SQL_SHINGLES_MAT},{_SQL_PREFIX_RANKED},
    hits AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             a.n AS na, b.n AS nb, a.r AS i, b.r AS j,
             ROW_NUMBER() OVER (PARTITION BY a.doc_id, b.doc_id
                                ORDER BY a.r, b.r) AS first_hit
      FROM pref a JOIN pref b
        ON a.k = b.k AND a.doc_id < b.doc_id
      WHERE GREATEST(a.n, b.n) <= 2 * LEAST(a.n, b.n)),
    cand AS (
      SELECT a_id, b_id FROM hits
      WHERE first_hit = 1
        AND na + nb <= 3 * (1 + LEAST(na - i, nb - j))),
    inter AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS shared
      FROM cand c
      JOIN shh x ON x.doc_id = c.a_id
      JOIN shh y ON y.doc_id = c.b_id AND y.k = x.k
      GROUP BY 1, 2)
    SELECT i.a_id, i.b_id, CAST(i.shared AS BIGINT) AS shared,
           CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) AS jaccard
    FROM inter i
    JOIN hsizes sa ON sa.doc_id = i.a_id
    JOIN hsizes sb ON sb.doc_id = i.b_id
    WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared)
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJOIN: dedup_prefix_filter plus the POSITIONAL filter (Xiao,
    Wang, Lin & Yu, WWW'08) — the second published pruning lever on
    the same prefix-index plan.  Jaccard >= t needs overlap
    alpha = ceil(t/(1+t) * (na+nb)) (t = {JACCARD_THRESHOLD}:
    ceil((na+nb)/3)).  For a candidate pair, take its FIRST shared
    prefix token under the global order — at positions (i, j) with no
    shared token earlier in either prefix, the total overlap is at
    most 1 + min(na - i, nb - j) (one for the hit, plus everything
    after it on the shorter remainder).  If that upper bound cannot
    reach alpha, the pair dies BEFORE verification — pure integer
    arithmetic on rank positions the prefix index already carries
    (the filter is the inequality na + nb <= 3 * (1 + min(...)) in
    exact integers, no division).

    first-hit selection: ROW_NUMBER over (pair ORDER BY i, j) = 1 —
    minimal i means no earlier a-side prefix token is shared, which
    is what makes the bound sound; the same total order runs on both
    engines over their respective token representations, and the
    VERIFIED output is representation-independent (pytest asserts
    set-equality with dedup_ngram_jaccard and that the positional
    filter admits no more candidates than the prefix filter alone).

    Scale: identical plan skeleton to dedup_prefix_filter — the
    positional filter adds one pair-keyed window over the candidate
    hits (bounded by candidate volume, the thing it shrinks) and
    strictly reduces the verification join's input.  At 100 TB the
    pruning compounds: verification is the dominant cost once the
    prefix index has bounded candidate generation, and PPJoin's
    filter removes the near-miss mass (pairs sharing one rare token
    but too short to overlap enough) that exact verification would
    otherwise pay for."""
    sh = _hashed_shingles(spark, sf_dir)
    pr = _prefix_ranked(sh)
    pref = pr.filter(
        F.col("r") <= F.expr("n - (n + 1) DIV 2 + 1")
    ).select("doc_id", "h", "n", "r")
    a, b = pref.alias("a"), pref.alias("b")
    hits = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.greatest(F.col("a.n"), F.col("b.n"))
            <= 2 * F.least(F.col("a.n"), F.col("b.n"))
        ),
    ).select(
        F.col("a.doc_id").alias("a_id"),
        F.col("b.doc_id").alias("b_id"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
        F.col("a.r").alias("i"),
        F.col("b.r").alias("j"),
    )
    wfirst = Window.partitionBy("a_id", "b_id").orderBy("i", "j")
    cand = (
        hits.withColumn("first_hit", F.row_number().over(wfirst))
        .filter(
            (F.col("first_hit") == 1)
            & (
                F.col("na") + F.col("nb")
                <= 3 * (1 + F.least(F.col("na") - F.col("i"),
                                    F.col("nb") - F.col("j")))
            )
        )
        .select("a_id", "b_id")
    )
    return _verify_pairs(sh, cand)
