"""Streaming twin of the batch curation DAG: incremental corpus
admission behind the Pub/Sub-shaped source.

The batch DAG (curation_pipeline.py) re-curates the world; production
ingest can't — a crawl batch arrives as messages and must be admitted
against the STANDING corpus (the dedup_incremental shape,
queries/dedup.py) without re-reading it.  This module wires that
admission path behind the reference-parity streaming pipeline
(pipeline.SparkPipeline: R1 source pull, R2 bulk_limit, R10
ack-after-publish, R12 bounded drain), with every output and state
kind kept as an IdempotentParquetSink log (pipeline.py, the owner of
the batch-partition layout and its commit rule), so a
crashed-and-restarted stream CONVERGES to the batch DAG's output
instead of duplicating (the replay contract the R10 tests pin).

Stage sharing: every gate is ONE function over a documents DataFrame,
applied by the batch twin (``admission_batch_twin``) to the whole
corpus and by the stream to each micro-batch — convergence is
structural, not coincidental.  Gates:

  1. normalize + exact-dedup admission: md5 of the canonicalized text
     (text_normalize's expressions); a doc is admitted iff its hash is
     unseen in the standing state AND it is the minimum doc_id holder
     of the hash within its own batch.  On an arrival-ordered replay
     (doc_id non-decreasing across batches — the deterministic replay
     a commit-log source provides) first-seen == global-min, i.e. the
     batch DAG's canonical choice.
  2. repetition gate: Gopher dup-word / top-bigram fractions
     (text_repetition's expressions and thresholds), map-side.
  3. decontamination: anti-join against a FROZEN benchmark 8-gram
     index (decontaminate_ngram's eval-gate definition).  Eval sets
     are static at ingest time, so the index is built once and
     broadcast to every batch — the frozen-quality-model posture.
  4. (near_dup=True) incremental NEAR-dup admission — the actual
     dedup_incremental shape: the batch's word-3-gram shingles join
     one-sidedly against the STANDING postings state (the
     ``shingles`` log); a candidate
     with milli-Jaccard >= ND_TAU_MILLI against any previously
     admitted doc is rejected, and the verdict (worst collision +
     score) lands in the ``nd_rejects`` ledger.  New x new pairs are
     deliberately NOT checked — the next full compaction's job
     (queries/dedup.py:1185's contract) — so per-batch cost scales
     with the batch, never corpus².
  5. (semantic=True) embedding admission gate — dedup_semantic_prune's
     sign-bucket blocking (queries/rag.py) over a deterministic
     hashed-bag-of-words embedding, at a FROZEN prefix width (state is
     bucketed by it): a candidate with ANY earlier-arrival in-bucket
     neighbor at cosine >= SEM_ND_TAU_MICRO is rejected (standing
     state for earlier batches, the lower-doc_id one-pass rule within
     the batch), so on an arrival-ordered replay the stream converges
     EXACTLY to ``semantic_prune_twin``'s batch verdicts.  The ``sem``
     state records every semantic-stage candidate (kept or rejected) —
     the one-pass rule blocks on any lower-id close doc.  Verdicts
     land in the ``sem_rejects`` ledger.

State discipline (the part a 1000-executor deployment cares about):
the standing dedup state is the ``state`` log, PARTITIONED BY THE
BATCH ID THAT ADMITTED IT.  Batch N reads only the log as seen before
N (IdempotentParquetSink.standing) and overwrites its own partition —
so a replayed batch (sink succeeded, offset commit lost: the
at-least-once window) recomputes the SAME admission decision and
overwrites the same files, and its read excludes its own leftovers
from the failed attempt.  At 100 TB the
state table is the corpus's (norm_hash, doc_id) projection — bucket
it by hash so the per-batch anti-join is a bucketed semi-join, not a
broadcast (same plan note as dedup_incremental's persisted inverted
index).

The per-batch mix report (the ``mix`` log) emits the running
temperature-flattened source weights (mix_temperature_sampling's
alpha=0.5 integer formula) over everything admitted through batch N —
the mixing dashboard a curation stream feeds the trainer.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Gate expressions and constants are IMPORTED from the registered
# operators, not re-derived — the streaming path and the oracle-checked
# batch operators share one definition, so they cannot drift.
from .queries.text import (  # noqa: E402  (same tokenizer/gates)
    REP_DUP_MAX,
    REP_TOPBG_MAX,
    _tokens,
    norm_expr,
)
from .queries.training import (  # noqa: E402
    _BENCH_GATE as DECON_GATE,
    _ngrams8,
)

from .queries.dedup import _grams as _shingle_grams  # noqa: E402
from .pipeline import (  # noqa: E402
    FileStreamSource,
    IdempotentParquetSink,
    SparkPipeline,
)

DOC_SCHEMA = "doc_id LONG, lang STRING, source STRING, text STRING"
# Near-dup admission threshold: milli-Jaccard over distinct word-3-gram
# shingles (the dedup_incremental kernel, queries/dedup.py).
ND_TAU_MILLI = 500


def _write_marker(path: str, text: str) -> None:
    """Replace the one-line marker file ``path`` atomically (tmp +
    rename): a reader sees the old value or the new one, never a
    torn write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(text + "\n")
    os.replace(tmp, path)


def _shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, s): one row per distinct word-3-gram shingle — the
    same kernel the batch dedup family uses (queries/dedup.py)."""
    return docs.select("doc_id", F.explode(_shingle_grams()).alias("s"))


# --- semantic (embedding) admission gate -----------------------------------
# dedup_semantic_prune's sign-bucket blocking over a deterministic
# hashed-bag-of-words embedding of the text (the text stream carries no
# embedding column; feature hashing is the standard deterministic
# stand-in).  The prefix width is stable BETWEEN compactions —
# streaming state is bucketed by it, so it cannot adapt per batch the
# way the batch operator's corpus-adaptive width does
# (functions/blocking.py) — but it is no longer frozen for the life of
# the stream: CurationAdmissionSink.compact_state re-derives the width
# from the corpus size when it folds state (round 14, VERDICT r13
# item 4) and persists it in the _SEM_BITS marker, which every
# subsequent trigger reads.
SEM_ND_DIM = 64          # hashed-BoW embedding dimensions
SEM_ND_BITS = 4          # default sign-prefix width (state bucketing)
SEM_ND_TAU_MICRO = 900000  # cosine >= 0.9 => semantic near-dup
# Target expected bucket occupancy the compaction-time re-bucket aims
# for: the derived width keeps candidate joins bounded as the corpus
# grows (functions/blocking.py's corpus-adaptive discipline, applied
# at the only point streaming state may change shape).
SEM_TARGET_PER_BUCKET = 32


def _derive_sem_bits(n_rows: int) -> int:
    """Sign-prefix width for a corpus of ``n_rows`` semantic-state
    rows: the smallest width whose 2^bits buckets keep expected
    occupancy <= SEM_TARGET_PER_BUCKET, floored at SEM_ND_BITS and
    capped at the embedding dimension.  Deterministic in the row
    count, so a replayed compaction derives the same width."""
    spread = max(1, -(-n_rows // SEM_TARGET_PER_BUCKET))
    return min(max(SEM_ND_BITS, (spread - 1).bit_length()), SEM_ND_DIM)


def doc_embedding(docs: DataFrame) -> DataFrame:
    """(doc_id, emb): deterministic {SEM_ND_DIM}-dim feature-hashed
    bag-of-words embedding — token dim/sign from md5, values exact
    integer counts in doubles.  Zero-norm docs (no tokens) emit no
    row and bypass the semantic gate on BOTH the stream and the twin
    (same rule, so convergence holds)."""
    tok = docs.select("doc_id", F.explode(_tokens()).alias("t"))
    h = F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long")
    cell = tok.groupBy(
        "doc_id", (h % SEM_ND_DIM).cast("int").alias("d")
    ).agg(
        F.sum((F.shiftright(h, 8) % 2 * 2 - 1).cast("double")).alias("v")
    )
    return (
        cell.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("d", "v"))
            ).alias("m")
        )
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(SEM_ND_DIM - 1)),
                lambda i: F.coalesce(
                    F.element_at("m", i), F.lit(0.0)
                ),
            ).alias("emb"),
        )
    )


def _sem_dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def _sem_cos_micro(a: str, b: str):
    return F.floor(
        _sem_dot(a, b)
        / (F.sqrt(_sem_dot(a, a)) * F.sqrt(_sem_dot(b, b)))
        * 1e6 + F.lit(0.5)
    ).cast("long")


def _sem_bucket(emb: str = "emb", bits: int = SEM_ND_BITS):
    """Leading-sign prefix at ``bits`` width — dedup_semantic_prune's
    blocking.  The width is a property of the STATE (persisted in the
    sink's _SEM_BITS marker, widened only at compaction time); both
    join sides always derive bkt from emb at the same current width,
    so stored bkt columns are layout hints, never join keys across a
    width change."""
    return F.concat(*[
        F.when(F.element_at(emb, i + 1) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for i in range(bits)
    ])


def _sem_frame(docs: DataFrame, bits: int = SEM_ND_BITS) -> DataFrame:
    """(doc_id, bkt, emb) of the docs that enter the semantic gate —
    non-zero-norm only, the shared candidate projection."""
    return (
        doc_embedding(docs)
        .filter(_sem_dot("emb", "emb") > 0)
        .select("doc_id", _sem_bucket("emb", bits).alias("bkt"), "emb")
    )


def semantic_prune_twin(admitted: DataFrame) -> DataFrame:
    """Batch reference for the streaming semantic gate: the one-pass
    lower-id rule of dedup_semantic_prune (queries/rag.py) applied to
    an admitted frame's hashed-BoW embeddings at the frozen width —
    (doc_id, kept) for every admitted doc (zero-norm docs are kept)."""
    frame = _sem_frame(admitted)
    lo = frame.select(
        F.col("doc_id").alias("lo_id"), F.col("emb").alias("le"), "bkt"
    )
    close = (
        lo.join(frame, "bkt")
        .filter(F.col("lo_id") < F.col("doc_id"))
        .filter(_sem_cos_micro("le", "emb") >= SEM_ND_TAU_MICRO)
        .select("doc_id").distinct()
        .withColumn("pruned", F.lit(True))
    )
    return (
        admitted.select("doc_id")
        .join(close, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(~F.col("pruned"), F.lit(True)).alias("kept"),
        )
    )


_norm = norm_expr  # text_normalize's canonicalization (queries/text.py)


def build_eval_ngram_index(docs: DataFrame) -> DataFrame:
    """The frozen benchmark index: distinct 8-grams of the eval-gated
    docs.  Built once at pipeline construction; broadcast per batch."""
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return (
        docs.filter(gate < DECON_GATE)
        .select(F.explode(_ngrams8()).alias("bg"))
        .distinct()
    )


def gate_batch(docs: DataFrame, eval_grams: DataFrame) -> DataFrame:
    """Stateless per-doc gate verdicts + the dedup key.  Shared by the
    batch twin and every micro-batch: one scan, map-side expressions,
    one broadcast anti-join for decontamination."""
    w = _tokens()
    base = docs.select(
        "doc_id", "lang", "source", "text",
        F.md5(_norm()).alias("norm_hash"),
        w.alias("w"),
    )
    tok = base.select("doc_id", F.explode("w").alias("t"))
    ws = tok.groupBy("doc_id", "t").count().groupBy("doc_id").agg(
        F.sum("count").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
    )
    n = F.size(F.col("w")) - 1
    z = F.arrays_zip(
        F.slice(F.col("w"), 1, n).alias("t1"),
        F.slice(F.col("w"), 2, n).alias("t2"),
    )
    big = F.transform(z, lambda p: F.concat_ws(" ", p["t1"], p["t2"]))
    bs = (
        base.select("doc_id", F.explode(big).alias("b"))
        .groupBy("doc_id", "b").count().groupBy("doc_id")
        .agg(F.sum("count").alias("n_bigrams"),
             F.max("count").alias("max_bigram"))
    )
    dup = F.lit(1).cast("double") - (
        F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")
    )
    top_bg = F.coalesce(
        F.col("max_bigram").cast("double") / F.col("n_bigrams").cast("double"),
        F.lit(0.0),
    )
    # eval docs themselves are not training candidates; non-eval docs
    # sharing any 8-gram with the index are contaminated
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    grams = docs.select("doc_id", F.explode(_ngrams8()).alias("g"))
    dirty = (
        grams.join(F.broadcast(eval_grams), grams.g == eval_grams.bg,
                   "left_semi")
        .select("doc_id").distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        base.drop("w")
        .join(ws, "doc_id", "left")
        .join(bs, "doc_id", "left")
        .join(dirty, "doc_id", "left")
        .select(
            "doc_id", "lang", "source", "text", "norm_hash",
            ((dup <= REP_DUP_MAX) & (top_bg <= REP_TOPBG_MAX))
            .alias("pass_repetition"),
            (
                (gate >= DECON_GATE)
                & F.coalesce(~F.col("contaminated"), F.lit(True))
            ).alias("pass_decontam"),
        )
    )


def _admit_in_frame(verdicts: DataFrame) -> DataFrame:
    """Within one frame (a micro-batch, or the whole corpus for the
    batch twin): gates pass AND minimum doc_id holder of the hash."""
    passed = verdicts.filter("pass_repetition AND pass_decontam")
    canon = passed.groupBy("norm_hash").agg(F.min("doc_id").alias("doc_id"))
    return passed.join(canon, ["norm_hash", "doc_id"], "left_semi")


def admission_batch_twin(
    docs: DataFrame, eval_grams: DataFrame | None = None
) -> DataFrame:
    """The batch DAG's answer on the same corpus: the convergence
    target for the streaming path (same gate functions, empty standing
    state, whole corpus as one frame).  Pass ``eval_grams`` when the
    stream was frozen against a benchmark index built from a different
    (e.g. larger) corpus than ``docs``."""
    if eval_grams is None:
        eval_grams = build_eval_ngram_index(docs)
    return _admit_in_frame(gate_batch(docs, eval_grams))


def _mix_batch_sums(admitted: DataFrame) -> DataFrame:
    """Per-source ADDITIVE token sums of one frame — the incremental
    state of the streaming mix stage (round 13, VERDICT r12 item 2):
    mix_report's only corpus-dependent input is SUM(length(text) DIV 4
    + 1) per source, which folds across batches exactly."""
    return admitted.groupBy("source").agg(
        F.expr("SUM(length(text) DIV 4 + 1)").cast("long").alias("tok")
    )


def mix_report_from_sums(s: DataFrame) -> DataFrame:
    """mix_report's temperature formula applied to pre-folded
    per-source token sums — the streaming fold's release stage (the
    doremi_weights_from_sums twin).  Everything downstream of the
    sums is dimension-sized (sources rows)."""
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


def mix_report(admitted: DataFrame) -> DataFrame:
    """Temperature-flattened (alpha=0.5) source weights over an
    admitted set — mix_temperature_sampling's exact integer formula,
    factored to run on any admitted frame."""
    return mix_report_from_sums(_mix_batch_sums(admitted))


def _doremi_batch_sums(admitted: DataFrame) -> DataFrame:
    """Per-source ADDITIVE partials of one batch's admitted rows —
    the incremental state of the DoReMi reweight stage.  n_chars
    surrogate = length(text) (the stream carries text, not the
    documents table's n_chars; the batch twin uses the same
    surrogate, so convergence is exact)."""
    from .queries.rag import DRM_PRX_CLIP, DRM_REF_CLIP

    return admitted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM(LEAST(length(text), {DRM_REF_CLIP}))")
        .alias("ref_sum"),
        F.expr(f"SUM(LEAST(length(text), {DRM_PRX_CLIP}))")
        .alias("prx_sum"),
    )


def doremi_report(admitted: DataFrame) -> DataFrame:
    """Batch twin of the streaming DoReMi reweight: mix_doremi_step's
    exact update contract (linearized multiplicative weights +
    largest-remainder milli renormalization, queries/rag.py) applied
    to an admitted frame in one pass."""
    from .queries.rag import doremi_weights_from_sums

    return doremi_weights_from_sums(_doremi_batch_sums(admitted))


@dataclass
class CurationAdmissionSink:
    """foreachBatch sink implementing the incremental admission path.

    Layout under ``path``: one IdempotentParquetSink log per kind
    (``logs[kind]``), which owns the ``batch=N`` / ``base=B`` layout,
    the ``_SUCCESS`` commit rule, the base-plus-deltas read and vacuum:
      out/           admitted documents of batch N
      state/         (norm_hash, doc_id) admitted in batch N
      shingles/      near-dup shingle postings admitted in batch N
      sem/           semantic-stage candidate frames of batch N
      nd_rejects/    near-dup verdicts of batch N
      sem_rejects/   semantic verdicts of batch N
      mix_state/     RUNNING per-source token sums through N
      doremi_state/  RUNNING DoReMi partials through N
      mix/           mix weights released off mix_state
      doremi/        DoReMi reweight released off doremi_state
      state_evicted/ base=B: exact-dedup keys a TTL fold at B evicted

    Every write is keyed by the engine-stable batch id, so a replayed
    batch is a no-op rewrite.  The two reweight states carry running
    sums forward (each partition supersedes all earlier ones), so a
    trigger's release stage reads ONE O(sources)-row partition
    regardless of corpus or stream age.
    """

    path: str
    eval_grams: DataFrame
    # Enable the dedup_incremental near-dup stage: candidates are
    # checked one-sidedly against the STANDING shingle state and
    # rejected at milli-Jaccard >= ND_TAU_MILLI; admitted docs add
    # their postings to the state.  Off by default (exact-only).
    near_dup: bool = False
    # Enable the semantic/embedding admission gate
    # (dedup_semantic_prune's sign-bucket blocking over hashed-BoW
    # embeddings): a candidate with ANY earlier-arrival in-bucket
    # neighbor at cosine >= SEM_ND_TAU_MICRO is rejected — earlier
    # batches via the standing ``sem`` state, same-batch via the
    # lower-doc_id one-pass rule, so the stream converges to
    # semantic_prune_twin's verdicts on an arrival-ordered replay.
    # The state records EVERY semantic-stage candidate (kept or
    # rejected): the one-pass rule blocks on any lower-id close doc,
    # not just on kept ones.
    semantic: bool = False

    # State layout version.  v2 (round 13): mix_state/doremi_state
    # partitions carry RUNNING per-source totals; v1 (round 12,
    # unmarked) stored one batch's partials per partition.  Folding a
    # v1 directory under v2 semantics would silently undercount every
    # pre-upgrade batch, so the sink stamps the layout and REFUSES to
    # resume an unmarked directory that already has state partitions.
    # v3 (round 14) ADDS compaction bases (state/shingles/sem
    # ``base={B}`` dirs) and the _SEM_BITS width marker on top of the
    # v2 running-sum semantics, which are unchanged — so a v2 dir is
    # compatible and its marker upgrades in place; unmarked dirs are
    # still refused.
    STATE_FORMAT = "v3-compacted-state"
    _COMPAT_FORMATS = ("v2-running-sums",)
    # Standing (per-row, batch-partitioned) state kinds that fold
    # under compact_state; the reweight states are already O(sources)
    # running sums per partition and need only vacuum.
    _STANDING_KINDS = ("state", "shingles", "sem")
    _KINDS = ("out", "state", "shingles", "sem", "nd_rejects",
              "sem_rejects", "mix_state", "doremi_state", "mix", "doremi",
              "state_evicted")

    def __post_init__(self) -> None:
        self.logs = {k: IdempotentParquetSink(os.path.join(self.path, k))
                     for k in self._KINDS}

    def _assert_state_format(self) -> None:
        marker = os.path.join(self.path, "_STATE_FORMAT")
        if os.path.exists(marker):
            with open(marker) as fh:
                have = fh.read().strip()
            if have in self._COMPAT_FORMATS:
                # v2 -> v3 is additive (bases + width marker only; the
                # running-sum folding semantics are identical), so the
                # marker upgrades in place instead of refusing
                _write_marker(marker, self.STATE_FORMAT)
                return
            if have != self.STATE_FORMAT:
                raise RuntimeError(
                    f"reweight state at {self.path} has layout "
                    f"{have!r}; this sink writes "
                    f"{self.STATE_FORMAT!r} — migrate or restart the "
                    f"state, do not mix layouts")
            return
        for kind in ("doremi_state", "mix_state"):
            d = self.logs[kind].path
            if os.path.isdir(d) and any(
                n.startswith("batch=") for n in os.listdir(d)
            ):
                raise RuntimeError(
                    f"unmarked (pre-{self.STATE_FORMAT}) reweight "
                    f"state at {d}: its partitions hold per-batch "
                    f"partials, which running-sum folding would "
                    f"silently undercount — migrate (fold all legacy "
                    f"partitions into one running partition) or "
                    f"restart the state")
        os.makedirs(self.path, exist_ok=True)
        _write_marker(marker, self.STATE_FORMAT)

    def _standing(self, spark: SparkSession, kind: str,
                  before_batch: int) -> DataFrame | None:
        """The standing state of ``kind`` as batch ``before_batch``
        sees it (the log's newest base below it plus the deltas after
        that base), keeping the ADMITTING batch id as ``src_batch`` —
        every base write preserves it, so TTL eviction ages on it
        across any number of compactions."""
        return self.logs[kind].standing(spark, before_batch,
                                        provenance="src_batch")

    def _sem_bits(self) -> int:
        """The CURRENT semantic blocking width — SEM_ND_BITS until a
        compaction widens it (the marker is the authority; every
        trigger and every standing read derive bkt from emb at this
        width, so the two join sides can never disagree)."""
        marker = os.path.join(self.path, "_SEM_BITS")
        if os.path.exists(marker):
            with open(marker) as fh:
                return int(fh.read().strip())
        return SEM_ND_BITS

    def compact_state(
        self, spark: SparkSession, through: int | None = None,
        sem_bits: int | None = None, ttl_batches: int | None = None,
    ) -> dict[str, str]:
        """Fold the batch-keyed standing-state partitions (exact-dedup
        keys, near-dup shingle postings, semantic frames) for batches
        <= ``through`` (newest committed when None) into one
        ``base={through}`` relation per kind — the compact_manifest
        stage-then-commit discipline (sources/io.py) applied to
        admission state, closing the file-count growth the round-13
        docstring deferred.  Incremental: each fold reads the newest
        prior base plus only the deltas after it.

        The semantic state RE-BUCKETS here (VERDICT r13 item 4): the
        sign-prefix width re-derives from the folded corpus size
        (``sem_bits`` overrides for tests), the base is rewritten with
        bkt recomputed from the stored embeddings and clustered by it,
        and the _SEM_BITS marker flips so subsequent triggers bucket
        candidate frames at the same width.  Correctness does not
        depend on the marker-flip ordering: every reader derives bkt
        from emb at the CURRENT width on both join sides, so any
        crash point leaves a self-consistent gate.

        Replay safety: the engine can only replay the NEWEST batch
        (the one whose offsets may not have committed), so the default
        fold point is newest-1 — a replayable batch is then never
        covered by a base, and its replay sees exactly the standing
        state it saw the first time (the base through N-1 plus
        nothing), converging byte-identically.  Passing an explicit
        ``through`` equal to the newest batch is allowed but is the
        caller's contract that the stream is quiesced (drained
        availableNow run, offsets committed) — folding a batch that
        can still replay would hand its replay an empty standing view.

        Folded batch partitions are NOT deleted here (``vacuum_state``
        expires them); a replayed UNFOLDED batch rewrites its dir
        byte-identically, and dirs recreated for folded ids are
        ignored by the standing readers (covered by the base)."""
        folded: dict[str, str] = {}
        for kind in self._STANDING_KINDS:
            log = self.logs[kind]
            batches = log.committed()
            bases = log.committed("base")
            if through is not None:
                t = through
            elif len(batches) > 1:
                t = batches[-2]  # newest-1: never fold a replayable batch
            elif bases:
                t = max(bases)
            else:
                t = None
            if t is None:
                continue
            t = int(t)
            if t in bases:
                # deterministic content, already committed:
                # replaying the compaction is a no-op
                folded[kind] = f"base={t}"
                continue
            df = self._standing(spark, kind, t + 1)
            if df is None:
                continue
            if ttl_batches is not None:
                # TTL eviction (round 14, VERDICT r13 item 8 — the
                # crawl-refresh reality): rows admitted more than
                # ``ttl_batches`` batches before the fold point age
                # out of the admission index, so a re-arriving
                # duplicate of an expired document is admitted again.
                # src_batch provenance survives every base rewrite,
                # so expiry works across compaction generations.  The
                # evicted exact-dedup keys are RELEASED as an
                # auditable relation (state_evicted/base={t},
                # overwrite — a replayed compaction re-derives the
                # identical set).  The reweight ledgers (mix/DoReMi)
                # are deliberately untouched: they describe the
                # released corpus's lifetime history, not the current
                # admission index.
                cutoff = t - int(ttl_batches)
                if kind == "state":
                    self.logs["state_evicted"].write(
                        df.filter(F.col("src_batch") <= cutoff), t, "base")
                df = df.filter(F.col("src_batch") > cutoff)
            if kind == "sem":
                bits = sem_bits if sem_bits is not None else (
                    _derive_sem_bits(df.count()))
                df = df.select(
                    "doc_id",
                    _sem_bucket("emb", bits).alias("bkt"), "emb",
                    "src_batch",
                ).repartition("bkt")
            log.write(df, t, "base")
            folded[kind] = f"base={t}"
            if kind == "sem":
                _write_marker(os.path.join(self.path, "_SEM_BITS"),
                              str(int(bits)))
        return folded

    def read_evicted(self, spark: SparkSession) -> DataFrame:
        """The auditable eviction ledger: every exact-dedup key TTL'd
        out of the admission index, with its admitting batch and the
        compaction horizon that expired it."""
        return self.logs["state_evicted"].read(
            spark, prefix="base", provenance="horizon",
            empty="norm_hash STRING, doc_id LONG, src_batch LONG,"
                  " horizon LONG",
        ).select("norm_hash", "doc_id", "src_batch", "horizon")

    def vacuum_state(self) -> list[str]:
        """Expire standing-state partitions superseded by each kind's
        newest base, plus superseded reweight-state running-sum
        partitions (every partition before the newest is dead weight
        by the running-sum contract).  Returns the removed relations
        as ``kind/name`` strings.  Replay-safe: a replayed folded
        batch recreates a dir the readers ignore; the next vacuum
        removes it again."""
        removed = []
        for kind in self._STANDING_KINDS:
            removed += [f"{kind}/{rel}" for rel in self.logs[kind].vacuum()]
        for kind in ("mix_state", "doremi_state"):
            parts = self.logs[kind].committed()
            # keep the newest TWO: a replay of the newest batch folds
            # against the partition before it (_fold_state reads the
            # latest partition strictly below the replayed id)
            if len(parts) > 2:
                removed += [f"{kind}/{rel}" for rel in
                            self.logs[kind].vacuum(through=parts[-3])]
        return removed

    def _near_dup_rejects(
        self, spark: SparkSession, cand: DataFrame, before_batch: int
    ) -> DataFrame:
        """dedup_incremental's one-sided near-dup admission check:
        candidate x STANDING shingle pairs only (cost scales with the
        batch, never corpus²; new x new pairs are the next compaction's
        job — queries/dedup.py:1185's contract).  Emits, per rejected
        candidate, the worst standing collision and its milli-Jaccard
        — the same verdict row dedup_incremental produces."""
        standing = self._standing(spark, "shingles", before_batch)
        empty = spark.createDataFrame(
            [], "doc_id LONG, corp_id LONG, jacc_milli LONG")
        if standing is None:
            return empty
        new_sh = _shingle_rows(cand)
        corp_sh = standing.select(F.col("doc_id").alias("corp_id"), "s")
        n_new = new_sh.groupBy("doc_id").agg(F.count("*").alias("n_new"))
        n_corp = corp_sh.groupBy("corp_id").agg(F.count("*").alias("n_corp"))
        inter = (
            new_sh.join(corp_sh, "s")
            .groupBy("doc_id", "corp_id")
            .agg(F.count("*").alias("n_common"))
        )
        jacc = (
            inter.join(n_new, "doc_id").join(n_corp, "corp_id")
            .select(
                "doc_id", "corp_id",
                F.expr(
                    "n_common * 1000 DIV (n_new + n_corp - n_common)"
                ).cast("long").alias("jacc_milli"),
            )
            .filter(F.col("jacc_milli") >= ND_TAU_MILLI)
        )
        w = Window.partitionBy("doc_id").orderBy(
            F.col("jacc_milli").desc(), "corp_id"
        )
        return (
            jacc.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "corp_id", "jacc_milli")
        )

    def _sem_rejects(
        self, spark: SparkSession, frame: DataFrame, before_batch: int,
        bits: int,
    ) -> DataFrame:
        """Semantic-gate verdicts for one batch's candidate frame
        ((doc_id, bkt, emb), bucketed at ``bits``): rejected iff any
        STANDING candidate (batches < before_batch) or same-batch
        lower-doc_id candidate shares the bucket at cosine >=
        SEM_ND_TAU_MICRO.  The standing side's bkt is RE-DERIVED from
        its stored embeddings at the same ``bits`` (a map-side
        projection), so the join keys agree by construction even
        across a compaction-time width change — the stored bkt column
        is a clustering/layout hint only.  Emits the worst collision
        per rejected doc — the sem_rejects ledger."""
        standing = self._standing(spark, "sem", before_batch)
        lo_frames = [
            frame.select(
                F.col("doc_id").alias("corp_id"),
                F.col("emb").alias("ce"), "bkt",
            )
        ]
        if standing is not None:
            lo_frames.append(
                standing.select(
                    F.col("doc_id").alias("corp_id"),
                    F.col("emb").alias("ce"),
                    _sem_bucket("emb", bits).alias("bkt"),
                )
            )
        lo = lo_frames[0]
        for extra in lo_frames[1:]:
            lo = lo.unionByName(extra)
        hits = (
            frame.join(lo, "bkt")
            # standing docs arrived earlier (any corp_id); same-batch
            # blockers must hold the lower doc_id (the one-pass rule)
            .filter(F.col("corp_id") < F.col("doc_id"))
            .select(
                "doc_id", "corp_id",
                _sem_cos_micro("ce", "emb").alias("cos_micro"),
            )
            .filter(F.col("cos_micro") >= SEM_ND_TAU_MICRO)
        )
        w = Window.partitionBy("doc_id").orderBy(
            F.col("cos_micro").desc(), "corp_id"
        )
        return (
            hits.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "corp_id", "cos_micro")
        )

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self._assert_state_format()
        spark = batch_df.sparkSession
        docs = batch_df
        if "value" in docs.columns and "doc_id" not in docs.columns:
            docs = docs.select(
                F.from_json(F.col("value").cast("string"), DOC_SCHEMA)
                .alias("m")
            ).select("m.*")
        # One source read per trigger: the gates fan the batch into
        # several jobs (word agg, bigram agg, gram join, two writes) —
        # without the persist each job re-pulls the micro-batch from
        # the source (and inflates the source's rows-in metric).
        docs.persist()
        verdicts = gate_batch(docs, self.eval_grams)
        admitted = _admit_in_frame(verdicts)
        standing = self._standing(spark, "state", int(epoch_id))
        if standing is not None:
            admitted = admitted.join(
                standing.select("norm_hash"), "norm_hash", "left_anti")
        rejects = None
        cand = None
        if self.near_dup:
            cand = admitted
            cand.persist()
            rejects = self._near_dup_rejects(spark, cand, int(epoch_id))
            rejects.persist()
            admitted = cand.join(
                rejects.select("doc_id"), "doc_id", "left_anti"
            )
        sem_frame = None
        sem_rejects = None
        if self.semantic:
            bits = self._sem_bits()
            sem_frame = _sem_frame(admitted, bits)
            sem_frame.persist()
            sem_rejects = self._sem_rejects(spark, sem_frame,
                                            int(epoch_id), bits)
            sem_rejects.persist()
            admitted = admitted.join(
                sem_rejects.select("doc_id"), "doc_id", "left_anti"
            )
        admitted.persist()
        try:
            logs = self.logs
            logs["out"].write(admitted.select(
                "doc_id", "lang", "source", "text", "norm_hash"), epoch_id)
            logs["state"].write(admitted.select("norm_hash", "doc_id"),
                                epoch_id)
            if self.near_dup:
                logs["shingles"].write(_shingle_rows(admitted), epoch_id)
                logs["nd_rejects"].write(rejects, epoch_id)
            if self.semantic:
                # EVERY semantic-stage candidate enters the state
                # (kept or rejected): the one-pass rule blocks on any
                # lower-id close doc, not just on kept ones.
                logs["sem"].write(sem_frame, epoch_id)
                logs["sem_rejects"].write(sem_rejects, epoch_id)
            # Incremental mix + DoReMi reweight (round 13, VERDICT r12
            # item 2 + ADVICE state-compaction item): both stages'
            # corpus-dependent inputs are per-source ADDITIVE sums, so
            # batch=N's state partition carries the RUNNING totals
            # through N — prior running sums (ONE partition,
            # O(sources) rows) + this batch's partials — and the
            # release is pure dimension-sized arithmetic off the
            # freshly committed state.  A trigger therefore reads
            # O(sources) state rows and the micro-batch, NEVER the
            # admitted corpus and never the whole state history; cost
            # is constant in corpus age AND in stream age.  Replay
            # safety: replaying batch N folds batch<N's running sums
            # with N's recomputed partials and overwrites — converging
            # byte-identically (pytest: crash-replay twin tests).
            run_mix = self._fold_state(
                spark, "mix_state", int(epoch_id),
                _mix_batch_sums(admitted),
                "source STRING, tok LONG", ["tok"],
            )
            logs["mix"].write(mix_report_from_sums(run_mix), epoch_id)
            from .queries.rag import doremi_weights_from_sums

            run_drm = self._fold_state(
                spark, "doremi_state", int(epoch_id),
                _doremi_batch_sums(admitted),
                "source STRING, n LONG, ref_sum LONG, prx_sum LONG",
                ["n", "ref_sum", "prx_sum"],
            )
            logs["doremi"].write(doremi_weights_from_sums(run_drm), epoch_id)
        finally:
            admitted.unpersist()
            if rejects is not None:
                rejects.unpersist()
            if cand is not None:
                cand.unpersist()
            if sem_frame is not None:
                sem_frame.unpersist()
            if sem_rejects is not None:
                sem_rejects.unpersist()
            docs.unpersist()

    def read_nd_rejects(self, spark: SparkSession) -> DataFrame:
        return self.logs["nd_rejects"].read(
            spark, empty="doc_id LONG, corp_id LONG, jacc_milli LONG")

    def read_sem_rejects(self, spark: SparkSession) -> DataFrame:
        return self.logs["sem_rejects"].read(
            spark, empty="doc_id LONG, corp_id LONG, cos_micro LONG")

    def read_admitted(
        self, spark: SparkSession, through: int | None = None
    ) -> DataFrame:
        log = self.logs["out"]
        return log.read(
            spark,
            log.committed(before=None if through is None else through + 1),
            empty=DOC_SCHEMA + ", norm_hash STRING")

    def _fold_state(
        self, spark: SparkSession, kind: str, epoch_id: int,
        batch_sums: DataFrame, schema: str, sum_cols: list[str],
    ) -> DataFrame:
        """Carry a running-sum state forward: fold the LATEST committed
        partition strictly before ``epoch_id`` (empty on the first
        batch or a replay of it) with this batch's additive partials,
        commit the result as ``kind/batch={epoch_id}``, and return the
        committed rows.  Reading only the newest prior partition keeps
        the per-trigger state read at O(sources) rows regardless of
        stream age (no per-batch partition sprawl to re-list), and
        ignoring partitions >= epoch_id makes a replay converge to the
        same totals it committed the first time."""
        log = self.logs[kind]
        prev = log.latest(spark, schema, before=epoch_id)
        run = prev.unionByName(batch_sums).groupBy("source").agg(
            *[F.sum(c).cast("long").alias(c) for c in sum_cols]
        )
        return spark.read.parquet(log.write(run, epoch_id))

    def read_doremi(self, spark: SparkSession) -> DataFrame:
        """The latest committed DoReMi reweight release — empty (its
        schema) when no batch has committed yet, matching read_mix."""
        return self.logs["doremi"].latest(
            spark, "source STRING, n LONG, excess_milli LONG,"
                   " mult_milli LONG, w_milli LONG")

    def read_mix(self, spark: SparkSession) -> DataFrame:
        """The latest committed mix report — empty (mix schema) when no
        batch has committed yet (stream never ran, or the first batch
        crashed pre-commit), matching read_admitted/read_nd_rejects."""
        return self.logs["mix"].latest(
            spark, "source STRING, tok LONG, p_milli LONG, w_milli LONG")


def streaming_curation_pipeline(
    spark: SparkSession,
    drop_dir: str,
    out_dir: str,
    eval_grams: DataFrame,
    checkpoint_dir: str,
    bulk_limit: int = 20,
    near_dup: bool = False,
    semantic: bool = False,
):
    """Assemble the composite on the reference-parity pipeline core:
    file-drop source (R1/R2 admission), JSON decode as the
    column_processor fast path (R5, Catalyst-visible), the admission
    sink above (R9/R10: state+output written before the offset
    commit), checkpointed for crash/replay (R12 bounded drain).
    ``near_dup=True`` adds the dedup_incremental stage (one-sided
    shingle join vs the standing postings state); ``semantic=True``
    adds the embedding admission gate (dedup_semantic_prune's
    sign-bucket blocking vs the standing ``sem`` state)."""
    sink = CurationAdmissionSink(out_dir, eval_grams, near_dup=near_dup,
                                 semantic=semantic)
    pipe = SparkPipeline(
        spark=spark,
        source=FileStreamSource(drop_dir, max_files_per_trigger=bulk_limit),
        sink=sink,
        column_processor=lambda df: df.select(
            F.from_json(F.col("value").cast("string"), DOC_SCHEMA).alias("m")
        ).select("m.*"),
        checkpoint_dir=checkpoint_dir,
    )
    return pipe, sink
