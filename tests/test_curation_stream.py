"""Integration: the streaming curation composite (curation_stream.py)
must converge to its batch twin on the same corpus ACROSS A CRASH —
the R10 replay contract extended from a value-passthrough sink to a
stateful admission pipeline (round-9 verdict item 6).

The crash is injected in the worst window: AFTER batch K's output and
state writes succeed but BEFORE the engine commits its offsets — so
the restarted stream replays batch K against state that already
contains batch K's own leftovers.  Convergence then proves both
idempotence claims at once: the batch-keyed overwrite (output) and the
read-only-partitions-below-me rule (state).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from py_pubsub_pipeline_spark.curation_stream import (
    CurationAdmissionSink,
    admission_batch_twin,
    build_eval_ngram_index,
    doremi_report,
    gate_batch,
    mix_report,
    streaming_curation_pipeline,
)
from py_pubsub_pipeline_spark.tables import table

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return (
        table(spark, SF_SMALL, "documents")
        .select("doc_id", "lang", "source", "text")
    )


def _write_drop_files(docs_df, drop_dir: str, n_files: int = 10) -> None:
    """Arrival-ordered replay: doc_id non-decreasing across files, file
    mtimes increasing so the file source triggers them in order."""
    rows = sorted(docs_df.collect(), key=lambda r: r["doc_id"])
    os.makedirs(drop_dir, exist_ok=True)
    per = (len(rows) + n_files - 1) // n_files
    t0 = 1_700_000_000
    for i in range(n_files):
        chunk = rows[i * per:(i + 1) * per]
        if not chunk:
            break
        p = os.path.join(drop_dir, f"{i:04d}.jsonl")
        with open(p, "w") as fh:
            for r in chunk:
                fh.write(json.dumps({
                    "doc_id": r["doc_id"], "lang": r["lang"],
                    "source": r["source"], "text": r["text"],
                }) + "\n")
        os.utime(p, (t0 + i, t0 + i))


def test_gates_match_registry_semantics(spark, docs):
    # The shared gate function must reproduce text_repetition's keep
    # verdict and decontaminate_ngram's contaminated set exactly.
    from py_pubsub_pipeline_spark.queries.text import text_repetition
    from py_pubsub_pipeline_spark.queries.training import decontaminate_ngram

    verdicts = gate_batch(docs, build_eval_ngram_index(docs))
    rep = {r["doc_id"]: r["keep"]
           for r in text_repetition(spark, SF_SMALL).collect()}
    mine = {r["doc_id"]: (r["pass_repetition"], r["pass_decontam"])
            for r in verdicts.collect()}
    assert {d: k for d, (k, _) in mine.items()} == rep
    dirty = {r["doc_id"] for r in decontaminate_ngram(spark, SF_SMALL).collect()}
    eval_gate = {
        d for d in mine
        if __import__("hashlib").md5(str(d).encode()).hexdigest()[:2] < "08"
    }
    assert {d for d, (_, c) in mine.items() if not c} == dirty | eval_gate


def test_streaming_admission_converges_after_crash(spark, docs, tmp_path):
    drop = str(tmp_path / "drop")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_drop_files(docs, drop, n_files=10)
    eval_grams = build_eval_ngram_index(docs)

    crash_at = {"epoch": 2, "armed": True}

    class CrashingSink(CurationAdmissionSink):
        """Fail AFTER the real writes of one batch succeed — the
        publish-ok/commit-lost window (reference P:48-52)."""

        def __call__(self, batch_df, epoch_id):
            super().__call__(batch_df, epoch_id)
            if crash_at["armed"] and int(epoch_id) >= crash_at["epoch"]:
                crash_at["armed"] = False
                raise RuntimeError("injected crash after durable writes")

    sink = CrashingSink(out, eval_grams)
    from py_pubsub_pipeline_spark.pipeline import (
        FileStreamSource, SparkPipeline,
    )

    def build(s):
        return SparkPipeline(
            spark=spark,
            source=FileStreamSource(drop, max_files_per_trigger=3),
            sink=s,
            column_processor=lambda df: df.select(
                F.from_json(
                    F.col("value").cast("string"),
                    "doc_id LONG, lang STRING, source STRING, text STRING",
                ).alias("m")
            ).select("m.*"),
            checkpoint_dir=ckpt,
        )

    with pytest.raises(Exception, match="injected crash"):
        build(sink).process(available_now=True)
    # restart from the same checkpoint: the crashed batch REPLAYS
    # (its offsets were never committed) against state that already
    # contains its own leftover partition
    build(sink).process(available_now=True)

    admitted = sink.read_admitted(spark)
    target = admission_batch_twin(docs)
    got = sorted(r["doc_id"] for r in admitted.select("doc_id").collect())
    want = sorted(r["doc_id"] for r in target.select("doc_id").collect())
    assert got == want
    # no duplicates slipped through the replay
    assert len(got) == len(set(got))
    # the corpus genuinely exercises every admission branch
    n_all = docs.count()
    assert 0 < len(got) < n_all
    # final mix report == the batch twin's mix over the same set
    got_mix = {r["source"]: (r["tok"], r["p_milli"], r["w_milli"])
               for r in sink.read_mix(spark).collect()}
    want_mix = {r["source"]: (r["tok"], r["p_milli"], r["w_milli"])
                for r in mix_report(target).collect()}
    assert got_mix == want_mix
    # final DoReMi reweight == the batch twin applied in one pass:
    # the folded per-batch ADDITIVE partials (crash replay included)
    # must release mix_doremi_step's exact integer contract
    got_drm = {r["source"]: (r["n"], r["excess_milli"],
                             r["mult_milli"], r["w_milli"])
               for r in sink.read_doremi(spark).collect()}
    want_drm = {r["source"]: (r["n"], r["excess_milli"],
                              r["mult_milli"], r["w_milli"])
                for r in doremi_report(target).collect()}
    assert got_drm == want_drm
    assert sum(v[3] for v in got_drm.values()) == 1000
    # round 13 (VERDICT r12 item 2): the state partitions carry
    # RUNNING per-source sums — the latest mix_state partition alone
    # equals the batch twin's token sums (O(sources) rows), so a
    # trigger's release reads ONE state partition, never the admitted
    # corpus and never the partition history.
    import os

    from py_pubsub_pipeline_spark.curation_stream import _mix_batch_sums

    base = os.path.join(out, "mix_state")
    latest = max(int(d.split("=", 1)[1]) for d in os.listdir(base)
                 if d.startswith("batch="))
    st = {r["source"]: r["tok"] for r in spark.read.parquet(
        os.path.join(base, f"batch={latest}")).collect()}
    want_sums = {r["source"]: r["tok"]
                 for r in _mix_batch_sums(target).collect()}
    assert st == want_sums
    # layout guard: the sink stamped the running-sum format...
    marker = os.path.join(out, "_STATE_FORMAT")
    with open(marker) as fh:
        assert fh.read().strip() == sink.STATE_FORMAT
    # ...and refuses to resume an UNMARKED directory that already has
    # state partitions (pre-v2 per-batch partials would be silently
    # undercounted by running-sum folding)
    os.remove(marker)
    with pytest.raises(RuntimeError, match="unmarked"):
        sink._assert_state_format()
    # a mismatched layout stamp is equally fatal
    with open(marker, "w") as fh:
        fh.write("v1-per-batch-partials\n")
    with pytest.raises(RuntimeError, match="migrate"):
        sink._assert_state_format()
    with open(marker, "w") as fh:
        fh.write(sink.STATE_FORMAT + "\n")


def test_streaming_pipeline_helper_runs_clean(spark, docs, tmp_path):
    # The assembled helper (no crash): same convergence, one call.
    drop = str(tmp_path / "drop")
    sub = docs.filter("doc_id < 120")
    _write_drop_files(sub, drop, n_files=4)
    eval_grams = build_eval_ngram_index(docs)
    pipe, sink = streaming_curation_pipeline(
        spark, drop, str(tmp_path / "out"), eval_grams,
        str(tmp_path / "ckpt"), bulk_limit=2,
    )
    pipe.process(available_now=True)
    got = sorted(r["doc_id"] for r in sink.read_admitted(spark)
                 .select("doc_id").collect())
    want = sorted(
        r["doc_id"]
        for r in admission_batch_twin(sub, eval_grams)
        .select("doc_id").collect()
    )
    assert got == want
    assert pipe.metrics.totals()["rows_in"] == 120


def _run_neardup(spark, docs, drop, base_dir, crash_epoch=None):
    from py_pubsub_pipeline_spark.pipeline import (
        FileStreamSource, SparkPipeline,
    )

    eval_grams = build_eval_ngram_index(docs)
    state = {"armed": crash_epoch is not None}

    class MaybeCrashing(CurationAdmissionSink):
        def __call__(self, batch_df, epoch_id):
            super().__call__(batch_df, epoch_id)
            if state["armed"] and int(epoch_id) >= crash_epoch:
                state["armed"] = False
                raise RuntimeError("injected crash after durable writes")

    sink = MaybeCrashing(str(base_dir / "out"), eval_grams, near_dup=True)

    def build():
        return SparkPipeline(
            spark=spark,
            source=FileStreamSource(drop, max_files_per_trigger=3),
            sink=sink,
            column_processor=lambda df: df.select(
                F.from_json(
                    F.col("value").cast("string"),
                    "doc_id LONG, lang STRING, source STRING, text STRING",
                ).alias("m")
            ).select("m.*"),
            checkpoint_dir=str(base_dir / "ckpt"),
        )

    if crash_epoch is not None:
        with pytest.raises(Exception, match="injected crash"):
            build().process(available_now=True)
    build().process(available_now=True)
    return sink


def test_neardup_admission_invariants_and_crash_convergence(
    spark, docs, tmp_path
):
    from py_pubsub_pipeline_spark.curation_stream import (
        ND_TAU_MILLI, _shingle_rows,
    )

    drop = str(tmp_path / "drop")
    _write_drop_files(docs, drop, n_files=10)

    clean = _run_neardup(spark, docs, drop, tmp_path / "clean")
    crashed = _run_neardup(spark, docs, drop, tmp_path / "crashed",
                           crash_epoch=2)

    def snapshot(sink):
        adm = {(r["doc_id"], r["batch"]) for r in
               sink.logs["out"].read_all(spark)
               .select("doc_id", "batch").collect()}
        rej = {(r["doc_id"], r["corp_id"], r["jacc_milli"])
               for r in sink.read_nd_rejects(spark).collect()}
        return adm, rej

    adm_clean, rej_clean = snapshot(clean)
    adm_crash, rej_crash = snapshot(crashed)
    # crash-replay convergence: identical admitted set (with batch
    # provenance) AND identical reject ledger
    assert adm_clean == adm_crash
    assert rej_clean == rej_crash
    assert rej_clean, "corpus has near-dups; the stage must fire"
    admitted_ids = {d for d, _ in adm_clean}
    rejected_ids = {d for d, _, _ in rej_clean}
    assert not admitted_ids & rejected_ids

    # Python reference: distinct 3-gram shingle sets per doc
    sh = {}
    for r in _shingle_rows(docs).collect():
        sh.setdefault(r["doc_id"], set()).add(r["s"])

    def jacc_milli(a, b):
        inter = len(sh.get(a, set()) & sh.get(b, set()))
        union = len(sh.get(a, set())) + len(sh.get(b, set())) - inter
        return inter * 1000 // union if union else 0

    batch_of = dict(adm_clean)
    # (1) no admitted doc is a near-dup of an admitted doc from an
    #     EARLIER batch (the standing state actually gates)
    for d in admitted_ids:
        for e in admitted_ids:
            if batch_of[e] < batch_of[d]:
                assert jacc_milli(d, e) < ND_TAU_MILLI, (d, e)
    # (2) every reject row is a genuine earlier-batch near-dup with
    #     the exact worst-collision verdict the Python reference gets
    for d, corp, jm in rej_clean:
        assert corp in admitted_ids
        assert jacc_milli(d, corp) == jm >= ND_TAU_MILLI
        best = max(
            (jacc_milli(d, e), -e) for e in admitted_ids
            if e in batch_of and jacc_milli(d, e) >= ND_TAU_MILLI
        )
        assert (jm, -corp) >= best or jm == best[0]


def _run_semantic(spark, docs, drop, base_dir, crash_epoch=None):
    from py_pubsub_pipeline_spark.pipeline import (
        FileStreamSource, SparkPipeline,
    )

    eval_grams = build_eval_ngram_index(docs)
    state = {"armed": crash_epoch is not None}

    class MaybeCrashing(CurationAdmissionSink):
        def __call__(self, batch_df, epoch_id):
            super().__call__(batch_df, epoch_id)
            if state["armed"] and int(epoch_id) >= crash_epoch:
                state["armed"] = False
                raise RuntimeError("injected crash after durable writes")

    sink = MaybeCrashing(str(base_dir / "out"), eval_grams, semantic=True)

    def build():
        return SparkPipeline(
            spark=spark,
            source=FileStreamSource(drop, max_files_per_trigger=3),
            sink=sink,
            column_processor=lambda df: df.select(
                F.from_json(
                    F.col("value").cast("string"),
                    "doc_id LONG, lang STRING, source STRING, text STRING",
                ).alias("m")
            ).select("m.*"),
            checkpoint_dir=str(base_dir / "ckpt"),
        )

    if crash_epoch is not None:
        with pytest.raises(Exception, match="injected crash"):
            build().process(available_now=True)
    build().process(available_now=True)
    return sink


def test_semantic_admission_converges_to_batch_prune(spark, docs, tmp_path):
    """The semantic gate's crash-replay output must equal (a) its own
    clean run (idempotence) and (b) the batch semantic_prune_twin
    verdicts on the exact-admitted corpus (convergence) — round-10
    verdict item 6."""
    from py_pubsub_pipeline_spark.curation_stream import (
        SEM_ND_TAU_MICRO, _sem_frame, semantic_prune_twin,
    )

    drop = str(tmp_path / "drop")
    _write_drop_files(docs, drop, n_files=10)

    clean = _run_semantic(spark, docs, drop, tmp_path / "clean")
    crashed = _run_semantic(spark, docs, drop, tmp_path / "crashed",
                            crash_epoch=2)

    def snapshot(sink):
        adm = sorted(
            r["doc_id"]
            for r in sink.read_admitted(spark).select("doc_id").collect()
        )
        rej = {(r["doc_id"], r["corp_id"], r["cos_micro"])
               for r in sink.read_sem_rejects(spark).collect()}
        return adm, rej

    adm_clean, rej_clean = snapshot(clean)
    adm_crash, rej_crash = snapshot(crashed)
    assert adm_clean == adm_crash
    assert rej_clean == rej_crash
    assert rej_clean, "corpus has semantic near-dups; the stage must fire"
    assert len(adm_clean) == len(set(adm_clean))

    # batch reference: the one-pass lower-id prune over the
    # exact-admitted corpus
    twin_admitted = admission_batch_twin(docs)
    verdicts = {r["doc_id"]: r["kept"]
                for r in semantic_prune_twin(twin_admitted).collect()}
    want_kept = sorted(d for d, k in verdicts.items() if k)
    assert adm_clean == want_kept
    rejected_ids = {d for d, _, _ in rej_clean}
    assert rejected_ids == {d for d, k in verdicts.items() if not k}
    assert not rejected_ids & set(adm_clean)

    # every reject row names a genuine earlier (lower-id) collision at
    # or above the threshold, verified against the shared frame
    emb = {r["doc_id"]: (r["bkt"], r["emb"])
           for r in _sem_frame(twin_admitted).collect()}

    def cos_micro(a, b):
        import math
        ea, eb = emb[a][1], emb[b][1]
        dot = sum(x * y for x, y in zip(ea, eb))
        na = math.sqrt(sum(x * x for x in ea))
        nb = math.sqrt(sum(x * x for x in eb))
        return math.floor(dot / (na * nb) * 1e6 + 0.5)

    for d, corp, cm in rej_clean:
        assert corp < d
        assert emb[d][0] == emb[corp][0], "collision must share the bucket"
        assert cos_micro(d, corp) == cm >= SEM_ND_TAU_MICRO


def _drive(spark, sink, drop, ckpt, crash_epoch=None):
    """One availableNow drain of the drop dir through ``sink``; with
    ``crash_epoch``, fail once AFTER that batch's durable writes (the
    publish-ok/commit-lost window) and restart from the checkpoint so
    the engine genuinely replays it."""
    from py_pubsub_pipeline_spark.pipeline import (
        FileStreamSource, SparkPipeline,
    )

    armed = {"on": crash_epoch is not None}
    inner = sink

    def wrapped(batch_df, epoch_id):
        inner(batch_df, epoch_id)
        if armed["on"] and int(epoch_id) >= crash_epoch:
            armed["on"] = False
            raise RuntimeError("injected crash after durable writes")

    def build():
        return SparkPipeline(
            spark=spark,
            source=FileStreamSource(drop, max_files_per_trigger=3),
            sink=wrapped,
            column_processor=lambda df: df.select(
                F.from_json(
                    F.col("value").cast("string"),
                    "doc_id LONG, lang STRING, source STRING, text STRING",
                ).alias("m")
            ).select("m.*"),
            checkpoint_dir=ckpt,
        )

    if crash_epoch is not None:
        with pytest.raises(Exception, match="injected crash"):
            build().process(available_now=True)
    build().process(available_now=True)


def _append_drop_files(rows, drop_dir: str, n_files: int, t0: int) -> None:
    """Write dict-rows as later-mtime drop files (phase-2 arrivals)."""
    os.makedirs(drop_dir, exist_ok=True)
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = rows[i * per:(i + 1) * per]
        if not chunk:
            break
        p = os.path.join(drop_dir, f"t{t0}_{i:04d}.jsonl")
        with open(p, "w") as fh:
            for r in chunk:
                fh.write(json.dumps(r) + "\n")
        os.utime(p, (t0 + i, t0 + i))


def _doc_rows(docs_df):
    return [
        {"doc_id": r["doc_id"], "lang": r["lang"],
         "source": r["source"], "text": r["text"]}
        for r in sorted(docs_df.collect(), key=lambda r: r["doc_id"])
    ]


def test_state_compaction_is_invisible_to_the_stream(spark, docs, tmp_path):
    """Standing-state small-file compaction (VERDICT r13 item 1): fold
    the batch-keyed state (exact keys, shingle postings, semantic
    frames) mid-stream, vacuum the folded partitions, continue the
    stream THROUGH A CRASH-REPLAY — and every output ledger must equal
    a twin stream over the same files that never compacted.  Plus:
    standing reads are value-identical pre/post fold+vacuum, and the
    folded range's per-batch partitions leave disk."""
    from py_pubsub_pipeline_spark.curation_stream import SEM_ND_BITS

    eval_grams = build_eval_ngram_index(docs)
    rows = _doc_rows(docs)
    phase1, phase2 = rows[:300], rows[300:]

    drop_a = str(tmp_path / "drop_a")
    _append_drop_files(phase1, drop_a, n_files=6, t0=1_700_000_000)
    sink = CurationAdmissionSink(
        str(tmp_path / "a_out"), eval_grams, near_dup=True, semantic=True)
    _drive(spark, sink, drop_a, str(tmp_path / "a_ckpt"))

    def standing_sets(before=10_000):
        out = {}
        for kind, cols in (("state", ["norm_hash", "doc_id"]),
                           ("shingles", ["doc_id", "s"]),
                           ("sem", ["doc_id", "emb"])):
            df = sink.logs[kind].standing(spark, before,
                                          provenance="src_batch")
            out[kind] = (set() if df is None else
                         {tuple(map(str, r)) for r in
                          df.select(*cols).collect()})
        return out

    before = standing_sets()
    assert before["state"] and before["shingles"] and before["sem"]
    newest = sink.logs["state"].committed()[-1]
    # availableNow drained => quiesced => folding the newest is allowed
    folded = sink.compact_state(spark, through=newest)
    assert folded == {k: f"base={newest}"
                      for k in ("state", "shingles", "sem")}
    assert standing_sets() == before
    # corpus small enough that the derived width stays at the default:
    # a same-width re-bucket must be a pure layout rewrite
    assert sink._sem_bits() == SEM_ND_BITS
    removed = sink.vacuum_state()
    assert any(r.startswith("state/batch=") for r in removed)
    for kind in ("state", "shingles", "sem"):
        assert not any(
            d.startswith("batch=")
            for d in os.listdir(os.path.join(str(tmp_path / "a_out"), kind))
        ), f"{kind} still has folded batch partitions"
    assert standing_sets() == before

    # continue the stream over new arrivals, with a crash injected on
    # the FIRST post-compaction batch so the engine replays it against
    # the compacted base + its own leftovers
    _append_drop_files(phase2, drop_a, n_files=4, t0=1_700_000_100)
    _drive(spark, sink, drop_a, str(tmp_path / "a_ckpt"),
           crash_epoch=newest + 1)

    # twin stream: same files, same trigger size, never compacted
    drop_b = str(tmp_path / "drop_b")
    _append_drop_files(phase1, drop_b, n_files=6, t0=1_700_000_000)
    _append_drop_files(phase2, drop_b, n_files=4, t0=1_700_000_100)
    twin = CurationAdmissionSink(
        str(tmp_path / "b_out"), eval_grams, near_dup=True, semantic=True)
    _drive(spark, twin, drop_b, str(tmp_path / "b_ckpt"))

    def ledgers(s):
        return (
            sorted(r["doc_id"] for r in s.read_admitted(spark)
                   .select("doc_id").collect()),
            {tuple(r) for r in s.read_nd_rejects(spark).collect()},
            {tuple(r) for r in s.read_sem_rejects(spark).collect()},
            {tuple(r) for r in s.read_mix(spark).collect()},
            {tuple(r) for r in s.read_doremi(spark).collect()},
        )

    assert ledgers(sink) == ledgers(twin)


def _hashed_bow_dim_sign(word: str):
    """Python replica of doc_embedding's md5 feature hash (dim, sign)."""
    import hashlib

    h = int(hashlib.md5(word.encode()).hexdigest()[:8], 16)
    return h % 64, (h >> 8) % 2 * 2 - 1


def _safe_repeat_word(words, exclude=()):
    """A word of ``words`` (not in ``exclude``) whose one-more
    repetition provably keeps every sign bit of the hashed-BoW
    embedding (its dim's current value is nonzero and already points
    the word's way), so the variant shares the original's sign-prefix
    bucket at EVERY width."""
    vals = {}
    for w in words:
        d, s = _hashed_bow_dim_sign(w)
        vals[d] = vals.get(d, 0) + s
    for w in words:
        if w in exclude:
            continue
        d, s = _hashed_bow_dim_sign(w)
        if vals[d] != 0 and (vals[d] > 0) == (s > 0):
            return w
    return None


def test_sem_state_rebuckets_wider_at_compaction(spark, tmp_path):
    """Semantic-dedup state re-bucketing (VERDICT r13 item 4): grow a
    stream past the default width's occupancy threshold, compact — the
    sign-prefix index re-emits at a WIDER width derived from the
    corpus size and the _SEM_BITS marker flips — continue the stream,
    and the final verdicts still equal the frozen-default-width batch
    twin (the corpus's near-dup pairs share full-width prefixes by
    construction, so widening cannot split them), while per-bucket
    occupancy provably shrinks."""
    from py_pubsub_pipeline_spark.curation_stream import (
        SEM_ND_BITS, _derive_sem_bits, _sem_frame, semantic_prune_twin,
    )

    # synthetic corpus: disjoint 24-word vocabularies per original (so
    # unrelated docs are never semantically close), plus near-dup
    # variants that append one sign-safe repetition of an existing
    # word (identical sign pattern => same bucket at any width,
    # cosine ~1, different norm_hash so exact dedup passes them on)
    originals, variants_a, variants_b = [], [], []
    for i in range(340):
        words = [f"d{i}w{j}" for j in range(24)]
        text = " ".join(words)
        originals.append({"doc_id": i + 1, "lang": "en",
                          "source": f"s{i % 4}", "text": text})
        rep = _safe_repeat_word(words)
        if rep is not None:
            variants_a.append({"doc_id": 1000 + i, "lang": "en",
                               "source": f"s{i % 4}",
                               "text": text + " " + rep})
            if i < 170:
                words2 = words + [rep]
                rep2 = _safe_repeat_word(words2, exclude={rep})
                if rep2 is not None:
                    variants_b.append({
                        "doc_id": 2000 + i, "lang": "en",
                        "source": f"s{i % 4}",
                        "text": text + " " + rep + " " + rep2})
    assert len(variants_a) > 300 and len(variants_b) > 100

    phase1 = sorted(originals + variants_a, key=lambda r: r["doc_id"])
    phase2 = sorted(variants_b, key=lambda r: r["doc_id"])
    all_rows = phase1 + phase2
    docs_df = spark.createDataFrame(
        all_rows, "doc_id LONG, lang STRING, source STRING, text STRING")
    eval_grams = build_eval_ngram_index(docs_df)

    drop = str(tmp_path / "drop")
    _append_drop_files(phase1, drop, n_files=6, t0=1_700_000_000)
    sink = CurationAdmissionSink(
        str(tmp_path / "out"), eval_grams, semantic=True)
    _drive(spark, sink, drop, str(tmp_path / "ckpt"))

    assert sink._sem_bits() == SEM_ND_BITS
    newest = sink.logs["state"].committed()[-1]
    sink.compact_state(spark, through=newest)
    sink.vacuum_state()
    wide = sink._sem_bits()
    n_sem = sum(1 for _ in sink.logs["sem"].standing(
        spark, 10_000, provenance="src_batch").collect())
    assert wide == _derive_sem_bits(n_sem) > SEM_ND_BITS

    # occupancy boundedness: the widest bucket shrinks under the
    # re-bucketed index vs the same frames at the default width
    sem = sink.logs["sem"].standing(
        spark, 10_000, provenance="src_batch")
    occ = lambda df: max(  # noqa: E731
        r["n"] for r in df.groupBy("bkt").agg(
            F.count("*").alias("n")).collect())
    from py_pubsub_pipeline_spark.curation_stream import _sem_bucket
    assert occ(sem.select(_sem_bucket("emb", wide).alias("bkt"))) < occ(
        sem.select(_sem_bucket("emb", SEM_ND_BITS).alias("bkt")))

    # continue past the width change (with a replay of the first
    # post-compaction batch) — verdicts must match the frozen-width twin
    _append_drop_files(phase2, drop, n_files=2, t0=1_700_000_100)
    _drive(spark, sink, drop, str(tmp_path / "ckpt"),
           crash_epoch=newest + 1)
    assert sink._sem_bits() == wide

    twin_admitted = admission_batch_twin(docs_df)
    verdicts = {r["doc_id"]: r["kept"]
                for r in semantic_prune_twin(twin_admitted).collect()}
    want_kept = sorted(d for d, k in verdicts.items() if k)
    got = sorted(r["doc_id"] for r in sink.read_admitted(spark)
                 .select("doc_id").collect())
    assert got == want_kept
    rejected = {d for d, k in verdicts.items() if not k}
    assert rejected, "corpus must exercise the semantic gate"
    assert {r["doc_id"] for r in sink.read_sem_rejects(spark)
            .select("doc_id").collect()} == rejected
    # phase-2 rejections really happened AGAINST THE WIDENED state
    assert rejected & {r["doc_id"] for r in phase2}


def test_state_format_v2_upgrades_in_place(tmp_path):
    """v2 -> v3 is additive (bases + width marker; running-sum folding
    unchanged), so a v2-marked directory resumes and its marker
    upgrades — while unmarked/foreign layouts still refuse."""
    out = str(tmp_path / "out")
    os.makedirs(out)
    sink = CurationAdmissionSink(out, eval_grams=None)
    marker = os.path.join(out, "_STATE_FORMAT")
    with open(marker, "w") as fh:
        fh.write("v2-running-sums\n")
    sink._assert_state_format()
    with open(marker) as fh:
        assert fh.read().strip() == sink.STATE_FORMAT
    with open(marker, "w") as fh:
        fh.write("v1-per-batch-partials\n")
    with pytest.raises(RuntimeError, match="migrate"):
        sink._assert_state_format()


def test_ttl_eviction_readmits_expired_duplicates(spark, docs, tmp_path):
    """TTL/watermark eviction (VERDICT r13 item 8): documents age out
    of the admission index after a retention horizon, so a re-arriving
    duplicate of an EXPIRED document is admitted again (crawl
    refresh), while duplicates of still-retained documents stay
    rejected; the evicted keys release as an auditable relation;
    provenance survives compaction generations; replaying the eviction
    converges."""
    eval_grams = build_eval_ngram_index(docs)
    rows = _doc_rows(docs)
    # 3 batches of 2 files each (maxFilesPerTrigger=3 -> use 6 files
    # over two drains to pin batch boundaries: 3 files per batch)
    phase1 = rows[:300]
    drop = str(tmp_path / "drop")
    _append_drop_files(phase1, drop, n_files=9, t0=1_700_000_000)
    sink = CurationAdmissionSink(str(tmp_path / "out"), eval_grams)
    _drive(spark, sink, drop, str(tmp_path / "ckpt"))
    batches = sink.logs["state"].committed()
    assert batches == [0, 1, 2]

    def admitted_by_batch(b):
        return {r["norm_hash"] for r in spark.read.parquet(
            os.path.join(str(tmp_path / "out"), "state", f"batch={b}")
        ).collect()}

    b0, b1, b2 = (admitted_by_batch(i) for i in (0, 1, 2))
    # expire batch 0 (cutoff = 2 - 2 = 0)
    sink.compact_state(spark, through=2, ttl_batches=2)
    sink.vacuum_state()
    ev = sink.read_evicted(spark)
    got_ev = {(r["norm_hash"], r["src_batch"], r["horizon"])
              for r in ev.collect()}
    assert {h for h, _s, _h in got_ev} == b0
    assert all(s == 0 and h == 2 for _n, s, h in got_ev)
    # standing view for the NEXT batch excludes the expired keys
    standing = {r["norm_hash"]
                for r in sink.logs["state"].standing(
                    spark, 3, provenance="src_batch").collect()}
    assert standing == (b1 | b2)

    # re-arrivals: duplicates of batch-0 docs are RE-ADMITTED,
    # duplicates of batch-1/2 docs stay rejected
    vd = gate_batch(docs, eval_grams).select(
        "doc_id", "norm_hash").collect()
    hash_of = {r["doc_id"]: r["norm_hash"] for r in vd}
    import hashlib

    def not_eval(i):
        # skip re-arrival ids the md5 eval gate would claim (those are
        # excluded as benchmark docs, not dedup-rejected — orthogonal)
        return hashlib.md5(str(i).encode()).hexdigest()[:2] >= "08"

    redo = [dict(r, doc_id=r["doc_id"] + 50_000) for r in phase1
            if hash_of.get(r["doc_id"]) in (b0 | b1 | b2)
            and not_eval(r["doc_id"] + 50_000)]
    _append_drop_files(redo, drop, n_files=1, t0=1_700_000_100)
    _drive(spark, sink, drop, str(tmp_path / "ckpt"))
    readmitted = {hash_of[r["doc_id"] - 50_000] for r in
                  sink.read_admitted(spark).select("doc_id").collect()
                  if r["doc_id"] >= 50_000}
    assert readmitted == {hash_of[r["doc_id"] - 50_000] for r in redo
                          if hash_of[r["doc_id"] - 50_000] in b0}
    assert readmitted
    # replaying the compaction converges (same horizon -> no-op)
    assert sink.compact_state(spark, through=2, ttl_batches=2) == {
        "state": "base=2"}
    assert {(r["norm_hash"], r["src_batch"], r["horizon"])
            for r in sink.read_evicted(spark).collect()} == got_ev

    # second generation: compact through the re-admission batch with
    # the same TTL — batch-1 rows (folded INTO base=2 earlier) now age
    # out, proving provenance survives the first rewrite
    newest = sink.logs["state"].committed()[-1]
    sink.compact_state(spark, through=newest, ttl_batches=2)
    ev2 = {(r["norm_hash"], r["src_batch"]) for r in
           sink.read_evicted(spark).filter(
               F.col("horizon") == newest).collect()}
    assert {(h, s) for h, s in ev2 if s == 1} == {(h, 1) for h in b1}
    standing2 = {r["norm_hash"]
                 for r in sink.logs["state"].standing(
                     spark, newest + 1, provenance="src_batch").collect()}
    assert not (standing2 & b1)
