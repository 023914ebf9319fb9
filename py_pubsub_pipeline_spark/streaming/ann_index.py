"""Streaming IVF-PQ INDEX MAINTENANCE (round 13): the serving ladder's
missing write path.

The ANN keys serve off a codes relation materialized once per corpus
(the FAISS persist-the-index discipline, queries/similarity.py) — but
a production corpus is INGESTED, not given: new vectors arrive in
micro-batches and must enter the index without rebuilding it.  FAISS
separates `train` (fix the codebooks) from `add` (encode new vectors
against the FIXED codebooks); this sink is `add` as a foreachBatch
stage:

  - per trigger, the batch's vectors route + encode MAP-SIDE against
    the one-row broadcast coarse-centroid array and residual codebook
    (the same `_ivfpq_assign` / code-expr arithmetic every search key
    uses — encoding is per-row deterministic, so a streamed index is
    VALUE-IDENTICAL to a batch-built one over the same vectors);
  - the 10-int-per-vector codes land as one partition of an
    IdempotentParquetSink log (pipeline.py), the owner of the
    batch-partition layout, its ``_SUCCESS`` commit rule, the
    base-plus-deltas read and vacuum — so the at-least-once replay
    window converges byte-identically;
  - `read_index` is that log's committed relation: exactly the codes
    relation `_ivfpq_search` scans, so search-over-streamed-index is
    the registered plan with a different provenance.

Scale: per-trigger cost is O(batch) encode work (two broadcast
crossJoins against one-row codebook tables — no shuffle); the index
grows by appended partitions, never rewrites.  ``compact`` folds the
committed batches into one ``base={through}`` relation, incrementally
(newest earlier base plus the deltas after it), so a months-long
ingest reads O(deltas since compaction) files instead of one per
trigger since stream birth; ``vacuum`` expires the folded partitions.
Correctness is untouched because the relation stays a plain union and
encoding is per-row deterministic (pytest: read-identity pre/post
compaction, replay-after-compaction convergence, O(1) files for
compacted ranges, torn bases ignored).

Reference anchor: this is the pipeline's R9/R10 publish-then-commit
shape (pubsub_pipeline.py:48-52 ack-after-publish) applied to index
artifacts instead of messages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import IdempotentParquetSink


class IvfpqIndexSink:
    """foreachBatch sink that appends IVF-PQ codes for each arriving
    vector batch, encoding against FIXED (trained or sample-init)
    codebooks supplied at construction — FAISS's `add` phase.  The
    codes land in the IdempotentParquetSink log ``log`` (``batch=N``
    per trigger, ``base=B`` per compaction).

    ``cenball``: one-row DataFrame with a ``cents`` array of
    (cid, ce) structs (``_ivfpq_cenball``'s output).
    ``cbball``: one-row DataFrame with the ``cb[m][k]`` nested
    residual-codebook array (``_ivfpq_cb_init`` / ``_ivfpq_cb_train``
    output, or a fixture read).
    """

    def __init__(self, path: str, cenball: DataFrame, cbball: DataFrame):
        self.path = path
        self.log = IdempotentParquetSink(path)
        self.cenball = cenball
        self.cbball = cbball

    def _codes(self, spark: SparkSession,
               before: int | None = None) -> DataFrame | None:
        # Schema declared (the codes contract shared with
        # _ivfpq_encode) so the serve path skips the per-call parquet
        # footer inference.
        from ..queries.similarity import _IVFPQ_CODES_DDL

        return self.log.standing(spark, before, schema=_IVFPQ_CODES_DDL)

    def compact(self, spark: SparkSession,
                through: int | None = None) -> str:
        """Fold the committed ``batch=N`` code partitions with
        N <= ``through`` (newest committed batch when None) into ONE
        resolved ``base={through}`` relation — compact_manifest's
        stage-then-commit discipline (sources/io.py) applied to index
        state, and the exact shape MorUpsertSink.compact gave the MoR
        table in round 13.  Incremental: the rewrite reads the newest
        earlier base (if any) plus only the batch partitions after it,
        so repeated maintenance is O(deltas since last compaction),
        never O(stream age).  The folded batch partitions are NOT
        deleted here (``vacuum`` expires them); a replayed folded
        batch rewrites its dir byte-identically and ``read_index``
        ignores it (its id is covered by the base), so at-least-once
        replay around a compaction converges."""
        batches = self.log.committed()
        bases = self.log.committed("base")
        if through is None:
            if not batches:
                if bases:
                    # fully-vacuumed quiescent index: a maintenance
                    # no-op, not an error (read_index serves the base)
                    return f"base={max(bases)}"
                raise FileNotFoundError(
                    f"no committed index batches: {self.path}")
            through = max(batches)
        through = int(through)
        if through in bases:
            # the committed base and its deterministic content make
            # replay a no-op (and a base a concurrent read may be
            # scanning must not be rewritten)
            return f"base={through}"
        folded = self._codes(spark, through + 1)
        if folded is None:
            raise FileNotFoundError(
                f"nothing committed at or below batch {through}: "
                f"{self.path}")
        self.log.write(folded, through, "base")
        return f"base={through}"

    def vacuum(self) -> list[str]:
        """Expire the partitions the newest base covers (the log's
        vacuum); returns the removed partition names."""
        return self.log.vacuum()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..queries.similarity import _ivfpq_assign, _ivfpq_encode

        res = _ivfpq_assign(batch_df.select("vec_id", "e"), self.cenball)
        self.log.write(_ivfpq_encode(res, self.cbball), epoch_id)

    def read_index(self, spark: SparkSession) -> DataFrame:
        """The committed codes relation — the exact input
        `_ivfpq_search` scans (vec_id, cell, code_0..code_{M-1}).
        Starts from the newest compaction base (which folds every
        batch id <= its seq) and unions only the batch partitions
        appended after it — O(deltas since compaction) files, with
        replayed pre-base batch dirs excluded by construction."""
        out = self._codes(spark)
        if out is None:
            raise FileNotFoundError(f"no committed index batches: "
                                    f"{self.path}")
        return out
