"""The streaming pipeline core — reference-parity surface.

Reference contract (/root/reference/pubsub_pipeline.py:61-130, "P"):
pull messages -> deserialize (P:55-57) -> processor (P:62) ->
serialize (P:27-28) -> publish (P:190-193) -> ack only after publish
succeeds (P:31-52, contract at P:74-84). Rebuilt on Structured
Streaming:

- micro-batch pull       -> readStream + per-trigger admission
                            (maxFilesPerTrigger / source bulk_limit)
- deserialize/serialize  -> pluggable codecs; default JSON (P:55-57,
                            P:27-28); Column-expression fast path via
                            F.from_json/to_json when a schema is given
- processor              -> Column expressions (Catalyst-visible) or
                            opaque Python via Arrow-batched mapInPandas;
                            the bulk variant (P:214-242) is the natural
                            shape here: one Python call per Arrow batch
- publish + ack-after    -> foreachBatch(sink): Structured Streaming
                            commits source offsets to the checkpoint
                            only AFTER the batch sink returns — same
                            ordering as the reference's Acknowledger,
                            same at-least-once window (publish ok +
                            commit lost => duplicates, exactly P:48-52)
- graceful shutdown      -> SIGINT/SIGTERM -> query.stop() (P:15-24)
- bounded run            -> trigger(availableNow=True) drains & stops
                            (P:132-166's max_processed_messages, but
                            count-based equality bugs avoided: P:161-164
                            never terminates if a batch overshoots)

When the batch is cached: only with a dead-letter queue. The DLQ path
runs two actions on each micro-batch (the quarantine write, then the
sink), so it persists the batch and the processor runs once per
message. Without one, a failing message fails the batch, nothing is
left to filter, and the batch goes to the sink uncached: a one-action
sink (collect, one write) runs the processor once, and a sink that runs
more actions caches the batch itself, as `MorUpsertSink` does.

Divergence from the reference, by design: the bulk variant's
positional zip (P:232) silently truncates on length mismatch; here a
bulk processor returning the wrong number of results raises.
"""

from __future__ import annotations

import json
import logging
import os
import signal
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

log = logging.getLogger(__name__)

# ---------------------------------------------------------------- codecs


def _tree_parquet_bytes(path: str) -> int:
    """Total parquet bytes under ``path``, recursively (a partitioned
    or nested write must never be undercounted)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files if f.endswith(".parquet")
        )
    return total


def byte_load_json(data: bytes) -> Any:
    """Default message deserializer (mirrors P:55-57)."""
    return json.loads(data.decode("utf-8"))


def byte_encode_json(result: Any) -> bytes:
    """Default result serializer (mirrors P:27-28)."""
    return json.dumps(result).encode("utf-8")


# ---------------------------------------------------------------- sources


class FileStreamSource:
    """Streaming source over a drop directory of newline-delimited
    message files — the default test/integration path (SURVEY.md §3.3:
    the reference's TestClient publish loop becomes 'write a file').

    Emits the Kafka-style column convention: value BINARY.
    """

    def __init__(self, path: str, max_files_per_trigger: int | None = 20):
        self.path = path
        self.max_files_per_trigger = max_files_per_trigger

    def read_stream(self, spark: SparkSession) -> DataFrame:
        reader = spark.readStream.format("text")
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return reader.load(self.path).select(
            F.col("value").cast("binary").alias("value")
        )


# ---------------------------------------------------------------- sinks


class DirectorySink:
    """Publish each result as a line in per-batch files under a
    directory 'topic'. Write happens inside foreachBatch, before the
    engine commits offsets -> ack-after-publish ordering (P:82-84)."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.select(F.col("value").cast("string"))
            .write.mode("append")
            .format("text")
            .save(self.path)
        )


class IdempotentParquetSink:
    """Effectively-once sink (the R10 upgrade path SURVEY §2A names):
    each micro-batch writes to a BATCH-ID-KEYED directory with
    overwrite semantics, so a replayed batch (publish succeeded,
    offset commit lost — the at-least-once window) overwrites its own
    previous output instead of appending a duplicate. Batch id is
    stable across restarts from the same checkpoint, which is what
    makes the overwrite idempotent."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .parquet(os.path.join(self.path, f"batch={epoch_id}"))
        )

    def read_all(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("basePath", self.path).parquet(
            os.path.join(self.path, "batch=*")
        )


class MergeUpsertSink:
    """Streaming MERGE materialization (the lakehouse upsert view,
    batch twin: queries/timeseries.cdc_latest_state): each micro-batch
    folds into a key-compacted latest-wins snapshot via
    stage-then-atomic-swap, so concurrent readers never observe
    partial state and a replayed batch (the at-least-once window)
    CONVERGES instead of duplicating — max-by merge is idempotent:
    merge(snapshot, batch) == merge(merge(snapshot, batch), batch).

    Scale: each trigger re-compacts snapshot ∪ batch with one window
    pass partitioned on the key — the plain-parquet analog of a
    Delta/Iceberg MERGE INTO; for snapshots too large to rewrite per
    trigger, partition the snapshot by key-hash and rewrite only the
    partitions the batch touches (same swap discipline per
    partition)."""

    def __init__(self, path: str, key: str, order: list[str]):
        self.path = path
        self.key = key
        self.order = order  # total order; latest (max) wins

    def _snapshot_dir(self) -> str:
        return os.path.join(self.path, "current")

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        cur_dir = self._snapshot_dir()
        merged = batch_df
        if os.path.exists(os.path.join(cur_dir, "_SUCCESS")):
            merged = spark.read.parquet(cur_dir).unionByName(batch_df)
        w = Window.partitionBy(self.key).orderBy(
            *[F.col(c).desc() for c in self.order]
        )
        compacted = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        stage = os.path.join(self.path, f"stage-{epoch_id}")
        compacted.write.mode("overwrite").parquet(stage)
        old = os.path.join(self.path, f"old-{epoch_id}")
        if os.path.exists(cur_dir):
            os.rename(cur_dir, old)
        os.rename(stage, cur_dir)
        if os.path.exists(old):
            import shutil

            shutil.rmtree(old, ignore_errors=True)

    def read_snapshot(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._snapshot_dir())


class MorUpsertSink:
    """MERGE-ON-READ streaming upsert sink (Iceberg v2 equality
    deletes — the write shape streaming CDC actually produces, closing
    the loop `scan_equality_deletes` reads): each micro-batch appends

      1. a DATA file  — the batch's rows, batch-locally compacted to
         latest-wins per key (so key is unique within a sequence);
      2. an equality-DELETE file — just the batch's key values, which
         apply to data files with SMALLER sequence numbers (the v2
         rule: a delete never touches its own or later sequences);
      3. a commit-log entry keyed by batch id (tmp + atomic rename).

    NOTHING is rewritten — per-trigger write cost is O(batch), never
    O(table), which is the property that matters at 100 TB ingest
    rates (MergeUpsertSink above rewrites the whole snapshot per
    trigger: correct, but copy-on-write).  Replay safety: all three
    artifacts are batch-id-keyed with overwrite semantics, so the
    at-least-once window converges byte-identically instead of
    duplicating.

    The read side (`read_snapshot`) is the MOR contract: union the
    committed data files tagged with their sequence number, broadcast
    the union of committed delete files, and anti-join on
    (same key AND delete.seq > row.seq).  Scale: delete files are
    keys-sized and broadcast below a size gate (shuffled anti join
    past it — same plan, one more exchange); `compact` folds the
    accumulated deltas into a resolved base file off the ingest path
    (reads then union only post-base deltas) and `vacuum` expires the
    superseded files, so neither the read plan nor the directory
    grows with table age."""

    def __init__(self, path: str, key: str, order: list[str]):
        self.path = path
        self.key = key
        self.order = order  # total order within a batch; max wins

    def _commit_dir(self) -> str:
        return os.path.join(self.path, "commits")

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        import json
        from pyspark.sql import Window

        w = Window.partitionBy(self.key).orderBy(
            *[F.col(c).desc() for c in self.order]
        )
        compacted = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        data_rel = f"data-{epoch_id}"
        del_rel = f"delete-{epoch_id}"
        # Two writes of one batch: cache it so the second does not
        # re-run the pipeline's processor (foreachBatch rule).
        compacted.persist()
        try:
            compacted.write.mode("overwrite").parquet(
                os.path.join(self.path, data_rel))
            compacted.select(self.key).write.mode("overwrite").parquet(
                os.path.join(self.path, del_rel))
        finally:
            compacted.unpersist()
        os.makedirs(self._commit_dir(), exist_ok=True)
        entry = os.path.join(self._commit_dir(), f"{epoch_id}.json")
        tmp = entry + ".tmp"
        with open(tmp, "w") as fh:
            # del_bytes and fields are read-side metadata recorded at
            # WRITE time (Iceberg's manifest posture): the snapshot
            # read sizes its broadcast gate from the commit log it
            # already parses — zero filesystem walks per serve call —
            # and checks the batch's column names against the first
            # commit's, so name-level schema drift fails LOUDLY at
            # read time instead of silently nulling/truncating under
            # the shared declared schema.
            json.dump({"seq": int(epoch_id), "data": data_rel,
                       "deletes": del_rel,
                       "del_bytes": _tree_parquet_bytes(
                           os.path.join(self.path, del_rel)),
                       "fields": compacted.schema.fieldNames()}, fh)
        os.replace(tmp, entry)

    def _commits(self) -> list[dict]:
        import json

        out = []
        cdir = self._commit_dir()
        if os.path.isdir(cdir):
            for name in sorted(os.listdir(cdir)):
                if name.endswith(".json"):
                    with open(os.path.join(cdir, name)) as fh:
                        out.append(json.load(fh))
        return sorted(out, key=lambda c: c["seq"])

    # Broadcast the delete union only while its on-disk footprint is
    # comfortably inside executor memory; past this, fall back to a
    # shuffled anti join (same plan, one more exchange) instead of
    # forcing a driver-side OOM with an unconditional hint.
    BROADCAST_DELETE_BYTES = 64 * 1024 * 1024

    def _compaction_dir(self) -> str:
        return os.path.join(self.path, "compactions")

    def _compactions(self) -> list[int]:
        """Committed compaction sequence numbers, ascending."""
        import json

        out = []
        cdir = self._compaction_dir()
        if os.path.isdir(cdir):
            for name in sorted(os.listdir(cdir)):
                if name.endswith(".json"):
                    with open(os.path.join(cdir, name)) as fh:
                        out.append(int(json.load(fh)["seq"]))
        return sorted(out)

    def read_snapshot(self, spark: SparkSession,
                      through: int | None = None) -> DataFrame:
        """Resolve the MoR table as of sequence ``through`` (latest
        when None): start from the newest committed BASE file at or
        below ``through`` (a prior ``compact`` output — already
        latest-wins-resolved, tagged with the compaction's sequence
        so later deletes apply to it exactly as they would to the
        per-row originals, all of which are <= the base seq), union
        the delta data files after it, and anti-join against ONLY the
        post-base delete files.  With no compaction this is the plain
        v2 resolution; after one, the read unions O(deltas since
        compaction) files — ZERO delete files from compacted
        sequences — instead of one per trigger since table birth."""
        commits = [c for c in self._commits()
                   if through is None or c["seq"] <= through]
        comps = [s for s in self._compactions()
                 if through is None or s <= through]
        base_seq = max(comps) if comps else None
        live = [c for c in commits
                if base_seq is None or c["seq"] > base_seq]

        # Every file under this sink shares the ingest batch schema
        # (base files are resolved snapshots of the same columns, and
        # delete files are `select(key)` of it — see __call__), so
        # parquet schema inference runs ONCE for the whole read
        # instead of once per relation: each uninferred
        # spark.read.parquet costs a driver-side footer read (~0.1 s),
        # and a snapshot over K deltas paid it 2K+1 times.  Drift
        # detection under the shared schema: TYPE-incompatible drift
        # still fails at scan time, but NAME-level drift (a commit
        # that dropped or added a column) would be silently read as
        # nulls / truncated — so each commit's column names, recorded
        # in its commit-log entry at write time, are checked against
        # the resolved schema below and mismatches raise before any
        # scan.  Pre-r15 commit entries without the field carry no
        # check (their drift detection is delegated to the parity
        # gates, which hash every value).
        data_schema = None

        def _read_data(rel: str) -> DataFrame:
            nonlocal data_schema
            p = os.path.join(self.path, rel)
            if data_schema is None:
                df = spark.read.parquet(p)
                data_schema = df.schema
                return df
            return spark.read.schema(data_schema).parquet(p)

        data = None
        dels = None
        del_bytes = 0
        if base_seq is not None:
            data = _read_data(f"base-{base_seq}").withColumn(
                "__seq", F.lit(base_seq).cast("long"))
        for c in live:
            # the broadcast gate sizes from the commit log (recorded
            # at write time) — zero filesystem walks on the serve
            # path; pre-r15 entries without the field fall back to
            # one recursive walk (recursive so a partitioned/nested
            # delete write is never undercounted into an oversized
            # broadcast — the exact OOM the gate exists to prevent)
            if "del_bytes" in c:
                del_bytes += int(c["del_bytes"])
            else:
                del_bytes += _tree_parquet_bytes(
                    os.path.join(self.path, c["deletes"]))
        for c in live:
            d = _read_data(c["data"]).withColumn(
                "__seq", F.lit(c["seq"]).cast("long"))
            # by NAME, as a set: the by-name parquet read and
            # unionByName resolve a reordered commit correctly
            want = c.get("fields")
            if want is not None and set(want) != set(
                    data_schema.fieldNames()):
                raise ValueError(
                    f"MoR schema drift at seq {c['seq']}: commit "
                    f"recorded columns {want} but the snapshot "
                    f"resolves with {data_schema.fieldNames()}"
                )
            data = d if data is None else data.unionByName(d)
            del_schema = StructType([data_schema[self.key]])
            dl = spark.read.schema(del_schema).parquet(
                os.path.join(self.path, c["deletes"])
            ).select(
                F.col(self.key).alias("__del_key"),
                F.lit(c["seq"]).cast("long").alias("__del_seq"),
            )
            dels = dl if dels is None else dels.unionByName(dl)
        if data is None:
            raise FileNotFoundError(f"no commits under {self.path}")
        if dels is None:
            return data.drop("__seq")
        if del_bytes <= self.BROADCAST_DELETE_BYTES:
            dels = F.broadcast(dels)
        live_rows = data.join(
            dels,
            (data[self.key] == dels["__del_key"])
            & (dels["__del_seq"] > data["__seq"]),
            "left_anti",
        )
        return live_rows.drop("__seq")

    def compact(self, spark: SparkSession,
                through: int | None = None) -> str:
        """Fold the accumulated data/delete deltas up to ``through``
        (latest committed sequence when None) into ONE resolved base
        file — the `compact_manifest` discipline (sources/io.py)
        applied to the MoR write loop, closing the deferral in this
        class's docstring: a long-running ingest no longer grows the
        read-side delete union without bound.

          1. stage: write the resolved snapshot through ``through``
             (itself served off any earlier base — compaction is
             incremental) as ``base-{through}`` (overwrite mode — a
             replayed compaction converges);
          2. commit: an atomic tmp-then-rename marker under
             compactions/ — the same commit discipline as ingest.

        The compacted delta files are NOT deleted: pre-compaction
        time travel (read_snapshot(through=S) for S < ``through``)
        keeps resolving byte-identically until ``vacuum`` expires
        them — exactly compact_manifest's orphan rule.  Scale: the
        rewrite is one pass over live rows; post-compaction reads
        union O(deltas since) files instead of O(table age)."""
        import json

        commits = self._commits()
        comps = self._compactions()
        if not commits:
            covering = [s for s in comps
                        if through is None or s <= through]
            if covering:
                # fully-vacuumed quiescent table: everything at or
                # below the requested point already lives in a base —
                # a maintenance no-op, not an error (the table reads
                # fine via read_snapshot), whether the caller pinned
                # an explicit sequence or asked for "latest"
                return f"base-{max(covering)}"
            raise FileNotFoundError(f"no commits under {self.path}")
        if through is None:
            through = max(c["seq"] for c in commits)
        if through in comps:
            # the marker IS the commit point and its content is
            # deterministic — a replay after commit is a no-op (and
            # must not overwrite the base file a concurrent read may
            # be resolving against / this read would source from)
            return f"base-{through}"
        snap = self.read_snapshot(spark, through=through)
        rel = f"base-{through}"
        snap.write.mode("overwrite").parquet(
            os.path.join(self.path, rel))
        os.makedirs(self._compaction_dir(), exist_ok=True)
        entry = os.path.join(self._compaction_dir(), f"{through}.json")
        tmp = entry + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"seq": int(through), "base": rel}, fh)
        os.replace(tmp, entry)
        return rel

    def vacuum(self, retain_from: int) -> list[str]:
        """Expire delta files superseded by a compaction, enforcing
        vacuum_manifest's protection rule: a relation is deletable iff
        NO read with through >= ``retain_from`` can need it.  A read
        at T starts from the newest base <= T, so with B = the newest
        compaction <= retain_from, every data/delete delta with
        seq <= B and every older base is dead weight for the retained
        window.  Deletes them (and their commit entries) and returns
        the removed relation names; time travel below ``retain_from``
        is the caller's contract to give up, exactly as with
        vacuum_manifest."""
        import shutil

        comps = self._compactions()
        protected = max((s for s in comps if s <= retain_from),
                        default=None)
        if protected is None:
            return []
        deleted = []
        for c in self._commits():
            if c["seq"] <= protected:
                for rel in (c["data"], c["deletes"]):
                    p = os.path.join(self.path, rel)
                    if os.path.isdir(p):
                        shutil.rmtree(p)
                        deleted.append(rel)
                os.remove(os.path.join(self._commit_dir(),
                                       f"{c['seq']}.json"))
        for s in comps:
            if s < protected:
                p = os.path.join(self.path, f"base-{s}")
                if os.path.isdir(p):
                    shutil.rmtree(p)
                    deleted.append(f"base-{s}")
                os.remove(os.path.join(self._compaction_dir(),
                                       f"{s}.json"))
        return deleted


class CollectingSink:
    """Test sink: collects payloads driver-side; optionally fails to
    exercise the no-commit-on-failure path (reference test T:87-104)."""

    def __init__(self, fail: bool = False):
        self.rows: list[bytes] = []
        self.fail = fail

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self.fail:
            raise RuntimeError("sink failure (injected)")
        self.rows.extend(r["value"] for r in batch_df.select("value").collect())


# ---------------------------------------------------------- observability


class PipelineMetricsListener:
    """R13 observability (reference logs each stage of every cycle:
    pull P:143-145, process/publish P:156-158, ack P:178-184). The
    Structured-Streaming analog is a StreamingQueryListener: one
    progress event per micro-batch carrying rows-in, per-stage
    durations, and — via the Dataset.observe() hook installed by
    SparkPipeline — the exact rows-out count the sink published.

    Collected records (``batches``) are plain dicts, queryable by
    tests and ops tooling; each batch also logs one line at the
    reference's granularity. onQueryTerminated carries the commit
    status of the run as a whole (exception => batch NOT committed)."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.terminated: dict | None = None
        self._delegate = None

    # -- StreamingQueryListener protocol (duck-typed via _listener()) --

    def _on_progress(self, progress) -> None:  # noqa: ANN001
        observed = progress.observedMetrics.get("pipeline")
        obs = observed.asDict() if observed is not None else {}
        rec = {
            "batch_id": progress.batchId,
            "rows_in": progress.numInputRows,
            "rows_out": obs.get("rows_out"),
            "rows_dlq": obs.get("rows_dlq") or 0,
            "duration_ms": dict(progress.durationMs or {}),
            "timestamp": progress.timestamp,
        }
        self.batches.append(rec)
        log.info(
            "batch %d: pulled %d, published %s, committed "
            "(addBatch %sms, commitOffsets %sms)",
            rec["batch_id"], rec["rows_in"], rec["rows_out"],
            rec["duration_ms"].get("addBatch"),
            rec["duration_ms"].get("commitOffsets"),
        )

    def _on_terminated(self, event) -> None:  # noqa: ANN001
        self.terminated = {
            "query_id": str(event.id),
            "exception": event.exception,
            "committed": event.exception is None,
        }
        if event.exception is None:
            log.info("query %s terminated cleanly", event.id)
        else:
            log.error("query %s FAILED (batch not committed): %s",
                      event.id, event.exception)

    def _listener(self):  # noqa: ANN202
        """Build the pyspark StreamingQueryListener wrapping this
        collector (kept separate so the collector itself stays a plain
        picklable object with no JVM references)."""
        if self._delegate is not None:
            return self._delegate
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:  # noqa: ANN001
                log.info("query %s started (run %s)", event.id, event.runId)

            def onQueryProgress(self, event) -> None:  # noqa: ANN001
                outer._on_progress(event.progress)

            def onQueryIdle(self, event) -> None:  # noqa: ANN001
                pass

            def onQueryTerminated(self, event) -> None:  # noqa: ANN001
                outer._on_terminated(event)

        self._delegate = _L()
        return self._delegate

    # -- convenience for tests/ops --

    def totals(self) -> dict:
        return {
            "batches": len(self.batches),
            "rows_in": sum(b["rows_in"] for b in self.batches),
            "rows_out": sum(b["rows_out"] or 0 for b in self.batches),
            "rows_dlq": sum(b.get("rows_dlq", 0) for b in self.batches),
        }


# ------------------------------------------------------------- shutdown


class GracefulKiller:
    """SIGINT/SIGTERM -> stop the streaming queries at the next safe
    point (mirrors P:15-24; pre-emptible-VM-friendly per P:86-88).

    Signal handlers belong to the process, so there is one killer per
    process (`KILLER`): every pipeline's queries register with it and a
    signal stops them all. The handlers are installed by the first
    `watch()`, not at import."""

    def __init__(self) -> None:
        self.kill_now = False
        self._queries: list[Any] = []
        self._installed = False

    def watch(self, query: Any) -> None:
        self._queries.append(query)
        if not self._installed:
            try:
                signal.signal(signal.SIGINT, self._exit)
                signal.signal(signal.SIGTERM, self._exit)
                self._installed = True
            except ValueError:
                pass  # not on the main thread (tests) — flag-only mode

    def unwatch(self, query: Any) -> None:
        if query in self._queries:
            self._queries.remove(query)

    def _exit(self, signum, frame) -> None:  # noqa: ANN001
        self.kill_now = True
        for q in list(self._queries):
            try:
                q.stop()
            except Exception:  # noqa: BLE001
                log.exception("stop failed")


KILLER = GracefulKiller()


# ------------------------------------------------------------- pipeline


@dataclass
class SparkPipeline:
    """Structured-Streaming port of PubSubPipeline / BulkPubSubPipeline
    (ctor contract at P:61-73, P:97-130).

    processor: opaque Python Callable[[A], B] (P:62), or with
        bulk=True Callable[[list[A]], list[B]] (P:216); applied via
        Arrow-batched mapInPandas — one Python invocation per batch,
        the reference's Bulk amortization (P:225-231) for free.
    column_processor: the Spark-first fast path — a function
        DataFrame -> DataFrame over the decoded frame; stays JVM-side,
        Catalyst sees through it. Mutually exclusive with processor.

    The sink follows Spark's `foreachBatch` rule: each action on the
    batch DataFrame recomputes it from the source, processor included.
    A sink that runs more than one action on its batch caches the batch
    itself (persist, then unpersist in a `finally`); the pipeline caches
    it only on the dead-letter path, which runs two actions of its own.
    """

    spark: SparkSession
    source: Any
    sink: Callable[[DataFrame, int], None]
    processor: Callable[[Any], Any] | None = None
    column_processor: Callable[[DataFrame], DataFrame] | None = None
    message_deserializer: Callable[[bytes], Any] = byte_load_json
    result_serializer: Callable[[Any], bytes] = byte_encode_json
    bulk: bool = False
    checkpoint_dir: str | None = None
    # Dead-letter queue: when set, a message whose decode/process/
    # serialize raises is quarantined to this directory (parquet:
    # value=original payload, error, batch_id) INSTEAD of failing the
    # micro-batch — the stream keeps committing past poison input.
    # (The reference crashes on the first bad message, P:57; at 100 TB
    # a DLQ is table stakes — SURVEY §1.2's _corrupt_record policy.)
    # None (default) keeps reference-parity fail-the-batch semantics.
    dead_letter_dir: str | None = None
    killer: GracefulKiller = KILLER
    # R13: per-batch metrics (rows in/out, stage durations, commit
    # status) — populated by the listener process() attaches.
    metrics: PipelineMetricsListener = field(
        default_factory=PipelineMetricsListener
    )

    def _transformed(self) -> DataFrame:
        from .session import ensure_package_on_workers

        ensure_package_on_workers(self.spark)
        df = self.source.read_stream(self.spark)
        if self.column_processor is not None:
            if self.dead_letter_dir is not None:
                raise ValueError(
                    "dead_letter_dir applies to the Python processor path; "
                    "for column_processor pipelines use from_json's "
                    "_corrupt_record / try_* expressions instead"
                )
            return self.column_processor(df)

        deserialize = self.message_deserializer
        serialize = self.result_serializer
        processor = self.processor or (lambda x: x)
        is_bulk = self.bulk
        quarantine = self.dead_letter_dir is not None

        def one(raw: bytes) -> bytes:
            return serialize(
                processor([deserialize(raw)])[0]
                if is_bulk
                else processor(deserialize(raw))
            )

        def run_batches(batches: Iterator) -> Iterator:  # pandas iterator
            import pandas as pd

            for pdf in batches:
                raws = [bytes(v) for v in pdf["value"]]
                values: list[bytes]
                errors: list[str | None] = [None] * len(raws)
                try:
                    payloads = [deserialize(r) for r in raws]
                    if is_bulk:
                        results = processor(payloads)
                        if len(results) != len(payloads):
                            # Divergence from P:232 (silent zip truncation):
                            raise ValueError(
                                "bulk processor returned "
                                f"{len(results)} results for {len(payloads)} inputs"
                            )
                    else:
                        results = [processor(p) for p in payloads]
                    values = [serialize(r) for r in results]
                except Exception:
                    if not quarantine:
                        raise
                    # Poison isolation: re-run per message (bulk
                    # processors get singleton lists — same contract);
                    # failures keep the ORIGINAL payload + the error.
                    values, errors = [], []
                    for raw in raws:
                        try:
                            values.append(one(raw))
                            errors.append(None)
                        except Exception as e:  # noqa: BLE001
                            values.append(raw)
                            errors.append(f"{type(e).__name__}: {e}")
                out = {"value": values}
                if quarantine:
                    out["error"] = pd.array(errors, dtype=object)
                yield pd.DataFrame(out)

        return df.mapInPandas(
            run_batches, "value binary, error string" if quarantine else "value binary"
        )

    def process(self, *, available_now: bool = True) -> Any:
        """Run the pipeline. available_now=True drains everything
        currently available and stops — across as many micro-batches as
        bulk_limit requires (the bounded-run replacement for P:132-166's
        max_processed_messages; processAllAvailable, not the availableNow
        trigger, because the latter stops after a single batch of a
        rate-capped custom source). False runs continuously until
        stop()/signal. Returns the StreamingQuery."""
        # observe() rides the batch itself (no extra job): the exact
        # published-row count lands in each progress event, which the
        # metrics listener collects (R13; foreachBatch sinks otherwise
        # report no output-row metric).
        out = self._transformed()
        dlq = self.dead_letter_dir
        obs = [F.count(F.lit(1)).alias("rows_out")]
        if dlq is not None:
            obs.append(
                F.sum(
                    F.when(F.col("error").isNotNull(), 1).otherwise(0)
                ).alias("rows_dlq")
            )
        out = out.observe("pipeline", *obs)

        # Without a DLQ the batch goes to the sink uncached (see the
        # class docstring's foreachBatch rule).
        sink_fn = self.sink
        if dlq is not None:
            inner = self.sink

            def sink_fn(batch_df: DataFrame, epoch_id: int) -> None:
                # Persist: the DLQ write and the sink must not re-run
                # the processor (double side effects) for each action.
                batch_df.persist()
                try:
                    bad = batch_df.filter(F.col("error").isNotNull())
                    if bad.limit(1).count():
                        (
                            bad.select(
                                "value", "error",
                                F.lit(epoch_id).alias("batch_id"),
                            )
                            .write.mode("append")
                            .parquet(dlq)
                        )
                    # The user sink keeps its value-only contract; the
                    # DLQ write above happens first, so a sink failure
                    # still aborts the batch AFTER quarantine is durable.
                    inner(
                        batch_df.filter(F.col("error").isNull())
                        .select("value"),
                        epoch_id,
                    )
                finally:
                    batch_df.unpersist()

        self.spark.streams.addListener(self.metrics._listener())
        writer = out.writeStream.foreachBatch(sink_fn)
        if self.checkpoint_dir:
            writer = writer.option("checkpointLocation", self.checkpoint_dir)
        query = writer.start()
        self.killer.watch(query)
        if available_now:
            try:
                query.processAllAvailable()
                ex = query.exception()
                if ex is not None:
                    raise ex
            finally:
                query.stop()
                self.killer.unwatch(query)
                # Listener events are delivered async; for the bounded
                # run give the terminated event a moment to land so
                # callers can read metrics immediately after process().
                import time as _t

                for _ in range(50):
                    if self.metrics.terminated is not None:
                        break
                    _t.sleep(0.1)
                self.spark.streams.removeListener(self.metrics._listener())
        return query
