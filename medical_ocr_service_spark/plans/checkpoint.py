"""Checkpointed, resumable extraction runs (north_rule: resumability).

The reference recovers a crashed queue by flipping PROCESSING->QUEUED rows and
re-reading QUEUED from Postgres (/root/reference/src/services/job-queue.service.js:127-162).
Spark-first equivalent: the *output table is the checkpoint*. Pending work =
anti-join of the input docs against the doc_ids already present in the output
snapshot; a resumed run recomputes only unprocessed documents, and the atomic
snapshot commit of each run keeps exactly-once per doc_id.

Per-partition lineage + counters (Q5): every run writes a _lineage/<run_id>.json
with observed metrics (docs processed, spans emitted, parse failures) captured
via df.observe() — the Spark analogue of the reference's per-batch counters
(job-queue.service.js:88-117).

At 10^12-doc scale the anti-join is a shuffle-free pushdown when the output is
partitioned by the same doc_id hash-bucket as the input (bucket-join); here we
rely on AQE planning over parquet.

Storage: results and quarantine are SnapshotTables (sources/snapshot_table.py).
Every run is one atomic snapshot commit carrying its lineage counters in the
manifest summary; a crashed run commits nothing, resume is re-derived from the
last snapshot, and results(snapshot_id=...) time-travels.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import extract


class CheckpointedExtraction:
    """Exactly-once-per-doc extraction with anti-join resume.

    Results + quarantine live in SnapshotTables (sources/snapshot_table.py):
    atomic snapshot commits with the run's lineage counters embedded in the
    manifest summary, crash-safe resume (an uncommitted run is INVISIBLE to
    done_doc_ids) and time travel via ``results(snapshot_id=...)``."""

    # snapshots=True is accepted for perfbench/run.py, its only caller
    def __init__(self, output_path: str, snapshots: bool = True):
        from ..sources.snapshot_table import SnapshotTable

        if not snapshots:
            raise ValueError(
                "snapshots must be True: results and quarantine are always "
                "SnapshotTable commits"
            )
        self.output_path = output_path
        self.results_path = os.path.join(output_path, "results")
        self.lineage_path = os.path.join(output_path, "_lineage")
        self.quarantine_path = os.path.join(output_path, "_quarantine")
        self._results_tab = SnapshotTable(self.results_path)
        self._quar_tab = SnapshotTable(self.quarantine_path)

    # -- state -------------------------------------------------------------

    def done_doc_ids(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> DataFrame | None:
        df = self._results_tab.read(spark, snapshot_id)
        return None if df is None else df.select("doc_id").distinct()

    def pending(self, docs: DataFrame, snapshot_id: int | None = None) -> DataFrame:
        done = self.done_doc_ids(docs.sparkSession, snapshot_id)
        if done is None:
            return docs
        return docs.join(done, "doc_id", "left_anti")

    def quarantine_attempts(self, spark: SparkSession) -> DataFrame | None:
        """(doc_id, intentos) from prior runs' quarantine commits."""
        q = self._quar_tab.read(spark)
        if q is None:
            return None
        return q.groupBy("doc_id").agg(
            F.countDistinct("run_id").alias("intentos")
        )

    def failed_docs(self, spark: SparkSession, max_intentos: int = 3) -> DataFrame:
        """Quarantine rollup (Q3, job-queue.service.js:193-238): per doc,
        attempt count and state — FAILED once max_intentos is exhausted,
        QUEUED (retry on next resume) below it. Quarantine appends are never
        rewritten, so docs that later SUCCEEDED are reconciled here: the
        rollup anti-joins the results snapshot, dropping recovered docs from
        the report."""
        att = self.quarantine_attempts(spark)
        if att is None:
            return spark.createDataFrame([], "doc_id string, intentos long, estado string")
        done = self.done_doc_ids(spark)
        if done is not None:
            att = att.join(done, "doc_id", "left_anti")
        return att.withColumn(
            "estado",
            F.when(F.col("intentos") >= max_intentos, "FAILED").otherwise("QUEUED"),
        )

    def snapshot_log(self) -> list[dict]:
        """Commit history of the results table: one entry per run with its
        embedded lineage counters."""
        return self._results_tab.history()

    # -- run ---------------------------------------------------------------

    def run(
        self,
        docs: DataFrame,
        media: DataFrame,
        salted: bool = False,
        quarantine: bool = False,
        max_intentos: int = 3,
    ) -> dict:
        """Process pending docs, commit results, write lineage. Returns the
        lineage record.

        ``quarantine=True`` (Q3): per-row failure isolation — documents with
        an unparsable span are withheld from results and appended to the
        quarantine table (one row per failed span) instead of failing the
        task; each resumed run retries them (attempt = distinct run_id in
        quarantine) until ``max_intentos``, after which they are excluded
        permanently (failed_docs() reports estado FAILED). Each span is
        cleaned and layout-parsed once per run: one groupBy builds the
        per-doc frame (extract.reassembled_docs_with_errors), which is
        persisted, and both commits read it — results are its docs with
        no failed span, the quarantine its docs with some. The run's
        ``docs_quarantined`` is an Observation on the doc-level quarantine
        frame, filled by the quarantine commit itself. The frame is
        unpersisted when run() returns or raises."""
        spark = docs.sparkSession
        run_id = uuid.uuid4().hex[:12]
        run_ts = time.time()
        # Pin the base snapshot: pending is DERIVED from this read, so the
        # append commit passes it as the CAS base — a concurrent commit
        # between the read and the install raises CommitConflict instead of
        # double-processing docs that writer already completed.
        base_sid = self._results_tab.current_snapshot_id()
        pending = self.pending(docs, base_sid)

        per_doc = quarantined = None
        if quarantine:
            if salted:
                raise ValueError(
                    "quarantine=True has no salted reassembly path; drop "
                    "salted=True or run without per-row quarantine"
                )
            att = self.quarantine_attempts(spark)
            if att is not None:
                exhausted = att.filter(F.col("intentos") >= max_intentos).select(
                    "doc_id"
                )
                pending = pending.join(
                    F.broadcast(exhausted), "doc_id", "left_anti"
                )
            # both commits read this frame: persisting it keeps the layout
            # parse to one evaluation per span
            per_doc = extract.reassembled_docs_with_errors(pending, media).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            result, quarantined = extract.split_quarantine(per_doc)
        else:
            result = extract.extract_documents(pending, media, salted=salted)
        try:
            return self._commit(result, quarantined, run_id, run_ts, base_sid)
        finally:
            if per_doc is not None:
                per_doc.unpersist()

    def _commit(
        self,
        result: DataFrame,
        quarantined: DataFrame | None,
        run_id: str,
        run_ts: float,
        base_sid: int | None,
    ) -> dict:
        """Commit the run's results (and quarantined docs, if any) and write
        its lineage record; returns the lineage record."""
        obs = Observation(f"lineage_{run_id}")
        observed = result.observe(
            obs,
            F.count(F.lit(1)).alias("docs_processed"),
            F.sum(F.size("spans")).alias("spans_emitted"),
            F.sum(
                F.when(F.col("fields.paciente_ci").isNull(), 1).otherwise(0)
            ).alias("docs_missing_ci"),
            F.sum(F.when(F.size("fields.practicas") == 0, 1).otherwise(0)).alias(
                "docs_no_practicas"
            ),
            F.sum(F.when(F.col("requiere_revision"), 1).otherwise(0)).alias(
                "docs_review"
            ),
        )

        flat = observed.select(
            *extract.result_row_cols(),
            F.lit(run_id).alias("run_id"),
            F.lit(run_ts).alias("run_ts"),
        )
        # the commit point: lineage counters land INSIDE the snapshot
        # manifest (summary is evaluated after the data-write action, so the
        # Observation is populated); a crash before the version-hint rename
        # leaves the table at the parent snapshot.
        snapshot_id = self._results_tab.commit_append(
            flat,
            summary=lambda: {
                **{k: str(v) for k, v in obs.get.items()},
                "run_id": run_id,
            },
            base_sid=base_sid,
        )

        metrics = {**obs.get, "snapshot_id": snapshot_id}
        if quarantined is not None:
            # observed before the explode (one row per doc), so the
            # quarantine write itself counts the docs
            qobs = Observation(f"quarantine_{run_id}")
            qrows = extract.quarantine_rows(
                quarantined.observe(qobs, F.count(F.lit(1)).alias("docs"))
            ).select(
                "*", F.lit(run_id).alias("run_id"), F.lit(run_ts).alias("run_ts")
            )
            self._quar_tab.commit_append(qrows, summary={"run_id": run_id})
            metrics["docs_quarantined"] = qobs.get["docs"]
        metrics.update(
            {
                "run_id": run_id,
                "ts": time.time(),
                "output": self.results_path,
            }
        )
        os.makedirs(self.lineage_path, exist_ok=True)
        with open(os.path.join(self.lineage_path, f"{run_id}.json"), "w") as f:
            json.dump(metrics, f, default=str)
        return metrics

    def results(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> DataFrame:
        """Snapshot read (``snapshot_id`` time-travels to any committed
        snapshot) with one row per doc_id, latest run wins — the read-side
        equivalent of Iceberg MERGE. A crashed run commits nothing, but an
        input that repeats a doc_id still commits one row per occurrence."""
        df = self._results_tab.read(spark, snapshot_id)
        if df is None:
            raise FileNotFoundError(f"no committed results under {self.results_path}")
        # recency = the run's start timestamp (monotonic across runs), with
        # run_id as a deterministic tie-break — ordering by the random uuid
        # alone would make "latest wins" a coin flip between runs.
        # struct-max argmax instead of a row_number window: max over
        # (run_ts, run_id, row) equals the window's (desc run_ts, desc
        # run_id) winner (struct NULL-smallest matches DESC NULLS LAST),
        # but aggregates with a map-side partial_max — one surviving row
        # per (partition, doc) crosses the shuffle and there's no per-doc
        # sort, which is what a 10^12-doc results table needs on read.
        other = [c for c in df.columns if c != "doc_id"]
        best = (
            df.groupBy("doc_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("run_ts"),
                        F.col("run_id"),
                        F.struct(*other).alias("_row"),
                    )
                ).alias("_b")
            )
            .select("doc_id", "_b._row.*")
        )
        return best.select(*df.columns)
