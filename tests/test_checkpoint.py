"""Checkpoint/resume (Q4) + lineage counters (Q5) + streaming recovery."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from medical_ocr_service_spark.plans.checkpoint import CheckpointedExtraction


@pytest.fixture()
def loaded(spark, corpus_dir):
    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    return docs, media


def _poisoned(docs, doc_id):
    """docs whose row ``doc_id`` raises when evaluated: the failure fires
    inside the results commit's write action, after other tasks wrote."""
    return docs.withColumn(
        "doc_id",
        F.when(
            F.col("doc_id") == doc_id,
            F.raise_error(F.lit(f"injected failure at {doc_id}")),
        ).otherwise(F.col("doc_id")),
    )


def test_resume_processes_only_pending(spark, loaded, tmp_path):
    with pytest.raises(ValueError, match="snapshots must be True"):
        CheckpointedExtraction(str(tmp_path / "old"), snapshots=False)

    docs, media = loaded
    ck = CheckpointedExtraction(str(tmp_path / "out"))
    first_half = docs.filter(F.col("doc_id") < "doc00000150")

    m1 = ck.run(first_half, media)
    assert m1["docs_processed"] == 150
    assert m1["snapshot_id"] == 1

    # resume over the FULL input: only the remaining docs are processed
    m2 = ck.run(docs, media)
    assert m2["docs_processed"] == docs.count() - 150
    assert m2["snapshot_id"] == 2

    results = ck.results(spark)
    assert results.count() == docs.count()
    assert results.select("doc_id").distinct().count() == docs.count()

    # time travel: snapshot 1 = exactly the first run's docs
    assert ck.results(spark, snapshot_id=1).count() == 150

    # lineage counters embedded in the manifest summaries
    log = ck.snapshot_log()
    assert [h["snapshot_id"] for h in log] == [1, 2]
    assert int(log[0]["summary"]["docs_processed"]) == 150
    assert int(log[1]["summary"]["docs_processed"]) == docs.count() - 150
    assert int(log[0]["summary"]["spans_emitted"]) > 0
    # per-partition lineage: per-file row counts of each commit sum to the
    # commit's doc count
    assert log[0]["rows_added"] == 150
    assert log[1]["rows_added"] == docs.count() - 150
    assert all(n > 0 for n in log[0]["added_file_rows"].values())

    # third run: nothing pending
    m3 = ck.run(docs, media)
    assert m3["docs_processed"] == 0


def test_crash_recovery_exactly_once(spark, loaded, tmp_path):
    """A run that dies mid-action commits NOTHING; resume recomputes the
    full pending set."""
    docs, media = loaded
    ck = CheckpointedExtraction(str(tmp_path / "out"))

    with pytest.raises(Exception, match="injected failure"):
        ck.run(_poisoned(docs, "doc00000100"), media)

    assert ck._results_tab.current_snapshot_id() is None
    assert ck.done_doc_ids(spark) is None  # crashed run invisible

    m = ck.run(docs, media)
    assert m["docs_processed"] == docs.count()
    results = ck.results(spark)
    assert results.count() == docs.count()
    assert results.select("doc_id").distinct().count() == docs.count()


def test_uri_output_root_rejected(tmp_path, monkeypatch):
    """A URI output root fails in the constructor (no session, no Spark
    job) and leaves no local ``s3:`` directory behind."""
    from medical_ocr_service_spark.sources.snapshot_table import SnapshotTable

    monkeypatch.chdir(tmp_path)
    for root in ("s3://b/out", "file:///tmp/out", "hdfs://nn/out"):
        with pytest.raises(ValueError, match="POSIX"):
            CheckpointedExtraction(root)
    with pytest.raises(ValueError, match="POSIX"):
        SnapshotTable("s3://b/out/results")
    assert os.listdir(tmp_path) == []


def test_lineage_metrics_written(spark, loaded, tmp_path):
    docs, media = loaded
    ck = CheckpointedExtraction(str(tmp_path / "out"))
    m = ck.run(docs, media)
    files = glob.glob(os.path.join(str(tmp_path / "out"), "_lineage", "*.json"))
    assert len(files) == 1
    rec = json.load(open(files[0]))
    assert rec["docs_processed"] == docs.count()
    assert rec["spans_emitted"] > docs.count()
    assert "docs_review" in rec and "docs_missing_ci" in rec
    assert m["run_id"] == rec["run_id"]


def test_streaming_extraction_availablenow(spark, loaded, tmp_path):
    from medical_ocr_service_spark.sources.snapshot_table import SnapshotTable
    from medical_ocr_service_spark.streaming.pipeline import stream_extraction

    docs, media = loaded
    # stage the input as multiple files (a "queue" of landing files)
    docs_dir = str(tmp_path / "stream_in")
    docs.repartition(4).write.parquet(docs_dir)
    out = SnapshotTable(str(tmp_path / "stream_out"))
    ckpt = str(tmp_path / "ckpt")

    q = stream_extraction(spark, docs_dir, media, out, ckpt, available_now=True)
    q.awaitTermination(300)

    assert out.read(spark).select("doc_id").distinct().count() == docs.count()
    n_commits = len(out.history())

    # restart with no new files -> checkpoint prevents reprocessing
    q2 = stream_extraction(spark, docs_dir, media, out, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert out.read(spark).count() == docs.count()
    assert len(out.history()) == n_commits


def test_quarantine_retry_and_permanent_failure(spark, loaded, tmp_path):
    """Q3 (job-queue.service.js:193-238): an unparsable span quarantines its
    document (task does NOT fail), resume retries it, and after max_intentos
    the doc is excluded permanently with estado FAILED."""
    docs, media = loaded
    # find a doc that actually has a media span, then corrupt its payloads
    victim = media.select("doc_id").first()["doc_id"]
    bad_media = media.withColumn(
        "layout_json",
        F.when(F.col("doc_id") == victim, F.lit("{not json")).otherwise(
            F.col("layout_json")
        ),
    )
    ck = CheckpointedExtraction(str(tmp_path / "q"))

    m1 = ck.run(docs, bad_media, quarantine=True, max_intentos=2)
    n = docs.count()
    assert m1["docs_quarantined"] == 1
    assert m1["docs_processed"] == n - 1
    results = ck.results(spark)
    assert results.filter(F.col("doc_id") == victim).count() == 0
    fd = ck.failed_docs(spark, max_intentos=2).toPandas().set_index("doc_id")
    assert fd.loc[victim, "intentos"] == 1 and fd.loc[victim, "estado"] == "QUEUED"

    # retry still failing -> attempts exhausted -> FAILED
    m2 = ck.run(docs, bad_media, quarantine=True, max_intentos=2)
    assert m2["docs_quarantined"] == 1 and m2["docs_processed"] == 0
    fd = ck.failed_docs(spark, max_intentos=2).toPandas().set_index("doc_id")
    assert fd.loc[victim, "intentos"] == 2 and fd.loc[victim, "estado"] == "FAILED"

    # exhausted doc is excluded permanently — even though still pending
    m3 = ck.run(docs, bad_media, quarantine=True, max_intentos=2)
    assert m3["docs_quarantined"] == 0 and m3["docs_processed"] == 0


def test_quarantine_recovers_after_fix(spark, loaded, tmp_path):
    """A quarantined doc whose payload is fixed before exhaustion is
    extracted on the next resume and drops from the failure report."""
    docs, media = loaded
    victim = media.select("doc_id").first()["doc_id"]
    bad_media = media.withColumn(
        "layout_json",
        F.when(F.col("doc_id") == victim, F.lit("broken")).otherwise(
            F.col("layout_json")
        ),
    )
    ck = CheckpointedExtraction(str(tmp_path / "q2"))
    m1 = ck.run(docs, bad_media, quarantine=True, max_intentos=3)
    assert m1["docs_quarantined"] == 1
    assert m1["docs_processed"] == docs.count() - 1
    failed = ck.failed_docs(spark, max_intentos=3)
    assert {r.doc_id: r.estado for r in failed.collect()} == {victim: "QUEUED"}

    m2 = ck.run(docs, media, quarantine=True, max_intentos=3)  # payload fixed
    assert m2["docs_processed"] == 1 and m2["docs_quarantined"] == 0
    assert ck.results(spark).filter(F.col("doc_id") == victim).count() == 1
    assert ck.failed_docs(spark).count() == 0
    assert ck.results(spark).count() == docs.count()


def _two_bad_spans(media):
    """(victim doc_id, its two poisoned media_refs, media with those two
    layout payloads corrupted) for the first doc with >= 2 media spans."""
    victim = (
        media.groupBy("doc_id").count().filter(F.col("count") >= 2)
        .orderBy("doc_id").first()["doc_id"]
    )
    refs = sorted(
        r["media_ref"]
        for r in media.filter(F.col("doc_id") == victim)
        .orderBy("media_ref").limit(2).collect()
    )
    bad = media.withColumn(
        "layout_json",
        F.when(F.col("media_ref").isin(refs), F.lit("{not json")).otherwise(
            F.col("layout_json")
        ),
    )
    return victim, refs, bad


def test_quarantine_two_bad_spans_one_doc(spark, loaded, tmp_path):
    """A doc with two malformed media spans counts once in
    docs_quarantined and leaves one quarantine row per failed span."""
    docs, media = loaded
    victim, refs, bad = _two_bad_spans(media)
    ck = CheckpointedExtraction(str(tmp_path / "q"))
    m = ck.run(docs, bad, quarantine=True)
    assert m["docs_quarantined"] == 1
    assert m["docs_processed"] == docs.count() - 1
    q = ck._quar_tab.read(spark)
    assert q.columns == ["doc_id", "media_ref", "error", "run_id", "run_ts"]
    rows = q.collect()
    assert sorted((r["doc_id"], r["media_ref"]) for r in rows) == [
        (victim, ref) for ref in refs
    ]
    assert all(r["error"] and r["run_id"] == m["run_id"] for r in rows)


def test_quarantine_clean_run_commits_empty(spark, loaded, tmp_path):
    """No malformed media: docs_quarantined is 0 and the quarantine
    snapshot commit holds no rows."""
    from medical_ocr_service_spark.sources.snapshot_table import SnapshotTable

    docs, media = loaded
    ck = CheckpointedExtraction(str(tmp_path / "q"), snapshots=True)
    m = ck.run(docs, media, quarantine=True)
    assert m["docs_quarantined"] == 0
    assert m["docs_processed"] == docs.count()
    quar = SnapshotTable(ck.quarantine_path)
    assert len(quar.history()) == 1
    assert quar.read(spark).count() == 0


def test_quarantine_run_plan_shape(
    spark, loaded, tmp_path, monkeypatch, final_plan_nodes
):
    """One quarantine run() parses each media layout once: across both
    commits' executed plans the layout error UDF sits in ONE
    ArrowEvalPython (inside the persisted per-doc frame), no anti-join
    withholds quarantined docs, and the quarantine write only reads the
    cache — no Python node of its own."""
    from pyspark.sql import DataFrameWriter

    docs, media = loaded
    _, _, bad = _two_bad_spans(media)
    written = []
    write_parquet = DataFrameWriter.parquet

    def recording(self, *a, **kw):
        write_parquet(self, *a, **kw)
        plan = self._df._jdf.queryExecution().executedPlan()
        written.append(list(final_plan_nodes(plan)))

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    spark.catalog.clearCache()
    CheckpointedExtraction(str(tmp_path / "q")).run(docs, bad, quarantine=True)
    assert len(written) == 2  # results, then quarantine
    nodes = [n for plan in written for n in plan]

    def evals(ns):
        return [
            s for s in ns
            if s.startswith("ArrowEvalPython") and "layout_text_err_udf(" in s
        ]

    # both commits read the same cached relation: count its nodes once
    cached = {s for s, c in nodes if c}
    own = [s for s, c in nodes if not c]
    assert len(evals(own)) + len(evals(cached)) == 1, nodes
    assert not any("LeftAnti" in s for s, _ in nodes), nodes
    quar_own = [s for s, c in written[1] if not c]
    assert any(s.startswith("InMemoryTableScan") for s in quar_own), quar_own
    assert not any("Python" in s for s in quar_own), quar_own


def test_quarantine_run_unpersists_on_failure(spark, loaded, tmp_path):
    """A run that raises mid-commit leaves no persisted frame behind."""
    docs, media = loaded
    spark.catalog.clearCache()
    ck = CheckpointedExtraction(str(tmp_path / "q"))
    with pytest.raises(Exception, match="injected failure"):
        ck.run(_poisoned(docs, "doc00000100"), media, quarantine=True)
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()


def test_windowed_counts_drop_late_events(spark, tmp_path):
    """Watermarked tumbling windows (A8 streaming analogue): an event
    arriving after the watermark passed its window is DROPPED; finalized
    windows emit exactly once in append mode."""
    import time as _time

    from medical_ocr_service_spark.streaming.pipeline import windowed_event_counts

    src = tmp_path / "events_stream"
    src.mkdir()
    b1 = spark.createDataFrame(
        [("2024-01-01 10:00:30", "click", 1.0),
         ("2024-01-01 10:05:00", "click", 2.0),
         ("2024-01-01 11:00:00", "view", 1.0)],  # advances watermark
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b1.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))

    def run_once():
        stream = (
            spark.readStream.schema("ts timestamp, event_type string, value double")
            .parquet(str(src / "f*"))
        )
        agg = windowed_event_counts(
            stream, window="10 minutes", watermark="10 minutes"
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", str(tmp_path / "win_out"))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: advances the watermark to 10:50 (11:00 - 10m)
    run_once()
    _time.sleep(0.2)
    b2 = spark.createDataFrame(
        [("2024-01-01 10:06:00", "click", 4.0),   # LATE: watermark is 10:50
         ("2024-01-01 11:05:00", "view", 1.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b2.coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))
    # batch 2: restarts from the checkpoint (watermark persisted), only f2
    run_once()
    out = spark.read.parquet(str(tmp_path / "win_out")).toPandas()
    clicks = out[out["event_type"] == "click"]
    # the 10:00-10:10 click window finalized with ONLY batch-1 events —
    # the late 10:06 event was dropped by the watermark
    assert len(clicks) == 1
    assert clicks.iloc[0]["n"] == 2
    assert clicks.iloc[0]["sum_value"] == 3.0


def test_results_latest_wins_via_partial_max_no_window(spark, loaded, tmp_path):
    """results() dedup is a struct-max argmax, not a row_number window: the
    executed plan must carry a map-side partial_max and zero Window nodes
    (the read path of a 10^12-doc results table can't afford a per-doc
    sort), and the winner must equal the explicit (desc run_ts, desc
    run_id) window rule when a second overlapping run appends duplicates."""
    from pyspark.sql import Window

    docs, media = loaded
    ck = CheckpointedExtraction(str(tmp_path / "out"))
    ck.run(docs, media)

    # simulate the documented duplicate source: a second successful
    # non-resume run over an overlapping input slice (newer run_ts wins)
    first = ck._results_tab.read(spark)
    dup = (
        first.filter(F.col("doc_id") < "doc00000020")
        .withColumn("run_ts", F.col("run_ts") + F.lit(1000.0))
        .withColumn("run_id", F.lit("zzzz_rerun"))
        .withColumn("full_text", F.concat(F.lit("RERUN::"), F.col("full_text")))
    )
    n_dup = dup.count()
    assert n_dup > 0
    ck._results_tab.commit_append(dup)

    got = ck.results(spark)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "partial_max" in plan, plan

    # exactly-once per doc, newer run's payload won
    assert got.count() == docs.count()
    assert (
        got.filter(F.col("full_text").startswith("RERUN::")).count() == n_dup
    )

    # bit-equality with the explicit window rule the docstring promises
    w = Window.partitionBy("doc_id").orderBy(F.desc("run_ts"), F.desc("run_id"))
    ref = (
        ck._results_tab.read(spark)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
