"""SnapshotTable (Iceberg-shaped commit protocol) and the exactly-once
extraction stream sink: atomic commits, crash invisibility, time travel,
optimistic-concurrency conflicts, vacuum. The checkpointed extraction job
on top of it is tested in test_checkpoint."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from medical_ocr_service_spark.sources.snapshot_table import (
    CommitConflict,
    SnapshotTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, v string")


# -- the table format itself -------------------------------------------------


def test_append_and_read(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    assert t.read(spark) is None
    s1 = t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    s2 = t.commit_append(_df(spark, [(3, "c")]))
    assert (s1, s2) == (1, 2)
    assert t.read(spark).count() == 3
    # time travel: snapshot 1 still reads exactly its own file list
    assert t.read(spark, snapshot_id=1).count() == 2
    assert sorted(r.id for r in t.read(spark, snapshot_id=1).collect()) == [1, 2]


def test_crashed_write_is_invisible(spark, tmp_path):
    """Data files without a snapshot commit never leak into reads — the
    property raw parquet appends cannot give."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, [(1, "a")]))
    # simulate a writer that died after the data write, before the manifest:
    _df(spark, [(99, "zz")]).write.parquet(os.path.join(t.data_dir, "orphan"))
    df = t.read(spark)
    assert df.count() == 1
    assert df.filter(F.col("id") == 99).count() == 0
    # a FRESH orphan is inside the in-flight-commit grace window: kept
    assert t.vacuum(keep_snapshots=1) == []
    # past the grace window it is garbage: swept
    deleted = t.vacuum(keep_snapshots=1, orphan_grace_s=0.0)
    assert any("orphan" in p for p in deleted)
    assert t.read(spark).count() == 1


def test_overwrite_and_history(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, [(1, "a")]), summary={"rows": 1})
    t.commit_overwrite(_df(spark, [(7, "x"), (8, "y")]), summary={"rows": 2})
    assert sorted(r.id for r in t.read(spark).collect()) == [7, 8]
    hist = t.history()
    assert [h["operation"] for h in hist] == ["append", "overwrite"]
    assert hist[0]["summary"] == {"rows": 1}
    assert hist[1]["parent_id"] == 1
    # old snapshot stays readable until vacuumed
    assert t.read(spark, snapshot_id=1).count() == 1
    t.vacuum(keep_snapshots=1)
    with pytest.raises(Exception):
        t.read(spark, snapshot_id=1).count()


def test_commit_conflict(spark, tmp_path):
    """Optimistic concurrency: a commit based on a stale snapshot is refused."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, [(1, "a")]))
    base = t.current_snapshot_id()
    new_files = t._write_data(_df(spark, [(2, "b")]))
    # an interloper commits in between
    t.commit_append(_df(spark, [(3, "c")]))
    with pytest.raises(CommitConflict):
        t._install(base, new_files, "append", None, None)
    # retry against the fresh base succeeds (Iceberg's retry loop)
    fresh = t.current_snapshot_id()
    t._install(fresh, new_files, "append", None, None)
    assert t.read(spark).count() == 3


def test_commit_overwrite_toctou_conflict(spark, tmp_path):
    """The round-3 TOCTOU: a writer reads, computes, then commits — a commit
    landing BETWEEN its read and its overwrite must raise CommitConflict
    (with the base re-read at commit time it was silently clobbered)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, [(1, "a")]))
    base = t.current_snapshot_id()  # writer A reads at snapshot 1
    derived = t.read(spark, snapshot_id=base).withColumn("v", F.lit("A"))
    t.commit_append(_df(spark, [(2, "b")]))  # writer B lands in between
    with pytest.raises(CommitConflict):
        t.commit_overwrite(derived, base_sid=base)
    # writer B's row was NOT lost
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]


def test_merge_upsert_toctou_conflict(spark, tmp_path):
    """merge_upsert_snapshot passes its read snapshot as the CAS base: an
    interleaved commit between the merge's read and its overwrite raises
    CommitConflict instead of clobbering the interloper's rows."""
    from medical_ocr_service_spark.operators.upsert import merge_upsert_snapshot

    t = SnapshotTable(str(tmp_path / "dim"))
    t.commit_append(_df(spark, [(1, "a")]))
    orig_read = t.read

    def racy_read(spark_, snapshot_id=None):
        df = orig_read(spark_, snapshot_id=snapshot_id)
        # interloper lands AFTER the merge's read, BEFORE its commit
        SnapshotTable(t.root).commit_append(_df(spark_, [(5, "e")]))
        return df

    t.read = racy_read
    src = _df(spark, [(1, "a2")])
    with pytest.raises(CommitConflict):
        merge_upsert_snapshot(t, src, keys=["id"])
    t.read = orig_read
    # the interloper's commit survived intact
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 5]
    # the Iceberg retry loop: re-running the merge against the fresh base works
    sid = merge_upsert_snapshot(t, src, keys=["id"])
    rows = {r.id: r.v for r in t.read(spark, snapshot_id=sid).collect()}
    assert rows == {1: "a2", 5: "e"}


def test_empty_table_schema_preserved(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_overwrite(_df(spark, [(1, "a")]).limit(0))
    df = t.read(spark)
    assert df.count() == 0
    assert df.columns == ["id", "v"]


def test_compact_rewrites_small_files(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    for lo in range(0, 40, 10):
        t.commit_append(_df(spark, [(lo + i, "x") for i in range(10)]))
    before = t.manifest()
    assert len(t.files()) >= 4
    # append manifests are deltas: each carries only its own files
    assert "files" not in before and len(before["added"]) < len(t.files())
    t.compact(spark, target_file_mb=128)
    after = t.manifest()
    assert after["operation"] == "overwrite"
    assert len(after["files"]) == 1  # 4 tiny files -> one
    assert sorted(r.id for r in t.read(spark).collect()) == sorted(
        list(range(10)) + list(range(10, 20)) + list(range(20, 30)) + list(range(30, 40))
    )
    # pre-compaction snapshot still time-travels
    assert t.read(spark, snapshot_id=before["snapshot_id"]).count() == 40


def test_additive_schema_evolution(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, [(1, "a")]))
    evolved = spark.createDataFrame([(2, "b", 9.5)], "id int, v string, score double")
    t.commit_append(evolved)
    df = t.read(spark)
    assert df.columns == ["id", "v", "score"]
    rows = {r.id: r for r in df.collect()}
    assert rows[1].score is None  # old file reads the new column as NULL
    assert rows[2].score == 9.5
    # destructive appends are refused
    with pytest.raises(ValueError, match="drops column"):
        t.commit_append(spark.createDataFrame([(3,)], "id int"))
    with pytest.raises(ValueError, match="changes type"):
        t.commit_append(
            spark.createDataFrame(
                [(3, "c", "oops")], "id int, v string, score string"
            )
        )


def test_snapshot_read_keeps_pushdown(spark, tmp_path):
    """Manifest-file-list reads stay ordinary parquet scans: filters and
    column pruning must still reach the scan node (the 100 TB contract —
    a snapshot layer that broke pushdown would re-read full files)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, [(i, f"v{i}") for i in range(100)]))
    plan = (
        t.read(spark).filter(F.col("id") == 7).select("id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(id), EqualTo(id,7)]" in plan
    assert "ReadSchema: struct<id:int>" in plan


def test_concurrent_commits_retry(spark, tmp_path):
    """Two writers race on the same table; the loser retries on
    CommitConflict (Iceberg's optimistic loop) and no rows are lost."""
    import threading

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, [(0, "seed")]))
    barrier = threading.Barrier(2)
    errors = []

    def writer(lo: int):
        df = _df(spark, [(lo, "w"), (lo + 1, "w")])
        barrier.wait()
        for _ in range(5):
            try:
                base = t.current_snapshot_id()
                added = t._write_data(df)
                t._install(base, added, "append", None, df.schema.json())
                return
            except CommitConflict:
                continue
        errors.append(f"writer {lo} never committed")

    th = [threading.Thread(target=writer, args=(10,)),
          threading.Thread(target=writer, args=(20,))]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errors
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 10, 11, 20, 21]
    assert t.current_snapshot_id() == 3


# -- executable MERGE INTO on the snapshot substrate ---------------------------


def test_merge_upsert_snapshot(spark, tmp_path):
    from medical_ocr_service_spark.operators.upsert import merge_upsert_snapshot

    t = SnapshotTable(str(tmp_path / "dim"))
    base = spark.createDataFrame(
        [(10, "RUC1", "Alice", "A1"), (11, "RUC2", "Bob", None)],
        "id long, ruc string, nombre string, extra string",
    )
    t.commit_append(base)

    src = spark.createDataFrame(
        [("RUC2", None, "B2"), ("RUC9", "Zoe", None)],
        "ruc string, nombre string, extra string",
    )
    sid = merge_upsert_snapshot(t, src, keys=["ruc"], surrogate_id="id")
    assert sid == 2
    rows = {r.ruc: r for r in t.read(spark).collect()}
    assert set(rows) == {"RUC1", "RUC2", "RUC9"}
    assert rows["RUC1"].nombre == "Alice"          # untouched
    assert rows["RUC2"].nombre == "Bob"            # COALESCE keeps old non-null
    assert rows["RUC2"].extra == "B2"              # new non-null wins
    assert rows["RUC9"].nombre == "Zoe"
    assert rows["RUC9"].id is not None             # deterministic surrogate
    # pre-merge state still time-travelable
    assert t.read(spark, snapshot_id=1).count() == 2
    # merge is idempotent: same source -> same table
    merge_upsert_snapshot(t, src, keys=["ruc"], surrogate_id="id")
    again = {r.ruc: r for r in t.read(spark).collect()}
    assert {r.ruc: (r.nombre, r.extra, r.id) for r in again.values()} == {
        r.ruc: (r.nombre, r.extra, r.id) for r in rows.values()
    }


# -- exactly-once streaming sink ----------------------------------------------


def test_stream_extraction_exactly_once(spark, corpus_dir, tmp_path):
    from medical_ocr_service_spark.streaming.pipeline import stream_extraction

    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    n = docs.count()

    stream_dir = str(tmp_path / "incoming")
    docs.repartition(3).write.parquet(stream_dir)

    t = SnapshotTable(str(tmp_path / "results"))
    q = stream_extraction(
        spark, stream_dir, media, t, str(tmp_path / "ck1")
    )
    q.awaitTermination(300)
    out = t.read(spark)
    assert out.count() == n
    assert out.select("doc_id").distinct().count() == n
    batch_ids = [
        int(h["summary"]["batch_id"]) for h in t.history()
        if "batch_id" in h["summary"]
    ]
    assert batch_ids == sorted(batch_ids)

    # replay simulation: a FRESH checkpoint re-delivers every batch with the
    # same deterministic ids; the sink must skip them all (exactly-once).
    # Without the opt-out the sink refuses the fresh checkpoint outright
    # (checkpoint_path must be stable for the table's lifetime — a fresh one
    # would silently drop genuinely NEW data as "replayed").
    with pytest.raises(ValueError, match="checkpoint"):
        stream_extraction(spark, stream_dir, media, t, str(tmp_path / "ck2"))
    # file:// URIs are decidable locally -> same refusal as a bare path
    with pytest.raises(ValueError, match="checkpoint"):
        stream_extraction(
            spark, stream_dir, media, t, "file://" + str(tmp_path / "ck2")
        )
    # remote URIs are NOT decidable via os.path.isdir (always False) — the
    # guard must skip them rather than refuse every legitimate remote
    # restart. The failure here must come from the (absent) s3a filesystem
    # at stream start, never from the fresh-checkpoint ValueError.
    with pytest.raises(Exception) as ei:
        stream_extraction(
            spark, stream_dir, media, t, "s3a://no-such-bucket/ck"
        )
    assert not isinstance(ei.value, ValueError)
    q2 = stream_extraction(
        spark, stream_dir, media, t, str(tmp_path / "ck2"),
        assume_replayed_source=True,
    )
    q2.awaitTermination(300)
    assert t.read(spark).count() == n


def test_stream_sink_caches_watermark(spark, corpus_dir, tmp_path):
    """The exactly-once sink reads the snapshot log ONCE at stream start and
    tracks the committed-batch watermark in a closure — not O(snapshots)
    metadata reads per micro-batch (round-3 verdict #7)."""
    from medical_ocr_service_spark.streaming.pipeline import stream_extraction

    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")

    stream_dir = str(tmp_path / "incoming")
    # 8 input files at maxFilesPerTrigger=4 -> at least 2 micro-batches
    docs.repartition(8).write.parquet(stream_dir)

    class CountingTable(SnapshotTable):
        history_calls = 0

        def history(self):
            CountingTable.history_calls += 1
            return super().history()

    t = CountingTable(str(tmp_path / "results"))
    q = stream_extraction(
        spark, stream_dir, media, t, str(tmp_path / "ck"), compact_every=2
    )
    q.awaitTermination(300)
    hist = t.history()
    n_batches = len([h for h in hist if h["operation"] == "append"])
    assert n_batches >= 2
    # exactly 1 walk at construction (+1 just above for the assertion)
    assert CountingTable.history_calls == 2
    assert t.read(spark).count() == docs.count()
    # auto-compaction fired and carried the watermark in its summary, so a
    # post-vacuum restart still finds the replay boundary
    compacts = [h for h in hist if h["summary"].get("operation") == "compact"]
    assert compacts and "batch_id" in compacts[0]["summary"]


# -- vacuum: metadata expiry, orphan grace, stray files ------------------------


def test_vacuum_expires_metadata(spark, tmp_path):
    """vacuum() removes expired snapshots' MANIFESTS with their data
    (Iceberg expire_snapshots): history() stops at the boundary and a
    time-travel read of an expired snapshot fails FAST with
    SnapshotExpired — not a lazy FileNotFound at action time."""
    from medical_ocr_service_spark.sources.snapshot_table import SnapshotExpired

    t = SnapshotTable(str(tmp_path / "t"))
    for i in range(4):
        t.commit_append(_df(spark, [(i, f"v{i}")]), summary={"i": i})
    t.vacuum(keep_snapshots=2, orphan_grace_s=0.0)

    hist = t.history()
    assert [h["snapshot_id"] for h in hist] == [3, 4]
    # the boundary manifest records where the expired chain was cut
    assert hist[0]["parent_id"] is None
    assert hist[0]["expired_parent"] == 2
    # kept snapshots read their FULL contents (boundary was made
    # self-contained before its ancestors were dropped)
    assert t.read(spark, snapshot_id=3).count() == 3
    assert t.read(spark).count() == 4
    for sid in (1, 2):
        with pytest.raises(SnapshotExpired, match="expired by vacuum"):
            t.read(spark, snapshot_id=sid)
    # a snapshot id that never existed is a different error
    with pytest.raises(ValueError, match="not found"):
        t.read(spark, snapshot_id=99)


def test_vacuum_skips_stray_file_and_inflight(spark, tmp_path):
    """A stray FILE under data/ must not crash the sweep, and a freshly
    written unreferenced data dir (a possible in-flight commit that has not
    taken the lock yet) survives the orphan grace window."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, [(1, "a")]))
    with open(os.path.join(t.data_dir, "_stray.txt"), "w") as f:
        f.write("not a commit dir")
    # simulate an in-flight writer: data written, lock not yet taken
    inflight = t._write_data(_df(spark, [(2, "b")]))
    assert t.vacuum(keep_snapshots=1) == []  # grace window: kept
    assert all(os.path.exists(p) for p in inflight)
    # the in-flight writer completes successfully afterwards
    t._install(t.current_snapshot_id(), inflight, "append", None, None)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]
    assert os.path.exists(os.path.join(t.data_dir, "_stray.txt"))


def test_metadata_grows_linearly(spark, tmp_path):
    """Delta manifests (round-3 verdict #5/#8): a long-lived table committing
    per micro-batch accumulates O(commits) metadata bytes, not
    O(files x snapshots). Each append manifest's size is bounded by its OWN
    file count, independent of table history length."""
    import glob
    import json as _json

    t = SnapshotTable(str(tmp_path / "t"))
    n = 100
    rows = [(i, "x") for i in range(n)]
    df = _df(spark, rows).coalesce(1)
    for _ in range(n):
        t.commit_append(df)
    manifests = sorted(
        glob.glob(os.path.join(t.meta_dir, "snap-*.json")),
        key=lambda p: int(os.path.basename(p).split("-")[1]),
    )
    assert len(manifests) == n
    sizes = [os.path.getsize(p) for p in manifests]
    # constant-size deltas: late manifests are no bigger than early ones
    assert max(sizes[-10:]) < 2 * max(sizes[:10])
    # and the total is linear-ish: far below the quadratic full-list layout
    # (which stores ~k file entries in manifest k: sum ~ n^2/2 entries)
    with open(manifests[0]) as f:
        per_commit = len(_json.dumps(_json.load(f)))
    assert sum(sizes) < 3 * n * per_commit
    # the materialized view is still correct
    assert t.read(spark).count() == n * n
    assert len(t.files()) == n
