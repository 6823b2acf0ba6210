"""Partial-update upsert (SURVEY S8/S9) as a reusable DataFrame MERGE.

Reference semantics (/root/reference/src/routes/v1/data-ingest.routes.js:125-160):
UPDATE existing rows column-by-column with COALESCE(new, old); INSERT rows
whose key is absent. Surrogate ids for inserts come from a deterministic hash
of the business key — NOT the reference's MAX(id)+1 (a serial bottleneck and
a race at scale).

In production this is Iceberg `MERGE INTO t USING s ON ... WHEN MATCHED THEN
UPDATE SET c = coalesce(s.c, t.c) WHEN NOT MATCHED THEN INSERT ...`; this
DataFrame expression computes the identical result table for parquet targets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def coalesce_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    surrogate_id: str | None = None,
) -> DataFrame:
    """Return the merged table: all target columns; source non-null values win
    on matched keys; unmatched source rows are inserted.

    `surrogate_id`: name of an id column to fill for inserted rows with a
    deterministic 63-bit hash of the key columns (stable across runs and
    cluster sizes)."""
    t_cols = target.columns
    s_cols = set(source.columns)
    t = target.alias("t")
    s = source.alias("s")
    cond = None
    for k in keys:
        c = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = c if cond is None else (cond & c)
    joined = t.join(s, cond, "full_outer")

    out = []
    for c in t_cols:
        tc = F.col(f"t.{c}")
        if c in keys:
            expr = F.coalesce(tc, F.col(f"s.{c}"))
        elif c == surrogate_id and c not in s_cols:
            expr = F.coalesce(
                tc,
                F.abs(F.xxhash64(*[F.col(f"s.{k}") for k in keys])),
            )
        elif c in s_cols:
            expr = F.coalesce(F.col(f"s.{c}"), tc)
        else:
            expr = tc
        out.append(expr.alias(c))
    return joined.select(*out)


def merge_upsert_snapshot(
    table,
    source: DataFrame,
    keys: list[str],
    surrogate_id: str | None = None,
) -> int:
    """EXECUTABLE MERGE INTO against a SnapshotTable (S2/S8 end-to-end):
    read the current snapshot, compute the coalesce_upsert result, commit it
    as one atomic ``overwrite`` snapshot. Readers see the pre-merge table
    until the commit point, then the post-merge table — the isolation
    contract of Iceberg's MERGE, realized on the local snapshot substrate.

    Returns the new snapshot id. First merge into an empty table = insert-all.

    Optimistic concurrency: the snapshot id is captured BEFORE the read and
    passed to commit_overwrite as the CAS base, so a concurrent commit
    landing between the read and the overwrite raises CommitConflict (the
    caller re-reads and retries) instead of being silently clobbered with
    data derived from the stale snapshot.
    """
    spark = source.sparkSession
    base_sid = table.current_snapshot_id()
    target = table.read(spark, snapshot_id=base_sid)
    if target is None:
        merged = source
        if surrogate_id is not None and surrogate_id not in source.columns:
            merged = source.withColumn(
                surrogate_id, F.abs(F.xxhash64(*[F.col(k) for k in keys]))
            )
    else:
        merged = coalesce_upsert(target, source, keys, surrogate_id=surrogate_id)
    return table.commit_overwrite(
        merged, summary={"operation": "merge_upsert"}, base_sid=base_sid
    )


def idempotent_result_sink(
    existing: DataFrame | None, incoming: DataFrame, hash_col: str
) -> DataFrame:
    """S9 (feedback.service.js:28-58): INSERT ... ON CONFLICT(hash) DO UPDATE —
    incoming wins per content hash, one row per hash."""
    inc = incoming.dropDuplicates([hash_col])
    if existing is None:
        return inc
    keep = existing.join(inc.select(hash_col), hash_col, "left_anti")
    return keep.unionByName(inc)
