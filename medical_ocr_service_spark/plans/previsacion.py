"""Flagship end-to-end plan: interleaved docs -> pre-visacion tables.

Spark lifecycle (SURVEY §3.1): read docs -> extract (explode/clean/reassemble/
fields) -> one document-level matching pass (provider cascade + practice
pick-best, operators/matching.match_documents) -> header + detail result
tables, detail ordered by item (the UNIQUE(visacion_previa_id, item)
invariant, reference database/schema_matching.sql:279-288).

Replaces reference boundaries 1-5 (HTTP->queue->subprocess->OpenAI->DB,
src/workers/previsacion.worker.js:18-227) with one declarative DAG.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import config
from ..operators import extract, matching

DOC_FIELDS = (
    "ruc", "prestador_nombre", "paciente_nombre", "paciente_ci", "fecha_orden",
    "diagnostico_texto", "diagnostico_codigo_cie", "medico_matricula",
    "matricula_valida", "urgente", "practicas", "confianza_extraccion",
)


def plan_id_col() -> F.Column:
    """Deterministic plan assignment (stand-in for order metadata.plan_id,
    ordenes-batch.routes.js:44): last 2 digits of doc_id mod 2, + 1."""
    return (F.substring(F.col("doc_id"), -2, 2).cast("int") % 2 + 1).alias("plan_id_plan")


def run_previsacion(
    docs: DataFrame,
    media: DataFrame,
    prestadores: DataFrame,
    nomencladores: DataFrame,
    acuerdos: DataFrame,
    tenant_id: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (visacion_previa, det_visacion_previa).

    The dimensions are read once, on the driver
    (matching.collect_dimensions): one guarded collect each of the active
    prestadores, the active nomencladores and at most
    config.FAST_MATCH_MAX_AGREEMENTS + 1 vigente agreements, and the latest
    agreement per key is picked on the driver. On local dimensions
    (generator.dims_dataframes builds LocalRelations) these collects run
    no Spark job. The agreement collect also picks the practice matcher:

    * when the vigente agreements fit under the cap, each document is
      matched once (matching.match_documents): the provider cascade and
      every practice's pick-best run in one Arrow map node whose
      dimensions ship in its closure. That frame is persisted; the header
      takes n_practicas and the mean practice similarity from the match
      array (no groupBy, no join) and the detail explodes the cached array
      (the matcher never runs twice);
    * otherwise the broadcast-join practice matcher
      (matching.match_practices) serves agreement tables of any size, with
      per-doc stats from a groupBy joined back to the header. This path
      collects the prestadores and nomencladores a second time.

    ``tenant_id`` (P1, reference matching.service.js:25-29 / migration_
    multitenant.sql): when given, the whole run is scoped to ONE tenant —
    docs AND every dimension are filtered up front, exactly like the
    reference appending ``AND tenant_id = $n`` to each query. A tenant-a
    document can never match a tenant-b provider/nomenclador/agreement.
    Partition-prunable at scale when tables are partitioned by tenant."""
    if tenant_id is not None:
        docs = docs.filter(F.col("tenant_id") == tenant_id)
        prestadores = prestadores.filter(F.col("tenant_id") == tenant_id)
        nomencladores = nomencladores.filter(F.col("tenant_id") == tenant_id)
        acuerdos = acuerdos.filter(F.col("tenant_id") == tenant_id)

    extracted = extract.extract_documents(docs, media)
    doc_fields = extracted.select(
        "doc_id", *[F.col(f"fields.{c}").alias(c) for c in DOC_FIELDS], plan_id_col()
    )

    prest_rows, nom_rows, agreements = matching.collect_dimensions(
        prestadores, nomencladores, acuerdos
    )

    # Both outputs (header AND detail) hang off the persisted match frame;
    # without persistence the full extraction + matching lineage recomputes
    # once per output branch. MEMORY_AND_DISK: spill-safe at scale; callers
    # may unpersist after writing both tables.
    if agreements is not None:
        matched = matching.match_documents(
            doc_fields, prest_rows, nom_rows, agreements
        ).persist(StorageLevel.MEMORY_AND_DISK)
        det = matching.explode_matches(matched)
        # per-doc practice-match confidence mean (A13 component), summed in
        # item order like the golden
        sims = F.transform(
            "matches", lambda m: F.coalesce(m["similitud"], F.lit(0.0))
        )
        n = F.size("matches")
        stats = matched.withColumn("n_practicas", n.cast("long")).withColumn(
            "_match_conf",
            F.when(n > 0, F.round(F.aggregate(sims, F.lit(0.0), lambda a, x: a + x) / n, 4)),
        )
    else:
        with_prest = matching.match_prestador(doc_fields, prestadores).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        practices = with_prest.select(
            "doc_id", "prestador_id", "plan_id_plan", F.explode("practicas").alias("p")
        ).select(
            "doc_id",
            "p.item",
            "p.descripcion",
            "p.cantidad",
            "p.confianza",
            "prestador_id",
            "plan_id_plan",
        )
        det = matching.match_practices(practices, nomencladores, acuerdos)
        det_stats = det.groupBy("doc_id").agg(
            F.round(F.avg(F.coalesce(F.col("similitud"), F.lit(0.0))), 4).alias(
                "_match_conf"
            ),
            F.count("*").alias("n_practicas"),
        )
        stats = with_prest.join(det_stats, "doc_id", "left")

    header = (
        stats.withColumn(
            "confianza_general",
            F.round(
                (
                    F.col("confianza_extraccion")
                    + F.coalesce(F.col("prestador_confianza"), F.lit(0.0))
                    + F.coalesce(F.col("_match_conf"), F.lit(0.0))
                )
                / F.lit(3.0),
                2,
            ),
        )
        .withColumn(
            "requiere_revision",
            F.col("confianza_general") < F.lit(config.REVIEW_THRESHOLD),
        )
        .select(
            "doc_id",
            "paciente_ci",
            "paciente_nombre",
            F.to_date("fecha_orden").alias("fecha_orden"),
            F.col("prestador_id").alias("prestador_id_sugerido"),
            "prestador_confianza",
            "prestador_metodo",
            "medico_matricula",
            "diagnostico_texto",
            "diagnostico_codigo_cie",
            "urgente",
            F.coalesce("n_practicas", F.lit(0)).alias("n_practicas"),
            "confianza_extraccion",
            "confianza_general",
            "requiere_revision",
            F.lit("PENDIENTE").alias("estado"),
        )
    )
    if tenant_id is not None:
        # thread the owning tenant onto the header so downstream feedback can
        # enforce ownership (reference feedback.routes.js:63-69 re-checks
        # `WHERE id=$1 AND tenant_id=$2` before any mutation)
        header = header.withColumn("tenant_id", F.lit(tenant_id))

    detail = det.select(
        "doc_id",
        "item",
        F.col("descripcion").alias("descripcion_original"),
        "cantidad",
        "nomenclador_id_sugerido",
        "nomenclador_descripcion",
        "nomenclador_confianza",
        "similitud",
        "matches_alternativos",
        "tiene_acuerdo",
        "id_acuerdo",
        "precio_acuerdo",
        "alerta",
    )

    return header, detail
