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
from ..functions import per_context
from ..operators import extract, matching

DOC_FIELDS = (
    "ruc", "prestador_nombre", "paciente_nombre", "paciente_ci", "fecha_orden",
    "diagnostico_texto", "diagnostico_codigo_cie", "medico_matricula",
    "matricula_valida", "urgente", "practicas", "confianza_extraccion",
)


def plan_id_col() -> F.Column:
    """Deterministic plan assignment (stand-in for order metadata.plan_id,
    ordenes-batch.routes.js:44): the doc_id's last 2 characters as a number
    mod 2, + 1. NULL unless those 2 characters are ASCII digits (a doc_id
    such as "a" or "order-xy"): a NULL plan matches no agreement, and an
    ANSI cast of a non-number would fail the whole job instead."""
    last2 = F.substring(F.col("doc_id"), -2, 2)
    return F.when(last2.rlike("^[0-9]{2}$"), last2.cast("int") % 2 + 1).alias(
        "plan_id_plan"
    )


@per_context
def _doc_field_cols():
    return [
        F.col("doc_id"), *[F.col(f"fields.{c}").alias(c) for c in DOC_FIELDS], plan_id_col()
    ]


@per_context
def _header_cols():
    """The header projection over match_documents' frame: n_practicas and
    the mean practice similarity come from the match array (summed in item
    order like the golden)."""
    n = F.size("matches")
    sims = F.transform("matches", lambda m: F.coalesce(m["similitud"], F.lit(0.0)))
    match_conf = F.when(
        n > 0, F.round(F.aggregate(sims, F.lit(0.0), lambda a, x: a + x) / n, 4)
    )
    confianza_general = F.round(
        (
            F.col("confianza_extraccion")
            + F.coalesce(F.col("prestador_confianza"), F.lit(0.0))
            + F.coalesce(match_conf, F.lit(0.0))
        )
        / F.lit(3.0),
        2,
    )
    return [
        *map(F.col, ("doc_id", "paciente_ci", "paciente_nombre")),
        # an impossible date the extraction regex accepts (31/02/2024)
        # reads NULL instead of failing the job under ANSI mode
        F.try_to_date(F.col("fecha_orden")).alias("fecha_orden"),
        F.col("prestador_id").alias("prestador_id_sugerido"),
        *map(F.col, (
            "prestador_confianza", "prestador_metodo", "medico_matricula",
            "diagnostico_texto", "diagnostico_codigo_cie", "urgente",
        )),
        F.coalesce(n.cast("long"), F.lit(0)).alias("n_practicas"),
        F.col("confianza_extraccion"),
        confianza_general.alias("confianza_general"),
        (confianza_general < F.lit(config.REVIEW_THRESHOLD)).alias("requiere_revision"),
        F.lit("PENDIENTE").alias("estado"),
    ]


@per_context
def _detail_cols():
    return [
        F.col("doc_id"), F.col("item"), F.col("descripcion").alias("descripcion_original"),
        *map(F.col, (
            "cantidad", "nomenclador_id_sugerido", "nomenclador_descripcion",
            "nomenclador_confianza", "similitud", "matches_alternativos",
            "tiene_acuerdo", "id_acuerdo", "precio_acuerdo", "alerta",
        )),
    ]


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
    prestadores, the active nomencladores and the vigente agreements, and
    the latest agreement per key is picked on the driver. On local
    dimensions (generator.dims_dataframes builds LocalRelations) these
    collects run no Spark job. Each document is then matched once
    (matching.match_documents): the provider cascade and every practice's
    pick-best run in one Arrow map node whose dimensions ship in its
    closure. That frame is persisted; the header takes n_practicas and the
    mean practice similarity from the match array (no groupBy, no join)
    and the detail explodes the cached array (the matcher never runs
    twice).

    The build is driver work on every call: one projection per step (the
    doc fields, the header with its match stats, the detail) and the
    constant expression trees built once per SparkContext
    (functions.per_context). A doc_id whose last 2 characters are not
    digits gets a NULL plan (plan_id_col) and an impossible date a NULL
    fecha_orden, so one malformed value cannot fail the job under ANSI
    mode.

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
    doc_fields = extracted.select(*_doc_field_cols())

    prest_rows, nom_rows, agreements = matching.collect_dimensions(
        prestadores, nomencladores, acuerdos
    )

    # Both outputs (header AND detail) hang off the persisted match frame;
    # without persistence the full extraction + matching lineage recomputes
    # once per output branch. MEMORY_AND_DISK: spill-safe at scale; callers
    # may unpersist after writing both tables.
    stats = matching.match_documents(
        doc_fields, prest_rows, nom_rows, agreements
    ).persist(StorageLevel.MEMORY_AND_DISK)
    det = matching.explode_matches(stats)

    # thread the owning tenant onto the header so downstream feedback can
    # enforce ownership (reference feedback.routes.js:63-69 re-checks
    # `WHERE id=$1 AND tenant_id=$2` before any mutation)
    tenant = [] if tenant_id is None else [F.lit(tenant_id).alias("tenant_id")]
    header = stats.select(*_header_cols(), *tenant)
    return header, det.select(*_detail_cols())
