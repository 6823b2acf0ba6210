"""Similarity matching + agreement pick-best (SURVEY §2.9 — the heart).

Re-expresses the reference's per-document matching pipeline
(reference src/services/matching.service.js:91-432) Spark-first, as ONE
document-level pass (match_documents): a single Arrow map node over the
flattened doc fields runs, per document,

  1. the provider cascade (J1/J2/J4, matching.service.js:91-232): exact RUC
     short-circuit (similarity pinned 1.0) -> exact matricula -> fuzzy top-1,
     as dict lookups plus the top-k scorer;
  2. per practice, vectorized candidate scoring against the nomenclador
     matrix — an exact dense matmul top-k, strictly better recall than the
     reference's IVFFlat index;
  3. candidate ∩ latest-vigente agreements (J5/J6/T3, :242-341) as dict
     lookups;
  4. preference pick-best: best-ranked candidate HAVING an agreement, else
     global best (:378-392) — NOT max(score*has_acuerdo);
  5. alternatives: next 5 by rank with tiene_acuerdo flags (T7);

and returns the ordered per-practice match array beside the practicas array.

Every dimension reaches the node through at most one guarded driver collect
(active prestadores, active nomencladores, latest agreements) and ships in
the function's closure — the broadcast-dimension pattern, with no dimension
shuffle and no join. Dims are small by contract (≤ MAX_BROADCAST_DIM_ROWS).
For agreement tables too large for a closure dict, match_practices is the
explode + broadcast-join + window matcher over exploded practices (same
rows; pytest asserts), and match_prestador_ann a collect-free provider
cascade for giant provider dims.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import config
from ..functions import similarity as sim

# ---------------------------------------------------------------------------
# Dimension embedding job (D10/D11)
# ---------------------------------------------------------------------------

_EMBED_TYPE = T.ArrayType(T.DoubleType())


@F.pandas_udf(_EMBED_TYPE)
def embed_udf(texts: pd.Series) -> pd.Series:
    return pd.Series([sim.embed_text(t) for t in texts], index=texts.index)


@F.pandas_udf(T.StringType())
def normalize_udf(texts: pd.Series) -> pd.Series:
    return pd.Series([sim.normalize_text(t) for t in texts], index=texts.index)


def embed_nomencladores(nom: DataFrame) -> DataFrame:
    """Assemble embedding text (embedding.worker.js:102-111) + embed + normalize."""
    text = F.concat_ws(
        " ",
        "especialidad",
        "descripcion",
        "desc_nomenclador",
        F.array_join("sinonimos", " "),
        F.array_join("palabras_clave", " "),
    )
    return nom.withColumn("descripcion_normalizada", normalize_udf("descripcion")).withColumn(
        "descripcion_embedding", embed_udf(text)
    )


def embed_prestadores(prest: DataFrame) -> DataFrame:
    """Assemble embedding text (embedding.worker.js:34-41) + embed + normalize."""
    text = F.concat_ws(
        " ", "nombre_fantasia", "raz_soc_nombre", "registro_profesional", "tipo"
    )
    return prest.withColumn("nombre_normalizado", normalize_udf("nombre_fantasia")).withColumn(
        "nombre_embedding", embed_udf(text)
    )


# ---------------------------------------------------------------------------
# Vectorized top-k candidate scoring (J3/J4 + T1/T2 + F12/F13/F14)
# ---------------------------------------------------------------------------

CANDIDATE_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("rank", T.IntegerType()),
            T.StructField("id", T.IntegerType()),
            T.StructField("descripcion", T.StringType()),
            T.StructField("sim_vec", T.DoubleType()),
            T.StructField("sim_trgm", T.DoubleType()),
            T.StructField("similitud", T.DoubleType()),
        ]
    )
)


def make_topk_scorer(
    ids: list[int],
    descs: list[str],
    embed_texts: list[str],
    k: int,
    min_sim: float = config.MIN_SIMILARITY_NOM,
):
    """Batch scorer against a fixed candidate matrix (closure 'broadcast').

    Semantics (matching.service.js:32-66): vector top-k with floor min_sim and
    id tie-break, then re-rank by 0.7*sim_vec + 0.3*sim_trgm (id tie-break).
    """
    import numpy as np

    M = sim.embed_matrix(embed_texts)  # L2-normalized rows
    trigram_sets = [sim.char_trigrams(d or "") for d in descs]
    ids_arr = np.array(ids, dtype=np.int64)

    def _score_one(q):
        if q is None or len(ids_arr) == 0:
            return []
        qv = np.asarray(sim.embed_text(q), dtype=np.float64)
        sims = M @ qv  # rows normalized -> cosine
        mask = sims >= min_sim
        idxs = np.nonzero(mask)[0]
        if idxs.size == 0:
            return []
        # vector top-k, tie-break by id ascending
        order = idxs[np.lexsort((ids_arr[idxs], -sims[idxs]))][:k]
        qgrams = sim.char_trigrams(q)
        cands = []
        for j in order:
            sj = trigram_sets[j]
            inter = len(qgrams & sj)
            trgm = (
                inter / (len(qgrams) + len(sj) - inter)
                if qgrams and sj
                else 0.0
            )
            sv = float(sims[j])
            cands.append(
                {
                    "id": int(ids_arr[j]),
                    "descripcion": descs[j],
                    "sim_vec": sv,
                    "sim_trgm": trgm,
                    "similitud": round(
                        config.VEC_WEIGHT * sv + config.TRGM_WEIGHT * trgm, 4
                    ),
                }
            )
        cands.sort(key=lambda c: (-c["similitud"], c["id"]))
        for r, c in enumerate(cands):
            c["rank"] = r + 1
        return cands

    def score_series(queries) -> list:
        """Score a batch with per-unique-query memoization: practice
        descriptions repeat heavily, so each distinct text is scored once
        per Arrow batch (pure function -> identical results)."""
        cache: dict = {}
        out = []
        for q in queries:
            if q not in cache:
                cache[q] = _score_one(q)
            out.append(cache[q])
        return out

    return score_series


def make_topk_udf(
    ids: list[int],
    descs: list[str],
    embed_texts: list[str],
    k: int,
    min_sim: float = config.MIN_SIMILARITY_NOM,
):
    """Pandas UDF over make_topk_scorer (the matrix ships in the closure —
    the broadcast-dimension pattern; dims are small by contract)."""
    score_series = make_topk_scorer(ids, descs, embed_texts, k, min_sim)

    @F.pandas_udf(CANDIDATE_TYPE)
    def topk_udf(queries: pd.Series) -> pd.Series:
        return pd.Series(score_series(queries), dtype=object)

    return topk_udf


def _guarded_collect(df: DataFrame, what: str) -> list:
    """Collect a dimension with a loud size cap: fetching cap+1 rows via
    limit() costs no extra job, and blowing past the cap raises a clear
    error instead of a silent driver OOM. Oversized dims should be sharded
    by tenant/especialidad or served by the ANN operators
    (operators/similarity_search) instead of the closure matmul."""
    cap = config.MAX_BROADCAST_DIM_ROWS
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what}: dimension exceeds MAX_BROADCAST_DIM_ROWS={cap}; "
            "shard the dimension, or use the collect-free paths: "
            "match_prestador_ann (provider cascade) / match_practices "
            "(broadcast-join matcher) / operators.similarity_search"
        )
    return rows


def _collect_nomenclador_space(nomencladores: DataFrame) -> tuple[list, list, list]:
    """Active nomencladores -> (ids, descripciones, embedding texts).

    Deterministic order (id ascending). Driver-side collect is by design:
    the dimension is the broadcast side (SURVEY §4 — replaces IVFFlat);
    _guarded_collect enforces the fits-in-memory contract loudly."""
    rows = _guarded_collect(
        nomencladores.filter(F.col("estado") == "ACTIVO")
        .select(
            "id_nomenclador",
            "descripcion",
            F.concat_ws(
                " ",
                "especialidad",
                "descripcion",
                "desc_nomenclador",
                F.array_join("sinonimos", " "),
                F.array_join("palabras_clave", " "),
            ).alias("etext"),
        )
        .orderBy("id_nomenclador"),
        "nomenclador candidate space",
    )
    return (
        [r["id_nomenclador"] for r in rows],
        [r["descripcion"] for r in rows],
        [r["etext"] for r in rows],
    )


# ---------------------------------------------------------------------------
# Latest-valid agreement (J6/T3)
# ---------------------------------------------------------------------------

def latest_agreements(acuerdos: DataFrame) -> DataFrame:
    """One row per (prestador, nomenclador, plan): latest vigente='SI'
    agreement by fecha_vigencia (id_acuerdo tie-break) —
    matching.service.js:251-269.

    Round 4: struct-max argmax instead of a row_number window. The winner
    is unchanged — max(struct(fecha_vigencia, id_acuerdo, ...)) compares
    lexicographically, which IS (fecha DESC, id DESC) with the unique
    id_acuerdo deciding ties before any later field is reached, and struct
    ordering puts NULL below any value exactly like DESC NULLS LAST. The
    plan gains a map-side partial_max: one candidate row per key crosses
    the shuffle instead of every agreement row — at a 10^12-row agreements
    table the window plan's full shuffle + per-key sort is the bottleneck.
    """
    keys = ["prest_id_prestador", "id_nomenclador", "plan_id_plan"]
    others = [
        c for c in acuerdos.columns
        if c not in ("fecha_vigencia", "id_acuerdo")
    ]
    winner = F.max(F.struct("fecha_vigencia", "id_acuerdo", *others)).alias("_m")
    agg = acuerdos.filter(F.col("vigente") == "SI").groupBy(*keys).agg(winner)
    return agg.select(
        *[
            (F.col(c) if c in keys else F.col(f"_m.{c}")).alias(c)
            for c in acuerdos.columns
        ]
    )


def agreement_map(acuerdos: DataFrame, cap: int | None = None) -> dict | None:
    """Latest agreements as a closure dict from ONE driver collect:
    (id_nomenclador, prest_id_prestador, plan_id_plan) -> (id_acuerdo, precio).

    With ``cap``, returns None when there are more than ``cap`` latest
    agreements (the caller then takes the broadcast-join matcher, which
    scales to any size); without it, _guarded_collect's hard cap applies.
    SQL-join NULL semantics: a NULL key component never matches, but a
    Python dict happily equates None keys — rows with a NULL key are dropped
    so dict lookups mirror the join-based path exactly."""
    latest = latest_agreements(acuerdos).select(
        "id_nomenclador", "prest_id_prestador", "plan_id_plan", "id_acuerdo", "precio"
    )
    if cap is None:
        rows = _guarded_collect(latest, "latest agreements")
    else:
        rows = latest.limit(cap + 1).collect()
        if len(rows) > cap:
            return None
    return {
        (r["id_nomenclador"], r["prest_id_prestador"], r["plan_id_plan"]): (
            r["id_acuerdo"],
            r["precio"],
        )
        for r in rows
        if None not in (r["id_nomenclador"], r["prest_id_prestador"], r["plan_id_plan"])
    }


# ---------------------------------------------------------------------------
# Provider match cascade (J1 -> J2 -> J4)
# ---------------------------------------------------------------------------

PROVIDER_FIELDS = [
    T.StructField("prestador_id", T.IntegerType()),
    T.StructField("prestador_confianza", T.DoubleType()),
    T.StructField("prestador_metodo", T.StringType()),
]


def _provider_cascade(prestadores: DataFrame):
    """One guarded collect of the active prestadores -> a cascade function
    over an Arrow batch of doc fields (ruc, medico_matricula,
    matricula_valida, prestador_nombre) -> (prestador_id,
    prestador_confianza, prestador_metodo) lists.

    Cascade: exact RUC (sim pinned 1.0, matching.service.js:91-120) ->
    exact matricula vs registro_profesional when the matricula is valid
    (:193-232) -> fuzzy top-1 (0.7 vec + 0.3 trgm on nombre, :137-171).
    A RUC or matricula shared by several active providers resolves to the
    lowest id_prestador; a NULL key never matches."""
    rows = _guarded_collect(
        prestadores.filter(F.col("estado") == "ACTIVO")
        .select(
            "id_prestador",
            "ruc",
            "registro_profesional",
            "nombre_fantasia",
            F.concat_ws(
                " ", "nombre_fantasia", "raz_soc_nombre", "registro_profesional", "tipo"
            ).alias("etext"),
        )
        .orderBy("id_prestador"),
        "prestador space",
    )
    by_ruc: dict = {}
    by_mat: dict = {}
    for r in rows:  # id order: setdefault keeps the lowest id per key
        if r["ruc"] is not None:
            by_ruc.setdefault(r["ruc"], r["id_prestador"])
        if r["registro_profesional"] is not None:
            by_mat.setdefault(r["registro_profesional"], r["id_prestador"])
    fuzzy = make_topk_scorer(
        [r["id_prestador"] for r in rows],
        [r["nombre_fantasia"] for r in rows],
        [r["etext"] for r in rows],
        k=config.TOPK_PRESTADOR,
        min_sim=0.0,
    )

    def provider_cascade(b):
        ruc, matricula, matricula_valida, nombre = (
            b.column(c).to_pylist()
            for c in ("ruc", "medico_matricula", "matricula_valida", "prestador_nombre")
        )
        n = len(ruc)
        ids, confs, metodos = [None] * n, [None] * n, [None] * n
        misses = []
        for i in range(n):
            pid, metodo = by_ruc.get(ruc[i]), "RUC"
            if pid is None and matricula_valida[i]:
                pid, metodo = by_mat.get(matricula[i]), "MATRICULA"
            if pid is None:
                misses.append(i)
            else:
                ids[i], confs[i], metodos[i] = pid, 1.0, metodo
        for i, cands in zip(misses, fuzzy([nombre[i] for i in misses]), strict=True):
            if cands:
                best = cands[0]
                ids[i] = best["id"]
                confs[i] = sim.round_half_up(best["similitud"], 2)
                metodos[i] = "FUZZY"
        return ids, confs, metodos

    return provider_cascade


def _append_columns(df: DataFrame, fields: list, fn) -> DataFrame:
    """df + ``fields`` computed by ``fn(record_batch) -> list of column value
    lists``, as one mapInArrow node. The input columns pass through as the
    same Arrow arrays, and the node is a projection barrier: the expressions
    below it (the extraction UDFs) are evaluated once, never inlined into
    the matcher's inputs."""
    from pyspark.sql.pandas.types import to_arrow_type

    types = [to_arrow_type(f.dataType) for f in fields]
    names = df.columns + [f.name for f in fields]

    def run(batches):
        for b in batches:
            new = [pa.array(v, type=t) for v, t in zip(fn(b), types, strict=True)]
            yield pa.RecordBatch.from_arrays(b.columns + new, names=names)

    run.__name__ = fn.__name__  # names the node in explain()
    return df.mapInArrow(run, T.StructType(df.schema.fields + fields))


def match_prestador(doc_fields: DataFrame, prestadores: DataFrame) -> DataFrame:
    """doc_fields(doc_id, ruc, prestador_nombre, medico_matricula,
    matricula_valida, ...) -> + (prestador_id, prestador_confianza,
    prestador_metodo), one Arrow map node over the _provider_cascade
    closure (no join, no shuffle). ``prestadores`` needs only its raw
    columns; embedding columns, if present, are never read."""
    return _append_columns(doc_fields, PROVIDER_FIELDS, _provider_cascade(prestadores))


def trigram_jaccard_col(a, b):
    """JVM character-3-gram Jaccard (pg_trgm analogue, F13): accent-fold via
    the fixed translate table (the corpus-exact approximation of the
    Python NFD fold), trigram arrays via substring transform, Jaccard via
    array_intersect — whole-stage codegen, no Python."""
    from ..functions.text import normalizar_texto

    def grams(c):
        t = F.regexp_replace(F.trim(normalizar_texto(c)), r"\s+", " ")
        n = F.length(t)
        return F.array_distinct(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
                    lambda i: t.substr(i, F.lit(3)),
                ),
                lambda x: x != "",
            )
        )

    ga, gb = grams(a), grams(b)
    inter = F.size(F.array_intersect(ga, gb))
    union = F.size(ga) + F.size(gb) - inter
    return F.when(
        (F.size(ga) > 0) & (F.size(gb) > 0) & (union > 0),
        inter.cast("double") / union.cast("double"),
    ).otherwise(0.0)


def match_prestador_ann(
    doc_fields: DataFrame,
    prest_embedded: DataFrame,
    n_planes: int = 6,
    probe_radius: int = 2,
) -> DataFrame:
    """Giant-dimension provider cascade: identical RUC/matricula exact steps,
    but the fuzzy fallback is a BUCKET JOIN (integer-SRP LSH over the name
    embeddings) instead of a closure matmul — NO driver collect anywhere, so
    the prestador dimension can be arbitrarily large (it shuffles/broadcasts
    by Catalyst's own sizing).

    Multi-probe: the query side explodes into every bucket within Hamming
    ``probe_radius`` of its own (radius 2 over 6 planes = 22 probes) —
    sign-flip probability per plane is ~(angle/pi), so radius 2 recovers
    ~90% of moderately-similar matches that single-probe misses. Still
    approximate by design; use match_prestador while the dim fits
    MAX_BROADCAST_DIM_ROWS (pytest asserts high agreement on the corpus)."""
    from itertools import combinations
    from .similarity_search import cosine_col, lsh_bucket_col, srp_coefficients

    activo = prest_embedded.filter(F.col("estado") == "ACTIVO")

    # a key shared by several active providers resolves to the lowest id,
    # as in match_prestador
    by_ruc = activo.groupBy(F.col("ruc").alias("_p_ruc")).agg(
        F.min("id_prestador").alias("_ruc_id")
    )
    step1 = doc_fields.join(
        F.broadcast(by_ruc), doc_fields.ruc == by_ruc._p_ruc, "left"
    ).drop("_p_ruc")

    by_mat = activo.groupBy(F.col("registro_profesional").alias("_p_mat")).agg(
        F.min("id_prestador").alias("_mat_id")
    )
    step2 = step1.join(
        F.broadcast(by_mat),
        (step1._ruc_id.isNull())
        & step1.matricula_valida
        & (step1.medico_matricula == by_mat._p_mat),
        "left",
    ).drop("_p_mat")

    first_emb = activo.select("nombre_embedding").first()
    if first_emb is None or first_emb[0] is None:
        # loud-failure contract (mirrors _guarded_collect): an empty active-
        # provider dimension means every fuzzy match would be null anyway —
        # tell the caller instead of TypeError-ing on len(None)
        raise ValueError(
            "match_prestador_ann: the active prestador dimension is empty "
            "(no estado='ACTIVO' rows with nombre_embedding); nothing to "
            "match against"
        )
    dim = len(first_emb[0])
    H = srp_coefficients(dim, n_planes)
    # bucket on a NOMBRE-ONLY embedding so both sides of the LSH live in the
    # same text space (the query is just the extracted provider name; the
    # scoring embedding deliberately stays the richer etext vector for
    # parity with match_prestador's semantics)
    dims = activo.withColumn(
        "_bucket_emb", embed_udf("nombre_fantasia")
    ).select(
        F.col("id_prestador").alias("_ann_id"),
        F.col("nombre_fantasia").alias("_ann_nombre"),
        F.col("nombre_embedding").alias("_ann_emb"),
        lsh_bucket_col(F.col("_bucket_emb"), H).alias("_bucket"),
    )
    misses = step2.filter(
        F.col("_ruc_id").isNull() & F.col("_mat_id").isNull()
    ).select("doc_id", "prestador_nombre")
    masks = [0]
    if probe_radius >= 1:
        masks += [1 << i for i in range(n_planes)]
    if probe_radius >= 2:
        masks += [(1 << i) | (1 << j) for i, j in combinations(range(n_planes), 2)]
    q = (
        misses.withColumn("_q_emb", embed_udf("prestador_nombre"))
        .withColumn("_qb", lsh_bucket_col(F.col("_q_emb"), H))
        .withColumn(
            "_bucket",
            F.explode(
                F.array(*[F.col("_qb").bitwiseXOR(F.lit(m)) for m in masks])
            ),
        )
    )
    scored = (
        q.join(dims, "_bucket")
        .dropDuplicates(["doc_id", "_ann_id"])
        .withColumn(
            "_sim",
            F.round(
                config.VEC_WEIGHT * cosine_col(F.col("_q_emb"), F.col("_ann_emb"))
                + config.TRGM_WEIGHT
                * trigram_jaccard_col(F.col("prestador_nombre"), F.col("_ann_nombre")),
                4,
            ),
        )
    )
    # struct-max argmax: the per-doc winner is the lexicographic max of
    # (_sim, -_ann_id, _ann_id) — identical to a row_number window ordered
    # (desc _sim, asc _ann_id) because id_prestador is a non-null int, so
    # max(-id) = min(id) breaks similarity ties. The aggregate gets a
    # map-side partial_max: one candidate per (partition, doc) crosses the
    # shuffle instead of all ~22 radius-2 probe hits feeding a per-doc sort.
    best = (
        scored.groupBy(F.col("doc_id").alias("_b_doc"))
        .agg(
            F.max(
                F.struct(
                    F.col("_sim"),
                    (-F.col("_ann_id")).alias("_neg_id"),
                    F.col("_ann_id"),
                )
            ).alias("_best")
        )
        .select(
            "_b_doc",
            F.col("_best._ann_id").alias("_ann_id"),
            F.col("_best._sim").alias("_ann_sim"),
        )
    )
    step3 = step2.join(best, step2.doc_id == best._b_doc, "left").drop("_b_doc")

    return (
        step3.withColumn(
            "prestador_id", F.coalesce("_ruc_id", "_mat_id", "_ann_id")
        )
        .withColumn(
            "prestador_confianza",
            F.when(
                F.col("_ruc_id").isNotNull() | F.col("_mat_id").isNotNull(),
                F.lit(1.0),
            ).otherwise(F.round(F.col("_ann_sim"), 2)),
        )
        .withColumn(
            "prestador_metodo",
            F.when(F.col("_ruc_id").isNotNull(), "RUC")
            .when(F.col("_mat_id").isNotNull(), "MATRICULA")
            .when(F.col("_ann_id").isNotNull(), "FUZZY")
            .otherwise(F.lit(None).cast("string")),
        )
        .drop("_ruc_id", "_mat_id", "_ann_id", "_ann_sim")
    )


# ---------------------------------------------------------------------------
# Practice matching + agreement pick-best (§2.9 steps 1-5)
# ---------------------------------------------------------------------------

ALTERNATIVE_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("id_nomenclador", T.IntegerType()),
            T.StructField("descripcion", T.StringType()),
            T.StructField("similitud", T.DoubleType()),
            T.StructField("tiene_acuerdo", T.BooleanType()),
        ]
    )
)


def match_practices(
    practices: DataFrame,
    nomencladores: DataFrame,
    acuerdos: DataFrame,
) -> DataFrame:
    """practices(doc_id, item, descripcion, cantidad, confianza,
    prestador_id, plan_id_plan) -> one row per practice with
    nomenclador_id_sugerido, nomenclador_confianza, similitud, tiene_acuerdo,
    id_acuerdo, precio_acuerdo, matches_alternativos, alerta.

    The broadcast-join matcher for agreement tables too large for the
    closure dict of match_documents: explode every practice into its k
    candidates, broadcast-join the latest agreements, then two
    (doc_id, item) windows pick the best and slice the alternatives."""
    ids, descs, etexts = _collect_nomenclador_space(nomencladores)
    topk_udf = make_topk_udf(ids, descs, etexts, k=config.TOPK_NOMENCLADOR)

    with_cands = practices.withColumn("cands", topk_udf(F.col("descripcion")))
    exploded = with_cands.select(
        "doc_id", "item", "descripcion", "cantidad", "confianza",
        "prestador_id", "plan_id_plan",
        F.explode_outer("cands").alias("c"),
    )

    ag = latest_agreements(acuerdos).select(
        F.col("id_nomenclador").alias("_ag_nom"),
        F.col("prest_id_prestador").alias("_ag_prest"),
        F.col("plan_id_plan").alias("_ag_plan"),
        F.col("id_acuerdo").alias("_ag_id"),
        F.col("precio").alias("_ag_precio"),
    )
    joined = exploded.join(
        F.broadcast(ag),
        (F.col("c.id") == F.col("_ag_nom"))
        & (F.col("prestador_id") == F.col("_ag_prest"))
        & (F.col("plan_id_plan") == F.col("_ag_plan")),
        "left",
    ).withColumn("has_ag", F.col("_ag_id").isNotNull())

    # preference pick-best: min rank among agreement-holders, else rank 1
    wkey = Window.partitionBy("doc_id", "item")
    with_best = joined.withColumn(
        "best_rank",
        F.coalesce(
            F.min(F.when(F.col("has_ag"), F.col("c.rank"))).over(wkey), F.lit(1)
        ),
    )

    best = with_best.filter(
        (F.col("c.rank") == F.col("best_rank")) | F.col("c").isNull()
    ).select(
        "doc_id", "item", "descripcion", "cantidad", "confianza",
        "prestador_id", "plan_id_plan",
        F.col("c.id").alias("nomenclador_id_sugerido"),
        F.col("c.descripcion").alias("nomenclador_descripcion"),
        F.col("c.similitud").alias("similitud"),
        F.round(F.col("c.similitud"), 2).alias("nomenclador_confianza"),
        F.col("has_ag").alias("tiene_acuerdo"),
        F.col("_ag_id").alias("id_acuerdo"),
        F.col("_ag_precio").alias("precio_acuerdo"),
        F.when(F.col("c").isNull(), F.lit("SIN_MATCH"))
        .when(~F.col("has_ag"), F.lit("SIN_ACUERDO"))
        .alias("alerta"),
    )

    alts = (
        with_best.filter(F.col("c").isNotNull() & (F.col("c.rank") != F.col("best_rank")))
        .withColumn(
            "_alt_rn",
            F.row_number().over(wkey.orderBy("c.rank")),
        )
        .filter(F.col("_alt_rn") <= config.N_ALTERNATIVES)
        .groupBy("doc_id", "item")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("c.rank").alias("rank"),
                            F.col("c.id").alias("id_nomenclador"),
                            F.col("c.descripcion").alias("descripcion"),
                            F.col("c.similitud").alias("similitud"),
                            F.col("has_ag").alias("tiene_acuerdo"),
                        )
                    )
                ),
                lambda s: F.struct(
                    s["id_nomenclador"].alias("id_nomenclador"),
                    s["descripcion"].alias("descripcion"),
                    s["similitud"].alias("similitud"),
                    s["tiene_acuerdo"].alias("tiene_acuerdo"),
                ),
            ).alias("matches_alternativos")
        )
    )

    return best.join(alts, ["doc_id", "item"], "left").withColumn(
        "matches_alternativos",
        F.coalesce(
            "matches_alternativos", F.lit([]).cast(ALTERNATIVE_TYPE)
        ),
    )


# ---------------------------------------------------------------------------
# Document-level matcher (provider cascade + practice pick-best, one pass)
# ---------------------------------------------------------------------------

PRACTICE_MATCH_TYPE = T.StructType(
    [
        T.StructField("nomenclador_id_sugerido", T.IntegerType()),
        T.StructField("nomenclador_descripcion", T.StringType()),
        T.StructField("similitud", T.DoubleType()),
        T.StructField("nomenclador_confianza", T.DoubleType()),
        T.StructField("tiene_acuerdo", T.BooleanType()),
        T.StructField("id_acuerdo", T.IntegerType()),
        T.StructField("precio_acuerdo", T.DoubleType()),
        T.StructField("alerta", T.StringType()),
        T.StructField("matches_alternativos", ALTERNATIVE_TYPE),
    ]
)

_SIN_MATCH = {
    "nomenclador_id_sugerido": None,
    "nomenclador_descripcion": None,
    "similitud": None,
    "nomenclador_confianza": None,
    "tiene_acuerdo": False,
    "id_acuerdo": None,
    "precio_acuerdo": None,
    "alerta": "SIN_MATCH",
    "matches_alternativos": [],
}


def _practice_picker(nomencladores: DataFrame, agreements: dict):
    """One guarded collect of the active nomencladores -> a batch function
    (descripcion, prestador_id, plan_id lists) -> one PRACTICE_MATCH_TYPE
    dict per practice: top-k candidates, agreement preference pick-best
    (matching.service.js:378-392) and the alternatives slice (T7)."""
    ids, descs, etexts = _collect_nomenclador_space(nomencladores)
    score = make_topk_scorer(ids, descs, etexts, k=config.TOPK_NOMENCLADOR)

    def pick(descripciones, prestador_ids, plan_ids) -> list:
        out = []
        for cands, prest, plan in zip(
            score(descripciones), prestador_ids, plan_ids, strict=True
        ):
            if not cands:
                out.append(_SIN_MATCH)
                continue
            if prest is None or plan is None:
                # NULL join key -> no agreement can match (SQL semantics)
                hits = [None] * len(cands)
            else:
                hits = [agreements.get((c["id"], prest, plan)) for c in cands]
            # preference pick-best: min rank among agreement-holders, else 1
            best_idx = next((i for i, h in enumerate(hits) if h is not None), 0)
            best, hit = cands[best_idx], hits[best_idx]
            alts = [
                {
                    "id_nomenclador": c["id"],
                    "descripcion": c["descripcion"],
                    "similitud": c["similitud"],
                    "tiene_acuerdo": hits[i] is not None,
                }
                for i, c in enumerate(cands)
                if i != best_idx
            ][: config.N_ALTERNATIVES]
            out.append(
                {
                    "nomenclador_id_sugerido": best["id"],
                    "nomenclador_descripcion": best["descripcion"],
                    "similitud": best["similitud"],
                    "nomenclador_confianza": sim.round_half_up(best["similitud"], 2),
                    "tiene_acuerdo": hit is not None,
                    "id_acuerdo": None if hit is None else hit[0],
                    "precio_acuerdo": None if hit is None else hit[1],
                    "alerta": None if hit is not None else "SIN_ACUERDO",
                    "matches_alternativos": alts,
                }
            )
        return out

    return pick


def match_documents(
    doc_fields: DataFrame,
    prestadores: DataFrame,
    nomencladores: DataFrame,
    agreements: dict,
) -> DataFrame:
    """doc_fields(doc_id, ruc, prestador_nombre, medico_matricula,
    matricula_valida, practicas, plan_id_plan, ...) -> + (prestador_id,
    prestador_confianza, prestador_metodo, matches), where ``matches[i]``
    is the PRACTICE_MATCH_TYPE pick for ``practicas[i]`` (empty when the
    doc has none).

    One Arrow map node per document batch: the provider cascade, then every
    practice of the batch scored in one memoized scorer call against the
    doc's provider and plan. ``agreements`` is agreement_map's dict. Same
    rows as match_prestador + match_practices (pytest asserts) with no
    exchange added to the upstream plan."""
    import pyarrow.compute as pc

    cascade = _provider_cascade(prestadores)
    pick = _practice_picker(nomencladores, agreements)

    def document_matcher(b):
        ids, confs, metodos = cascade(b)
        practicas = b.column("practicas")
        n_items = pc.fill_null(pc.list_value_length(practicas), 0).to_pylist()
        repeat = lambda xs: [x for x, n in zip(xs, n_items) for _ in range(n)]  # noqa: E731
        picks = pick(
            pc.struct_field(pc.list_flatten(practicas), "descripcion").to_pylist(),
            repeat(ids),
            repeat(b.column("plan_id_plan").to_pylist()),
        )
        matches, start = [], 0
        for n in n_items:
            matches.append(picks[start : start + n])
            start += n
        return ids, confs, metodos, matches

    return _append_columns(
        doc_fields,
        PROVIDER_FIELDS + [T.StructField("matches", T.ArrayType(PRACTICE_MATCH_TYPE))],
        document_matcher,
    )


def explode_matches(matched: DataFrame) -> DataFrame:
    """match_documents output -> one row per practice, with the columns of
    match_practices: each practice zipped with its pick by position."""
    z = F.explode(F.arrays_zip("practicas", "matches")).alias("z")
    return matched.select("doc_id", "prestador_id", "plan_id_plan", z).select(
        "doc_id",
        "z.practicas.item",
        "z.practicas.descripcion",
        "z.practicas.cantidad",
        "z.practicas.confianza",
        "prestador_id",
        "plan_id_plan",
        "z.matches.*",
    )
