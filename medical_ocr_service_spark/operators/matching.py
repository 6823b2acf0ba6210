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

All three dimensions reach the node through collect_dimensions, one
guarded driver collect each (the active prestadores, the active
nomencladores, the vigente agreements; on local dimensions such as
generator.dims_dataframes' they fold into LocalRelations and run no Spark
job), and ship in the function's closure — the broadcast-dimension
pattern, with no dimension shuffle and no join. The latest agreement per
key is picked on the driver. Dims are small by contract
(≤ MAX_BROADCAST_DIM_ROWS). For agreement tables too large for a closure
dict (more than FAST_MATCH_MAX_AGREEMENTS vigente rows), match_practices
is the explode + broadcast-join + window matcher over exploded practices
(same rows; pytest asserts).
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
    """Collect a dimension with a loud size cap: limit(cap + 1) bounds what
    reaches the driver, and blowing past the cap raises a clear error
    instead of a silent driver OOM. On a local dimension (a LocalRelation,
    e.g. generator.dims_dataframes) the optimizer folds the filter,
    projection and limit into the relation and the collect runs no Spark
    job; on a file-backed one it is a job of its own, or several when the
    limit scans partitions in growing batches. Oversized dims should be
    sharded by tenant/especialidad or served by the ANN operators
    (operators/similarity_search) instead of the closure matmul."""
    cap = config.MAX_BROADCAST_DIM_ROWS
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what}: dimension exceeds MAX_BROADCAST_DIM_ROWS={cap}; "
            "shard the dimension, or use the collect-free paths: "
            "match_practices (broadcast-join matcher) / "
            "operators.similarity_search"
        )
    return rows


def _by_id(rows: list, key: str) -> list:
    """rows in ascending ``key`` order, NULL first (Spark's ORDER BY)."""
    return sorted(rows, key=lambda r: (r[key] is not None, r[key]))


def _prestador_space(prestadores: DataFrame) -> DataFrame:
    """Active prestadores, projected to what the provider cascade reads."""
    return prestadores.filter(F.col("estado") == "ACTIVO").select(
        "id_prestador",
        "ruc",
        "registro_profesional",
        "nombre_fantasia",
        F.concat_ws(
            " ", "nombre_fantasia", "raz_soc_nombre", "registro_profesional", "tipo"
        ).alias("etext"),
    )


def _nomenclador_space(nomencladores: DataFrame) -> DataFrame:
    """Active nomencladores -> (id_nomenclador, descripcion, embedding text)."""
    return nomencladores.filter(F.col("estado") == "ACTIVO").select(
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


def _nomenclador_lists(rows: list) -> tuple[list, list, list]:
    """Nomenclador space rows -> (ids, descripciones, embedding texts) in
    id order (deterministic scorer input)."""
    rows = _by_id(rows, "id_nomenclador")
    return (
        [r["id_nomenclador"] for r in rows],
        [r["descripcion"] for r in rows],
        [r["etext"] for r in rows],
    )


def _collect_nomenclador_space(nomencladores: DataFrame) -> tuple[list, list, list]:
    """Active nomencladores -> (ids, descripciones, embedding texts).

    Driver-side collect is by design: the dimension is the broadcast side
    (SURVEY §4 — replaces IVFFlat); _guarded_collect enforces the
    fits-in-memory contract loudly."""
    return _nomenclador_lists(
        _guarded_collect(_nomenclador_space(nomencladores), "nomenclador candidate space")
    )


# ---------------------------------------------------------------------------
# Latest-valid agreement (J6/T3)
# ---------------------------------------------------------------------------

# The latest agreement is the max of these fields, compared in this order
# with NULL below any value; latest_agreements and _latest_agreement_map
# both read it, so the two paths pick the same row even on tied dates and ids.
LATEST_AGREEMENT_ORDER = ("fecha_vigencia", "id_acuerdo", "precio")


def latest_agreements(acuerdos: DataFrame) -> DataFrame:
    """One row per (prestador, nomenclador, plan): latest vigente='SI'
    agreement by fecha_vigencia (id_acuerdo tie-break) —
    matching.service.js:251-269.

    Round 4: struct-max argmax instead of a row_number window. The winner
    is unchanged — max(struct(*LATEST_AGREEMENT_ORDER, ...)) compares
    lexicographically, which IS (fecha DESC, id DESC) with the unique
    id_acuerdo deciding ties before any later field is reached, and struct
    ordering puts NULL below any value exactly like DESC NULLS LAST. The
    plan gains a map-side partial_max: one candidate row per key crosses
    the shuffle instead of every agreement row — at a 10^12-row agreements
    table the window plan's full shuffle + per-key sort is the bottleneck.
    """
    keys = ["prest_id_prestador", "id_nomenclador", "plan_id_plan"]
    others = [c for c in acuerdos.columns if c not in LATEST_AGREEMENT_ORDER]
    winner = F.max(F.struct(*LATEST_AGREEMENT_ORDER, *others)).alias("_m")
    agg = acuerdos.filter(F.col("vigente") == "SI").groupBy(*keys).agg(winner)
    return agg.select(
        *[
            (F.col(c) if c in keys else F.col(f"_m.{c}")).alias(c)
            for c in acuerdos.columns
        ]
    )


def _latest_agreement_map(rows: list) -> dict:
    """Vigente agreement rows -> the latest one per key as a closure dict:
    (id_nomenclador, prest_id_prestador, plan_id_plan) -> (id_acuerdo, precio).

    The same winner as latest_agreements' struct max: the max of
    LATEST_AGREEMENT_ORDER with NULL below any value (rows that tie on all
    of it carry the same dict value). SQL-join NULL semantics: a NULL key
    component never matches, but a Python dict happily equates None keys —
    rows with a NULL key are dropped so dict lookups mirror the join-based
    path exactly."""

    def order(r):
        return tuple((r[c] is not None, r[c]) for c in LATEST_AGREEMENT_ORDER)

    latest: dict = {}
    for r in sorted(rows, key=order):  # ascending: the last row of a key wins
        key = (r["id_nomenclador"], r["prest_id_prestador"], r["plan_id_plan"])
        if None not in key:
            latest[key] = (r["id_acuerdo"], r["precio"])
    return latest


def collect_dimensions(
    prestadores: DataFrame, nomencladores: DataFrame, acuerdos: DataFrame
) -> tuple[list, list, dict | None]:
    """(active prestador rows, active nomenclador rows, agreement dict), one
    guarded driver collect each. On Arrow-built or other local dimensions
    every collect folds into a LocalRelation and runs no Spark job.

    The agreement dict is _latest_agreement_map's latest pick per key, or
    None when more than config.FAST_MATCH_MAX_AGREEMENTS vigente rows exist
    (the collect fetches at most cap + 1, never the whole table; the caller
    then takes the broadcast-join matcher, which scales to any size). The
    cap counts vigente rows, not latest ones. Prestadores and nomencladores
    above MAX_BROADCAST_DIM_ROWS raise (_guarded_collect)."""
    cap = config.FAST_MATCH_MAX_AGREEMENTS
    agreements = (
        acuerdos.filter(F.col("vigente") == "SI")
        .select(
            "id_nomenclador", "prest_id_prestador", "plan_id_plan",
            *LATEST_AGREEMENT_ORDER,
        )
        .limit(cap + 1)
        .collect()
    )
    return (
        _guarded_collect(_prestador_space(prestadores), "prestador space"),
        _guarded_collect(_nomenclador_space(nomencladores), "nomenclador candidate space"),
        None if len(agreements) > cap else _latest_agreement_map(agreements),
    )


# ---------------------------------------------------------------------------
# Provider match cascade (J1 -> J2 -> J4)
# ---------------------------------------------------------------------------

PROVIDER_FIELDS = [
    T.StructField("prestador_id", T.IntegerType()),
    T.StructField("prestador_confianza", T.DoubleType()),
    T.StructField("prestador_metodo", T.StringType()),
]


def _provider_cascade(prestadores: list):
    """Active prestador rows (collect_dimensions) -> a cascade function
    over an Arrow batch of doc fields (ruc, medico_matricula,
    matricula_valida, prestador_nombre) -> (prestador_id,
    prestador_confianza, prestador_metodo) lists.

    Cascade: exact RUC (sim pinned 1.0, matching.service.js:91-120) ->
    exact matricula vs registro_profesional when the matricula is valid
    (:193-232) -> fuzzy top-1 (0.7 vec + 0.3 trgm on nombre, :137-171).
    A RUC or matricula shared by several active providers resolves to the
    lowest id_prestador; a NULL key never matches."""
    rows = _by_id(prestadores, "id_prestador")
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
    closure (no join, no shuffle), after one guarded collect of the active
    prestadores. ``prestadores`` needs only its raw columns; embedding
    columns, if present, are never read."""
    rows = _guarded_collect(_prestador_space(prestadores), "prestador space")
    return _append_columns(doc_fields, PROVIDER_FIELDS, _provider_cascade(rows))


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


def _practice_picker(nomencladores: list, agreements: dict):
    """Active nomenclador rows (collect_dimensions) -> a batch function
    (descripcion, prestador_id, plan_id lists) -> one PRACTICE_MATCH_TYPE
    dict per practice: top-k candidates, agreement preference pick-best
    (matching.service.js:378-392) and the alternatives slice (T7)."""
    ids, descs, etexts = _nomenclador_lists(nomencladores)
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
    prestadores: list,
    nomencladores: list,
    agreements: dict,
) -> DataFrame:
    """doc_fields(doc_id, ruc, prestador_nombre, medico_matricula,
    matricula_valida, practicas, plan_id_plan, ...) -> + (prestador_id,
    prestador_confianza, prestador_metodo, matches), where ``matches[i]``
    is the PRACTICE_MATCH_TYPE pick for ``practicas[i]`` (empty when the
    doc has none).

    One Arrow map node per document batch: the provider cascade, then every
    practice of the batch scored in one memoized scorer call against the
    doc's provider and plan. ``prestadores``, ``nomencladores`` and
    ``agreements`` are collect_dimensions' results. Same rows as
    match_prestador + match_practices (pytest asserts) with no exchange
    added to the upstream plan."""
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
