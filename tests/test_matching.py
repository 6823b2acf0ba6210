"""Matching + pre-visacion pipeline vs the pure-Python golden matcher.

Covers SURVEY §2.9: provider cascade (RUC/matricula/fuzzy), vectorized top-k
candidates, latest-vigente agreement argmax, preference pick-best,
alternatives slice, confidence folds, and the ordered detail invariant.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from medical_ocr_service_spark import config
from medical_ocr_service_spark.corpus import generator, golden
from medical_ocr_service_spark.corpus.golden_matching import GoldenMatcher
from medical_ocr_service_spark.plans import previsacion


@pytest.fixture(scope="module")
def golden_previsacion():
    docs, media = generator.synthesize_corpus(300, seed=config.CORPUS_SEED)
    extracted = golden.extract_corpus(docs, media)
    matcher = GoldenMatcher(generator.synthesize_dimensions(seed=config.CORPUS_SEED))
    out = [matcher.previsacion(g) for g in extracted]
    headers = pd.DataFrame([o["header"] for o in out])
    details = pd.DataFrame(
        [
            {k: v for k, v in d.items() if k != "matches_alternativos"}
            for o in out
            for d in o["details"]
        ]
    )
    alts = pd.DataFrame(
        [
            {
                "doc_id": d["doc_id"],
                "item": d["item"],
                "alt_idx": i + 1,
                "alt_id_nomenclador": a["id_nomenclador"],
                "alt_similitud": a["similitud"],
                "alt_tiene_acuerdo": a["tiene_acuerdo"],
            }
            for o in out
            for d in o["details"]
            for i, a in enumerate(d["matches_alternativos"])
        ]
    )
    return headers, details, alts


@pytest.fixture(scope="module")
def spark_previsacion(spark, corpus_dir):
    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    prest = spark.read.parquet(f"{corpus_dir}/prestadores.parquet")
    nom = spark.read.parquet(f"{corpus_dir}/nomencladores.parquet")
    ac = spark.read.parquet(f"{corpus_dir}/acuerdos_prestador.parquet")
    header, detail = previsacion.run_previsacion(docs, media, prest, nom, ac)
    return header.toPandas(), detail.toPandas()


def _cmp(ours: pd.DataFrame, ref: pd.DataFrame, keys: list[str], name: str):
    ours = ours.reindex(sorted(ours.columns), axis=1).sort_values(keys, ignore_index=True)
    ref = ref.reindex(sorted(ref.columns), axis=1).sort_values(keys, ignore_index=True)
    assert list(ours.columns) == list(ref.columns), (
        f"{name} columns: {list(ours.columns)} vs {list(ref.columns)}"
    )
    assert len(ours) == len(ref), f"{name} rows: {len(ours)} vs {len(ref)}"
    for c in ours.columns:
        a, b = ours[c], ref[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            a = pd.to_numeric(a).round(9)
            b = pd.to_numeric(b).round(9)
        bad = ~((a == b) | (a.isna() & b.isna()))
        assert not bad.any(), (
            f"{name}.{c}: {int(bad.sum())} mismatches, e.g.\n"
            f"{pd.concat([ours.loc[bad, keys + [c]].head(3).reset_index(drop=True), b[bad].head(3).reset_index(drop=True).rename('expected')], axis=1)}"
        )


def test_header_matches_golden(spark_previsacion, golden_previsacion):
    ours, _ = spark_previsacion
    ref, _, _ = golden_previsacion
    ours = ours.copy()
    ours["fecha_orden"] = ours["fecha_orden"].map(
        lambda d: None if d is None else str(d)
    )
    ref = ref.copy()
    ref["n_practicas"] = ref["n_practicas"].astype("int64")
    ours["n_practicas"] = ours["n_practicas"].astype("int64")
    _cmp(ours, ref, ["doc_id"], "header")


def test_detail_matches_golden(spark_previsacion, golden_previsacion):
    _, ours = spark_previsacion
    _, ref, _ = golden_previsacion
    ours = ours.drop(columns=["matches_alternativos"])
    _cmp(ours, ref, ["doc_id", "item"], "detail")


def test_alternatives_match_golden(spark, spark_previsacion, golden_previsacion):
    _, ours_pd = spark_previsacion
    _, _, ref = golden_previsacion
    rows = []
    for _, r in ours_pd.iterrows():
        alts = r["matches_alternativos"]
        for i, a in enumerate(alts if alts is not None else []):
            rows.append(
                {
                    "doc_id": r["doc_id"],
                    "item": r["item"],
                    "alt_idx": i + 1,
                    "alt_id_nomenclador": a["id_nomenclador"],
                    "alt_similitud": a["similitud"],
                    "alt_tiene_acuerdo": a["tiene_acuerdo"],
                }
            )
    ours = pd.DataFrame(rows)
    _cmp(ours, ref, ["doc_id", "item", "alt_idx"], "alternativos")


def test_detail_items_unique_and_dense(spark_previsacion):
    _, det = spark_previsacion
    g = det.groupby("doc_id")["item"].agg(["count", "min", "max"])
    assert (g["min"] == 1).all() and (g["max"] == g["count"]).all()


def test_pick_best_prefers_agreement(spark_previsacion):
    """Where the best match has an agreement-holding lower-ranked sibling, the
    pick must be the agreement holder (preference semantics, not argmax)."""
    _, det = spark_previsacion
    with_ag = det[det["tiene_acuerdo"]]
    assert len(with_ag) > 0
    # every agreement-holding pick carries the agreement payload
    assert with_ag["id_acuerdo"].notna().all()
    assert with_ag["precio_acuerdo"].notna().all()
    # alerta set exactly when no agreement
    no_ag = det[~det["tiene_acuerdo"] & det["nomenclador_id_sugerido"].notna()]
    assert (no_ag["alerta"] == "SIN_ACUERDO").all()


def test_previsacion_many_agreements_matches_golden(
    spark, corpus_dir, golden_previsacion
):
    """More than 200,000 vigente agreements (the corpus rows plus 200,001
    distinct keys on plans 3 and up, which no document gets) go through
    the same document-level matcher, and the header, detail and
    alternatives still equal the golden matcher's."""
    import datetime

    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    dims = generator.synthesize_dimensions(seed=config.CORPUS_SEED)
    schema = StructType.fromDDL(generator.ACUERDOS_SCHEMA)
    arrow_schema = to_arrow_schema(schema)
    corpus = pa.Table.from_pylist(
        [
            dict(a, fecha_vigencia=datetime.date.fromisoformat(a["fecha_vigencia"]))
            for a in dims["acuerdos_prestador"]
        ],
        schema=arrow_schema,
    )
    n = 200_001
    i = np.arange(n)
    prest_ids = np.array([p["id_prestador"] for p in dims["prestadores"]])
    nom_ids = np.array([x["id_nomenclador"] for x in dims["nomencladores"]])
    precio = pa.array(100.0 + i % 997, pa.float64())
    extra = pa.Table.from_arrays(
        [
            pa.array(10_000_000 + i, pa.int32()),
            pa.array(prest_ids[i % len(prest_ids)], pa.int32()),
            pa.array(nom_ids[i // len(prest_ids) % len(nom_ids)], pa.int32()),
            pa.array(3 + i // (len(prest_ids) * len(nom_ids)), pa.int32()),
            precio, precio, precio, precio,
            pa.array(["SI"] * n),
            pa.array([datetime.date(2025, 1, 1)] * n, pa.date32()),
            pa.array([None] * n, pa.string()),
        ],
        schema=arrow_schema,
    )
    # the corpus rows last: a collect that kept only the first 200,000
    # rows would lose every real agreement
    ac = spark.createDataFrame(pa.concat_tables([extra, corpus]), schema)
    assert ac.filter((F.col("vigente") == "SI") & (F.col("plan_id_plan") >= 3)).count() == n

    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    prest, nom, _ = generator.dims_dataframes(spark)
    header, detail = previsacion.run_previsacion(docs, media, prest, nom, ac)
    ours = (header.toPandas(), detail.toPandas())
    test_header_matches_golden(ours, golden_previsacion)
    test_detail_matches_golden(ours, golden_previsacion)
    test_alternatives_match_golden(spark, ours, golden_previsacion)
    spark.catalog.clearCache()


def _one_doc(spark, ruc, matricula, plan):
    return spark.createDataFrame(
        [("d1", ruc, "Clinica X", matricula, matricula is not None,
          [(1, "hemograma completo", 1, 0.9)], plan)],
        "doc_id string, ruc string, prestador_nombre string, "
        "medico_matricula string, matricula_valida boolean, "
        "practicas array<struct<item:int,descripcion:string,cantidad:int,"
        "confianza:double>>, plan_id_plan int",
    )


_ACUERDOS = (
    "id_acuerdo int, prest_id_prestador int, id_nomenclador int, "
    "plan_id_plan int, precio double, vigente string, fecha_vigencia date"
)


def _prestadores(spark, rows):
    return spark.createDataFrame(
        rows,
        "id_prestador int, ruc string, registro_profesional string, "
        "nombre_fantasia string, raz_soc_nombre string, tipo string, estado string",
    )


def test_fast_path_null_agreement_keys_never_match(spark):
    """SQL NULL-never-matches: an agreement row with a NULL key component
    must not match in the document-level matcher's closure dict, where a
    Python dict would equate a NULL plan with a NULL key part."""
    from medical_ocr_service_spark.operators import matching

    nom = spark.createDataFrame(
        [(1, "LAB", "hemograma completo", "hemograma", "G1", "S1", [], [], "ACTIVO")],
        "id_nomenclador int, especialidad string, descripcion string, "
        "desc_nomenclador string, grupo string, subgrupo string, "
        "sinonimos array<string>, palabras_clave array<string>, estado string",
    )
    ac = spark.createDataFrame(
        [(10, 1, None, 1, 100.0, "SI", "2024-01-01")],
        "id_acuerdo int, prest_id_prestador int, plan_id_plan int, "
        "id_nomenclador int, precio double, vigente string, fecha_vigencia string",
    ).withColumn("fecha_vigencia", F.to_date("fecha_vigencia"))
    prest = _prestadores(
        spark, [(1, "800-1", "M1", "Clinica X", "Clinica X SA", "CLINICA", "ACTIVO")]
    )
    matched = matching.match_documents(
        _one_doc(spark, "800-1", None, None), *matching.collect_dimensions(prest, nom, ac)
    )
    b = matching.explode_matches(matched).toPandas()
    assert b.loc[0, "prestador_id"] == 1 and b.loc[0, "nomenclador_id_sugerido"] == 1
    assert not b.loc[0, "tiene_acuerdo"]
    assert b.loc[0, "alerta"] == "SIN_ACUERDO"


def test_provider_shared_keys_resolve_to_lowest_id(spark):
    """Two active providers sharing a RUC and a registro_profesional: the
    exact cascade steps pick the lowest id_prestador (GoldenMatcher's
    first-wins over id-ordered dims), whatever the input order; inactive
    providers never match."""
    from medical_ocr_service_spark.operators import matching

    prest = _prestadores(
        spark,
        [
            (9, "800-1", "M1", "Clinica Nueve", "Nueve SA", "CLINICA", "ACTIVO"),
            (5, "800-1", "M1", "Clinica Cinco", "Cinco SA", "CLINICA", "ACTIVO"),
            (2, "800-1", "M1", "Clinica Dos", "Dos SA", "CLINICA", "INACTIVO"),
        ],
    ).repartition(3)
    nom = spark.createDataFrame(
        [(1, "LAB", "hemograma completo", "hemograma", [], [], "ACTIVO")],
        "id_nomenclador int, especialidad string, descripcion string, "
        "desc_nomenclador string, sinonimos array<string>, "
        "palabras_clave array<string>, estado string",
    )
    no_agreements = spark.createDataFrame([], _ACUERDOS)
    prest_rows, nom_rows, _ = matching.collect_dimensions(prest, nom, no_agreements)
    by_ruc = _one_doc(spark, "800-1", None, 1)
    by_mat = _one_doc(spark, "999-9", "M1", 1)
    for doc, metodo in ((by_ruc, "RUC"), (by_mat, "MATRICULA")):
        for out in (
            matching.match_prestador(doc, prest),
            matching.match_documents(doc, prest_rows, nom_rows, {}),
        ):
            r = out.select("prestador_id", "prestador_metodo").first()
            assert (r["prestador_id"], r["prestador_metodo"]) == (5, metodo)


def test_previsacion_plan_shape(spark, corpus_dir, final_plan_nodes):
    """Default run_previsacion, executed: every Python function runs once
    per evaluation (the matcher node is a projection barrier, so neither
    extraction UDF gets inlined into its inputs), the detail only explodes
    the cached match frame, and the plans carry few exchanges."""
    from medical_ocr_service_spark.corpus import generator
    from medical_ocr_service_spark.plans import previsacion

    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    prest, nom, ac = generator.dims_dataframes(spark)
    spark.catalog.clearCache()  # no cached relation from an earlier test
    header, detail = previsacion.run_previsacion(docs, media, prest, nom, ac)
    exchanges = 0
    try:
        for df in (header, detail):
            df.write.format("noop").mode("overwrite").save()
            nodes = list(final_plan_nodes(df._jdf.queryExecution().executedPlan()))
            text = "\n".join(s for s, _ in nodes)
            for fn in ("extract_fields_udf(", "layout_order_udf(", "document_matcher("):
                assert text.count(fn) == 1, (fn, text)
            own = [s for s, cached in nodes if not cached]
            assert any(s.startswith("InMemoryTableScan") for s in own), own
            assert not any("document_matcher(" in s or "Python" in s for s in own), own
            exchanges += sum(
                s.startswith(("Exchange", "BroadcastExchange", "ReusedExchange"))
                for s, _ in nodes
            )
        # the reassembly shuffle and the media broadcast, read by both outputs
        assert exchanges <= 4, exchanges
    finally:
        spark.catalog.clearCache()


def test_tenant_isolation(spark, corpus_dir):
    """P1 multitenancy: a tenant-scoped run only processes that tenant's
    docs and can only match that tenant's dimension rows
    (matching.service.js:25-29, migration_multitenant.sql:32-137)."""
    from medical_ocr_service_spark.corpus import generator
    from medical_ocr_service_spark.plans import previsacion

    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    prest, nom, ac = generator.dims_dataframes(spark)

    header_a, detail_a = previsacion.run_previsacion(
        docs, media, prest, nom, ac, tenant_id="tenant-a"
    )
    hp = header_a.toPandas()
    n_docs_a = docs.filter(F.col("tenant_id") == "tenant-a").count()
    assert len(hp) == n_docs_a > 0

    a_prest = {
        r["id_prestador"]
        for r in prest.filter(F.col("tenant_id") == "tenant-a").collect()
    }
    b_prest = {
        r["id_prestador"]
        for r in prest.filter(F.col("tenant_id") == "tenant-b").collect()
    }
    matched = {int(x) for x in hp["prestador_id_sugerido"].dropna()}
    assert matched, "tenant-a run matched no providers at all"
    assert matched <= a_prest
    assert not (matched & b_prest)

    a_nom = {
        r["id_nomenclador"]
        for r in nom.filter(F.col("tenant_id") == "tenant-a").collect()
    }
    dp = detail_a.toPandas()
    sugg = {int(x) for x in dp["nomenclador_id_sugerido"].dropna()}
    assert sugg <= a_nom


def _previsacion_rows(spark, docs, media):
    """run_previsacion over in-memory corpus rows on generator dimensions
    -> (header rows by doc_id, detail rows by (doc_id, item))."""
    prest, nom, ac = generator.dims_dataframes(spark)
    header, detail = previsacion.run_previsacion(
        spark.createDataFrame(
            [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        ),
        spark.createDataFrame(
            [(m["media_ref"], m["layout_json"]) for m in media],
            "media_ref string, layout_json string",
        ),
        prest, nom, ac,
    )
    try:
        return (
            {r["doc_id"]: r for r in header.collect()},
            {(r["doc_id"], r["item"]): r for r in detail.collect()},
        )
    finally:
        spark.catalog.clearCache()


def test_malformed_doc_id_and_date_read_null(spark):
    """Under ANSI mode one malformed value must not fail the whole job: a
    doc_id whose last 2 characters are not ASCII digits gets a NULL plan
    (no agreement matches), and an impossible date the field regex accepts
    (31/02/2024) a NULL fecha_orden. Header and detail equal the golden
    matcher's, and every other doc's rows equal those of the unmodified
    corpus."""
    import re

    docs, media = generator.synthesize_corpus(
        40, seed=config.CORPUS_SEED, pathological=False
    )
    renamed = {"doc00000003": "a", "doc00000004": "order-xy", "doc00000005": "doc-1"}
    date = re.compile(r"\b\d{2}/\d{2}/\d{4}\b")
    bad_date = [
        d["doc_id"]
        for d in docs[6:]
        if any(s["text"] and date.search(s["text"]) for s in d["spans"])
    ][:2]

    def break_date(d, s):
        if d["doc_id"] in bad_date and s["text"]:
            return dict(s, text=date.sub("31/02/2024", s["text"]))
        return s

    malformed = [
        dict(
            d,
            doc_id=renamed.get(d["doc_id"], d["doc_id"]),
            spans=[break_date(d, s) for s in d["spans"]],
        )
        for d in docs
    ]
    touched = set(renamed.values()) | set(bad_date)

    extracted = golden.extract_corpus(malformed, media)
    impossible = {g["doc_id"] for g in extracted if g["fields"]["fecha_orden"] == "2024-02-31"}
    assert len(bad_date) == 2 and impossible == set(bad_date)
    matcher = GoldenMatcher(generator.synthesize_dimensions(seed=config.CORPUS_SEED))
    out = [matcher.previsacion(g) for g in extracted]
    headers, details = _previsacion_rows(spark, malformed, media)

    ours = pd.DataFrame([r.asDict() for r in headers.values()])
    ours["fecha_orden"] = ours["fecha_orden"].map(lambda d: None if d is None else str(d))
    _cmp(ours, pd.DataFrame([o["header"] for o in out]), ["doc_id"], "header")
    no_alts = lambda d: {k: v for k, v in d.items() if k != "matches_alternativos"}  # noqa: E731
    _cmp(
        pd.DataFrame([no_alts(r.asDict()) for r in details.values()]),
        pd.DataFrame([no_alts(d) for o in out for d in o["details"]]),
        ["doc_id", "item"],
        "detail",
    )
    assert all(headers[d]["fecha_orden"] is None for d in bad_date)
    no_plan = [r for (d, _), r in details.items() if d in renamed.values()]
    assert no_plan and not any(r["tiene_acuerdo"] for r in no_plan)

    clean_headers, clean_details = _previsacion_rows(spark, docs, media)
    assert {d: r for d, r in headers.items() if d not in touched} == {
        d: r for d, r in clean_headers.items() if d not in touched and d not in renamed
    }
    assert {k: r for k, r in details.items() if k[0] not in touched} == {
        k: r for k, r in clean_details.items() if k[0] not in touched and k[0] not in renamed
    }


def test_embed_generalizes_to_1536d():
    """D10: the deterministic vectorizer generalizes to the reference's
    1536-d width (embedding.service.js text-embedding-3-small) — dim is a
    parameter, buckets actually span the full width, vectors stay unit-norm
    and deterministic."""
    import numpy as np

    from medical_ocr_service_spark.functions import similarity as sim

    texts = ["hemograma completo", "ecografia abdominal total", "radioterapia"]
    M = sim.embed_matrix(texts, dim=1536)
    assert M.shape == (3, 1536)
    np.testing.assert_allclose(np.linalg.norm(M, axis=1), 1.0, rtol=1e-9)
    # buckets beyond index 64 must be populated (regression: dim was
    # hardcoded inside the memoized gram hash)
    assert (np.abs(M[:, 64:]) > 0).any()
    # deterministic across calls
    np.testing.assert_array_equal(M, sim.embed_matrix(texts, dim=1536))
    # different dims give different (non-trivial) spaces, same text similar
    M64 = sim.embed_matrix(texts, dim=64)
    assert M64.shape == (3, 64)


def test_dim_collect_guard(spark, monkeypatch):
    """Driver-side dimension collects fail LOUDLY past the configured cap
    (instead of a silent driver OOM)."""
    from medical_ocr_service_spark import config
    from medical_ocr_service_spark.operators import matching

    nom = spark.createDataFrame(
        [(i, "LAB", f"practica {i}", "p", "G", "S", [], [], "ACTIVO") for i in range(5)],
        "id_nomenclador int, especialidad string, descripcion string, "
        "desc_nomenclador string, grupo string, subgrupo string, "
        "sinonimos array<string>, palabras_clave array<string>, estado string",
    )
    prest, _, ac = generator.dims_dataframes(spark)
    monkeypatch.setattr(config, "MAX_BROADCAST_DIM_ROWS", 3)
    with pytest.raises(ValueError, match="nomenclador.*MAX_BROADCAST_DIM_ROWS"):
        matching.collect_dimensions(prest.limit(3), nom, ac.limit(3))


def test_dims_dataframes_are_arrow_local_relations(spark):
    """generator.dims_dataframes holds exactly synthesize_dimensions' rows,
    array, date and NULL columns included, and each frame is a
    LocalRelation: no ExistingRDD scan, no Python node."""
    import datetime

    dims = generator.synthesize_dimensions(seed=7)
    frames = generator.dims_dataframes(spark, seed=7)
    want = (
        dims["prestadores"],
        dims["nomencladores"],
        [
            dict(a, fecha_vigencia=datetime.date.fromisoformat(a["fecha_vigencia"]))
            for a in dims["acuerdos_prestador"]
        ],
    )
    for df, rows in zip(frames, want, strict=True):
        assert df.columns == list(rows[0])
        assert [r.asDict() for r in df.collect()] == rows
        qe = df._jdf.queryExecution()
        assert qe.optimizedPlan().nodeName() == "LocalRelation"
        plans = qe.optimizedPlan().treeString() + qe.executedPlan().treeString()
        assert "ExistingRDD" not in plans and "Python" not in plans, plans
    assert any(n["sinonimos"] for n in want[1])
    assert all(p["nombre_normalizado"] is None for p in want[0])


def test_previsacion_plan_build_runs_at_most_one_job(
    spark, corpus_dir, count_jobs, monkeypatch
):
    """Building run_previsacion's plan on generator dimensions runs at most
    one Spark job: every frame it collects (the three dimensions) folds
    into a LocalRelation, so no collect plans an exchange, a Python node
    or an RDD scan."""
    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    prest, nom, ac = generator.dims_dataframes(spark)
    collected = []
    collect = type(prest).collect
    monkeypatch.setattr(
        type(prest), "collect", lambda df: (collected.append(df), collect(df))[1]
    )
    with count_jobs() as jobs:
        previsacion.run_previsacion(docs, media, prest, nom, ac)
    assert jobs.n <= 1
    assert len(collected) == 3
    for df in collected:
        qe = df._jdf.queryExecution()
        assert qe.optimizedPlan().nodeName() == "LocalRelation"
        plan = qe.executedPlan().treeString()
        for bad in ("Exchange", "Python", "ExistingRDD"):
            assert bad not in plan, plan


def test_previsacion_warm_build_round_trips(spark, corpus_dir, monkeypatch):
    """A warm run_previsacion build (not the first in the session) makes at
    most 1,000 py4j round trips: one projection per step, and the constant
    expression trees come from the per-SparkContext memo instead of being
    rebuilt call by call (about 2,450 round trips when they were).
    Memory-release commands ("m") are not counted: the Python GC sends
    them whenever it runs."""
    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    prest, nom, ac = generator.dims_dataframes(spark)
    previsacion.run_previsacion(docs, media, prest, nom, ac)
    client = spark.sparkContext._gateway._gateway_client
    send, commands = client.send_command, []

    def counted(command, *args, **kwargs):
        commands.append(command[:1])
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    previsacion.run_previsacion(docs, media, prest, nom, ac)
    monkeypatch.undo()
    trips = sum(c != "m" for c in commands)
    assert 0 < trips <= 1000, trips
    spark.catalog.clearCache()


def test_driver_latest_pick_equals_latest_agreements(spark):
    """collect_dimensions' driver-side latest pick == latest_agreements'
    struct max, on seeded agreement tables with NULL fecha_vigencia, tied
    dates, duplicate and NULL ids, NULL key parts and non-SI rows. Rows
    with a NULL key never enter the dict. Every third table puts a column
    between id_acuerdo and precio, so a tie on date and id is decided by
    the same field on both paths whatever the column order."""
    import datetime
    import random

    from medical_ocr_service_spark.operators import matching

    prest, nom, _ = generator.dims_dataframes(spark)
    for seed in range(12):
        rng = random.Random(seed)
        # even seeds: one non-NULL date and id, so most rows tie on both
        dates = [None, datetime.date(2023, 1, 1), datetime.date(2024, 6, 30)][: 2 + seed % 2]
        ids = [None, *range(1, 2 + 3 * (seed % 2))]
        nullable = lambda xs: rng.choice([None, *xs]) if rng.random() < 0.1 else rng.choice(xs)  # noqa: E731
        rows = [
            (
                rng.choice(ids),
                nullable([1, 2]),
                nullable([1, 2]),
                nullable([1, 2]),
                rng.choice([100.0, 250.5, None]),
                rng.choice(["SI", "SI", "SI", "NO", None]),
                rng.choice(dates),
            )
            for _ in range(rng.randrange(1, 80))
        ]
        schema = _ACUERDOS
        if seed % 3 == 2:
            schema = schema.replace("id_acuerdo int, ", "id_acuerdo int, nota string, ")
            rows = [(r[0], rng.choice(["a", "z", None]), *r[1:]) for r in rows]
        ac = spark.createDataFrame(rows, schema)
        want = {
            (r["id_nomenclador"], r["prest_id_prestador"], r["plan_id_plan"]): (
                r["id_acuerdo"],
                r["precio"],
            )
            for r in matching.latest_agreements(ac).collect()
            if None not in (r["id_nomenclador"], r["prest_id_prestador"], r["plan_id_plan"])
        }
        assert matching.collect_dimensions(prest, nom, ac)[2] == want, seed


def test_collect_dimensions_caps(spark, monkeypatch):
    """Every dimension collect is capped at MAX_BROADCAST_DIM_ROWS: at the
    vigente agreement count the dict is built, one below it the agreement
    collect raises like the prestador and nomenclador collects. The cap
    counts vigente rows, not latest ones."""
    from medical_ocr_service_spark import config
    from medical_ocr_service_spark.operators import matching

    prest, nom, ac = generator.dims_dataframes(spark)
    n_vigente = ac.filter(F.col("vigente") == "SI").count()
    n_latest = matching.latest_agreements(ac).count()
    assert n_latest < n_vigente
    small_prest, small_nom = prest.limit(1), nom.limit(1)
    monkeypatch.setattr(config, "MAX_BROADCAST_DIM_ROWS", n_vigente)
    assert len(matching.collect_dimensions(small_prest, small_nom, ac)[2]) == n_latest
    monkeypatch.setattr(config, "MAX_BROADCAST_DIM_ROWS", n_vigente - 1)
    with pytest.raises(ValueError, match="vigente agreements.*MAX_BROADCAST_DIM_ROWS"):
        matching.collect_dimensions(small_prest, small_nom, ac)
    monkeypatch.setattr(config, "MAX_BROADCAST_DIM_ROWS", 3)
    with pytest.raises(ValueError, match="MAX_BROADCAST_DIM_ROWS"):
        matching.collect_dimensions(prest, nom, ac.limit(1))


def test_trigram_jaccard_col_matches_python(spark):
    """JVM trigram Jaccard == the Python pg_trgm analogue on corpus-alphabet
    strings (the accent table covers the corpus charset)."""
    from medical_ocr_service_spark.functions import similarity as sim
    from medical_ocr_service_spark.operators.matching import trigram_jaccard_col

    pairs = [
        ("hemograma completo", "hemograma completo"),
        ("ecografía abdominal", "ecografia  ABDOMINAL"),
        ("radiografia de torax", "resonancia magnetica"),
        ("ab", "ab"),
        ("", "xyz"),
        ("Sanatorio San Roque", "sanatorio san roque sa"),
    ]
    df = spark.createDataFrame(pairs, "a string, b string")
    out = df.select("a", "b", trigram_jaccard_col(F.col("a"), F.col("b")).alias("j")).collect()
    for r in out:
        expected = sim.trigram_similarity(r["a"], r["b"])
        assert abs(r["j"] - expected) < 1e-9, (r["a"], r["b"], r["j"], expected)


def test_previsacion_production_dim_1536():
    """Verdict r2 #8: the reference's production embedding width is 1536
    (database/schema_matching.sql:33,64 vector(1536)); the repo's default is
    a 64-d feature-hash. Run the FULL pipeline — corpus synthesis, golden
    matcher, Spark run_previsacion — at dim=1536 in a subprocess (config
    reads the width at import time) and require bit-for-bit golden equality
    of header, detail and alternatives at production width."""
    import json
    import os
    import subprocess
    import sys

    script = os.path.join(os.path.dirname(__file__), "dim1536_check.py")
    env = dict(os.environ)
    env["SPARK_GRAFT_EMBEDDING_DIM"] = "1536"
    out = subprocess.run(
        [sys.executable, script], capture_output=True, text=True, env=env,
        timeout=600,
    )
    assert out.returncode == 0, f"dim-1536 check failed:\n{out.stderr[-3000:]}"
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["ok"] and res["dim"] == 1536
    assert res["header_rows"] == res["docs"] == 300
