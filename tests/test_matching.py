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
    docs, media = generator.synthesize_corpus(300, seed=config.CORpus_SEED if hasattr(config, "CORpus_SEED") else config.CORPUS_SEED)
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


def test_match_practices_fast_equals_join_path(spark, corpus_dir):
    """The document-level matcher (match_documents, exploded per practice)
    returns row-for-row identical results, alternatives included, to the
    explode + broadcast-join + window path (match_practices)."""
    from medical_ocr_service_spark.operators import extract, matching
    from medical_ocr_service_spark.plans.previsacion import plan_id_col

    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    prest = spark.read.parquet(f"{corpus_dir}/prestadores.parquet")
    nom = spark.read.parquet(f"{corpus_dir}/nomencladores.parquet")
    ac = spark.read.parquet(f"{corpus_dir}/acuerdos_prestador.parquet")
    doc_fields = extract.extract_documents(docs, media).select(
        "doc_id",
        *[
            F.col(f"fields.{c}").alias(c)
            for c in ("ruc", "prestador_nombre", "medico_matricula", "matricula_valida", "practicas")
        ],
        plan_id_col(),
    )
    with_prest = matching.match_prestador(doc_fields, prest)
    practices = with_prest.select(
        "doc_id", "prestador_id", "plan_id_plan", F.explode("practicas").alias("p")
    ).select(
        "doc_id",
        F.col("p.item").alias("item"),
        F.col("p.descripcion").alias("descripcion"),
        F.col("p.cantidad").alias("cantidad"),
        F.col("p.confianza").alias("confianza"),
        "prestador_id",
        "plan_id_plan",
    )

    a = matching.match_practices(practices, nom, ac).toPandas()
    matched = matching.match_documents(
        doc_fields, prest, nom, matching.agreement_map(ac)
    )
    b = matching.explode_matches(matched).toPandas()
    keys = ["doc_id", "item"]
    a = a.sort_values(keys, ignore_index=True)
    b = b.sort_values(keys, ignore_index=True)
    assert len(a) > 0 and b["tiene_acuerdo"].any()
    # alternatives compared field-by-field (list-of-Row vs list-of-dict)
    alt_a = a.pop("matches_alternativos").map(
        lambda xs: [tuple(x) for x in xs]
    )
    alt_b = b.pop("matches_alternativos").map(
        lambda xs: [tuple(x) for x in xs]
    )
    assert list(a.columns) == list(b.columns)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    assert (alt_a == alt_b).all()


def _one_doc(spark, ruc, matricula, plan):
    return spark.createDataFrame(
        [("d1", ruc, "Clinica X", matricula, matricula is not None,
          [(1, "hemograma completo", 1, 0.9)], plan)],
        "doc_id string, ruc string, prestador_nombre string, "
        "medico_matricula string, matricula_valida boolean, "
        "practicas array<struct<item:int,descripcion:string,cantidad:int,"
        "confianza:double>>, plan_id_plan int",
    )


def _prestadores(spark, rows):
    return spark.createDataFrame(
        rows,
        "id_prestador int, ruc string, registro_profesional string, "
        "nombre_fantasia string, raz_soc_nombre string, tipo string, estado string",
    )


def test_fast_path_null_agreement_keys_never_match(spark):
    """SQL NULL-never-matches parity: an agreement row with a NULL key
    component must not match in the document-level matcher's closure dict
    either, exactly like the join-based path."""
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
    practices = spark.createDataFrame(
        [("d1", 1, "hemograma completo", 1, 0.9, 1, None)],
        "doc_id string, item int, descripcion string, cantidad int, "
        "confianza double, prestador_id int, plan_id_plan int",
    )
    a = matching.match_practices(practices, nom, ac).toPandas()
    matched = matching.match_documents(
        _one_doc(spark, "800-1", None, None), prest, nom, matching.agreement_map(ac)
    )
    b = matching.explode_matches(matched).toPandas()
    assert b.loc[0, "prestador_id"] == 1 and b.loc[0, "nomenclador_id_sugerido"] == 1
    assert not a.loc[0, "tiene_acuerdo"] and not b.loc[0, "tiene_acuerdo"]
    assert a.loc[0, "alerta"] == b.loc[0, "alerta"] == "SIN_ACUERDO"


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
    by_ruc = _one_doc(spark, "800-1", None, 1)
    by_mat = _one_doc(spark, "999-9", "M1", 1)
    for doc, metodo in ((by_ruc, "RUC"), (by_mat, "MATRICULA")):
        for out in (
            matching.match_prestador(doc, prest),
            matching.match_documents(doc, prest, nom, {}),
        ):
            r = out.select("prestador_id", "prestador_metodo").first()
            assert (r["prestador_id"], r["prestador_metodo"]) == (5, metodo)


def test_auto_matcher_falls_back_to_join_path(spark, corpus_dir, monkeypatch):
    """practice_matcher='auto' must route to the join path when the
    agreements dim exceeds the configured document-matcher ceiling."""
    from medical_ocr_service_spark import config
    from medical_ocr_service_spark.corpus import generator
    from medical_ocr_service_spark.operators import matching
    from medical_ocr_service_spark.plans import previsacion

    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    prest, nom, ac = generator.dims_dataframes(spark)

    calls = []
    orig = matching.match_practices
    monkeypatch.setattr(
        matching, "match_practices",
        lambda *a, **k: (calls.append("join"), orig(*a, **k))[1],
    )
    monkeypatch.setattr(
        matching, "match_documents",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("document matcher used")),
    )
    monkeypatch.setattr(config, "FAST_MATCH_MAX_AGREEMENTS", 0)
    header, detail = previsacion.run_previsacion(docs, media, prest, nom, ac)
    assert calls == ["join"]
    assert detail.limit(1).count() >= 0  # plan executes


def _final_plan_nodes(plan, cached=False):
    """(one-line node string, inside-a-cached-relation) for every node of
    an executed physical plan: AQE's final plan, query stages and the
    plans of cached relations included."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _final_plan_nodes(plan.executedPlan(), cached)
        return
    if name.endswith("QueryStage") or name == "ReusedExchange":
        yield (name, cached)
        yield from _final_plan_nodes(plan.plan() if name != "ReusedExchange" else plan.child(), cached)
        return
    yield (plan.simpleString(1000), cached)
    if name == "InMemoryTableScan":
        yield from _final_plan_nodes(plan.relation().cachedPlan(), True)
    children = plan.children()
    for i in range(children.size()):
        yield from _final_plan_nodes(children.apply(i), cached)


def test_previsacion_plan_shape(spark, corpus_dir):
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
            nodes = list(_final_plan_nodes(df._jdf.queryExecution().executedPlan()))
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

    # denormalized media cannot be tenant-scoped -> explicit refusal
    import pytest as _pytest

    with _pytest.raises(ValueError, match="tenant"):
        previsacion.run_previsacion(
            docs, media, prest, nom, ac,
            media_strategy="denormalized", tenant_id="tenant-a",
        )


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
    monkeypatch.setattr(config, "MAX_BROADCAST_DIM_ROWS", 3)
    with pytest.raises(ValueError, match="MAX_BROADCAST_DIM_ROWS"):
        matching._collect_nomenclador_space(matching.embed_nomencladores(nom))


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


def test_match_prestador_ann_agrees_with_exact(spark, corpus_dir):
    """The no-collect ANN provider cascade: exact RUC/matricula rows are
    IDENTICAL to match_prestador; fuzzy rows agree on the vast majority of
    docs (single-probe LSH is approximate by design)."""
    from medical_ocr_service_spark.corpus import generator
    from medical_ocr_service_spark.operators import extract, matching
    from medical_ocr_service_spark.plans.previsacion import plan_id_col

    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    prest, _, _ = generator.dims_dataframes(spark)
    prest_e = matching.embed_prestadores(prest)
    doc_fields = extract.extract_documents(docs, media).select(
        "doc_id",
        F.col("fields.ruc").alias("ruc"),
        F.col("fields.prestador_nombre").alias("prestador_nombre"),
        F.col("fields.medico_matricula").alias("medico_matricula"),
        F.col("fields.matricula_valida").alias("matricula_valida"),
        plan_id_col(),
    )
    exact = matching.match_prestador(doc_fields, prest_e).select(
        "doc_id", "prestador_id", "prestador_metodo"
    ).toPandas().set_index("doc_id")
    ann = matching.match_prestador_ann(doc_fields, prest_e).select(
        "doc_id", "prestador_id", "prestador_metodo"
    ).toPandas().set_index("doc_id")
    assert len(exact) == len(ann)

    ex_exact = exact[exact["prestador_metodo"].isin(["RUC", "MATRICULA"])]
    assert (
        ann.loc[ex_exact.index, "prestador_id"] == ex_exact["prestador_id"]
    ).all()
    assert (
        ann.loc[ex_exact.index, "prestador_metodo"] == ex_exact["prestador_metodo"]
    ).all()

    fuzzy_idx = exact[exact["prestador_metodo"] == "FUZZY"].index
    if len(fuzzy_idx):
        agree = (
            ann.loc[fuzzy_idx, "prestador_id"].fillna(-1)
            == exact.loc[fuzzy_idx, "prestador_id"].fillna(-1)
        ).mean()
        assert agree >= 0.6, f"ANN fuzzy agreement too low: {agree}"


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


def test_match_prestador_ann_plan_has_no_window(spark, corpus_dir):
    """The ANN cascade's best-per-doc step is a struct-max argmax: the plan
    must aggregate with a map-side partial_max and contain zero Window
    nodes — radius-2 probing fans each miss into 22 candidate buckets, and
    a per-doc sort over that fan-out is the wrong shape at 10^12 docs."""
    from medical_ocr_service_spark.corpus import generator
    from medical_ocr_service_spark.operators import extract, matching
    from medical_ocr_service_spark.plans.previsacion import plan_id_col

    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    prest, _, _ = generator.dims_dataframes(spark)
    prest_e = matching.embed_prestadores(prest)
    doc_fields = extract.extract_documents(docs, media).select(
        "doc_id",
        F.col("fields.ruc").alias("ruc"),
        F.col("fields.prestador_nombre").alias("prestador_nombre"),
        F.col("fields.medico_matricula").alias("medico_matricula"),
        F.col("fields.matricula_valida").alias("matricula_valida"),
        plan_id_col(),
    )
    out = matching.match_prestador_ann(doc_fields, prest_e)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "partial_max" in plan, plan
