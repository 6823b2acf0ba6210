"""Span-sequence equality: Spark pipeline vs pure-Python golden extractor.

THE correctness gate (BASELINE.json north_rule): per document, the ordered
(kind, text, media_ref, order) sequence produced by the distributed pipeline
must equal the golden fixture exactly — including the pathological many-span
skew document.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medical_ocr_service_spark.operators import extract


@pytest.fixture(scope="module")
def loaded(spark, corpus_dir):
    docs = spark.read.parquet(f"{corpus_dir}/documents_interleaved.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    golden_spans = spark.read.parquet(f"{corpus_dir}/golden_spans.parquet")
    golden_fields = spark.read.parquet(f"{corpus_dir}/golden_fields.parquet")
    return docs, media, golden_spans, golden_fields


def test_span_sequence_equality_exploded(spark, loaded):
    """ordered_spans output == golden spans, row-for-row (full outer join empty diff)."""
    docs, media, golden_spans, _ = loaded
    ours = extract.ordered_spans(docs, media)

    g = golden_spans.select("doc_id", "order", "kind", "text", "media_ref")
    o = ours.select("doc_id", "order", "kind", "text", "media_ref")

    # exceptAll both directions — catches missing, extra, and differing rows
    diff1 = o.exceptAll(g).count()
    diff2 = g.exceptAll(o).count()
    assert diff1 == 0 and diff2 == 0, f"span mismatch: ours-extra={diff1} golden-extra={diff2}"
    assert o.count() == g.count() > 0


def test_span_sequence_equality_reassembled(spark, loaded):
    """Array-form reassembly matches golden per-doc ordered sequences exactly."""
    docs, media, golden_spans, _ = loaded
    ours = extract.reassembled_docs(docs, media).select("doc_id", "spans")

    g = (
        golden_spans.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("order", "kind", "text", "media_ref"))
            ).alias("_s")
        )
        .select(
            "doc_id",
            F.transform(
                "_s",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["order"].alias("order"),
                ),
            ).alias("spans"),
        )
    )
    joined = ours.alias("o").join(g.alias("g"), "doc_id", "full")
    mismatch = joined.filter(
        F.col("o.spans").isNull()
        | F.col("g.spans").isNull()
        | (F.col("o.spans") != F.col("g.spans"))
    )
    bad = mismatch.count()
    if bad:
        r = mismatch.select("doc_id").first()
        raise AssertionError(f"{bad} docs mismatch, e.g. {r}")


def test_pathological_doc_order(spark, loaded):
    """The ~1000-span skew doc keeps dense 1..n ordering."""
    docs, media, _, _ = loaded
    ours = extract.ordered_spans(docs, media).filter(F.col("doc_id") == "doc00000211")
    rows = ours.select("order").orderBy("order").collect()
    orders = [r["order"] for r in rows]
    assert len(orders) > 900
    assert orders == list(range(1, len(orders) + 1))


def test_extracted_fields_match_golden(spark, loaded):
    """Field extraction (struct UDF) matches the golden per-doc fields."""
    docs, media, _, golden_fields = loaded
    ours = extract.extract_documents(docs, media).select(
        "doc_id",
        F.col("fields.ruc").alias("ruc"),
        F.col("fields.paciente_nombre").alias("paciente_nombre"),
        F.col("fields.paciente_ci").alias("paciente_ci"),
        F.col("fields.fecha_orden").alias("fecha_orden"),
        F.col("fields.diagnostico_texto").alias("diagnostico_texto"),
        F.col("fields.diagnostico_codigo_cie").alias("diagnostico_codigo_cie"),
        F.col("fields.medico_matricula").alias("medico_matricula"),
        F.col("fields.matricula_valida").alias("matricula_valida"),
        F.col("fields.urgente").alias("urgente"),
        F.col("fields.practicas_fuente").alias("practicas_fuente"),
        F.size("fields.practicas").alias("n_practicas"),
        F.col("fields.confianza_extraccion").alias("confianza_extraccion"),
        "requiere_revision",
    )
    g = golden_fields.select(
        "doc_id", "ruc", "paciente_nombre", "paciente_ci", "fecha_orden",
        "diagnostico_texto", "diagnostico_codigo_cie", "medico_matricula",
        "matricula_valida", "urgente", "practicas_fuente",
        F.col("n_practicas").cast("int").alias("n_practicas"),
        "confianza_extraccion", "requiere_revision",
    )
    d1 = ours.exceptAll(g).count()
    d2 = g.exceptAll(ours).count()
    assert d1 == 0 and d2 == 0, f"fields mismatch: ours-extra={d1} golden-extra={d2}"


def test_practica_items_match_golden(spark, loaded):
    """Per-practice (item, descripcion, cantidad, confianza) exploded equality."""
    docs, media, _, golden_fields = loaded
    ours = (
        extract.extract_documents(docs, media)
        .select("doc_id", F.explode("fields.practicas").alias("p"))
        .select("doc_id", "p.item", "p.descripcion", "p.cantidad", "p.confianza")
    )
    g = (
        golden_fields.select("doc_id", F.explode("practicas").alias("p"))
        .select(
            "doc_id",
            F.col("p.item").cast("int").alias("item"),
            "p.descripcion",
            F.col("p.cantidad").cast("int").alias("cantidad"),
            "p.confianza",
        )
    )
    assert ours.exceptAll(g).count() == 0
    assert g.exceptAll(ours).count() == 0


def test_salted_reassembly_equals_plain(spark, loaded):
    """Two-phase salted reassembly is bit-identical to the plain path,
    including on the ~1000-span skew doc."""
    docs, media, _, _ = loaded
    plain = extract.reassembled_docs(docs, media).select("doc_id", "spans", "full_text")
    salted = extract.reassembled_docs_salted(docs, media, n_salts=8).select(
        "doc_id", "spans", "full_text"
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_extract_documents_salted_flag_equal(spark, loaded):
    """extract_documents(salted=True) — the path behind run_extraction
    --salted — yields the same rows as the default path."""
    docs, media, _, _ = loaded
    cols = ["doc_id", "spans", "full_text", "fields", "requiere_revision"]
    plain = extract.extract_documents(docs, media).select(cols)
    salted = extract.extract_documents(docs, media, salted=True).select(cols)
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


@pytest.mark.parametrize("variant", ["default", "salted", "quarantine"])
def test_spanless_docs_emit_no_row(spark, loaded, variant):
    """explode() eliminates empty and NULL span arrays, so no extraction
    variant emits a row for a span-less document: neither a result row with
    fields extracted from '' (resume would mark it done) nor, on the
    quarantine path, a quarantine row."""
    docs, media, _, _ = loaded
    degenerate = spark.createDataFrame(
        [("docEMPTY", [], "tenant-a"), ("docNULL", None, "tenant-a")], docs.schema
    )
    patched = docs.limit(5).unionByName(degenerate)
    if variant == "quarantine":
        results, quarantine = extract.extract_documents_quarantine(patched, media)
        quarantined = {r.doc_id for r in quarantine.select("doc_id").collect()}
        assert not quarantined & {"docEMPTY", "docNULL"}
    else:
        results = extract.extract_documents(patched, media, salted=variant == "salted")
        quarantined = set()
    ids = {r.doc_id for r in results.select("doc_id").collect()}
    assert "docEMPTY" not in ids and "docNULL" not in ids
    assert len(ids | quarantined) == 5


def test_layout_blocks_path_equals_json_udf(spark, loaded):
    """The production layout path (JVM from_json + the coordinate-only
    permutation UDF) is byte-identical to the golden XY-cut over the raw
    JSON, for the whole corpus sidecar plus NULL and blockless payloads."""
    from medical_ocr_service_spark.corpus import golden
    from medical_ocr_service_spark.functions.extraction_udfs import (
        apply_pruned_layout,
    )

    _, media, _, _ = loaded
    extra = spark.createDataFrame(
        [("xnull", None), ("xnoblocks", '{"w": 1, "h": 2}'),
         ("xempty", '{"blocks": []}')],
        "media_ref string, layout_json string",
    )
    base = media.select("media_ref", "layout_json").unionByName(extra)
    rows = apply_pruned_layout(base, out="pruned").collect()
    bad = [
        r.media_ref for r in rows
        if r.pruned != golden.layout_to_text(r.layout_json)
    ]
    assert not bad, bad[:5]
    byref = {r.media_ref: r.pruned for r in rows if r.media_ref.startswith("x")}
    assert byref["xnull"] is None
    assert byref["xnoblocks"] == ""
    assert byref["xempty"] == ""


def test_pruned_layout_parses_each_payload_once(loaded):
    """clean_spans' pruned layout path evaluates from_json once per payload
    and runs one ArrowEvalPython node, for layout_order_udf: a plan that
    re-parsed the payload above the Python node was measured 14% slower
    end to end than the raw-JSON UDF."""
    docs, media, _, _ = loaded
    plan = extract.clean_spans(docs, media)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("from_json(") == 1, plan
    evals = [line for line in plan.splitlines() if "ArrowEvalPython" in line]
    assert len(evals) == 1 and "layout_order_udf(" in evals[0], plan


def test_per_context_memo(spark, monkeypatch):
    """The package's constant trees are built once per SparkContext: the
    same Column object while one context is active, a new one under
    another context (a stand-in for a restarted session; no second JVM)."""
    from pyspark import SparkContext

    from medical_ocr_service_spark.functions.extraction_udfs import pruned_layout_trees

    first = pruned_layout_trees("layout_json")[2]
    assert pruned_layout_trees("layout_json")[2] is first
    assert pruned_layout_trees("payload")[2] is not first

    class Restarted:
        """Another SparkContext object on the same gateway."""

        def __getattr__(self, name):
            return getattr(spark.sparkContext, name)

    monkeypatch.setattr(SparkContext, "_active_spark_context", Restarted())
    other = pruned_layout_trees("layout_json")[2]
    assert other is not first
    assert pruned_layout_trees("layout_json")[2] is other
    monkeypatch.undo()
    assert pruned_layout_trees("layout_json")[2] is not other


def test_strip_boilerplate_col_equals_udf(spark):
    """The JVM higher-order-function strip (strip_boilerplate_col) must agree
    byte-for-byte with the golden oracle (corpus/golden.py) — including
    nulls, empty lines, adjacent tags, short low-density lines, and
    unicode whitespace."""
    from medical_ocr_service_spark.corpus import golden
    from medical_ocr_service_spark.functions.extraction_udfs import (
        strip_boilerplate_col,
    )

    cases = [
        None,
        "",
        "   ",
        "plain short",
        "plain   text\n with \t mixed\nwhitespace   runs",
        "<html><body><p>this content line is long enough to survive the cut</p></body></html>",
        "<nav><a href='/x'><span>Home</span></a><a href='/y'><span>Shop</span></a></nav>\n"
        "<p>the real article body sits here and is comfortably dense</p>\n"
        "<footer><a>terms</a><span>&copy;</span></footer>",
        "<a><b><c>",  # adjacent tags, no visible text
        "x<br/>y",  # short visible, tags
        "no tags but a line\nthat spans\nmultiple lines",
        "tab\tseparated nbsp and em-space",
        "<p>Diagnóstico: acentos áéí in a sufficiently long line</p>",
        "<!doctype html>\n<p>comment-ish bang tag counted; body line long enough here</p>",
        "< not-a-tag because space\nbut this line is long enough to keep around",
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i int, t string")
    out = df.select("i", strip_boilerplate_col(F.col("t")).alias("col")).collect()
    assert len(out) == len(cases)
    for r in out:
        ref = golden.strip_boilerplate(cases[r.i])
        assert r.col == ref, (r.i, cases[r.i], ref, r.col)


def test_text_span_branch_has_no_python_stage(spark, loaded):
    """Plan gate: the cleaned-span plan must not run ArrowEvalPython over the
    text-span branch (only the media layout parse and field extraction may)."""
    docs, media, _, _ = loaded
    cleaned = extract.clean_spans(docs, media)
    text_only = cleaned.filter(F.col("kind") == "text")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        text_only.explain("formatted")
    plan = buf.getvalue()
    # the union still contains the media branch; count Arrow stages — the
    # text branch itself contributes none, so exactly one (layout UDF) for
    # the full cleaned plan and zero for a docs-only text plan
    from medical_ocr_service_spark.operators.extract import exploded_spans
    from medical_ocr_service_spark.functions.extraction_udfs import strip_boilerplate_col

    pure_text = exploded_spans(docs).filter(F.col("kind") == "text").withColumn(
        "text", strip_boilerplate_col(F.col("text"))
    )
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        pure_text.explain("formatted")
    assert "ArrowEvalPython" not in buf2.getvalue()


def test_extract_fields_udf_equals_golden(spark, loaded):
    """Arrow-UDF field extraction == the golden extractor plus confidence
    fold (corpus/golden.py), over real corpus full_texts plus adversarial
    edge strings (a NULL text extracts as '')."""
    from medical_ocr_service_spark.corpus import golden
    from medical_ocr_service_spark.functions.extraction_udfs import (
        extract_fields_udf,
    )

    docs, media, _, _ = loaded
    texts = (
        extract.reassembled_docs(docs, media)
        .select("doc_id", "full_text")
        .limit(150)
    )
    edge = spark.createDataFrame(
        [
            ("e0", None),
            ("e1", ""),
            ("e2", "Paciente:   CI: 123"),  # whitespace-only name group
            ("e3", "CI: .--"),  # CI strips to ''
            ("e4", "PRACTICAS: ; ; ."),  # empty items
            ("e5", "PRACTICAS: eco x3; rx."),
            ("e6", "ecografia y RMN URGENTE M.N. 12345"),
            ("e7", "Diagnóstico: x (A12.3) 01/02/2024 RUC: 80-1"),
            ("e8", "Mat: 999"),  # too short matricula group (no match, needs 4)
            ("e9", "mat.: 12345 y matrícula profesional: 678901"),
        ],
        "doc_id string, full_text string",
    )
    rows = (
        texts.unionByName(edge)
        .select("doc_id", "full_text", extract_fields_udf(F.col("full_text")).alias("u"))
        .collect()
    )
    assert len(rows) == 160
    for r in rows:
        ref = golden.extract_fields(r.full_text or "")
        ref["confianza_extraccion"] = golden.confidence_fold(ref)
        got = r.u.asDict(recursive=True)
        assert got == ref, (r.doc_id, got, ref)


def test_prescan_literals_sound_and_complete():
    """The literal-prescan gate must be SOUND (regex match => literal
    present, else fields would silently vanish) and COMPLETE (every config
    pattern has a prescan entry)."""
    from medical_ocr_service_spark import config
    from medical_ocr_service_spark.corpus import generator, golden
    from medical_ocr_service_spark.functions import extraction_udfs as eu

    for p in config.MATRICULA_PATTERNS:
        assert p in eu._PRESCAN_LITERALS
    for p, _ in config.NARRATIVE_PRACTICE_PATTERNS:
        assert p in eu._PRESCAN_LITERALS

    docs, media = generator.synthesize_corpus(500, seed=7)  # different seed
    results = golden.extract_corpus(docs, media)
    crafted = [
        "se pide RADIOTERAPIA urgente", "indico rt y tac",
        "Video  Endoscopia Digestiva Alta", "videoendoscopia digestiva alta ya",
        "ECO abdominal", "ecodoppler carotideo", "KINESIOTERAPIA motora",
        "TC de torax", "Matrícula Profesional: 4567", "MAT.: 7777",
        "REG PROF 8888", "URGENTE STAT", "EMERGENCIA inmediato",
        "qtx ciclos", "QT adyuvante", "Bx de piel", "VCC programada",
        "RX y RMN", "EKG de control",
    ]
    texts = [r["full_text"] for r in results] + crafted
    for t in texts:
        tl = t.lower()
        for rx, lits in eu._MATRICULA_BANK:
            if lits and rx.search(t):
                assert any(li in tl for li in lits), (t[:60], rx.pattern)
        for rx, _name, lits in eu._NARRATIVE_BANK:
            if rx.search(t):
                assert any(li in tl for li in lits), (t[:60], rx.pattern)
        if eu._URGENCY.search(t):
            assert any(k in tl for k in eu._URGENCY_LITERALS), t[:60]
