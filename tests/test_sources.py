"""Sources/sinks: CSV alias import, validity gate, JSONL sink, upsert merge."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from medical_ocr_service_spark.operators.upsert import coalesce_upsert, idempotent_result_sink
from medical_ocr_service_spark.sources import readers


def test_csv_alias_import(spark, tmp_path):
    p = str(tmp_path / "masters.csv")
    with open(p, "w") as f:
        f.write("Codigo Externo,DESCRIPCION,Grupo X\nA1,Hemograma,LAB\nA2,Glucemia,LAB\n")
    alias = {"codigo_externo": "id_externo", "descripcion": "descripcion"}
    df = readers.read_csv_with_aliases(spark, p, alias)
    assert set(df.columns) == {"id_externo", "descripcion", "grupo_x"}
    assert df.count() == 2


def test_split_valid_invalid(spark):
    df = spark.createDataFrame(
        [("a", "x"), (None, "y"), ("c", ""), ("d", "w")],
        "k string, v string",
    )
    valid, errors = readers.split_valid_invalid(df, ["k", "v"], order_col="v")
    assert valid.count() == 2
    err = errors.toPandas().sort_values("fila")
    # global 1-based index over v-ordering: ""->1, w->2, x->3, y->4
    assert list(err["fila"]) == [1, 4]
    msgs = set(err["error"])
    assert any("k" in m for m in msgs) and any("v" in m for m in msgs)
    # scale gate: no single-reducer exchange anywhere in the physical plan
    plan = errors._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_global_row_index_no_order(spark):
    df = spark.range(0, 1000, 1, 8).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    idx = readers.with_global_row_index(df)
    rows = idx.toPandas()
    assert sorted(rows["fila"]) == list(range(1, 1001))
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_write_jsonl(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    out = str(tmp_path / "jsonl")
    readers.write_jsonl(df, out)
    lines = []
    for fn in os.listdir(out):
        if fn.startswith("part-"):
            lines += open(os.path.join(out, fn)).read().splitlines()
    recs = sorted(json.loads(ln)["id"] for ln in lines)
    assert recs == [1, 2]


def test_coalesce_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, 100, "old-a", 10.0), (2, 200, "old-b", 20.0)],
        "id long, key long, name string, val double",
    )
    source = spark.createDataFrame(
        [(100, None, 11.0), (300, "new-c", 30.0)],
        "key long, name string, val double",
    )
    out = (
        coalesce_upsert(target, source, keys=["key"], surrogate_id="id")
        .toPandas()
        .set_index("key")
    )
    # matched: non-null source columns win, null source keeps old
    assert out.loc[100, "name"] == "old-a" and out.loc[100, "val"] == 11.0
    # untouched row intact
    assert out.loc[200, "name"] == "old-b" and out.loc[200, "val"] == 20.0
    # insert: new key with surrogate id assigned deterministically
    assert out.loc[300, "name"] == "new-c"
    assert out.loc[300, "id"] > 0
    # determinism of the surrogate
    out2 = (
        coalesce_upsert(target, source, keys=["key"], surrogate_id="id")
        .toPandas()
        .set_index("key")
    )
    assert out.loc[300, "id"] == out2.loc[300, "id"]


def test_idempotent_result_sink(spark):
    existing = spark.createDataFrame([("h1", "old"), ("h2", "old")], "h string, v string")
    incoming = spark.createDataFrame([("h2", "new"), ("h3", "new")], "h string, v string")
    out = idempotent_result_sink(existing, incoming, "h").toPandas().set_index("h")
    assert len(out) == 3
    assert out.loc["h1", "v"] == "old"
    assert out.loc["h2", "v"] == "new"  # conflict -> incoming wins
    assert out.loc["h3", "v"] == "new"


def test_binary_file_source(spark, tmp_path):
    d = tmp_path / "files"
    d.mkdir()
    (d / "ok.pdf").write_bytes(b"x" * 100)
    (d / "ok.jpg").write_bytes(b"y" * 100)
    (d / "bad.exe").write_bytes(b"z" * 100)
    (d / "big.pdf").write_bytes(b"w" * (11 * 1024 * 1024))
    df = readers.binary_file_source(spark, str(d))
    names = {os.path.basename(r["path"]) for r in df.select("path").collect()}
    assert names == {"ok.pdf", "ok.jpg"}


def test_run_extraction_cli_end_to_end(spark, corpus_dir, tmp_path, monkeypatch):
    """The spark-submit entry point (jobs/run_extraction.py) wires the CLI
    flags through the checkpointed job and prints a lineage JSON line; a
    rerun with the same --output resumes (0 pending)."""
    import io
    import json as _json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs"))
    import run_extraction

    # the CLI stops "its" session on exit — which is the shared pytest
    # session (getOrCreate); neutralize stop() for the duration of the test
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    out = str(tmp_path / "cli_out")
    argv = [
        "run_extraction.py",
        "--docs", f"{corpus_dir}/documents_interleaved.parquet",
        "--media", f"{corpus_dir}/media.parquet",
        "--output", out,
        "--salted",
    ]
    monkeypatch.setattr(sys, "argv", argv)
    buf = io.StringIO()
    with redirect_stdout(buf):
        run_extraction.main()
    rec = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rec["docs_processed"] == 300
    assert rec["spans_emitted"] > 0

    # resume: everything already processed
    buf2 = io.StringIO()
    monkeypatch.setattr(sys, "argv", argv)
    with redirect_stdout(buf2):
        run_extraction.main()
    rec2 = _json.loads(buf2.getvalue().strip().splitlines()[-1])
    assert rec2["docs_processed"] == 0


def test_package_zip_contains_modules(tmp_path):
    import sys
    import zipfile

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs"))
    import package

    zp = package.build(str(tmp_path))
    names = zipfile.ZipFile(zp).namelist()
    for mod in (
        "medical_ocr_service_spark/operators/extract.py",
        "medical_ocr_service_spark/plans/checkpoint.py",
        "medical_ocr_service_spark/functions/extraction_udfs.py",
    ):
        assert mod in names


NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'


def _write_xlsx(path, shared_xml, sheet_xml):
    import zipfile

    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", "<Types/>")
        z.writestr("xl/workbook.xml", f"<workbook {NS}/>")
        if shared_xml is not None:
            z.writestr("xl/sharedStrings.xml", shared_xml)
        z.writestr("xl/worksheets/sheet1.xml", sheet_xml)


def test_read_excel_with_aliases(spark, tmp_path):
    """S3/S4 xlsx import via the pure-stdlib parser: shared strings,
    RICH TEXT flattening, inline strings, numeric cells, sparse rows."""
    shared = f"""<sst {NS} count="3" uniqueCount="3">
      <si><t>Codigo Externo</t></si>
      <si><r><t>DESCRIP</t></r><r><t>CION</t></r></si>
      <si><t>Hemograma</t></si>
    </sst>"""
    sheet = f"""<worksheet {NS}><sheetData>
      <row r="1">
        <c r="A1" t="s"><v>0</v></c>
        <c r="B1" t="s"><v>1</v></c>
        <c r="C1" t="inlineStr"><is><t>Grupo X</t></is></c>
      </row>
      <row r="2">
        <c r="A2" t="inlineStr"><is><t>A1</t></is></c>
        <c r="B2" t="s"><v>2</v></c>
        <c r="C2"><v>7</v></c>
      </row>
      <row r="3">
        <c r="A3" t="inlineStr"><is><t>A2</t></is></c>
        <c r="C3"><v>9.5</v></c>
      </row>
    </sheetData></worksheet>"""
    p = str(tmp_path / "masters.xlsx")
    _write_xlsx(p, shared, sheet)
    alias = {"codigo_externo": "id_externo", "descripcion": "descripcion"}
    df = readers.read_excel_with_aliases(spark, p, alias)
    assert df.columns == ["id_externo", "descripcion", "grupo_x"]
    out = df.toPandas().set_index("id_externo")
    assert out.loc["A1", "descripcion"] == "Hemograma"
    assert out.loc["A1", "grupo_x"] == "7"
    assert out.loc["A2", "descripcion"] is None  # sparse cell -> NULL
    assert out.loc["A2", "grupo_x"] == "9.5"


def test_read_excel_empty_and_duplicate_headers(spark, tmp_path):
    import pytest as _pytest

    empty = str(tmp_path / "empty.xlsx")
    _write_xlsx(empty, None, f"<worksheet {NS}><sheetData/></worksheet>")
    df = readers.read_excel_with_aliases(spark, empty, {})
    assert df.count() == 0  # empty sheet: no inference crash

    dup_sheet = f"""<worksheet {NS}><sheetData>
      <row r="1">
        <c r="A1" t="inlineStr"><is><t>Codigo</t></is></c>
        <c r="B1" t="inlineStr"><is><t>CODIGO</t></is></c>
      </row>
    </sheetData></worksheet>"""
    dup = str(tmp_path / "dup.xlsx")
    _write_xlsx(dup, None, dup_sheet)
    with _pytest.raises(ValueError, match="duplicate column names"):
        readers.read_excel_with_aliases(spark, dup, {})


def test_fetch_url_payloads(spark, tmp_path):
    """S6: file:// and base64 data: URIs resolve executor-side; http is
    environment-gated into the error column; bad paths are row-isolated."""
    import base64

    p = tmp_path / "doc.bin"
    p.write_bytes(b"\x01\x02payload")
    b64 = base64.b64encode(b"inline bytes").decode()
    df = spark.createDataFrame(
        [("a", f"file://{p}"),
         ("b", f"data:application/pdf;base64,{b64}"),
         ("c", "https://example.invalid/x.pdf"),
         ("d", "file:///nonexistent/path.bin"),
         ("e", None)],
        "id string, archivo_url string",
    )
    from medical_ocr_service_spark.sources.readers import fetch_url_payloads

    out = fetch_url_payloads(df, "archivo_url").toPandas().set_index("id")
    assert bytes(out.loc["a", "payload"]) == b"\x01\x02payload"
    assert out.loc["a", "fetch_error"] is None
    assert bytes(out.loc["b", "payload"]) == b"inline bytes"
    assert out.loc["c", "payload"] is None
    assert "SCHEME_GATED" in out.loc["c", "fetch_error"]
    assert "FileNotFoundError" in out.loc["d", "fetch_error"]
    assert out.loc["e", "fetch_error"] == "NULL_URL"
