"""Materialize the synthetic corpus + golden fixtures as parquet.

Writes (pyarrow; no Spark needed so pytest fixtures are fast):

    <out>/documents_interleaved.parquet   doc_id, spans list<struct<kind,text,media_ref,offset>>
    <out>/media.parquet                   media_ref, layout_json, width, height, doc_id, offset
    <out>/prestadores.parquet / nomencladores.parquet / acuerdos_prestador.parquet
    <out>/golden_spans.parquet            doc_id, kind, text, media_ref, order   (exploded)
    <out>/golden_fields.parquet           per-doc extracted fields + confidence

Usage:  python -m medical_ocr_service_spark.corpus.write --out DIR --docs N [--seed S]
"""

from __future__ import annotations

import argparse
import os
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

from .. import config
from . import generator, golden

SPAN_STRUCT = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("spans", pa.list_(SPAN_STRUCT)),
        ("tenant_id", pa.string()),
    ]
)

GOLDEN_SPAN_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("order", pa.int32()),
    ]
)


def write_corpus(
    out_dir: str,
    n_docs: int,
    seed: int = config.CORPUS_SEED,
    pathological: bool = True,
    with_golden: bool = True,
) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    docs, media = generator.synthesize_corpus(n_docs, seed=seed, pathological=pathological)
    paths: dict[str, str] = {}

    docs_tbl = pa.Table.from_pylist(docs, schema=DOCS_SCHEMA)
    paths["documents_interleaved"] = os.path.join(out_dir, "documents_interleaved.parquet")
    # bounded row groups: Spark parallelizes parquet scans per row group —
    # one giant row group would make the initial read a single task. 256
    # groups ≈ 16 scheduling waves on 16 cores: wave-quantization tail loss
    # (last-wave stragglers idle the rest) measured ~12% of stage wall at
    # 5 waves and is the dominant N->4N scaling sink — finer tasks flatten it.
    pq.write_table(
        docs_tbl, paths["documents_interleaved"], row_group_size=max(500, n_docs // 256)
    )

    media_tbl = pa.Table.from_pylist(
        media,
        schema=pa.schema(
            [
                ("media_ref", pa.string()),
                ("layout_json", pa.string()),
                ("width", pa.int32()),
                ("height", pa.int32()),
                # owner keys — see generator.synthesize_corpus
                ("doc_id", pa.string()),
                ("offset", pa.int32()),
            ]
        ),
    )
    paths["media"] = os.path.join(out_dir, "media.parquet")
    pq.write_table(media_tbl, paths["media"], row_group_size=max(500, len(media) // 256))

    dims = generator.synthesize_dimensions(seed=seed)
    for name, rows in dims.items():
        tbl = pa.Table.from_pylist(rows)
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])

    if with_golden:
        results = golden.extract_corpus(docs, media)
        span_rows: list[dict[str, Any]] = []
        field_rows: list[dict[str, Any]] = []
        for r in results:
            for s in r["spans"]:
                span_rows.append({"doc_id": r["doc_id"], **s})
            f = r["fields"]
            field_rows.append(
                {
                    "doc_id": r["doc_id"],
                    "ruc": f["ruc"],
                    "prestador_nombre": f["prestador_nombre"],
                    "paciente_nombre": f["paciente_nombre"],
                    "paciente_ci": f["paciente_ci"],
                    "fecha_orden": f["fecha_orden"],
                    "diagnostico_texto": f["diagnostico_texto"],
                    "diagnostico_codigo_cie": f["diagnostico_codigo_cie"],
                    "medico_matricula": f["medico_matricula"],
                    "matricula_valida": f["matricula_valida"],
                    "urgente": f["urgente"],
                    "practicas_fuente": f["practicas_fuente"],
                    "n_practicas": len(f["practicas"]),
                    "practicas": [
                        {
                            "item": p["item"],
                            "descripcion": p["descripcion"],
                            "cantidad": p["cantidad"],
                            "confianza": p["confianza"],
                        }
                        for p in f["practicas"]
                    ],
                    "confianza_extraccion": r["confianza_extraccion"],
                    "requiere_revision": r["requiere_revision"],
                    "full_text": r["full_text"],
                }
            )
        paths["golden_spans"] = os.path.join(out_dir, "golden_spans.parquet")
        pq.write_table(pa.Table.from_pylist(span_rows, schema=GOLDEN_SPAN_SCHEMA), paths["golden_spans"])
        paths["golden_fields"] = os.path.join(out_dir, "golden_fields.parquet")
        pq.write_table(pa.Table.from_pylist(field_rows), paths["golden_fields"])

    return paths


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--docs", type=int, default=1000)
    ap.add_argument("--seed", type=int, default=config.CORPUS_SEED)
    ap.add_argument("--no-pathological", action="store_true")
    ap.add_argument("--no-golden", action="store_true")
    args = ap.parse_args()
    paths = write_corpus(
        args.out,
        args.docs,
        seed=args.seed,
        pathological=not args.no_pathological,
        with_golden=not args.no_golden,
    )
    for k, v in sorted(paths.items()):
        print(f"{k}: {v}")


if __name__ == "__main__":
    main()
