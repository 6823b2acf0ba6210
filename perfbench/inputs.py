"""Seeded workload inputs and their oracle answers (pure Python, no Spark).

Every input is a parquet file the program reads; every expected answer
comes from the pure-Python oracles in ``medical_ocr_service_spark.corpus``
(``golden``, ``golden_matching``). Inputs are built under
``<cache>/<workload>-seed<S>-n<N>/`` and reused when that directory is
complete, so a repeated (workload, seed, size) pays generation once and
generation is never inside a timed window.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from medical_ocr_service_spark import config
from medical_ocr_service_spark.corpus import generator, golden, write
from medical_ocr_service_spark.corpus.golden_matching import GoldenMatcher

# Docs per workload. Sized so one timed pass lasts a few seconds on a
# 4-core host and a whole run (set-up, timing, checks) stays under a minute.
SIZES = {"extract": 3000, "previsacion": 3000}

# A syntactically broken layout payload: json.loads raises on it, so the
# quarantine path must withhold the owning document.
MALFORMED_LAYOUT = '{"w": 600, "h": 800, "blocks": [{"x0": 40.0, "y0"'
MALFORMED_SHARE = 0.005  # of all media payloads
WARM_EVERY = 20  # warm-up sample: every 20th doc of the corpus

MEDIA_SCHEMA = pa.schema(
    [
        ("media_ref", pa.string()),
        ("layout_json", pa.string()),
        ("width", pa.int32()),
        ("height", pa.int32()),
        ("doc_id", pa.string()),
        ("offset", pa.int32()),
    ]
)


def sub_seed(seed: int, tag: str) -> int:
    """Independent generator seed per (benchmark seed, purpose)."""
    return int(hashlib.sha256(f"{tag}:{seed}".encode()).hexdigest()[:12], 16)


def _write(rows: list[dict], schema: pa.Schema, path: str) -> None:
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        path,
        row_group_size=max(100, len(rows) // 64),
    )


def load(cache_root: str, workload: str, seed: int, n_docs: int) -> dict:
    """Return the manifest of the inputs for (workload, seed, n_docs),
    building them first unless a complete copy is cached."""
    final = os.path.join(cache_root, f"{workload}-seed{seed}-n{n_docs}")
    manifest_path = os.path.join(final, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = BUILDERS[workload](tmp, seed, n_docs)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, sort_keys=True)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    with open(manifest_path) as f:
        manifest = json.load(f)
    with open(os.path.join(final, "oracle.json")) as f:
        manifest["oracle"] = json.load(f)
    manifest["dir"] = final
    return manifest


# ---------------------------------------------------------------------------
# extract: default generator mix + injected malformed media payloads
# ---------------------------------------------------------------------------


def spans_string(spans: list[dict]) -> str:
    """An ordered span list rendered the way Spark casts
    array<struct<kind,text,media_ref,order>> to string (the stored
    ``spans_json`` column)."""

    def cell(v) -> str:
        return "null" if v is None else str(v)

    return (
        "["
        + ", ".join(
            "{" + ", ".join(cell(s[k]) for k in ("kind", "text", "media_ref", "order")) + "}"
            for s in spans
        )
        + "]"
    )


def extract_record(g: dict) -> list:
    """The compared projection of one golden extraction: span sequence,
    fields and review flag."""
    f = g["fields"]
    return [
        spans_string(g["spans"]),
        g["full_text"],
        f["ruc"],
        f["prestador_nombre"],
        f["paciente_nombre"],
        f["paciente_ci"],
        f["fecha_orden"],
        f["diagnostico_texto"],
        f["diagnostico_codigo_cie"],
        f["medico_matricula"],
        f["matricula_valida"],
        f["urgente"],
        [[p["item"], p["descripcion"], p["cantidad"], p["confianza"]] for p in f["practicas"]],
        f["practicas_fuente"],
        g["confianza_extraccion"],
        g["requiere_revision"],
    ]


def build_extract(out: str, seed: int, n_docs: int) -> dict:
    docs, media = generator.synthesize_corpus(n_docs, seed=sub_seed(seed, "extract"))
    period = config.PATHOLOGICAL_DOC_PERIOD
    skewed = {docs[i]["doc_id"] for i in range(period, n_docs, period)}
    # malformed payloads only on regular docs: a broken page inside a
    # 1000-span doc would quarantine it and remove the skew under test
    rng = random.Random(sub_seed(seed, "malformed"))
    regular = [k for k, m in enumerate(media) if m["doc_id"] not in skewed]
    bad = rng.sample(regular, max(1, round(MALFORMED_SHARE * len(media))))
    for k in bad:
        media[k] = {**media[k], "layout_json": MALFORMED_LAYOUT}
    malformed = sorted({media[k]["doc_id"] for k in bad})

    _write(docs, write.DOCS_SCHEMA, os.path.join(out, "docs.parquet"))
    _write([d for i, d in enumerate(docs) if i % 10 != 9], write.DOCS_SCHEMA,
           os.path.join(out, "phase1.parquet"))
    _write([d for i, d in enumerate(docs) if i % 4 == 0], write.DOCS_SCHEMA,
           os.path.join(out, "quarter.parquet"))
    _write(docs[::WARM_EVERY], write.DOCS_SCHEMA, os.path.join(out, "warm.parquet"))
    _write(media, MEDIA_SCHEMA, os.path.join(out, "media.parquet"))

    media_map = {m["media_ref"]: m["layout_json"] for m in media}
    bad_docs = set(malformed)
    oracle = {
        d["doc_id"]: extract_record(golden.extract_document(d, media_map))
        for d in docs
        if d["doc_id"] not in bad_docs
    }
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump(oracle, f)
    return {
        "workload": "extract",
        "seed": seed,
        "docs": n_docs,
        "phase1_docs": sum(1 for i in range(n_docs) if i % 10 != 9),
        "quarter_docs": len(range(0, n_docs, 4)),
        "doc_ids": [d["doc_id"] for d in docs],
        "malformed_docs": malformed,
        "malformed_media": sorted(media[k]["media_ref"] for k in bad),
    }


# ---------------------------------------------------------------------------
# previsacion: regular docs (no skew, no malformed payloads) + dimensions
# ---------------------------------------------------------------------------


def _num(x):
    return None if x is None else round(float(x), 9)


def header_record(h: dict) -> list:
    return [
        h["paciente_ci"], h["paciente_nombre"],
        None if h["fecha_orden"] is None else str(h["fecha_orden"]),
        h["prestador_id_sugerido"], _num(h["prestador_confianza"]),
        h["prestador_metodo"], h["medico_matricula"], h["diagnostico_texto"],
        h["diagnostico_codigo_cie"], h["urgente"], int(h["n_practicas"]),
        _num(h["confianza_extraccion"]), _num(h["confianza_general"]),
        h["requiere_revision"], h["estado"],
    ]


def detail_record(d: dict) -> list:
    return [
        d["item"], d["descripcion_original"], d["cantidad"],
        d["nomenclador_id_sugerido"], d["nomenclador_descripcion"],
        _num(d["nomenclador_confianza"]), _num(d["similitud"]),
        [
            [a["id_nomenclador"], a["descripcion"], _num(a["similitud"]), a["tiene_acuerdo"]]
            for a in (d["matches_alternativos"] or [])
        ],
        d["tiene_acuerdo"], d["id_acuerdo"], _num(d["precio_acuerdo"]), d["alerta"],
    ]


def build_previsacion(out: str, seed: int, n_docs: int) -> dict:
    corpus_seed = sub_seed(seed, "previsacion")
    docs, media = generator.synthesize_corpus(n_docs, seed=corpus_seed, pathological=False)
    _write(docs, write.DOCS_SCHEMA, os.path.join(out, "docs.parquet"))
    _write(docs[::WARM_EVERY], write.DOCS_SCHEMA, os.path.join(out, "warm.parquet"))
    _write(media, MEDIA_SCHEMA, os.path.join(out, "media.parquet"))
    matcher = GoldenMatcher(generator.synthesize_dimensions(seed=corpus_seed))
    media_map = {m["media_ref"]: m["layout_json"] for m in media}
    oracle = {}
    for d in docs:
        p = matcher.previsacion(golden.extract_document(d, media_map))
        oracle[d["doc_id"]] = [
            header_record(p["header"]),
            sorted(detail_record(x) for x in p["details"]),
        ]
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump(oracle, f)
    return {
        "workload": "previsacion",
        "seed": seed,
        "docs": n_docs,
        "dims_seed": corpus_seed,
    }


BUILDERS = {
    "extract": build_extract,
    "previsacion": build_previsacion,
}
