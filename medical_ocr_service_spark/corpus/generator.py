"""Deterministic synthesizer of the interleaved text+media document corpus.

Produces the exact input shape required by BASELINE.json's input_hint:

    documents_interleaved(doc_id: string,
                          spans: array<struct<kind:string, text:string,
                                              media_ref:string, offset:int>>)

plus the side tables the pipeline needs:

    media(media_ref: string, layout_json: string, width: int, height: int)
    prestadores / nomencladores / acuerdos_prestador  (dimension tables,
        schemas per FIXTURES.md §2-4, mirroring database/schema_matching.sql)

Design notes
------------
* Fully seeded (``random.Random(seed)``); byte-identical output for a given
  (seed, n_docs). No external data, no wall-clock reads.
* Text spans carry medical-order-like Spanish text with the reference's
  extractable fields (patient CI, matricula patterns, DD/MM/YYYY dates,
  diagnosis + CIE-10, urgency keywords, explicit practice lists and
  narrative-verb practices) — see /root/reference/src/prompts/system.prompt.js:91-159.
* A fraction of text spans is wrapped in HTML-like boilerplate (nav/footer/tag
  soup) to exercise text-density + tag-ratio stripping. Boilerplate lines are
  generated with density << threshold and content lines with density >>
  threshold so the strip decision is never borderline.
* Media spans reference synthetic multi-column page layouts (block boxes +
  text, serialized as JSON) to exercise XY-cut reading-order reconstruction.
  Blocks are emitted in shuffled order; only XY-cut recovers reading order.
* Span arrays are stored SHUFFLED and offsets are non-contiguous: reassembly
  must sort by offset, never rely on array/shuffle order.
* Skew: every PATHOLOGICAL_DOC_PERIOD-th doc has PATHOLOGICAL_SPAN_COUNT spans
  (tests salted/two-phase reassembly at scale).
"""

from __future__ import annotations

import json
import random
from typing import Any

from .. import config

# --- vocabulary (all synthetic) --------------------------------------------

FIRST_NAMES = [
    "Juan", "María", "Carlos", "Ana", "José", "Lucía", "Pedro", "Sofía",
    "Miguel", "Elena", "Raúl", "Carmen", "Óscar", "Inés", "Diego", "Paula",
]
LAST_NAMES = [
    "Pérez", "González", "Rodríguez", "Fernández", "López", "Martínez",
    "Sánchez", "Díaz", "Romero", "Álvarez", "Torres", "Ramírez",
]
DIAGNOSES = [
    ("Gastritis crónica", "K29.5"), ("Hipertensión esencial", "I10"),
    ("Diabetes mellitus tipo 2", "E11.9"), ("Lumbalgia", "M54.5"),
    ("Anemia ferropénica", "D50.9"), ("Neumonía bacteriana", "J15.9"),
    ("Cefalea tensional", "G44.2"), ("Artrosis de rodilla", "M17.9"),
    ("Hipotiroidismo", "E03.9"), ("Asma bronquial", "J45.9"),
]
# explicit practices (desc as would appear on an order)
PRACTICES = [
    "HEMOGRAMA COMPLETO", "GLUCEMIA EN AYUNAS", "PERFIL LIPIDICO",
    "ECOGRAFIA ABDOMINAL", "RADIOGRAFIA DE TORAX", "TOMOGRAFIA COMPUTADA DE CRANEO",
    "RESONANCIA MAGNETICA DE RODILLA", "ELECTROCARDIOGRAMA DE REPOSO",
    "ERGOMETRIA", "ESPIROMETRIA", "MAMOGRAFIA BILATERAL", "DENSITOMETRIA OSEA",
    "HOLTER DE 24 HORAS", "ECODOPPLER DE VASOS DE CUELLO", "VIDEOENDOSCOPIA DIGESTIVA ALTA",
    "VIDEOCOLONOSCOPIA", "BIOPSIA DE PIEL", "SESION DE KINESIOLOGIA",
    "ORINA SIMPLE", "UREA Y CREATININA", "HEPATOGRAMA", "TSH Y T4 LIBRE",
]
NARRATIVE_SENTENCES = [
    "Se solicita RT sobre lecho tumoral y evaluacion posterior.",
    "Paciente requiere QT segun esquema oncologico vigente.",
    "Se indica Bx de lesion sospechosa en region lumbar.",
    "Solicito VEDA para estudio de epigastralgia persistente.",
    "Realizar ECO abdominal y control en 30 dias.",
    "Se indica RMN de columna lumbosacra con contraste.",
    "Solicito TAC de torax de alta resolucion.",
    "Realizar RX de torax frente y perfil.",
    "Se solicita ECG y ergometria para evaluacion cardiologica.",
    "Indico hemograma y hepatograma de control.",
]
NAV_WORDS = ["Inicio", "Portal", "Turnos", "Contacto", "Ayuda", "Salir", "Perfil", "Admin"]
FILLER_WORDS = (
    "control ambulatorio evolucion favorable paciente concurre consulta refiere dolor "
    "tratamiento indicado continuar seguimiento clinico estudios complementarios previos "
    "sin particularidades examen fisico normal se adjunta informe historia clinica"
).split()

MEDICO_PREFIX = ["Dr.", "Dra."]
MATRICULA_FORMATS = ["M.N. {m}", "M.P. {m}", "Mat. {m}", "Matrícula: {m}", "Reg. Prof. {m}"]
PROVIDERS = [
    "Sanatorio San Roque", "Hospital Central", "Clinica del Sol", "Instituto Medico Integral",
    "Centro de Diagnostico Norte", "Policlinico Modelo", "Sanatorio Migone", "Clinica La Piedad",
]


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(FILLER_WORDS) for _ in range(n))


def _order_fields(rng: random.Random) -> dict[str, Any]:
    """Draw the extractable field values for one document."""
    nombre = f"{rng.choice(FIRST_NAMES)} {rng.choice(LAST_NAMES)}"
    ci = rng.randrange(800_000, 6_000_000)
    ci_fmt = f"{ci:,}".replace(",", ".")  # 1.234.567 style
    day, month, year = rng.randrange(1, 29), rng.randrange(1, 13), rng.randrange(2022, 2026)
    diag, cie = rng.choice(DIAGNOSES)
    # ~10% of matriculas are invalid (9+ digits) to exercise the 4-8 digit
    # validity gate (validation.service.js:158-162) and the review flag;
    # ~20% equal a prestador's registro_profesional (dim formula 10000+pid*7)
    # so the J2 matricula-lookup path fires.
    r = rng.random()
    if r < 0.10:
        matricula = rng.randrange(100_000_000, 999_999_999)
    elif r < 0.30:
        matricula = 10000 + rng.randrange(1, len(PROVIDERS) + 1) * 7
    else:
        matricula = rng.randrange(1000, 99_999)
    urgente = rng.random() < 0.18
    # Providers reference the prestadores dimension: RUC follows the dim
    # formula (synthesize_dimensions) so the J1 exact-RUC short-circuit path
    # fires; ~15% of docs carry a corrupted RUC to exercise the fuzzy
    # fallback (matching.service.js:91-120).
    pidx = rng.randrange(len(PROVIDERS))
    provider = PROVIDERS[pidx]
    pid = pidx + 1
    if rng.random() < 0.15:
        ruc = f"{rng.randrange(90000000, 99999999)}-{rng.randrange(0, 10)}"
    else:
        ruc = f"{80000000 + pid * 111}-{pid % 10}"
    n_pr = rng.randrange(1, 5)
    practicas = []
    seen: set[str] = set()
    for _ in range(n_pr):
        p = rng.choice(PRACTICES)
        if p in seen:
            continue
        seen.add(p)
        practicas.append((p, rng.choice([1, 1, 1, 2, 3])))
    return {
        "nombre": nombre, "ci": ci_fmt,
        "fecha": f"{day:02d}/{month:02d}/{year:04d}",
        "diagnostico": diag, "cie": cie,
        "matricula": str(matricula),
        "matricula_fmt": rng.choice(MATRICULA_FORMATS).format(m=matricula),
        "medico": f"{rng.choice(MEDICO_PREFIX)} {rng.choice(FIRST_NAMES)} {rng.choice(LAST_NAMES)}",
        "urgente": urgente, "provider": provider, "ruc": ruc,
        "practicas": practicas,
        "narrative_only": rng.random() < 0.25,  # no explicit list -> narrative fallback path
    }


def _header_text(rng: random.Random, f: dict[str, Any]) -> str:
    # ~8% degraded headers omit the CI (illegible document path -> lower
    # confidence -> requiere_revision), ~5% omit the date.
    ci_part = "" if rng.random() < 0.08 else f" CI: {f['ci']}"
    fecha_part = "" if rng.random() < 0.05 else f"Fecha: {f['fecha']}"
    parts = [
        f"ORDEN MEDICA - {f['provider']} RUC: {f['ruc']}",
        f"Paciente: {f['nombre']}{ci_part}",
        fecha_part,
        f"{f['medico']} {f['matricula_fmt']}",
        f"Diagnóstico: {f['diagnostico']} ({f['cie']})",
    ]
    parts = [p for p in parts if p]
    if f["urgente"]:
        parts.append(rng.choice(["URGENTE", "PRIORITARIO", "EMERGENCIA"]))
    return " ".join(parts)


def _practice_text(f: dict[str, Any]) -> str:
    items = "; ".join(f"{desc} x{qty}" for desc, qty in f["practicas"])
    return f"PRACTICAS: {items}."


# Only content this long gets HTML-wrapped: with the content line carrying
# exactly 2 tags (<p>...</p>), density = len/3 >= 14 > TEXT_DENSITY_THRESHOLD,
# a comfortable margin. Shorter content is emitted bare.
MIN_WRAP_CONTENT_LEN = 42


def _wrap_html(rng: random.Random, content: str) -> str:
    """Wrap content in boilerplate with an unambiguous density margin.

    Boilerplate lines: many tags, tiny visible text (density < 5).
    Content line: exactly 2 tags, visible length >= MIN_WRAP_CONTENT_LEN
    (density >= 14 > threshold 10).
    """
    nav_items = "".join(
        f'<a href="/{w.lower()}"><span>{rng.choice(NAV_WORDS)}</span></a>'
        for w in rng.sample(NAV_WORDS, 4)
    )
    lines = [
        "<html><head><title>x</title></head><body>",
        f"<nav><ul><li>{nav_items}</li></ul></nav>",
        f'<div class="ad"><a href="#"><img src="b.gif"/><b>{rng.choice(NAV_WORDS)}</b></a></div>',
        "<main><article>",
        f"<p>{content}</p>",
        "</article></main>",
        f'<footer><a href="/terms">{rng.choice(NAV_WORDS)}</a><a href="/priv">x</a>'
        "<span>©</span></footer>",
        "</body></html>",
    ]
    return "\n".join(lines)


def _make_layout(rng: random.Random, texts: list[str]) -> dict[str, Any]:
    """Build a 1-2 column page layout whose XY-cut reading order is `texts`.

    Column gutters and row gaps far exceed XY_CUT_MIN_GAP, so the cut is
    unambiguous. Blocks are returned in shuffled order.
    """
    width, height = 600, 800
    two_col = len(texts) >= 4 and rng.random() < 0.5
    blocks: list[dict[str, Any]] = []
    if two_col:
        half = (len(texts) + 1) // 2
        cols = [texts[:half], texts[half:]]
        xs = [(40.0, 280.0), (320.0, 560.0)]
        for ci_, col_texts in enumerate(cols):
            x0, x1 = xs[ci_]
            y = 60.0
            for t in col_texts:
                h = 30.0 + rng.randrange(0, 20)
                blocks.append({"x0": x0, "y0": y, "x1": x1, "y1": y + h, "text": t})
                y += h + 24.0
    else:
        y = 60.0
        for t in texts:
            h = 30.0 + rng.randrange(0, 20)
            x0 = 40.0 + rng.randrange(0, 30)
            blocks.append({"x0": x0, "y0": y, "x1": x0 + 480.0, "y1": y + h, "text": t})
            y += h + 24.0
    rng.shuffle(blocks)
    return {"w": width, "h": height, "blocks": blocks}


def synthesize_corpus(
    n_docs: int,
    seed: int = config.CORPUS_SEED,
    pathological: bool = True,
) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    """Return (documents, media) row dicts.

    documents: {doc_id, spans:[{kind,text,media_ref,offset}, ...]}  (shuffled spans)
    media:     {media_ref, layout_json, width, height}
    """
    rng = random.Random(seed)
    docs: list[dict[str, Any]] = []
    media_rows: list[dict[str, Any]] = []

    for i in range(n_docs):
        doc_id = f"doc{i:08d}"
        f = _order_fields(rng)

        # Build the logical (ordered) list of span payloads first.
        payloads: list[tuple[str, str | None]] = []  # (kind, content)
        payloads.append(("text", _header_text(rng, f)))
        if f["narrative_only"]:
            payloads.append(("text", rng.choice(NARRATIVE_SENTENCES)))
            if rng.random() < 0.5:
                payloads.append(("text", rng.choice(NARRATIVE_SENTENCES)))
        else:
            payloads.append(("text", _practice_text(f)))

        is_pathological = (
            pathological and i > 0 and i % config.PATHOLOGICAL_DOC_PERIOD == 0
        )
        extra = (
            config.PATHOLOGICAL_SPAN_COUNT
            if is_pathological
            else rng.randrange(0, 7)
        )
        for _ in range(extra):
            if rng.random() < config.MEDIA_SPAN_FRACTION:
                payloads.append(("media", None))
            else:
                payloads.append(("text", _sentence(rng, rng.randrange(8, 25))))

        # Assign offsets (strictly increasing, non-contiguous), build spans.
        spans: list[dict[str, Any]] = []
        offset = 0
        for k, (kind, content) in enumerate(payloads):
            offset += rng.randrange(1, 10)
            if kind == "media":
                media_ref = f"media://{doc_id}/{offset}"
                n_blocks = rng.randrange(2, 7)
                texts = [_sentence(rng, rng.randrange(4, 10)) for _ in range(n_blocks)]
                # sprinkle extractable narrative into some media pages
                if rng.random() < 0.3:
                    texts[rng.randrange(len(texts))] = rng.choice(NARRATIVE_SENTENCES)
                layout = _make_layout(rng, texts)
                media_rows.append(
                    {
                        "media_ref": media_ref,
                        "layout_json": json.dumps(layout, sort_keys=True),
                        "width": layout["w"],
                        "height": layout["h"],
                        # owner keys (doc_id, offset) of the span that cites
                        # this payload, written to the sidecar at ingest and
                        # kept in the corpus schema; extraction resolves
                        # media by media_ref alone.
                        "doc_id": doc_id,
                        "offset": offset,
                    }
                )
                spans.append(
                    {"kind": "media", "text": None, "media_ref": media_ref, "offset": offset}
                )
            else:
                text = content
                if (
                    rng.random() < config.HTML_SPAN_FRACTION
                    and len(content) >= MIN_WRAP_CONTENT_LEN
                ):
                    text = _wrap_html(rng, content)
                spans.append(
                    {"kind": "text", "text": text, "media_ref": None, "offset": offset}
                )
        rng.shuffle(spans)  # storage order must NOT be relied on
        # P1 multitenancy (migration_multitenant.sql:32-137): deterministic
        # tenant split derived WITHOUT consuming rng (span content unchanged)
        docs.append(
            {"doc_id": doc_id, "spans": spans, "tenant_id": tenant_for_index(i)}
        )

    return docs, media_rows


TENANTS = ("tenant-a", "tenant-b")


def tenant_for_index(i: int) -> str:
    """~20% of rows belong to the second tenant; rng-free (determinism)."""
    return TENANTS[1] if i % 5 == 0 else TENANTS[0]


# --- dimension tables (FIXTURES.md §2-4) ------------------------------------


def synthesize_dimensions(seed: int = config.CORPUS_SEED) -> dict[str, list[dict[str, Any]]]:
    """Prestadores / nomencladores / acuerdos, seeded, schemas per FIXTURES.md.

    Embeddings are NOT filled here (the embedding job computes them —
    mirrors the reference's embedding worker src/workers/embedding.worker.js).
    """
    rng = random.Random(seed + 1)
    prestadores = []
    for pid, name in enumerate(PROVIDERS, start=1):
        prestadores.append(
            {
                "id_prestador": pid,
                "id_externo": f"EXT-P{pid:04d}",
                "ruc": f"{80000000 + pid * 111}-{pid % 10}",
                "nombre_fantasia": name,
                "raz_soc_nombre": f"{name} S.A.",
                "registro_profesional": str(10000 + pid * 7),
                "tipo": rng.choice(["SANATORIO", "CLINICA", "HOSPITAL"]),
                "ranking": round(rng.uniform(1, 5), 2),
                "nombre_normalizado": None,
                "cantidad_acuerdos": 0,
                "estado": "ACTIVO" if pid % 7 else "INACTIVO",
                "tenant_id": tenant_for_index(pid),
            }
        )
    especialidades = ["LABORATORIO", "IMAGENES", "CARDIOLOGIA", "ONCOLOGIA", "ENDOSCOPIA", "KINESIOLOGIA"]
    nomencladores = []
    for nid, desc in enumerate(PRACTICES, start=1):
        esp = rng.choice(especialidades)
        nomencladores.append(
            {
                "id_nomenclador": nid,
                "id_externo": f"EXT-N{nid:05d}",
                "id_servicio": 100 + nid,
                "especialidad": esp,
                "descripcion": desc,
                "desc_nomenclador": desc.title(),
                "grupo": esp[:3],
                "subgrupo": f"{esp[:3]}-{nid % 4}",
                "descripcion_normalizada": None,
                "sinonimos": [w for w in desc.split() if len(w) > 4][:2],
                "palabras_clave": [desc.split()[0]],
                "cantidad_acuerdos": 0,
                "estado": "ACTIVO" if nid % 11 else "INACTIVO",
                "tenant_id": tenant_for_index(nid),
            }
        )
    acuerdos = []
    aid = 1
    for p in prestadores:
        for n in nomencladores:
            if rng.random() < 0.45:
                # sometimes multiple vigencia rows per key -> argmax test (T3)
                for v in range(rng.choice([1, 1, 1, 2])):
                    precio = round(rng.uniform(50_000, 900_000), 2)
                    acuerdos.append(
                        {
                            "id_acuerdo": aid,
                            "prest_id_prestador": p["id_prestador"],
                            "id_nomenclador": n["id_nomenclador"],
                            "plan_id_plan": rng.choice([1, 1, 2]),
                            "precio": precio,
                            "precio_normal": precio,
                            "precio_diferenciado": round(precio * 1.15, 2),
                            "precio_internado": round(precio * 1.4, 2),
                            "vigente": "SI" if rng.random() < 0.85 else "NO",
                            "fecha_vigencia": f"{rng.randrange(2022, 2026)}-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}",
                            # agreement rows inherit the provider's tenant
                            "tenant_id": p["tenant_id"],
                        }
                    )
                    aid += 1
    return {
        "prestadores": prestadores,
        "nomencladores": nomencladores,
        "acuerdos_prestador": acuerdos,
    }


PRESTADORES_SCHEMA = (
    "id_prestador int, id_externo string, ruc string, nombre_fantasia string, "
    "raz_soc_nombre string, registro_profesional string, tipo string, "
    "ranking double, nombre_normalizado string, cantidad_acuerdos int, "
    "estado string, tenant_id string"
)
NOMENCLADORES_SCHEMA = (
    "id_nomenclador int, id_externo string, id_servicio int, especialidad string, "
    "descripcion string, desc_nomenclador string, grupo string, subgrupo string, "
    "descripcion_normalizada string, sinonimos array<string>, "
    "palabras_clave array<string>, cantidad_acuerdos int, estado string, tenant_id string"
)
ACUERDOS_SCHEMA = (
    "id_acuerdo int, prest_id_prestador int, id_nomenclador int, plan_id_plan int, "
    "precio double, precio_normal double, precio_diferenciado double, "
    "precio_internado double, vigente string, fecha_vigencia date, tenant_id string"
)


def dims_dataframes(spark, seed: int = config.CORPUS_SEED):
    """Dimension tables as Spark DataFrames with explicit schemas (no
    inference), each built from an Arrow table: a LocalRelation, so the
    optimizer folds filters, projections and limits over it on the driver
    and no scan of these small tables starts a Python task."""
    import datetime

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    def frame(rows, ddl):
        schema = StructType.fromDDL(ddl)
        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
        return spark.createDataFrame(table, schema)

    dims = synthesize_dimensions(seed=seed)
    acuerdos = [
        dict(a, fecha_vigencia=datetime.date.fromisoformat(a["fecha_vigencia"]))
        for a in dims["acuerdos_prestador"]
    ]
    return (
        frame(dims["prestadores"], PRESTADORES_SCHEMA),
        frame(dims["nomencladores"], NOMENCLADORES_SCHEMA),
        frame(acuerdos, ACUERDOS_SCHEMA),
    )
