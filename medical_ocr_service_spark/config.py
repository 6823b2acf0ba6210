"""Shared deterministic constants for the extraction engine.

These constants define the *semantics* of the pipeline: both the distributed
Spark implementation and the pure-Python golden reference extractor
(`medical_ocr_service_spark.corpus.golden`) must honor them exactly, so the
pytest span-sequence-equality suite is meaningful.

Reference provenance (file:line into /root/reference/):
  * boilerplate/text handling replaces the GPT-4o Vision OCR step
    (src/services/gpt-vision.service.js:45-99) with deterministic
    text-density + tag-ratio stripping (BASELINE.json north_star);
  * XY-cut layout parsing replaces pdftoppm page rendering
    (src/services/pdf.service.js:17-109);
  * regex banks mirror src/utils/constants.js:103-120 and
    src/workers/previsacion.worker.js:229-263;
  * confidence thresholds mirror src/services/pre-visacion.service.js:55 and
    src/services/validation.service.js:95-151.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Boilerplate stripping (text-density + tag-ratio) — deterministic replacement
# for the vision-LLM "read the main content" step.
# ---------------------------------------------------------------------------

# A line whose (visible_chars / (tag_count + 1)) ratio is below this is
# considered boilerplate and dropped. The corpus generator keeps a wide margin
# around this threshold (boilerplate lines < 5, content lines > 20) so the
# invariant is not flaky.
TEXT_DENSITY_THRESHOLD = 10.0

# Regex matching an HTML-ish tag. Used both to count tags and to strip them.
TAG_REGEX = r"<[^>]*>"
# Regex that counts only *real-looking* tags (open/close/comment), so a stray
# "<" in prose ("temp < 38") does not count as markup.
TAG_COUNT_REGEX = r"<[A-Za-z/!][^>]*>"

# ---------------------------------------------------------------------------
# XY-cut layout parsing (media spans)
# ---------------------------------------------------------------------------

# Minimum whitespace gap (layout units) between block groups for a cut.
XY_CUT_MIN_GAP = 8.0

# ---------------------------------------------------------------------------
# Field extraction regex banks
# ---------------------------------------------------------------------------

# Matricula (professional registration) patterns, in priority order — first
# match wins. Mirrors MATRICULA_PATTERNS in src/utils/constants.js:113-120.
MATRICULA_PATTERNS = [
    r"M\.?\s?N\.?\s*:?\s*(\d{4,8})\b",
    r"M\.?\s?P\.?\s*:?\s*(\d{4,8})\b",
    r"Matr[ií]cula\s*(?:Prof(?:esional)?\.?)?\s*:?\s*(\d{4,8})\b",
    r"Mat\.?\s*:?\s*(\d{4,8})\b",
    r"Reg(?:istro)?\.?\s*Prof(?:esional)?\.?\s*:?\s*(\d{4,8})\b",
]

# Urgency keywords — src/utils/constants.js:103-110.
URGENCY_KEYWORDS = ["URGENTE", "URGENCIA", "STAT", "PRIORITARIO", "EMERGENCIA", "INMEDIATO"]

# Narrative-practice regex bank — src/workers/previsacion.worker.js:229-263.
# (pattern, canonical practice name); scanned in order over the cleaned text,
# deduped preserving first-hit order, each found practice gets confidence 0.6.
NARRATIVE_PRACTICE_PATTERNS = [
    (r"\bradioterapia\b|\bRT\b", "RADIOTERAPIA"),
    (r"\bquimioterapia\b|\bQTx?\b", "QUIMIOTERAPIA"),
    (r"\bbiopsia\b|\bBx\b", "BIOPSIA"),
    (r"\bVEDA\b|video\s*endoscopia\s*digestiva\s*alta", "VIDEOENDOSCOPIA DIGESTIVA ALTA"),
    (r"\bcolonoscop[ií]a\b|\bVCC\b", "VIDEOCOLONOSCOPIA"),
    (r"\becograf[ií]a\b|\bECO\b", "ECOGRAFIA"),
    (r"\bresonancia\b|\bRMN\b|\bRNM\b", "RESONANCIA MAGNETICA"),
    (r"\btomograf[ií]a\b|\bTAC\b|\bTC\b", "TOMOGRAFIA COMPUTADA"),
    (r"\bradiograf[ií]a\b|\bRX\b", "RADIOGRAFIA"),
    (r"\belectrocardiograma\b|\bECG\b|\bEKG\b", "ELECTROCARDIOGRAMA"),
    (r"\bhemograma\b", "HEMOGRAMA"),
    (r"\bergometr[ií]a\b", "ERGOMETRIA"),
    (r"\bespirometr[ií]a\b", "ESPIROMETRIA"),
    (r"\bmamograf[ií]a\b", "MAMOGRAFIA"),
    (r"\bdensitometr[ií]a\b", "DENSITOMETRIA"),
    (r"\bholter\b", "HOLTER"),
    (r"\becodoppler\b|\bdoppler\b", "ECODOPPLER"),
    (r"\bkinesiolog[ií]a\b|\bkinesioterapia\b", "KINESIOLOGIA"),
    (r"\blaboratorio\b", "LABORATORIO"),
]

NARRATIVE_PRACTICE_CONFIDENCE = 0.6
DEFAULT_PRACTICE_CONFIDENCE = 0.8  # gpt-vision.service.js:185 default confianza
DEFAULT_CANTIDAD = 1

# Accent fold table — database/schema_matching.sql:418-428 normalizar_texto.
ACCENT_SRC = "áéíóúàèìòùäëïöüâêîôûñÁÉÍÓÚÀÈÌÒÙÄËÏÖÜÂÊÎÔÛÑ"
ACCENT_DST = "aeiouaeiouaeiouaeiounAEIOUAEIOUAEIOUAEIOUN"

# ---------------------------------------------------------------------------
# Confidence model
# ---------------------------------------------------------------------------

# requiere_revision threshold — pre-visacion.service.js:55.
REVIEW_THRESHOLD = 0.85
# Matricula validity: 4-8 digits after stripping — validation.service.js:158-162.
MATRICULA_MIN_LEN, MATRICULA_MAX_LEN = 4, 8

# Checklist weights for the per-document extraction confidence fold —
# gpt-vision.service.js:209-243 (weights 2/2/1.5/1/0.5/0.5/3).
CONFIDENCE_WEIGHTS = {
    "paciente_nombre": 2.0,
    "paciente_ci": 2.0,
    "medico_matricula": 1.5,
    "fecha_orden": 1.0,
    "diagnostico": 0.5,
    "urgencia_detectada": 0.5,
    "practicas": 3.0,
}

# ---------------------------------------------------------------------------
# Matching (similarity) model
# ---------------------------------------------------------------------------

# Deterministic feature-hash vectorizer width. 64 is the test/bench default
# (keeps fixtures fast); the reference's production width is 1536
# (database/schema_matching.sql:33,64 vector(1536), text-embedding-3-small).
# Env-overridable so the SAME code — Spark pipeline, golden matcher, ANN
# cascade — runs at production width: the dim-1536 pytest sets
# SPARK_GRAFT_EMBEDDING_DIM=1536 in a subprocess.
import os as _os

EMBEDDING_DIM = int(_os.environ.get("SPARK_GRAFT_EMBEDDING_DIM", "64"))
TOPK_NOMENCLADOR = 10       # matching.service.js:45-47
TOPK_PRESTADOR = 5          # matching.service.js:151-152
N_ALTERNATIVES = 5          # matching.service.js:395-406
VEC_WEIGHT = 0.7            # matching.service.js:60-63 combined score
TRGM_WEIGHT = 0.3
MIN_SIMILARITY_NOM = 0.30   # candidate floor (matching.service.js:44 vector threshold)
# Hard cap on any driver-side dimension collect (closure-broadcast pattern):
# beyond this the matcher raises instead of silently OOMing the driver —
# shard the dim or use the ANN operators.
MAX_BROADCAST_DIM_ROWS = 2_000_000

# ---------------------------------------------------------------------------
# Corpus synthesis (seed-fixed; no external data)
# ---------------------------------------------------------------------------

CORPUS_SEED = 42
MEDIA_SPAN_FRACTION = 0.25
HTML_SPAN_FRACTION = 0.40   # fraction of text spans wrapped in boilerplate
PATHOLOGICAL_DOC_PERIOD = 211   # every Nth doc is a many-span skew doc
PATHOLOGICAL_SPAN_COUNT = 1000
