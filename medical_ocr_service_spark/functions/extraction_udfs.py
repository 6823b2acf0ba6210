"""Extraction-core operators: one production implementation each.

  * strip_boilerplate_col — text-density + tag-ratio main-content extraction
    as a JVM column expression (deterministic replacement for the
    reference's GPT-4o Vision read,
    /root/reference/src/services/gpt-vision.service.js:45-99);
  * apply_pruned_layout   — XY-cut reading-order reconstruction over page
    layouts (replaces pdftoppm, /root/reference/src/services/pdf.service.js:17-109):
    JVM from_json + the coordinate-only layout_order_udf. The quarantine
    path (layout_text_err_udf) parses the raw JSON in Python instead;
  * extract_fields_udf    — regex/state-machine field extraction + confidence
    fold (/root/reference/src/prompts/system.prompt.js:91-159,
    src/workers/previsacion.worker.js:229-263,
    src/services/gpt-vision.service.js:209-243).

The Python functions are Arrow pandas UDFs (never row-at-a-time Spark UDFs).
Written independently from the pure-Python golden oracle
(medical_ocr_service_spark.corpus.golden); the pytest suite asserts exact
agreement. Shared *constants* (thresholds, regex banks) come from config —
they are the spec.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import config
from . import per_context

_WS = re.compile(r"\s+")


# ---------------------------------------------------------------------------
# Boilerplate strip
# ---------------------------------------------------------------------------

def strip_boilerplate_col(text: F.Column) -> F.Column:
    """JVM-native boilerplate strip — semantics identical to
    corpus/golden.py strip_boilerplate (pytest asserts equality), zero
    Python workers.

    The per-line density scorer is a composition of higher-order array
    functions: split lines -> per-line (visible text, tag count) struct ->
    density filter -> join survivors. Tag count = matches of TAG_COUNT_REGEX,
    computed as size(split(line, rx, -1)) - 1 (split-separator counting).
    (?U) makes Java's \\s match Unicode whitespace like Python's re.

    This is the hot path of the extraction pipeline: at N->4N scaling the
    Arrow worker startup + per-batch transfer of the UDF dominated the
    low-parallelism leg (round-1 bench); a whole-stage-codegen expression
    removes that stage entirely for text spans.
    """
    collapsed = F.trim(F.regexp_replace(text, r"(?U)\s+", " "))
    line_info = lambda line: F.struct(  # noqa: E731
        F.trim(
            F.regexp_replace(
                F.regexp_replace(line, config.TAG_REGEX, " "), r"(?U)\s+", " "
            )
        ).alias("visible"),
        (F.size(F.split(line, config.TAG_COUNT_REGEX, -1)) - 1).alias("tags"),
    )
    kept = F.filter(
        F.transform(F.split(text, "\n", -1), line_info),
        lambda s: (s["visible"] != "")
        & (
            F.length(s["visible"]) / (s["tags"] + F.lit(1.0))
            >= F.lit(config.TEXT_DENSITY_THRESHOLD)
        ),
    )
    stripped = F.array_join(F.transform(kept, lambda s: s["visible"]), " ")
    # NULL text: contains() -> NULL -> otherwise-branch -> collapsed == NULL
    return F.when(text.contains("<"), stripped).otherwise(collapsed)


# ---------------------------------------------------------------------------
# XY-cut layout reading order
# ---------------------------------------------------------------------------

# Blocks travel as tuples (x0, y0, x1, y1, text). Pure-Python sorts beat
# numpy here by ~5x: pages have 2-7 blocks, so per-call ndarray construction
# and lexsort overhead dwarfed the actual work (measured 54us -> ~10us per
# layout; the layout UDF is the extraction pipeline's main Python CPU).
# Semantics identical to the numpy version (stable sorts, same keys) —
# golden XY-cut equality tests gate this.


def _xy_groups(blocks: list, lo: int, hi: int) -> list[list] | None:
    """Split blocks into groups separated by gaps >= XY_CUT_MIN_GAP along
    the (lo, hi) coordinate pair (1,3)=y or (0,2)=x."""
    s = sorted(blocks, key=lambda b: (b[lo], b[hi]))
    groups: list[list] = [[s[0]]]
    cur_max = s[0][hi]
    for b in s[1:]:
        if b[lo] - cur_max >= config.XY_CUT_MIN_GAP:
            groups.append([b])
            cur_max = b[hi]
        else:
            groups[-1].append(b)
            cur_max = max(cur_max, b[hi])
    if len(groups) < 2:
        return None
    return groups


def _xy_cut(blocks: list) -> list:
    if len(blocks) <= 1:
        return blocks
    groups = _xy_groups(blocks, 1, 3)
    if groups is None:
        groups = _xy_groups(blocks, 0, 2)
    if groups is None:
        return sorted(blocks, key=lambda b: (b[1], b[0]))
    out: list = []
    for g in groups:
        out.extend(_xy_cut(g))
    return out


def _layout_one(layout_json: str) -> str:
    blocks = json.loads(layout_json).get("blocks", [])
    if not blocks:
        return ""
    tb = [(b["x0"], b["y0"], b["x1"], b["y1"], b.get("text", "")) for b in blocks]
    order = _xy_cut(tb)
    return _WS.sub(" ", " ".join(b[4] for b in order)).strip()


# Typed-blocks layout path (round 4, Arrow-bandwidth cut): the JSON decode
# moves JVM-side (whole-stage-codegen from_json pinned to EXACTLY the fields
# the XY-cut reads — text + 4 coords; w/h and the JSON key/punctuation
# overhead never cross the Arrow boundary), and the Python worker receives
# typed structs instead of a JSON string per page. Measured on the bench
# corpus: ~31% fewer bytes/doc shipped to Python on the extraction map
# stage, and the per-row json.loads (the layout UDF's largest CPU item)
# disappears. Semantics are identical to corpus/golden.py layout_to_text
# over the same payload (pytest-asserted): Jackson and Python's json parse
# decimal doubles identically (both correctly rounded), block order is
# preserved, a missing "blocks" key yields '' and a NULL payload yields NULL.
LAYOUT_BLOCKS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("text", T.StringType()),
            T.StructField("x0", T.DoubleType()),
            T.StructField("y0", T.DoubleType()),
            T.StructField("x1", T.DoubleType()),
            T.StructField("y1", T.DoubleType()),
        ]
    )
)


def layout_blocks_col(layout_json: F.Column) -> F.Column:
    """JVM-side decode of a layout payload into the pruned typed block array.

    FAILFAST keeps the strictness of the JSON UDF path: a malformed payload
    fails the task (the quarantine path layout_text_err_udf — which needs
    per-row error capture — stays on the raw-JSON UDF). A valid payload
    without "blocks" parses to a NULL array; the empty-array coalesce below
    reproduces json.loads(...).get("blocks", []) -> '' semantics while a
    NULL payload stays NULL."""
    parsed = F.from_json(
        layout_json,
        T.StructType([T.StructField("blocks", LAYOUT_BLOCKS_TYPE)]),
        {"mode": "FAILFAST"},
    )
    empty = F.array().cast(LAYOUT_BLOCKS_TYPE)
    return F.when(
        layout_json.isNotNull(), F.coalesce(parsed["blocks"], empty)
    )


@F.pandas_udf(T.ArrayType(T.IntegerType()))
def layout_order_udf(coords: pd.Series) -> pd.Series:
    """XY-cut as a PERMUTATION: coordinates in, reading-order indices out.

    The ordering provably never depends on block text — every sort key in
    _xy_groups/_xy_cut is (lo, hi) coordinates with Python's stable sort
    breaking ties by input position — so the text does not need to cross
    the Arrow boundary AT ALL: the JVM ships (x0,y0,x1,y1) per block
    (~36 B) and receives one int back, then reassembles the ordered text
    itself (apply_pruned_layout). Versus a raw-JSON layout UDF this removes
    both the JSON key/punctuation overhead AND the full text round-trip
    from the map stage's Python traffic. Output parity with
    corpus/golden.py layout_to_text is pytest-asserted over the corpus."""
    out = []
    for cs in coords:
        if cs is None:
            out.append(None)
            continue
        tb = [(c["x0"], c["y0"], c["x1"], c["y1"], i) for i, c in enumerate(cs)]
        out.append([t[4] for t in _xy_cut(tb)])
    return pd.Series(out, index=coords.index, dtype=object)


@per_context
def pruned_layout_trees(src: str):
    """apply_pruned_layout's trees over payload column ``src``, one per
    projection: (the parsed blocks _blk, (their texts _btexts, the
    layout_order_udf permutation _perm), the reading-order text). Built
    once per SparkContext; extract.clean_spans folds the text into its own
    projection."""
    coords = F.transform(
        "_blk",
        lambda b: F.struct(
            b["x0"].alias("x0"),
            b["y0"].alias("y0"),
            b["x1"].alias("x1"),
            b["y1"].alias("y1"),
        ),
    )
    joined = F.array_join(
        F.transform("_perm", lambda i: F.get(F.col("_btexts"), i)), " ", ""
    )
    return (
        layout_blocks_col(F.col(src)).alias("_blk"),
        (
            F.transform("_blk", lambda b: b["text"]).alias("_btexts"),
            layout_order_udf(coords).alias("_perm"),
        ),
        F.trim(F.regexp_replace(joined, r"(?U)\s+", " ")),
    )


def apply_pruned_layout(df, src: str = "layout_json", out: str = "text"):
    """The production layout path (round 4): XY-cut reading-order text with
    only block COORDINATES crossing the Arrow boundary.

      1. from_json (JVM, whole-stage codegen) parses the payload ONCE,
         pruned to text + 4 coords (FAILFAST keeps the JSON-UDF
         strictness);
      2. layout_order_udf gets struct(x0,y0,x1,y1) per block, returns the
         reading-order permutation (array<int>);
      3. the JVM applies the permutation to the block texts and reproduces
         the UDF's whitespace normalization: join with ' ' (null text ->
         ''), collapse (?U)\\s+ runs, trim — the same composition
         strip_boilerplate_col already relies on for Python-re parity.

    Three projections, one per step, not one column expression, on
    purpose: the parsed blocks must ride through the ArrowEvalPython node
    as a bound JVM column (_blk). A single expression would force the
    post-UDF projection to re-evaluate from_json (the parsed struct cannot
    cross the Python operator), doubling the parse cost — measured 14%
    slower end-to-end than the raw-JSON UDF despite 4x less Arrow traffic.
    CollapseProject keeps the single parse: _blk is referenced twice
    (texts + coords), and non-cheap multiply-referenced aliases are not
    inlined. The trees are built once per SparkContext (per_context).

    ``out`` replaces a column of that name in place, else is appended;
    every other column of ``df`` passes through. NULL payload -> NULL
    text; missing/empty blocks -> ''. Byte-identical to corpus/golden.py
    layout_to_text (pytest: test_layout_blocks_path_equals_json_udf)."""
    cols = df.columns
    blk, texts_and_perm, text = pruned_layout_trees(src)
    keep = [text.alias(out) if c == out else c for c in cols]
    return (
        df.select("*", blk)
        .select("*", *texts_and_perm)
        .select(*keep, *([] if out in cols else [text.alias(out)]))
    )


LAYOUT_ERR_TYPE = T.StructType(
    [T.StructField("text", T.StringType()), T.StructField("error", T.StringType())]
)


@F.pandas_udf(LAYOUT_ERR_TYPE)
def layout_text_err_udf(layouts: pd.Series) -> pd.DataFrame:
    """Per-ROW failure capture (Q3 quarantine semantics,
    /root/reference/src/services/job-queue.service.js:193-238): a malformed
    layout payload must quarantine that document, not fail the Spark task.
    Returns (text, error) — exactly one of the two is non-null."""
    texts, errors = [], []
    for lj in layouts:
        if lj is None:
            texts.append(None)
            errors.append(None)
            continue
        try:
            texts.append(_layout_one(lj))
            errors.append(None)
        except Exception as exc:  # noqa: BLE001 — row-level isolation
            texts.append(None)
            errors.append(f"{type(exc).__name__}: {exc}"[:500])
    return pd.DataFrame({"text": texts, "error": errors}, index=layouts.index)


# ---------------------------------------------------------------------------
# Field extraction + confidence fold
# ---------------------------------------------------------------------------

PRACTICA_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("item", T.IntegerType()),
            T.StructField("descripcion", T.StringType()),
            T.StructField("cantidad", T.IntegerType()),
            T.StructField("confianza", T.DoubleType()),
        ]
    )
)

FIELDS_SCHEMA = T.StructType(
    [
        T.StructField("ruc", T.StringType()),
        T.StructField("prestador_nombre", T.StringType()),
        T.StructField("paciente_nombre", T.StringType()),
        T.StructField("paciente_ci", T.StringType()),
        T.StructField("fecha_orden", T.StringType()),
        T.StructField("diagnostico_texto", T.StringType()),
        T.StructField("diagnostico_codigo_cie", T.StringType()),
        T.StructField("medico_matricula", T.StringType()),
        T.StructField("matricula_valida", T.BooleanType()),
        T.StructField("urgente", T.BooleanType()),
        T.StructField("practicas", PRACTICA_TYPE),
        T.StructField("practicas_fuente", T.StringType()),
        T.StructField("confianza_extraccion", T.DoubleType()),
    ]
)

_RUC = re.compile(r"RUC:\s*([\d\-]+)")
_PRESTADOR = re.compile(r"ORDEN MEDICA - (.+?)\s+RUC:")
_PAC = re.compile(r"Paciente:\s*(.+?)\s+CI[:\s]")
_CI = re.compile(r"CI:\s*([\d.\-]+)")
_FECHA = re.compile(r"\b(\d{2})/(\d{2})/(\d{4})\b")
_DIAG = re.compile(r"Diagn[óo]stico:\s*(.+?)\s*\(([A-Z]\d{2}(?:\.\d)?)\)")
_PRACT_SEG = re.compile(r"PRACTICAS:\s*(.+?)\.(?:\s|$)")
_PRACT_ITEM = re.compile(r"^(.*?)(?:\s+x(\d+))?$")
_NONNUM = re.compile(r"[.\-]")
# NB (measured): fusing the matricula/narrative cascades into single union
# regexes was 2x SLOWER — Python re's alternation disables the literal-prefix
# scan optimization, so one union pass costs more than K sequential searches.
# What DOES pay: literal PRESCAN gating — every match of a bank pattern must
# contain one of a small set of lowercase literals, so a C-level `in` check
# over text.lower() skips the regex entirely for non-matching docs (the
# regexes were ~50-75% of the UDF's CPU). Soundness (regex match => literal
# present) is asserted by tests over the generated corpus + crafted samples;
# _PRESCAN_LITERALS is keyed by pattern string and must cover every config
# pattern (loud KeyError on drift).
_MATRICULAS = [re.compile(p, re.IGNORECASE) for p in config.MATRICULA_PATTERNS]
_URGENCY = re.compile(r"\b(" + "|".join(config.URGENCY_KEYWORDS) + r")\b", re.IGNORECASE)
_NARRATIVE = [
    (re.compile(p, re.IGNORECASE), name) for p, name in config.NARRATIVE_PRACTICE_PATTERNS
]

_PRESCAN_LITERALS: dict[str, tuple[str, ...]] = {
    # matricula bank: patterns 0/1 anchor only on 'M' — always scanned
    config.MATRICULA_PATTERNS[0]: (),
    config.MATRICULA_PATTERNS[1]: (),
    config.MATRICULA_PATTERNS[2]: ("matr",),
    config.MATRICULA_PATTERNS[3]: ("mat",),
    config.MATRICULA_PATTERNS[4]: ("reg",),
    # narrative bank: one guaranteed-substring literal per alternative
    r"\bradioterapia\b|\bRT\b": ("radioterapia", "rt"),
    r"\bquimioterapia\b|\bQTx?\b": ("quimioterapia", "qt"),
    r"\bbiopsia\b|\bBx\b": ("biopsia", "bx"),
    r"\bVEDA\b|video\s*endoscopia\s*digestiva\s*alta": ("veda", "endoscopia"),
    r"\bcolonoscop[ií]a\b|\bVCC\b": ("colonoscop", "vcc"),
    r"\becograf[ií]a\b|\bECO\b": ("eco",),
    r"\bresonancia\b|\bRMN\b|\bRNM\b": ("resonancia", "rmn", "rnm"),
    r"\btomograf[ií]a\b|\bTAC\b|\bTC\b": ("tomograf", "tac", "tc"),
    r"\bradiograf[ií]a\b|\bRX\b": ("radiograf", "rx"),
    r"\belectrocardiograma\b|\bECG\b|\bEKG\b": ("electrocardiograma", "ecg", "ekg"),
    r"\bhemograma\b": ("hemograma",),
    r"\bergometr[ií]a\b": ("ergometr",),
    r"\bespirometr[ií]a\b": ("espirometr",),
    r"\bmamograf[ií]a\b": ("mamograf",),
    r"\bdensitometr[ií]a\b": ("densitometr",),
    r"\bholter\b": ("holter",),
    r"\becodoppler\b|\bdoppler\b": ("doppler",),
    r"\bkinesiolog[ií]a\b|\bkinesioterapia\b": ("kinesio",),
    r"\blaboratorio\b": ("laboratorio",),
}
_MATRICULA_BANK = [
    (rx, _PRESCAN_LITERALS[p])
    for rx, p in zip(_MATRICULAS, config.MATRICULA_PATTERNS)
]
_NARRATIVE_BANK = [
    (rx, name, _PRESCAN_LITERALS[p])
    for (rx, name), (p, _) in zip(_NARRATIVE, config.NARRATIVE_PRACTICE_PATTERNS)
]
_URGENCY_LITERALS = tuple(k.lower() for k in config.URGENCY_KEYWORDS)
_W = config.CONFIDENCE_WEIGHTS
_W_TOTAL = sum(_W.values())


def _extract_one(text: str) -> dict:
    m = _RUC.search(text)
    ruc = m.group(1) if m else None
    m = _PRESTADOR.search(text)
    prestador_nombre = _WS.sub(" ", m.group(1)).strip() if m else None
    m = _PAC.search(text)
    nombre = _WS.sub(" ", m.group(1)).strip() if m else None
    m = _CI.search(text)
    ci = _NONNUM.sub("", m.group(1)) if m else None
    m = _FECHA.search(text)
    fecha = f"{m.group(3)}-{m.group(2)}-{m.group(1)}" if m else None
    m = _DIAG.search(text)
    diag, cie = (_WS.sub(" ", m.group(1)).strip(), m.group(2)) if m else (None, None)

    tl = text.lower()
    matricula = None
    for rx, lits in _MATRICULA_BANK:
        if lits and not any(li in tl for li in lits):
            continue
        m = rx.search(text)
        if m:
            matricula = m.group(1)
            break
    mat_ok = bool(
        matricula and config.MATRICULA_MIN_LEN <= len(matricula) <= config.MATRICULA_MAX_LEN
    )
    urgente = (
        any(k in tl for k in _URGENCY_LITERALS)
        and _URGENCY.search(text) is not None
    )

    practicas: list[dict] = []
    fuente = None
    seg = _PRACT_SEG.search(text)
    if seg:
        for raw in seg.group(1).split(";"):
            item = _WS.sub(" ", raw).strip()
            if not item:
                continue
            im = _PRACT_ITEM.match(item)
            desc = _WS.sub(" ", im.group(1)).strip()
            if desc:
                practicas.append(
                    {
                        "item": len(practicas) + 1,
                        "descripcion": desc,
                        "cantidad": int(im.group(2)) if im.group(2) else config.DEFAULT_CANTIDAD,
                        "confianza": config.DEFAULT_PRACTICE_CONFIDENCE,
                    }
                )
        if practicas:
            fuente = "LISTA"
    if not practicas:
        for rx, name, lits in _NARRATIVE_BANK:
            if not any(li in tl for li in lits):
                continue
            if rx.search(text):
                practicas.append(
                    {
                        "item": len(practicas) + 1,
                        "descripcion": name,
                        "cantidad": config.DEFAULT_CANTIDAD,
                        "confianza": config.NARRATIVE_PRACTICE_CONFIDENCE,
                    }
                )
        if practicas:
            fuente = "NARRATIVA"

    got = 0.0
    if nombre:
        got += _W["paciente_nombre"]
    if ci:
        got += _W["paciente_ci"]
    if mat_ok:
        got += _W["medico_matricula"]
    if fecha:
        got += _W["fecha_orden"]
    if diag:
        got += _W["diagnostico"]
    if urgente:
        got += _W["urgencia_detectada"]
    if practicas:
        got += _W["practicas"]
    mean_pc = (
        sum(p["confianza"] for p in practicas) / len(practicas) if practicas else 0.0
    )
    conf = round(min(1.0, 0.7 * (got / _W_TOTAL) + 0.3 * mean_pc), 2)

    return {
        "ruc": ruc,
        "prestador_nombre": prestador_nombre,
        "paciente_nombre": nombre,
        "paciente_ci": ci,
        "fecha_orden": fecha,
        "diagnostico_texto": diag,
        "diagnostico_codigo_cie": cie,
        "medico_matricula": matricula,
        "matricula_valida": mat_ok,
        "urgente": urgente,
        "practicas": practicas,
        "practicas_fuente": fuente,
        "confianza_extraccion": conf,
    }


@F.pandas_udf(FIELDS_SCHEMA)
def extract_fields_udf(texts: pd.Series) -> pd.DataFrame:
    rows = [_extract_one(t if t is not None else "") for t in texts]
    return pd.DataFrame(rows, index=texts.index)

