"""Output checks against the oracle answers built by ``inputs``.

Each check returns (attempted, failed, notes): attempted counts the input
documents, failed counts those that are missing, duplicated, differ from
the oracle or sit in the wrong quarantine set. failed / attempted is the
run's ``failed_frac``. Pure Python: the caller collects the Spark rows.
"""

from __future__ import annotations

from collections import Counter

from inputs import detail_record, header_record

EXTRACT_FIELDS = (
    "ruc", "prestador_nombre", "paciente_nombre", "paciente_ci", "fecha_orden",
    "diagnostico_texto", "diagnostico_codigo_cie", "medico_matricula",
    "matricula_valida", "urgente",
)


def extract_row_record(r: dict) -> list:
    """A committed results row in the oracle's record layout."""
    return [
        r["spans_json"],
        r["full_text"],
        *(r[k] for k in EXTRACT_FIELDS),
        [[p["item"], p["descripcion"], p["cantidad"], p["confianza"]] for p in r["practicas"]],
        r["practicas_fuente"],
        r["confianza_extraccion"],
        r["requiere_revision"],
    ]


def check_extract(
    manifest: dict,
    results: dict[str, list],
    committed: Counter,
    quarantined: set[str],
) -> tuple[int, int, dict]:
    """results: doc_id -> record from CheckpointedExtraction.results();
    committed: doc_id -> rows across every committed results snapshot;
    quarantined: doc_ids in the quarantine table."""
    oracle = manifest["oracle"]
    malformed = set(manifest["malformed_docs"])
    ids = manifest["doc_ids"]
    known = set(ids)
    bad: dict[str, list[str]] = {
        "missing": [], "duplicated": [], "differs": [], "quarantine": []
    }
    for d in ids:
        if d in malformed:
            if d in results or d not in quarantined:
                bad["quarantine"].append(d)
        elif d not in results:
            bad["missing"].append(d)
        elif committed[d] != 1:
            bad["duplicated"].append(d)
        elif results[d] != oracle[d]:
            bad["differs"].append(d)
        elif d in quarantined:
            bad["quarantine"].append(d)
    unknown = (set(results) | quarantined) - known
    failed = sum(len(v) for v in bad.values()) + len(unknown)
    notes = {k: v[:5] for k, v in bad.items() if v}
    if unknown:
        notes["unknown"] = sorted(unknown)[:5]
    notes["quarantined"] = len(quarantined)
    return len(ids), failed, notes


def check_previsacion(
    manifest: dict, headers: list[dict], details: list[dict]
) -> tuple[int, int, dict]:
    """headers / details: collected run_previsacion output rows as dicts."""
    oracle = manifest["oracle"]
    got_h: dict[str, list] = {}
    for h in headers:
        got_h.setdefault(h["doc_id"], []).append(header_record(h))
    got_d: dict[str, list] = {}
    for d in details:
        got_d.setdefault(d["doc_id"], []).append(detail_record(d))
    bad: dict[str, list[str]] = {"missing": [], "duplicated": [], "differs": []}
    for doc_id, (want_h, want_d) in oracle.items():
        hs = got_h.get(doc_id, [])
        if not hs:
            bad["missing"].append(doc_id)
        elif len(hs) > 1:
            bad["duplicated"].append(doc_id)
        elif hs[0] != want_h or sorted(got_d.get(doc_id, [])) != want_d:
            bad["differs"].append(doc_id)
    unknown = (set(got_h) | set(got_d)) - set(oracle)
    failed = sum(len(v) for v in bad.values()) + len(unknown)
    notes = {k: v[:5] for k, v in bad.items() if v}
    if unknown:
        notes["unknown"] = sorted(unknown)[:5]
    return len(oracle), failed, notes
