"""Pure-Python golden oracle for the matching + pre-visacion stage.

Single-threaded reference implementation of SURVEY §2.9 over the synthesized
dimensions; the pytest suite asserts the distributed pipeline
(operators/matching.py + plans/previsacion.py) agrees exactly.

Shares only the scalar numeric core (embed_text / trigram / round_half_up)
with the Spark side — the pipeline logic (cascade, top-k, pick-best,
alternatives, confidence) is written independently here.
"""

from __future__ import annotations

import datetime
from typing import Any

import numpy as np

from .. import config
from ..functions import similarity as sim


def plan_id(doc_id: str) -> int | None:
    """The doc_id's last 2 characters as a number mod 2, + 1; None (no
    agreement can match) unless they are 2 ASCII digits."""
    last2 = doc_id[-2:]
    if len(last2) == 2 and last2.isascii() and last2.isdigit():
        return int(last2) % 2 + 1
    return None


def calendar_date(iso: str | None) -> str | None:
    """The extracted YYYY-MM-DD date, or None when it names no calendar day
    (the field regex accepts 31/02/2024)."""
    try:
        return datetime.date.fromisoformat(iso).isoformat()
    except (TypeError, ValueError):
        return None


def _assemble_nom_text(n: dict) -> str:
    return " ".join(
        [
            n["especialidad"],
            n["descripcion"],
            n["desc_nomenclador"],
            " ".join(n["sinonimos"]),
            " ".join(n["palabras_clave"]),
        ]
    )


def _assemble_prest_text(p: dict) -> str:
    return " ".join(
        [p["nombre_fantasia"], p["raz_soc_nombre"], p["registro_profesional"], p["tipo"]]
    )


class GoldenMatcher:
    def __init__(self, dims: dict[str, list[dict]]):
        self.prest = [p for p in dims["prestadores"] if p["estado"] == "ACTIVO"]
        self.nom = sorted(
            (n for n in dims["nomencladores"] if n["estado"] == "ACTIVO"),
            key=lambda n: n["id_nomenclador"],
        )
        self.nom_matrix = np.array(
            [sim.embed_text(_assemble_nom_text(n)) for n in self.nom]
        )
        self.nom_trgm = [sim.char_trigrams(n["descripcion"]) for n in self.nom]
        self.prest_sorted = sorted(self.prest, key=lambda p: p["id_prestador"])
        self.prest_matrix = np.array(
            [sim.embed_text(_assemble_prest_text(p)) for p in self.prest_sorted]
        )
        self.prest_trgm = [
            sim.char_trigrams(p["nombre_fantasia"]) for p in self.prest_sorted
        ]
        self.by_ruc = {}
        self.by_mat = {}
        for p in self.prest:
            self.by_ruc.setdefault(p["ruc"], p["id_prestador"])
            self.by_mat.setdefault(p["registro_profesional"], p["id_prestador"])
        # latest vigente agreement per (prest, nom, plan):
        # max by (fecha_vigencia, id_acuerdo)
        self.ag: dict[tuple[int, int, int], dict] = {}
        for a in dims["acuerdos_prestador"]:
            if a["vigente"] != "SI":
                continue
            key = (a["prest_id_prestador"], a["id_nomenclador"], a["plan_id_plan"])
            cur = self.ag.get(key)
            if cur is None or (a["fecha_vigencia"], a["id_acuerdo"]) > (
                cur["fecha_vigencia"],
                cur["id_acuerdo"],
            ):
                self.ag[key] = a

    # -- provider cascade (J1 -> J2 -> J4) --------------------------------

    def match_prestador(self, fields: dict[str, Any]) -> dict[str, Any]:
        rid = self.by_ruc.get(fields["ruc"])
        if rid is not None:
            return {"prestador_id": rid, "prestador_confianza": 1.0, "prestador_metodo": "RUC"}
        if fields["matricula_valida"]:
            mid = self.by_mat.get(fields["medico_matricula"])
            if mid is not None:
                return {
                    "prestador_id": mid,
                    "prestador_confianza": 1.0,
                    "prestador_metodo": "MATRICULA",
                }
        cands = self._topk(
            fields["prestador_nombre"],
            self.prest_matrix,
            [p["id_prestador"] for p in self.prest_sorted],
            [p["nombre_fantasia"] for p in self.prest_sorted],
            self.prest_trgm,
            k=config.TOPK_PRESTADOR,
            min_sim=0.0,
        )
        if not cands:
            return {
                "prestador_id": None,
                "prestador_confianza": None,
                "prestador_metodo": None,
            }
        best = cands[0]
        return {
            "prestador_id": best["id"],
            "prestador_confianza": sim.round_half_up(best["similitud"], 2),
            "prestador_metodo": "FUZZY",
        }

    # -- top-k scoring (J3/T1/T2) ------------------------------------------

    def _topk(self, query, M, ids, descs, trgm_sets, k, min_sim):
        if query is None or len(ids) == 0:
            return []
        qv = np.asarray(sim.embed_text(query))
        sims = M @ qv
        pool = [(i, float(sims[i])) for i in range(len(ids)) if sims[i] >= min_sim]
        pool.sort(key=lambda t: (-t[1], ids[t[0]]))
        pool = pool[:k]
        qg = sim.char_trigrams(query)
        cands = []
        for i, sv in pool:
            sg = trgm_sets[i]
            inter = len(qg & sg)
            trgm = inter / (len(qg) + len(sg) - inter) if qg and sg else 0.0
            cands.append(
                {
                    "id": ids[i],
                    "descripcion": descs[i],
                    "sim_vec": sv,
                    "sim_trgm": trgm,
                    "similitud": round(
                        config.VEC_WEIGHT * sv + config.TRGM_WEIGHT * trgm, 4
                    ),
                }
            )
        cands.sort(key=lambda c: (-c["similitud"], c["id"]))
        for r, c in enumerate(cands):
            c["rank"] = r + 1
        return cands

    # -- per-practice matching + pick-best (§2.9) --------------------------

    def match_practice(
        self, descripcion: str, prestador_id: int | None, plan: int | None
    ) -> dict[str, Any]:
        cands = self._topk(
            descripcion,
            self.nom_matrix,
            [n["id_nomenclador"] for n in self.nom],
            [n["descripcion"] for n in self.nom],
            self.nom_trgm,
            k=config.TOPK_NOMENCLADOR,
            min_sim=config.MIN_SIMILARITY_NOM,
        )
        if not cands:
            return {
                "nomenclador_id_sugerido": None,
                "nomenclador_descripcion": None,
                "similitud": None,
                "nomenclador_confianza": None,
                "tiene_acuerdo": False,
                "id_acuerdo": None,
                "precio_acuerdo": None,
                "matches_alternativos": [],
                "alerta": "SIN_MATCH",
            }
        ag_of = {}
        for c in cands:
            if prestador_id is not None:
                a = self.ag.get((prestador_id, c["id"], plan))
                if a is not None:
                    ag_of[c["id"]] = a
        best = next((c for c in cands if c["id"] in ag_of), cands[0])
        a = ag_of.get(best["id"])
        alts = [c for c in cands if c["rank"] != best["rank"]][: config.N_ALTERNATIVES]
        return {
            "nomenclador_id_sugerido": best["id"],
            "nomenclador_descripcion": best["descripcion"],
            "similitud": best["similitud"],
            "nomenclador_confianza": sim.round_half_up(best["similitud"], 2),
            "tiene_acuerdo": a is not None,
            "id_acuerdo": a["id_acuerdo"] if a else None,
            "precio_acuerdo": a["precio"] if a else None,
            "matches_alternativos": [
                {
                    "id_nomenclador": c["id"],
                    "descripcion": c["descripcion"],
                    "similitud": c["similitud"],
                    "tiene_acuerdo": c["id"] in ag_of,
                }
                for c in alts
            ],
            "alerta": None if a is not None else "SIN_ACUERDO",
        }

    # -- whole-document ----------------------------------------------------

    def previsacion(self, golden_doc: dict[str, Any]) -> dict[str, Any]:
        """golden_doc = output of golden.extract_document."""
        f = golden_doc["fields"]
        pm = self.match_prestador(f)
        plan = plan_id(golden_doc["doc_id"])
        details = []
        for p in f["practicas"]:
            m = self.match_practice(p["descripcion"], pm["prestador_id"], plan)
            details.append(
                {
                    "doc_id": golden_doc["doc_id"],
                    "item": p["item"],
                    "descripcion_original": p["descripcion"],
                    "cantidad": p["cantidad"],
                    **m,
                }
            )
        match_conf = (
            sim.round_half_up(
                sum((d["similitud"] or 0.0) for d in details) / len(details), 4
            )
            if details
            else None
        )
        conf_general = sim.round_half_up(
            (
                golden_doc["confianza_extraccion"]
                + (pm["prestador_confianza"] or 0.0)
                + (match_conf or 0.0)
            )
            / 3.0,
            2,
        )
        header = {
            "doc_id": golden_doc["doc_id"],
            "paciente_ci": f["paciente_ci"],
            "paciente_nombre": f["paciente_nombre"],
            "fecha_orden": calendar_date(f["fecha_orden"]),
            "prestador_id_sugerido": pm["prestador_id"],
            "prestador_confianza": pm["prestador_confianza"],
            "prestador_metodo": pm["prestador_metodo"],
            "medico_matricula": f["medico_matricula"],
            "diagnostico_texto": f["diagnostico_texto"],
            "diagnostico_codigo_cie": f["diagnostico_codigo_cie"],
            "urgente": f["urgente"],
            "n_practicas": len(details),
            "confianza_extraccion": golden_doc["confianza_extraccion"],
            "confianza_general": conf_general,
            "requiere_revision": conf_general < config.REVIEW_THRESHOLD,
            "estado": "PENDIENTE",
        }
        return {"header": header, "details": details}
