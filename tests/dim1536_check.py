"""E2E pre-visación at the reference's PRODUCTION embedding width (1536-d).

The reference stores `vector(1536)` embeddings (text-embedding-3-small;
/root/reference/database/schema_matching.sql:33,64) while the repo's
test/bench default is a 64-d feature-hash width. This script runs the FULL
pipeline — corpus synthesis, golden pure-Python matcher, Spark
run_previsacion with the provider cascade + practice top-k matching — at
dim=1536 and asserts header/detail/alternatives equality between Spark and
golden, proving the matcher and ANN machinery hold at production width.

Must be launched with SPARK_GRAFT_EMBEDDING_DIM=1536 in the environment
(config reads the width at import time); the pytest wrapper
(tests/test_matching.py::test_previsacion_production_dim_1536) runs it that
way in a subprocess.

Prints ONE JSON line:
  {"dim": 1536, "docs": N, "header_rows": ..., "detail_rows": ...,
   "alt_rows": ..., "sec_previsacion": ..., "ok": true}
Exits non-zero on any mismatch.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402

from medical_ocr_service_spark import config  # noqa: E402
from medical_ocr_service_spark.corpus import generator, golden  # noqa: E402
from medical_ocr_service_spark.corpus.golden_matching import GoldenMatcher  # noqa: E402

N_DOCS = int(os.environ.get("SPARK_GRAFT_DIM1536_DOCS", "300"))


def _cmp(ours: pd.DataFrame, ref: pd.DataFrame, keys: list[str], name: str) -> None:
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
        assert not bad.any(), f"{name}.{c}: {int(bad.sum())} mismatches at dim=1536"


def main() -> None:
    assert config.EMBEDDING_DIM == 1536, (
        f"launch with SPARK_GRAFT_EMBEDDING_DIM=1536 (config saw "
        f"{config.EMBEDDING_DIM})"
    )

    import tempfile

    from medical_ocr_service_spark.corpus import write as cwrite
    from medical_ocr_service_spark.plans import previsacion
    from medical_ocr_service_spark.session import get_spark

    # golden side (pure Python + numpy, dim picked up from config)
    docs, media = generator.synthesize_corpus(N_DOCS, seed=config.CORPUS_SEED)
    extracted = golden.extract_corpus(docs, media)
    matcher = GoldenMatcher(generator.synthesize_dimensions(seed=config.CORPUS_SEED))
    out = [matcher.previsacion(g) for g in extracted]
    ref_header = pd.DataFrame([o["header"] for o in out])
    ref_detail = pd.DataFrame(
        [
            {k: v for k, v in d.items() if k != "matches_alternativos"}
            for o in out
            for d in o["details"]
        ]
    )
    ref_alts = pd.DataFrame(
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

    # Spark side
    with tempfile.TemporaryDirectory(prefix="dim1536-") as tmp:
        cwrite.write_corpus(tmp, n_docs=N_DOCS, with_golden=False)
        spark = get_spark(
            app_name="dim1536-check", master="local[4]", shuffle_partitions=4
        )
        try:
            sdocs = spark.read.parquet(f"{tmp}/documents_interleaved.parquet")
            smedia = spark.read.parquet(f"{tmp}/media.parquet")
            prest, nom, ac = generator.dims_dataframes(spark)
            t0 = time.perf_counter()
            header, detail = previsacion.run_previsacion(sdocs, smedia, prest, nom, ac)
            ours_h = header.toPandas()
            ours_d = detail.toPandas()
            dt = time.perf_counter() - t0
        finally:
            spark.stop()

    ours_h["fecha_orden"] = ours_h["fecha_orden"].map(
        lambda d: None if d is None else str(d)
    )
    ref_header["n_practicas"] = ref_header["n_practicas"].astype("int64")
    ours_h["n_practicas"] = ours_h["n_practicas"].astype("int64")
    _cmp(ours_h, ref_header, ["doc_id"], "header")

    _cmp(
        ours_d.drop(columns=["matches_alternativos"]),
        ref_detail,
        ["doc_id", "item"],
        "detail",
    )

    rows = []
    for _, r in ours_d.iterrows():
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
    _cmp(pd.DataFrame(rows), ref_alts, ["doc_id", "item", "alt_idx"], "alternativos")

    print(
        json.dumps(
            {
                "dim": config.EMBEDDING_DIM,
                "docs": N_DOCS,
                "header_rows": len(ours_h),
                "detail_rows": len(ours_d),
                "alt_rows": len(rows),
                "sec_previsacion": round(dt, 3),
                "ok": True,
            }
        )
    )


if __name__ == "__main__":
    main()
