"""Self-tests of the benchmark, sized to run in seconds (the last one starts
Spark once and takes about half a minute).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
from medical_ocr_service_spark.corpus import generator, golden  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == run.per_layer_names()
    b = SimpleNamespace(
        args=SimpleNamespace(trace=0),
        report={name: 1.5 for name in run.END_TO_END},
        layers={},
    )
    for trace, spec in ((0, BENCHMARK["end_to_end"]), (1, BENCHMARK["per_layer"])):
        b.args.trace = trace
        line = run.result_line(b, attempted=10, failed=0)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["metrics"] == {
            m["name"]: {"value": line["metrics"][m["name"]]["value"], "unit": m["unit"]}
            for m in spec
        }


def _build(tmp_path, seed: int, name: str) -> tuple[str, dict]:
    out = tmp_path / name
    out.mkdir()
    return str(out), inputs.build_extract(str(out), seed, 300)


def test_generator_is_deterministic_in_its_seed(tmp_path):
    a, b, c = (_build(tmp_path, s, n)[0] for s, n in ((7, "a"), (7, "b"), (8, "c")))
    for name in ("docs.parquet", "media.parquet", "phase1.parquet", "oracle.json"):
        with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
            assert fa.read() == fb.read(), name
    with open(os.path.join(a, "docs.parquet"), "rb") as fa, open(
        os.path.join(c, "docs.parquet"), "rb"
    ) as fc:
        assert fa.read() != fc.read()


def test_one_swapped_span_order_fails_exactly_one_doc(tmp_path):
    out, manifest = _build(tmp_path, 5, "x")
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)
    manifest["oracle"] = oracle
    # the program's output, as if it matched the oracle everywhere ...
    results = {d: list(r) for d, r in oracle.items()}
    committed = Counter({d: 1 for d in results})
    quarantined = set(manifest["malformed_docs"])
    assert checks.check_extract(manifest, results, committed, quarantined)[:2] == (300, 0)
    # ... except one doc whose first two spans come out in swapped order
    docs, media = generator.synthesize_corpus(300, seed=inputs.sub_seed(5, "extract"))
    doc = next(d for d in docs if d["doc_id"] in oracle and len(d["spans"]) >= 2)
    g = golden.extract_document(doc, {m["media_ref"]: m["layout_json"] for m in media})
    spans = g["spans"]
    spans[0], spans[1] = {**spans[1], "order": 1}, {**spans[0], "order": 2}
    results[doc["doc_id"]][0] = inputs.spans_string(spans)
    attempted, failed, _ = checks.check_extract(manifest, results, committed, quarantined)
    assert failed / attempted == 1 / 300


def test_tiny_run_prints_every_metric_with_its_unit():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "previsacion",
         "--seed", "1", "--seconds", "1", "--trace", "0", "--docs", "40"],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert line["correct"] and line["failed"] == 0 and line["attempted"] == 40
    for m in BENCHMARK["end_to_end"]:
        assert line["metrics"][m["name"]]["unit"] == m["unit"]
        assert line["metrics"][m["name"]]["value"] > 0
        assert f"{m['name']} = " in proc.stdout
