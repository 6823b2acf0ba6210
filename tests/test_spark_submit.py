"""North-rule submission contract, run for REAL: `spark-submit --py-files
dist/medical_ocr_service_spark.zip jobs/run_extraction.py ...` as an actual
subprocess (not an in-process main() call — that's test_sources.py).

The subprocess runs with a neutral cwd and a scrubbed PYTHONPATH so the
package can only come from the --py-files zip, proving the packaged artifact
is complete and the job is genuinely cluster-submittable."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_py_files_end_to_end(corpus_dir, tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import package as pkg

    zip_path = pkg.build(str(tmp_path))
    out = str(tmp_path / "out")
    cmd = [
        spark_submit,
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "run_extraction.py"),
        "--docs", f"{corpus_dir}/documents_interleaved.parquet",
        "--media", f"{corpus_dir}/media.parquet",
        "--output", out,
    ]
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    env.pop("SPARK_DRIVER_MEMORY", None)
    res = subprocess.run(
        cmd, capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert res.returncode == 0, f"spark-submit failed:\n{res.stderr[-3000:]}"
    rec = json.loads(res.stdout.strip().splitlines()[-1])
    assert rec["docs_processed"] == 300
    assert rec["spans_emitted"] > 0
    assert rec["snapshot_id"] == 1
    assert os.path.isdir(out)
    # the run is one atomic snapshot commit whose manifest carries the
    # lineage counters (version hint + snap json on disk)
    hint = os.path.join(out, "results", "metadata", "version-hint.text")
    assert open(hint).read().strip() == "1"

    # resume from the same --output: second submission processes 0 docs
    res2 = subprocess.run(
        cmd, capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert res2.returncode == 0, f"resume failed:\n{res2.stderr[-3000:]}"
    rec2 = json.loads(res2.stdout.strip().splitlines()[-1])
    assert rec2["docs_processed"] == 0
