"""spark-submit packaging: the --py-files zip must be self-contained.

Builds the bundle with scripts/package_pyfiles.py and imports the
engine FROM THE ZIP in a clean subprocess (no repo on sys.path) —
exactly what an executor python worker does — then runs one fixture
extraction to prove the embedded data rides along.  The job scripts
must not shadow the zip with the repo checkout they sit in.
"""

import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

_PROBE = """
import sys
zip_path, = sys.argv[1:]
sys.path.insert(0, zip_path)
# the repo itself must NOT be importable — only the zip
sys.path = [p for p in sys.path if p not in ("", "{repo}")]

from ds4sd_docling_tableformer_onnx_spark.core.pipeline import extract_turn
from ds4sd_docling_tableformer_onnx_spark.sources.fixtures import payload_pool
from ds4sd_docling_tableformer_onnx_spark.operators import (  # noqa: F401
    dedup, detector, multimodal, realmodel, similarity,
)

entry = next(e for e in payload_pool() if e["kind"] == "prediction")
import json
payload = json.loads(entry["text"]); payload.update(json.loads(entry["tool"]))
result = extract_turn(payload)
import hashlib
got = hashlib.sha256(json.dumps(result["html_seq"]).encode()).hexdigest()
expect = hashlib.sha256(entry["expected_html_json"].encode()).hexdigest()
assert got == expect, "zip-imported pipeline diverged from fixture"
print("ZIP-OK")
"""


@pytest.fixture(scope="module")
def zip_path():
    subprocess.run(
        [sys.executable, str(REPO / "scripts" / "package_pyfiles.py")],
        check=True,
        capture_output=True,
    )
    path = REPO / "dist" / "ds4sd_docling_tableformer_onnx_spark.zip"
    assert path.exists()
    return path


def test_pyfiles_zip_is_self_contained(tmp_path, zip_path):
    probe = tmp_path / "probe.py"
    probe.write_text(_PROBE.replace("{repo}", str(REPO)))
    out = subprocess.run(
        [sys.executable, str(probe), str(zip_path)],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # away from the repo so imports must hit the zip
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert "ZIP-OK" in out.stdout


# Runs a job script's module-level code (not main()), as spark-submit
# does before main() imports the package, then reports where the
# package was imported from.
_JOB_PROBE = """
import importlib.util, sys
job_path, = sys.argv[1:]
spec = importlib.util.spec_from_file_location("job", job_path)
spec.loader.exec_module(importlib.util.module_from_spec(spec))
import ds4sd_docling_tableformer_onnx_spark as pkg
print(pkg.__file__)
"""


@pytest.mark.parametrize("job", ["extract_job.py", "curate_job.py"])
def test_job_scripts_import_the_package_from_the_zip(tmp_path, zip_path, job):
    """Under spark-submit the --py-files zip is on PYTHONPATH; a job
    script that puts the repo root in front of it would run the
    driver side from the checkout instead of the shipped zip."""
    out = subprocess.run(
        [sys.executable, "-c", _JOB_PROBE, str(REPO / "jobs" / job)],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": str(zip_path)},
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip().startswith(str(zip_path) + os.sep)
