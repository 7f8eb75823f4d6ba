import json
import os
from pathlib import Path

import pytest

REFERENCE_DIR = Path(os.environ.get("REFERENCE_DIR", "/root/reference"))
RESULTS_DIR = REFERENCE_DIR / "results"
FIXTURES_DIR = Path(__file__).parent / "fixtures"
REPO_ROOT = Path(__file__).parent.parent

# Embedded fixture pool (generated by scripts/build_fixture_pool.py from the
# public reference artifacts) keeps the suite runnable without the
# reference checkout.
FIXTURE_POOL = REPO_ROOT / "ds4sd_docling_tableformer_onnx_spark" / "data" / "fixture_pool.json"


def load_json(path: Path):
    with open(path) as fp:
        return json.load(fp)


@pytest.fixture(scope="session")
def fixture_pool():
    return load_json(FIXTURE_POOL)


@pytest.fixture(scope="session")
def spark():
    from ds4sd_docling_tableformer_onnx_spark.session import build_session

    spark = build_session(app_name="tests", cores=4)
    yield spark
    spark.stop()
