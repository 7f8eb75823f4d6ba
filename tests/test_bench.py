"""bench.py end to end: ``--queries`` times the named queries and prints
its report as the last stdout line."""

import json
import os
import subprocess
import sys
from pathlib import Path

from tests.test_queries import SF

REPO = Path(__file__).resolve().parent.parent


def test_bench_queries_prints_a_json_report():
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "--queries", "dense_rank_reindex", "--runs", "1"],
        capture_output=True,
        text=True,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": SF},
        timeout=300,
    )
    assert out.returncode == 0, out.stderr
    report = json.loads(out.stdout.strip().splitlines()[-1])
    assert report["queries"]["dense_rank_reindex"] >= 0
    assert report["sf"] == Path(SF).name
