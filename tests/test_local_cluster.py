"""Real multi-executor evidence: the SAME spark-submit job on a
``local-cluster[2,1,1536]`` master — two separate executor JVMs with
their own Python worker pools, registering over RPC with real
serialized shuffle between processes — must produce byte-identical
extraction output to the committed pure-Python golden. This exercises
the actual north_rule launch shape (spark-submit --py-files on a
multi-executor cluster): closure shipping, per-executor module imports,
cross-JVM exchange of the salted partitioning, and the parquet sink.
"""

from __future__ import annotations

import json
import os
import subprocess
import tempfile

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(REPO, "fixturedata", "golden_sf0.001.parquet")


@pytest.mark.slow
def test_local_cluster_job_matches_golden(transcripts_dir_tiny):
    tmp = tempfile.mkdtemp(prefix="lc_test_")
    zip_path = os.path.join(tmp, "engine.zip")
    subprocess.run(["zip", "-qr", zip_path, "text_ocr_spark"], cwd=REPO, check=True)
    out = os.path.join(tmp, "out")
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local-cluster[2,1,1536]",
            "--py-files", zip_path,
            os.path.join(REPO, "jobs/extract_job.py"),
            "--input", transcripts_dir_tiny,
            "--out", out,
            "--run-id", "lc-test",
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rec = json.loads(
        [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert rec["rows"] == 500
    # byte-level differential vs the committed pure-Python golden
    con = duckdb.connect()
    diff = con.sql(
        f"""
        SELECT count(*) FROM (
          SELECT conv_id, turn_idx, kind, extracted, spans_json
          FROM read_parquet('{out}/extracted/*.parquet')
          EXCEPT
          SELECT conv_id, turn_idx, kind, extracted, spans_json
          FROM read_parquet('{GOLDEN}')
        )
        """
    ).fetchone()[0]
    n_out = con.sql(
        f"SELECT count(*) FROM read_parquet('{out}/extracted/*.parquet')"
    ).fetchone()[0]
    assert diff == 0 and n_out == 500
    # executors were real separate processes: two executor ids in lineage
    parts = con.sql(
        f"SELECT count(DISTINCT part_id) FROM read_parquet('{out}/extracted/*.parquet')"
    ).fetchone()[0]
    assert parts >= 2
