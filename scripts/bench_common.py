"""Shared spark-submit bench plumbing for the two scaling-evidence
scripts (bench_scaling.py: local[N] thread ladder; bench_executors.py:
local-cluster[N,c,m] real executors). One copy of the input table
write, zip rebuild, submit recipe, and JSON-line scrape — the two
scripts diverged once already (a stale-zip bug fixed twice)."""

from __future__ import annotations

import json
import os
import subprocess
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIP_PATH = "/tmp/engine_bench.zip"
TRANSCRIPTS_PATH = "/tmp/bench_transcripts"


def git_rev() -> str:
    try:
        return (
            subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"],
                cwd=REPO,
                capture_output=True,
                text=True,
                check=True,
            ).stdout.strip()
        )
    except Exception:
        return "unknown"


def rebuild_zip() -> str:
    """ALWAYS rebuild: a stale zip from an earlier code state makes the
    job crash (or worse, silently bench old code)."""
    if os.path.exists(ZIP_PATH):
        os.remove(ZIP_PATH)
    subprocess.run(
        ["zip", "-qr", ZIP_PATH, "text_ocr_spark"], cwd=REPO, check=True
    )
    return ZIP_PATH


def write_transcripts(sf_dir: str, repeat: int) -> str:
    """Write build_transcripts(sf_dir, repeat) as the parquet table every
    submitted job reads. Runs once per bench invocation, outside any
    timed window; rewritten each time so it never lags the code."""
    from text_ocr_spark.pipeline import build_transcripts, session_builder

    spark = session_builder(app="bench_transcripts").getOrCreate()
    try:
        build_transcripts(spark, sf_dir, repeat=repeat).write.mode(
            "overwrite"
        ).parquet(TRANSCRIPTS_PATH)
    finally:
        spark.stop()
    return TRANSCRIPTS_PATH


def submit_extract_job(
    master: str,
    partitions: int,
    input_path: str,
    out: str,
    run_id: str,
    driver_memory: str = "8g",
) -> dict:
    """Run jobs/extract_job.py via spark-submit --py-files; returns the
    parsed JSON record plus wall_total/git_rev."""
    zip_path = rebuild_zip()
    cmd = [
        "spark-submit",
        "--master", master,
        "--driver-memory", driver_memory,
        "--conf", f"spark.sql.shuffle.partitions={partitions}",
        "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=8192",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs/extract_job.py"),
        "--input", input_path,
        "--out", out,
        "--run-id", run_id,
        "--partitions", str(partitions),
    ]
    t0 = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, check=True)
    wall = time.time() - t0
    json_lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if not json_lines:
        # a zero-exit job without a JSON record (or one that printed to
        # stderr) must surface its output, not a bare IndexError
        raise RuntimeError(
            "extract job printed no JSON record;"
            f" stdout tail: {proc.stdout[-500:]!r}"
            f" stderr tail: {proc.stderr[-500:]!r}"
        )
    rec = json.loads(json_lines[-1])
    rec["wall_total"] = round(wall, 2)
    rec["git_rev"] = git_rev()
    return rec
