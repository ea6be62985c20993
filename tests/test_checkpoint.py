"""Resume semantics (SURVEY.md §5.2 layer 5): kill after partial commit,
rerun, output identical to a single-shot run."""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import SF_TINY


def _collect(df):
    return sorted(
        (r.conv_id, r.turn_idx, r.kind, r.extracted, r.spans_json)
        for r in df.select(
            "conv_id", "turn_idx", "kind", "extracted", "spans_json"
        ).collect()
    )


def test_resume_after_partial_commit(spark, transcripts_dir_tiny, tmp_path):
    from text_ocr_spark.checkpoint import (
        committed_chunks,
        read_extracted,
        resumable_extract,
    )
    from text_ocr_spark.pipeline import extract_corpus

    single = _collect(extract_corpus(spark, SF_TINY, num_partitions=6))

    out = str(tmp_path / "run")
    with pytest.raises(RuntimeError, match="injected failure"):
        resumable_extract(
            spark, transcripts_dir_tiny, out, run_id="r1", n_chunks=4,
            num_partitions=6, fail_after=2,
        )
    assert len(committed_chunks(out)) == 2  # two chunks survived the kill

    stats = resumable_extract(
        spark, transcripts_dir_tiny, out, run_id="r1-resume", n_chunks=4,
        num_partitions=6,
    )
    assert stats["chunks_skipped"] == 2 and stats["chunks_run"] == 2
    assert _collect(read_extracted(spark, out)) == single
    assert stats["rows_out"] == len(single)

    # a completed run is a no-op on rerun
    stats2 = resumable_extract(
        spark, transcripts_dir_tiny, out, run_id="r1-noop", n_chunks=4,
        num_partitions=6,
    )
    assert stats2["chunks_run"] == 0 and stats2["chunks_skipped"] == 4


def test_resume_refuses_changed_input(spark, transcripts_dir_tiny, tmp_path):
    """The snapshot fingerprint covers every data file of the input
    table: touching one of them after a commit refuses the resume."""
    from text_ocr_spark.checkpoint import resumable_extract

    src = str(tmp_path / "src")
    shutil.copytree(transcripts_dir_tiny, src)
    out = str(tmp_path / "run2")
    resumable_extract(spark, src, out, run_id="r2", n_chunks=2, num_partitions=4)
    with pytest.raises(ValueError, match="another input snapshot"):
        resumable_extract(
            spark, src, out, run_id="r2b", n_chunks=2,
            num_partitions=4, snapshot_id="different-snapshot",
        )
    data = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    st = os.stat(os.path.join(src, data[-1]))
    os.utime(os.path.join(src, data[-1]), (st.st_atime, st.st_mtime + 10))
    with pytest.raises(ValueError, match="another input snapshot"):
        resumable_extract(
            spark, src, out, run_id="r2c", n_chunks=2, num_partitions=4
        )


def test_manifest_carries_lineage(spark, transcripts_dir_tiny, tmp_path):
    from text_ocr_spark.checkpoint import committed_chunks, resumable_extract
    from text_ocr_spark.kernels.constants import KINDS

    out = str(tmp_path / "run3")
    resumable_extract(
        spark, transcripts_dir_tiny, out, run_id="r3", n_chunks=2, num_partitions=4
    )
    recs = committed_chunks(out)
    assert set(recs) == {0, 1}
    total_kinds = sum(rec[f"n_{k}"] for rec in recs.values() for k in KINDS)
    assert total_kinds == sum(rec["rows_out"] for rec in recs.values()) == 500
    assert all(rec["bytes_in"] > 0 and rec["wall_ms"] >= 0 for rec in recs.values())


def test_chunks_are_conversation_aligned(spark, transcripts_dir_tiny, tmp_path):
    """A conversation never straddles chunks (exactly-once per turn)."""
    from pyspark.sql import functions as F

    from text_ocr_spark.checkpoint import read_extracted, resumable_extract

    out = str(tmp_path / "run4")
    resumable_extract(
        spark, transcripts_dir_tiny, out, run_id="r4", n_chunks=4, num_partitions=4
    )
    df = read_extracted(spark, out)
    n_multi = (
        df.groupBy("conv_id")
        .agg(F.countDistinct("chunk").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert n_multi == 0
    shutil.rmtree(out)
