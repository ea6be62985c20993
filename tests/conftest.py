from __future__ import annotations

import duckdb
import pandas as pd
import pytest

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from text_ocr_spark.pipeline import session_builder

    spark = (
        session_builder(master="local[4]", app="text_ocr_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def transcripts_dir_tiny(spark, tmp_path_factory) -> str:
    """build_transcripts(SF_TINY) written once as a parquet transcripts
    table (the input_hint shape the job and the resume path read)."""
    from text_ocr_spark.pipeline import build_transcripts

    path = str(tmp_path_factory.mktemp("transcripts") / "sf0.001")
    build_transcripts(spark, SF_TINY).write.parquet(path)
    return path


@pytest.fixture(scope="session")
def docs_tiny() -> pd.DataFrame:
    return duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_TINY}/documents.parquet')"
        " ORDER BY doc_id"
    ).df()


@pytest.fixture(scope="session")
def transcripts_tiny(docs_tiny) -> pd.DataFrame:
    from text_ocr_spark.fixtures import make_transcripts_pdf

    return make_transcripts_pdf(docs_tiny)


@pytest.fixture(scope="session")
def golden_tiny(transcripts_tiny) -> pd.DataFrame:
    from text_ocr_spark.oracle import golden_frame

    return golden_frame(transcripts_tiny)


# Hypothesis must not draw novel examples in the driver's gate run: a
# fresh failing example found there would flake the round. Profile keeps
# per-test @settings overrides for examples/deadline.
from hypothesis import settings as _hyp_settings

_hyp_settings.register_profile("ci", derandomize=True)
_hyp_settings.load_profile("ci")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: spins a local-cluster mini-cluster (~1 min)"
    )
