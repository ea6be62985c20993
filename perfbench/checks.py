"""Correctness gates. Each returns a list of failures; empty means pass."""

from __future__ import annotations

import glob
import os
import re

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

KEY = ["conv_id", "turn_idx"]
GOLDEN_COLS = ["kind", "extracted", "spans_json"]
PASSTHROUGH_COLS = ["role", "tool", "ts"]
PRETRAIN_COLS = ["doc_id", "conv_id", "turn_idx", "n_tokens", "shard_id"]
LINEAGE_KINDS = ("html", "pdf", "ocr", "plain", "empty")


def read_parts(path: str) -> pd.DataFrame:
    """A Spark parquet output directory, files in partition order."""
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    if not files:
        return pd.DataFrame()
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def output_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(path, "part-*.parquet"))
    )


def committed_bytes(*paths: str) -> int:
    return sum(
        os.path.getsize(f) for p in paths for f in glob.glob(os.path.join(p, "part-*"))
    )


def key_mismatch(expected: pd.DataFrame, got: pd.DataFrame) -> tuple[int, int]:
    """-> (missing, extra) turns of ``got`` against ``expected``'s keys;
    a duplicated output row counts as extra."""
    if got.empty:
        return len(expected), 0
    inner = expected[KEY].merge(got[KEY].drop_duplicates(), on=KEY)
    return len(expected) - len(inner), len(got) - len(inner)


def _utf8_len(values: pd.Series) -> int:
    return int(sum(len(v.encode("utf-8")) for v in values if isinstance(v, str)))


def _compare(label: str, want: pd.DataFrame, got: pd.DataFrame, cols: list[str]) -> list[str]:
    joined = want[KEY + cols].merge(got[KEY + cols], on=KEY, how="left", suffixes=("", "_out"))
    errors = []
    for c in cols:
        a, b = joined[c], joined[f"{c}_out"]
        same = (a == b) | (a.isna() & b.isna())
        if not same.all():
            bad = joined.loc[~same, KEY].head(3).values.tolist()
            errors.append(f"{label}: {int((~same).sum())} turns differ in {c}, e.g. {bad}")
    return errors


def check_extract(
    out: pd.DataFrame,
    lineage: pd.DataFrame,
    transcripts: pd.DataFrame,
    sample_golden: pd.DataFrame,
    committed_golden: pd.DataFrame,
) -> list[str]:
    """The extraction gates: one row per turn, (conv_id, turn_idx) order,
    lineage totals, a sampled per-turn oracle and the committed golden."""
    errors = []
    missing, extra = key_mismatch(transcripts, out)
    if missing or extra:
        errors.append(f"rows: {missing} turns missing, {extra} extra")
    if out.empty:
        return errors or ["no output"]
    conv = out["conv_id"].to_numpy(dtype=object)
    turn = out["turn_idx"].to_numpy()
    ordered = (conv[1:] > conv[:-1]) | ((conv[1:] == conv[:-1]) & (turn[1:] > turn[:-1]))
    if not ordered.all():
        errors.append(f"order: {int((~ordered).sum())} adjacent rows out of (conv_id, turn_idx) order")
    totals = {
        "rows_out": (int(lineage["rows_out"].sum()), len(transcripts)),
        "bytes_in": (int(lineage["bytes_in"].sum()), _utf8_len(transcripts["text"])),
        "bytes_out": (int(lineage["bytes_out"].sum()), _utf8_len(out["extracted"])),
    }
    kinds = out["kind"].value_counts()
    for k in LINEAGE_KINDS:
        totals[f"n_{k}"] = (int(lineage[f"n_{k}"].sum()), int(kinds.get(k, 0)))
    for name, (got, want) in totals.items():
        if got != want:
            errors.append(f"lineage: {name} is {got}, expected {want}")
    errors += _compare("oracle sample", sample_golden, out, GOLDEN_COLS)
    sampled = transcripts.merge(sample_golden[KEY], on=KEY)
    errors += _compare(
        "passthrough",
        sampled.assign(ts=ts_us(sampled["ts"])),
        out[KEY + PASSTHROUGH_COLS].assign(ts=ts_us(out["ts"])),
        PASSTHROUGH_COLS,
    )
    present = committed_golden.merge(transcripts[KEY], on=KEY)
    errors += _compare("committed golden", present, out, GOLDEN_COLS)
    return errors


def check_rows(got: list[tuple], expected: list[tuple]) -> list[str]:
    """Exact row-list equality, both sides already in one order."""
    if got == expected:
        return []
    n_same = sum(a == b for a, b in zip(got, expected))
    return [f"rows: {len(got)} rows, expected {len(expected)}; {n_same} equal in place"]


def ts_us(values: pd.Series) -> np.ndarray:
    """Timestamps as UTC epoch microseconds, naive or tz-aware input."""
    s = pd.to_datetime(values)
    if s.dt.tz is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]").astype("int64").to_numpy()


def pretrain_oracle(docs: pd.DataFrame, golden_path: str) -> list[tuple]:
    """The contract's DuckDB ``pretrain_pipeline`` oracle
    (``__spark_entry__.oracle_sql``) over ``docs`` and the committed
    pure-Python extraction golden at ``golden_path`` -> rows sorted by
    doc_id.

    Every non-recursive CTE is marked MATERIALIZED so it is computed
    once; DuckDB 1.0 otherwise re-evaluates a CTE at each reference,
    which takes this query from under a second to many minutes. The
    rows do not change."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["pretrain_pipeline"].replace(entry.GOLDEN_SF001, golden_path)
    sql = re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)
    con = duckdb.connect()
    try:
        con.register("docs_df", docs[["doc_id", "text"]])
        con.execute("CREATE TABLE documents AS SELECT * FROM docs_df")
        result = con.sql(sql).df()
    finally:
        con.close()
    return sorted(
        (int(r.doc_id), r.conv_id, int(r.turn_idx), int(r.n_tokens), int(r.shard_id))
        for r in result[PRETRAIN_COLS].itertuples(index=False)
    )
