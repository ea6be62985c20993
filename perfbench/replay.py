"""Kernel replay: ``kernels.extract_payload`` over a workload's own
turns, in this process, with no Spark. Payloads are built before the
timed loop; only the extraction call is timed."""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np
import pandas as pd

from text_ocr_spark.kernels.extract import extract_payload

KINDS = ("html", "pdf", "ocr", "plain", "vertical", "empty")
#: uniform sample size; the largest payloads are timed as well for the tail
SAMPLE_TURNS = 2000
LARGEST_TURNS = 4


def _time_turns(texts: list, tools: list) -> tuple[list[str], list[float]]:
    kinds, secs = [], []
    for text, tool in zip(texts, tools):
        t0 = time.perf_counter()
        kind, _, _ = extract_payload(text, tool)
        secs.append(time.perf_counter() - t0)
        kinds.append(kind)
    return kinds, secs


def kernel_metrics(transcripts: pd.DataFrame, seed: int) -> dict[str, float]:
    rng = np.random.default_rng(seed)
    n = len(transcripts)
    pick = rng.choice(n, size=min(n, SAMPLE_TURNS), replace=False)
    texts = [None if pd.isna(t) else t for t in transcripts["text"].iloc[pick]]
    tools = [None if pd.isna(t) else t for t in transcripts["tool"].iloc[pick]]
    kinds, secs = _time_turns(texts, tools)
    sizes = transcripts["text"].fillna("").str.len()
    largest = sizes.nlargest(LARGEST_TURNS).index
    _, tail = _time_turns(
        transcripts.loc[largest, "text"].tolist(), transcripts.loc[largest, "tool"].tolist()
    )
    by_kind: dict[str, list[float]] = defaultdict(list)
    for kind, s in zip(kinds, secs):
        by_kind[kind].append(s)
    n_bytes = sum(len(t.encode("utf-8")) for t in texts if t)
    m = {
        "kernels.us_per_turn": 1e6 * sum(secs) / len(secs),
        "kernels.mb_per_s": n_bytes / 1e6 / sum(secs),
        "kernels.turn_ms_max": 1e3 * max(secs + tail),
    }
    for kind in KINDS:
        s = by_kind.get(kind, ())
        m[f"kernels.us_per_turn.{kind}"] = 1e6 * sum(s) / len(s) if s else 0.0
    return m
