"""Seeded workload inputs. Nothing here is timed.

- ``extract_mixed``: transcripts in the ``input_hint`` shape built with
  the repo's fixture payload builders. Replica 0 is the sf0.01
  documents at their own doc_ids, i.e. exactly the table behind the
  committed ``fixturedata/golden_sf0.01.parquet``. Replicas 1..R are
  the sf0.1 documents at doc_id offsets the seed picks; each replica
  carries its own giant plain turn (local doc 7) and a vertical glyph
  dump in one of every four pdf slots (local doc_id % 40 == 3).
- ``extract_chat``: agent-chat transcripts: short turns (~190 B of
  words), html tool results on ~5% of turns, Zipf conversation lengths
  with one 20,000-turn conversation.
- ``pretrain_dag``: the sf0.01 documents, written as one file per core
  with rows in seeded order; the pipeline's output does not depend on
  the order.

Tables are written as parquet with declared types (``ts`` as UTC
microseconds, ``turn_idx`` int32) and rows in seeded order.
"""

from __future__ import annotations

import os
import random
from datetime import timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from text_ocr_spark import fixtures

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

MIXED_REPLICAS = 4
CHAT_TURNS = 100_000
CHAT_HOT_TURNS = 20_000
CHAT_HTML_SHARE = 0.05
#: words of the documents tables; chat turns draw from the same vocabulary
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def documents(sf: str) -> pd.DataFrame:
    """The committed copy of the ``documents`` table (doc_id, text)."""
    return pq.read_table(os.path.join(DATA, f"documents_{sf}.parquet")).to_pandas()


def _turn_row(doc_id: int, payload: str | None, tool: str | None) -> tuple:
    conv_id, turn_idx, conv_ord = fixtures.conv_of(doc_id)
    ts = fixtures.EPOCH + timedelta(hours=conv_ord, seconds=turn_idx)
    return (conv_id, turn_idx, fixtures.ROLES[turn_idx % 3], payload, tool, ts)


def _frame(rows: list[tuple]) -> pd.DataFrame:
    out = pd.DataFrame(rows, columns=TRANSCRIPT_SCHEMA.names)
    out["turn_idx"] = out["turn_idx"].astype("int32")
    return out


def mixed_transcripts(seed: int) -> pd.DataFrame:
    base = fixtures.make_transcripts_pdf(documents("sf0.01"))
    big = documents("sf0.1")
    # offsets are multiples of 10,000: doc_id % 10 (the payload kind) and
    # (doc_id - 100) % 8 (the turn index) stay those of the local doc
    offsets = sorted(random.Random(seed).sample(range(1, 100), MIXED_REPLICAS))
    rows = []
    for off in offsets:
        for local, text in zip(big["doc_id"], big["text"]):
            local = int(local)
            doc_id = off * 10_000 + local
            if local == fixtures.GIANT_DOC_ID:
                giant = " ".join([text] * fixtures.GIANT_REPEAT)
                payload, tool = fixtures.build_plain(doc_id, giant), None
            elif local % 40 == 3:
                payload, tool = fixtures.build_vertical(doc_id, text), "pdf_read"
            else:
                payload, tool = fixtures.build_payload(doc_id, text)
            rows.append(_turn_row(doc_id, payload, tool))
    return pd.concat([base, _frame(rows)], ignore_index=True)


def chat_transcripts(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    lengths = [CHAT_HOT_TURNS]
    while sum(lengths) < CHAT_TURNS:
        lengths.append(int(min(CHAT_HOT_TURNS, 2 * rng.zipf(2.0))))
    lengths[-1] -= sum(lengths) - CHAT_TURNS
    n_words = rng.integers(25, 46, size=CHAT_TURNS)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), size=int(n_words.sum()))]
    html = rng.random(CHAT_TURNS) < CHAT_HTML_SHARE
    rows = []
    i = w = 0
    for conv, length in enumerate(lengths):
        conv_id = f"chat-{conv:06d}"
        for turn_idx in range(length):
            text = " ".join(words[w : w + n_words[i]])
            w += n_words[i]
            role = fixtures.ROLES[turn_idx % 3]
            if html[i]:
                role, payload, tool = "tool", fixtures.build_html(i, text), "web_fetch"
            else:
                payload, tool = text, None
            ts = fixtures.EPOCH + timedelta(hours=conv, seconds=turn_idx)
            rows.append((conv_id, turn_idx, role, payload, tool, ts))
            i += 1
    return _frame(rows)


def write_table(df: pd.DataFrame, path: str, n_files: int, seed: int, schema=None) -> None:
    """Write ``df`` in seeded row order as ``n_files`` parquet files."""
    os.makedirs(path, exist_ok=True)
    df = df.iloc[np.random.default_rng(seed).permutation(len(df))]
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def write_transcripts(df: pd.DataFrame, path: str, n_files: int, seed: int) -> None:
    df = df.assign(ts=pd.to_datetime(df["ts"]).dt.tz_localize("UTC"))
    write_table(df, path, n_files, seed, TRANSCRIPT_SCHEMA)


def sample_conversations(
    df: pd.DataFrame, seed: int, n_convs: int, max_turns: int
) -> pd.DataFrame:
    """Whole conversations picked by the seed, up to ``max_turns`` turns."""
    sizes = df.groupby("conv_id").size()
    order = sizes.index[np.random.default_rng(seed).permutation(len(sizes))]
    picked: list[str] = []
    total = 0
    for conv in order:
        if len(picked) == n_convs:
            break
        if total + sizes[conv] <= max_turns:
            picked.append(conv)
            total += sizes[conv]
    return df[df["conv_id"].isin(picked)]
