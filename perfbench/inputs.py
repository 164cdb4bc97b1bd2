"""Seeded input tables for the benchmark workloads.

Every table is generated from the workload seed alone and written as one
single-row-group parquet file, with the schemas of the engine's sf0.1 test
tables (`events`, `documents`, `embeddings`) and the value distributions
measured on them (perfbench/README.md lists the statistics). The same seed
always gives byte-identical inputs, so counts measured on them repeat
exactly.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "error", "purchase", "signup")
WORDS = (
    "a the key agg row scan slow fast table value part hash line sort window "
    "merge batch spark data column join small customer query order stream "
    "group filter big vector"
).split()
DUP_MARK = "dup"  # appended to the copied text of a near-duplicate document
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
JAN_2024_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in micros


@dataclass(frozen=True)
class Sizes:
    """Row counts of one workload's inputs (the stated input size)."""

    events: int = 100_000
    event_seconds: int = 30 * 86_400
    vehicles: int = 1_500
    documents: int = 500
    embeddings: int = 500
    near_dup_share: float = 0.05


# 40 minutes of events: 12 micro-batches of the alert stream's 200 s buckets
TINY = Sizes(events=600, event_seconds=2_400, vehicles=20, documents=60, embeddings=60)


def events_table(rng: np.random.Generator, n: int, seconds: int, vehicles: int) -> pa.Table:
    """Fleet telemetry events, uniform over `seconds` seconds from
    2024-01-01 and over the vehicles and event types, in time order.
    `value` is exponential with mean 50 (median ≈ 34.7), so each of the
    three alert rules fires on a stable share of the rows."""
    span_us = seconds * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size=n)) + JAN_2024_US
    value = np.round(rng.exponential(50.0, size=n), 2)
    k = rng.integers(0, 100, size=n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, vehicles, size=n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n)),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
        }
    )


def documents_table(rng: np.random.Generator, n: int, near_dup_share: float) -> pa.Table:
    """Bag-of-words documents of 10 to 100 words; `near_dup_share` of them
    are another document's text with `DUP_MARK` appended, which is what the
    near-duplicate operators and their connected-components loop find."""
    texts = [
        " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), size=int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    dups = rng.choice(n, size=int(round(n * near_dup_share)), replace=False) if n > 1 else []
    originals = np.setdiff1d(np.arange(n), dups)
    for i in dups:
        texts[i] = f"{texts[int(rng.choice(originals))]} {DUP_MARK}"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Isotropic unit-norm float32 vectors with labels drawn independently
    of them."""
    vecs = rng.normal(size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, N_LABELS, size=n).astype(np.int32)),
        }
    )


def write_inputs(out_dir: str, seed: int, sizes: Sizes, tables: tuple[str, ...]) -> dict[str, int]:
    """Write the named tables under `out_dir` as `<name>.parquet`; returns
    name → row count. Each table draws from its own seeded stream, so the
    events of a seed do not depend on which other tables are written."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {
        "events": lambda r: events_table(r, sizes.events, sizes.event_seconds, sizes.vehicles),
        "documents": lambda r: documents_table(r, sizes.documents, sizes.near_dup_share),
        "embeddings": lambda r: embeddings_table(r, sizes.embeddings),
    }
    rows = {}
    for i, name in enumerate(sorted(makers)):
        if name not in tables:
            continue
        table = makers[name](np.random.default_rng([seed, i]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table))
        rows[name] = len(table)
    return rows
