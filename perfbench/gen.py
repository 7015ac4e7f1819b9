"""Seeded input tables for the benchmark, written with numpy + pyarrow only.

The tables have the schema of the package's fixture directory
(``events``, ``documents``, ``embeddings``): the program under test only
ever reads these generated files. Everything is derived from the seed,
so the same seed always yields byte-identical inputs.

- ``events``: a seeded subset of machine ids (``user_id``), five tags
  (``event_type``), readings in ``value``; timestamps are uniform over
  2024-01-01 to 2024-01-30, stored as parquet TIMESTAMP(MICROS) without a
  zone, as in the fixture (the streaming CUSUM baseline splits at
  2024-01-16).
- ``documents``: texts over the fixture's 30-word vocabulary, plus
  seeded near-duplicates (a copy of an earlier document with a few
  words swapped) at a seeded rate.
- ``embeddings``: unit-norm 64-d float vectors around ten label
  centroids, with near-duplicate vectors injected at the same rate.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TAGS = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
MONTH_START = datetime(2024, 1, 1)
MONTH_US = 30 * 86_400 * 1_000_000  # the fixture covers Jan 1-30
FLEET = 1500  # machine-id space the subsets are drawn from
EMBED_DIM = 64


def events_table(rng: np.random.Generator, n_machines: int, per_machine: int) -> pa.Table:
    """Events for ``n_machines`` machines, ~``per_machine`` readings each,
    uniformly spread over 2024-01-01 to 2024-01-30 and sorted by time."""
    machines = np.sort(rng.choice(FLEET, size=n_machines, replace=False))
    counts = rng.poisson(per_machine, size=n_machines).clip(min=per_machine // 2)
    user_id = np.repeat(machines, counts).astype(np.int64)
    n = len(user_id)
    start_us = int((MONTH_START - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts_us = start_us + rng.integers(0, MONTH_US, size=n)
    tag = rng.integers(0, len(TAGS), size=n)
    # per-tag level shifts so tags are distinguishable; exponential tail
    # like the fixture's readings, two decimals
    value = np.round(rng.exponential(50.0, size=n) + tag * 3.0, 2)
    k = rng.integers(0, 100, size=n)
    order = np.argsort(ts_us, kind="stable")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us[order], type=pa.timestamp("us")),
            "user_id": pa.array(user_id[order]),
            "event_type": pa.array(np.asarray(TAGS, dtype=object)[tag[order]]),
            "value": pa.array(value[order]),
            "props": pa.array([f'{{"k": {int(v)}}}' for v in k[order]]),
        }
    )


def documents_table(rng: np.random.Generator, n_docs: int, dup_rate: float) -> tuple[pa.Table, int]:
    """Documents plus injected near-duplicates; returns (table, n_injected)."""
    texts: list[str] = []
    n_dup = 0
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_rate:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), size=max(1, len(words) // 20), replace=False):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            n_dup += 1
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return (
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array([LANGS[int(j)] for j in rng.integers(0, len(LANGS), size=n_docs)]),
                "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
                "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
            }
        ),
        n_dup,
    )


def embeddings_table(rng: np.random.Generator, n_vecs: int, dup_rate: float) -> pa.Table:
    centroids = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, size=n_vecs).astype(np.int32)
    vecs = centroids[label] + rng.normal(scale=2.0, size=(n_vecs, EMBED_DIM))
    for i in np.nonzero(rng.random(n_vecs) < dup_rate)[0]:
        if i > 0:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(scale=0.01, size=EMBED_DIM)
            label[i] = label[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n_vecs * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)), flat
            ),
            "label": pa.array(label),
        }
    )


def make_inputs(
    out: str,
    seed: int,
    *,
    n_machines: int,
    per_machine: int,
    n_docs: int = 0,
    n_vecs: int = 0,
    dup_rate: float = 0.0,
) -> dict:
    """Write the seeded tables into ``out`` and return their sizes."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    events = events_table(rng, n_machines, per_machine)
    facts = {"events": events.num_rows, "machines": n_machines, "docs": n_docs, "near_dups": 0}
    pq.write_table(events, os.path.join(out, "events.parquet"))
    if n_docs:
        docs, facts["near_dups"] = documents_table(rng, n_docs, dup_rate)
        pq.write_table(docs, os.path.join(out, "documents.parquet"))
    if n_vecs:
        pq.write_table(embeddings_table(rng, n_vecs, dup_rate), os.path.join(out, "embeddings.parquet"))
    return facts
