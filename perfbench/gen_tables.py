"""Seeded stand-ins for the ``events``, ``documents`` and ``embeddings``
parquet tables the registry queries read.

The shapes follow FIXTURES.md §A and the committed scale factors:

- ``events``: ids in time order over 2024-01-01 .. 2024-01-30,
  ``n // 66`` users drawn uniformly, five event types, exponential
  ``value`` (mean 50, two decimals), ``props`` JSON ``{"k": 0..99}``.
- ``documents``: 10-100 words from a 30-word vocabulary, round-robin
  ``src0..src19`` sources, 41% ``en``; 5% are near duplicates (an
  earlier text plus the token ``dup``) and 0.3% exact duplicates, so
  every dedup tier has work.
- ``embeddings``: 64-dim unit vectors, labels 0..9.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_WEIGHTS = (41, 15, 15, 14, 15)
EMB_DIM = 64
DAYS = 30


def events_table(n: int, rng: random.Random) -> pa.Table:
    start = datetime.datetime(2024, 1, 1)
    span_us = DAYS * 86_400_000_000
    offsets = sorted(rng.randrange(span_us) for _ in range(n))
    users = max(1, n // 66)
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [start + datetime.timedelta(microseconds=o) for o in offsets],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([rng.randrange(users) for _ in range(n)], pa.int64()),
            "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(n)]),
            "value": pa.array(
                [round(rng.expovariate(1 / 50), 2) for _ in range(n)], pa.float64()
            ),
            "props": pa.array([json.dumps({"k": rng.randrange(100)}) for _ in range(n)]),
        }
    )


def documents_table(n: int, rng: random.Random) -> pa.Table:
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        for _ in range(n)
    ]
    ids = list(range(n))
    rng.shuffle(ids)
    n_near = n // 20
    n_exact = max(1, n * 3 // 1000)
    for i in ids[:n_near]:
        texts[i] = texts[rng.randrange(n)] + " dup"
    for a, b in zip(ids[n_near : n_near + n_exact], ids[n_near + n_exact :]):
        texts[a] = texts[b]
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choices(LANGS, LANG_WEIGHTS, k=n)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(n: int, rng: random.Random) -> pa.Table:
    vecs = []
    for _ in range(n):
        v = [rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([rng.randrange(10) for _ in range(n)], pa.int32()),
        }
    )


def write_tables(
    out_dir: str, seed: int, events: int = 0, docs: int = 0, vectors: int = 0
) -> dict[str, int]:
    """Write the requested tables as ``<out_dir>/<name>.parquet``;
    returns the row count of each table written. Each table has its
    own stream, so one table's size never changes another's rows."""
    os.makedirs(out_dir, exist_ok=True)
    made = {}
    for name, n, build in (
        ("events", events, events_table),
        ("documents", docs, documents_table),
        ("embeddings", vectors, embeddings_table),
    ):
        if n > 0:
            table = build(n, random.Random(f"{seed}:{name}"))
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
            made[name] = n
    return made
