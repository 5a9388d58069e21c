"""Seeded inputs: the LLM-curation tables and the Kafka event stream.

Every input is a pure function of the seed, so the same seed replays
the same documents, vectors and event sequence. The program under test
sees only the generated files and topic messages.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The fixture-style corpus: lowercase words from a small vocabulary, so
# documents share most of their shingles (dedup and similarity kernels
# get real candidate pairs), plus planted near-duplicates that copy an
# earlier document and append a marker word.
VOCAB = (
    "the a data row column table key value join filter group sort merge "
    "scan hash order part line customer query batch stream window agg "
    "vector spark fast slow big small"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
DUP_SHARE = 0.05
EMBED_DIM = 64


def make_documents(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), size=int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def make_embeddings(seed: int, n: int) -> pa.Table:
    """Unit vectors around ten label centroids (the ground-truth
    clusters the similarity queries recover)."""
    rng = np.random.default_rng([seed, 2])
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    centers = rng.normal(size=(10, EMBED_DIM))
    x = centers[labels] * 0.3 + rng.normal(size=(n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def write_llm_tables(sf_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write ``documents`` and ``embeddings`` as the single-file parquet
    layout ``catalog.load_table`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(make_documents(seed, n_docs), f"{sf_dir}/documents.parquet")
    pq.write_table(make_embeddings(seed, n_vecs), f"{sf_dir}/embeddings.parquet")


class EventSource:
    """Seeded click-stream: ``user_id`` Zipf(``skew``) over ``n_users``
    ids, amounts in quarter units (their sums are exact in float64, so
    the lake's sums compare bit-exact to the tally).

    ``take`` hands out events in sequence and keeps the tally the
    benchmark checks the lake against: per user (count, amount sum, max
    created_ms)."""

    ETYPES = ("view", "click", "cart", "purchase")

    def __init__(self, seed: int, n_users: int = 1_000_000, skew: float = 1.1):
        self._rng = np.random.default_rng([seed, 3])
        cdf = np.cumsum(1.0 / np.arange(1, n_users + 1) ** skew)
        self._cdf = cdf / cdf[-1]
        self._ids = self._rng.permutation(n_users).astype(np.int64)
        self.next_id = 0
        self.tally: dict[int, list] = {}

    def take(self, created_ms) -> list[tuple[int, bytes, bytes]]:
        """One event per entry of ``created_ms``; returns
        ``(user_id, key, value)`` with the JSON value the stream parses."""
        n = len(created_ms)
        users = self._ids[np.searchsorted(self._cdf, self._rng.random(n))].tolist()
        amounts = (self._rng.integers(1, 1000, size=n) / 4.0).tolist()
        etypes = self._rng.integers(0, len(self.ETYPES), size=n).tolist()
        out = []
        tally = self.tally
        for i in range(n):
            u, a, c = users[i], amounts[i], int(created_ms[i])
            eid = self.next_id + i
            value = (
                f'{{"event_id":{eid},"user_id":{u},"etype":"{self.ETYPES[etypes[i]]}",'
                f'"amount":{a!r},"created_ms":{c}}}'
            )
            out.append((u, str(u).encode(), value.encode()))
            t = tally.get(u)
            if t is None:
                tally[u] = [1, a, c]
            else:
                t[0] += 1
                t[1] += a
                t[2] = max(t[2], c)
        self.next_id += n
        return out
