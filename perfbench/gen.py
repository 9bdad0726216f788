"""Seeded input generator for the benchmark workloads.

Writes the engine's input table schemas (``events``, ``documents``,
``embeddings``) as parquet under one directory. The same seed and sizes
always give byte-identical tables; the engine sees nothing but these files.

- ``events``: ragged time series shaped like FIXTURES F1. One series per
  ``user_id`` (dense ids from 0), lengths spread evenly over a range set
  per workload, points spread over the 30 days of January like the
  registry's test data (``t`` is the rank of ``ts`` in the series), values
  are sine / step / trend mixtures plus noise. Rows are shuffled so no query can rely on file
  order. There are no NULL values: on NULL inputs the engine and the ORACLE
  SQL of p5_preprocess_table, pipeline_e2e_det, c3b_kshape_md5 and
  ts_sbd_pairs disagree.
- ``documents``: heavy-tailed lengths (Pareto word counts) over a Zipf
  vocabulary, with planted exact duplicates and near duplicates (a few
  words replaced).
- ``embeddings``: unit-norm 64-d float vectors around planted cluster
  centres; ``label`` is the planted cluster.
"""

from __future__ import annotations

from datetime import datetime, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
EMBED_DIM = 64
_T0_US = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
_SYLLABLES = "ka ri to mu se lo na pe vi da go ru ze mi ta bo".split()


def _events(rng: np.random.Generator, spec: tuple[int, int, int]) -> pa.Table:
    n_series, min_len, max_len = spec
    # the same multiset of lengths for every seed, so every seed gives the
    # same row count; two series share the max length (DTW identity branch)
    lengths = np.linspace(min_len, max_len, n_series).round().astype(int)
    lengths[-2:] = max_len
    lengths = rng.permutation(lengths)
    n = int(lengths.sum())
    per = lambda a: np.repeat(a, lengths)  # noqa: E731
    uid = per(np.arange(n_series, dtype=np.int64))
    t = np.concatenate([np.arange(k) for k in lengths]).astype(np.float64)
    amp, period = per(rng.uniform(5, 40, n_series)), per(rng.uniform(10, 60, n_series))
    step_at, step_h = per(rng.uniform(0.2, 0.8, n_series)), per(rng.uniform(-20, 20, n_series))
    slope = per(rng.uniform(-0.15, 0.15, n_series))
    value = (
        100.0
        + amp * np.sin(2 * np.pi * t / period)
        + np.where(t / per(lengths) >= step_at, step_h, 0.0)
        + slope * t
        + rng.normal(0, 3, n)
    ).round(2)
    # each series spreads over the 30 days of January, like the test data;
    # sorting the draws per series makes ``t`` follow ``ts``
    ts = _T0_US + rng.integers(0, 30 * 86_400_000_000, n)
    ts = ts[np.lexsort((ts, uid))]
    order = rng.permutation(n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts[order], pa.timestamp("us")),
        "user_id": pa.array(uid[order]),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(value[order]),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    words = set()
    while len(words) < size:
        k = int(rng.integers(1, 4))
        words.add("".join(rng.choice(_SYLLABLES, k)))
    return np.array(sorted(words))


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    # one vocabulary for every seed: a per-seed vocabulary changed word
    # lengths and shingle collisions, and with them the work per seed
    vocab = _vocabulary(np.random.default_rng(0), 400)
    zipf = 1.0 / np.arange(1, vocab.size + 1)
    zipf /= zipf.sum()
    # Pareto (Lomax) word counts taken at fixed quantiles, so every seed has
    # the same length distribution and only the order differs
    u = (np.arange(n_docs) + 0.5) / n_docs
    n_words = rng.permutation(np.minimum(8 + ((1 - u) ** (-1 / 1.6) - 1) * 25, 600).astype(int))
    words = rng.choice(vocab, int(n_words.sum()), p=zipf)
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends, n_words)]
    # plant exact duplicates (5%) and near duplicates (10%) of earlier docs
    kind = np.zeros(n_docs, int)
    picked = rng.permutation(np.arange(1, n_docs))[: int(0.15 * n_docs)]
    kind[picked[: int(0.05 * n_docs)]], kind[picked[int(0.05 * n_docs):]] = 1, 2
    for i in np.flatnonzero(kind):
        src = texts[int(rng.integers(0, i))]
        if kind[i] == 1:
            texts[i] = src
        else:
            toks = src.split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = vocab[int(rng.integers(0, vocab.size))]
            texts[i] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(np.arange(1, n_docs + 1, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n_vecs: int, n_clusters: int = 10) -> pa.Table:
    centres = rng.normal(0, 1, (n_clusters, EMBED_DIM))
    label = rng.integers(0, n_clusters, n_vecs).astype(np.int32)
    x = centres[label] + rng.normal(0, 0.6, (n_vecs, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def generate(out_dir: str | Path, seed: int, sizes: dict) -> dict[str, int]:
    """Write each table named in ``sizes`` as ``<name>.parquet`` under
    ``out_dir`` and return the row count written per table. ``events`` takes
    ``(series, min_len, max_len)``; ``documents`` and
    ``embeddings`` take a row count."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    makers = {"events": _events, "documents": _documents, "embeddings": _embeddings}
    rows = {}
    for i, (name, size) in enumerate(sorted(sizes.items())):
        table = makers[name](np.random.default_rng([seed, i]), size)
        pq.write_table(table, out / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows
