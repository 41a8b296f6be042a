"""Seeded benchmark inputs.

Made here from the ``--seed`` argument: the doc ids that ``synth_docs``
turns into code documents, and the three sf0.1-shaped tables the analytics
representatives read (``documents``, ``embeddings``, ``lineitem``). The
same seed gives byte-identical inputs. The flow queries' sinks are drawn
from the same seed in ``workloads.py``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 table sizes of the synthetic star schema (TESTDATA.md)
N_TEXT_DOCS = 5_000
N_VECTORS = 2_000
N_LINEITEMS = 600_000
EMB_DIM = 64
N_LABELS = 10

# the 30-word vocabulary of the sf0.1 documents table; "dup" marks the
# near-duplicate copies the dedup representatives exist to find
_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def doc_ids(seed: int, n: int) -> list[str]:
    """``n`` distinct doc ids derived from ``seed``. ``synth_docs`` hashes
    each id into its program (language slice, helper name, constants), so a
    different seed gives a different corpus with the same language mix."""
    return [f"bench-s{seed}/{i:06d}" for i in range(n)]


def write_analytics_tables(seed: int, out_dir: str) -> str:
    """Write ``documents``, ``embeddings`` and ``lineitem`` parquet tables
    shaped like the sf0.1 test tables into ``out_dir``; returns it (the
    ``sf_dir`` argument of the analytics representatives)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    texts = []
    for _ in range(N_TEXT_DOCS):
        words = rng.choice(_VOCAB, size=int(rng.integers(10, 101)))
        texts.append(" ".join(words))
    # ~5% near-duplicates: a copy of an earlier doc with one word marked
    for i in rng.choice(np.arange(1, N_TEXT_DOCS), size=N_TEXT_DOCS // 20,
                        replace=False):
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    docs = pa.table({
        "doc_id": pa.array(np.arange(N_TEXT_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, size=N_TEXT_DOCS, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(N_TEXT_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    # clustered vectors: a centroid per label plus noise, so top-k
    # neighbours are meaningful and LSH bands collide within clusters
    labels = rng.integers(0, N_LABELS, size=N_VECTORS)
    centroids = rng.normal(0.0, 1.0, size=(N_LABELS, EMB_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 0.6, size=(N_VECTORS, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECTORS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int64()),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))

    n = N_LINEITEMS
    ship = (np.datetime64("1992-01-01")
            + rng.integers(0, 365 * 10, size=n).astype("timedelta64[D]"))
    li = pa.table({
        "l_orderkey": pa.array(rng.integers(1, 150_000, size=n), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20_000, size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1_000, size=n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n), pa.int32()),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, size=n), 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], size=n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], size=n).tolist(),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"),
                               pa.timestamp("us")),
    })
    pq.write_table(li, os.path.join(out_dir, "lineitem.parquet"))
    return out_dir
