"""Seeded input generators for the benchmark workloads.

Every input the engine sees is made here from a seed: the same seed and
parameters give the same parquet bytes. A generated directory holds all
ten fixture tables the engine's loaders and ``oracle.duck_connection``
know, so the DuckDB oracle can open every view; the tables a workload
does not exercise are written empty, with the fixture schemas.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: fixture schemas of the tables no workload regenerates (FIXTURES.md).
STAND_IN_SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
}

EMBEDDINGS_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
)
DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

LANGS = ["de", "en", "es", "fr", "zh"]
SOURCES = ["web", "books", "code", "wiki"]

#: spread of the cluster centres relative to the unit within-cluster
#: noise: classes overlap, so the vote is neither trivial nor random.
CENTRE_SCALE = 0.5


def embeddings(n: int, dim: int, n_labels: int, seed: int) -> pa.Table:
    """``n`` float32 vectors drawn as one Gaussian cluster per label."""
    rng = np.random.default_rng([seed, 1])
    centres = rng.normal(0.0, CENTRE_SCALE, size=(n_labels, dim))
    labels = rng.integers(0, n_labels, size=n)
    vecs = (centres[labels] + rng.normal(0.0, 1.0, size=(n, dim))).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.Table.from_arrays(
        [
            pa.array(np.arange(n, dtype=np.int64)),
            pa.ListArray.from_arrays(offsets, flat),
            pa.array(labels.astype(np.int32)),
        ],
        schema=EMBEDDINGS_SCHEMA,
    )


#: the vocabulary is fixed across seeds: which word shingles are common,
#: and so which MinHash buckets fill up, then depends on the word ranks
#: and not on each seed's spelling of them.
VOCAB_SEED = 0


def _vocabulary(size: int) -> list[str]:
    """``size`` distinct lowercase words of 3-8 letters."""
    rng = np.random.default_rng(VOCAB_SEED)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < size:
        n = int(rng.integers(3, 9))
        words.setdefault("".join(rng.choice(letters, size=n)), None)
    return list(words)


def _edit(tokens: list[int], n_edits: int, vocab: int, rng: np.random.Generator) -> list[int]:
    """Apply ``n_edits`` random single-token substitutions, insertions or deletions."""
    out = list(tokens)
    for _ in range(n_edits):
        op = int(rng.integers(0, 3))
        pos = int(rng.integers(0, len(out)))
        if op == 0:
            out[pos] = int(rng.integers(0, vocab))
        elif op == 1:
            out.insert(pos, int(rng.integers(0, vocab)))
        else:
            del out[pos]
    return out


#: tokens per original document, and the Zipf exponent of word ranks.
MIN_TOKENS, MAX_TOKENS, ZIPF_S = 30, 90, 1.1


def documents(n: int, vocab: int, dup_frac: float, seed: int) -> pa.Table:
    """``n`` documents of Zipf-distributed tokens; a ``dup_frac`` share of
    them are near-duplicates, each 1-3 token edits of an earlier document."""
    rng = np.random.default_rng([seed, 2])
    words = _vocabulary(vocab)
    p = 1.0 / np.arange(1, vocab + 1) ** ZIPF_S
    p /= p.sum()
    dups = set(rng.choice(np.arange(1, n), size=round(dup_frac * n), replace=False).tolist())
    toks: list[list[int]] = []
    langs = rng.choice(LANGS, size=n).tolist()
    sources = rng.choice(SOURCES, size=n).tolist()
    for i in range(n):
        if i in dups:
            src = int(rng.integers(0, i))
            toks.append(_edit(toks[src], int(rng.integers(1, 4)), vocab, rng))
            langs[i], sources[i] = langs[src], sources[src]
        else:
            length = int(rng.integers(MIN_TOKENS, MAX_TOKENS + 1))
            toks.append(rng.choice(vocab, size=length, p=p).tolist())
    texts = [" ".join(words[t] for t in ts) for ts in toks]
    return pa.Table.from_arrays(
        [
            pa.array(np.arange(n, dtype=np.int64)),
            pa.array(texts, type=pa.string()),
            pa.array(langs, type=pa.string()),
            pa.array(sources, type=pa.string()),
            pa.array([len(t) for t in texts], type=pa.int64()),
        ],
        schema=DOCUMENTS_SCHEMA,
    )


def write_dir(path: str, tables: dict[str, pa.Table]) -> str:
    """Write ``tables`` plus empty stand-ins for every other fixture table
    as ``<path>/<name>.parquet``; returns ``path``."""
    os.makedirs(path, exist_ok=True)
    full = {name: schema.empty_table() for name, schema in STAND_IN_SCHEMAS.items()}
    full["embeddings"] = EMBEDDINGS_SCHEMA.empty_table()
    full["documents"] = DOCUMENTS_SCHEMA.empty_table()
    full.update(tables)
    for name, table in full.items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
    return path
