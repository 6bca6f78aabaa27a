"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed
writes the same bytes. The program under test only ever sees the
files written here.

- ``rung_corpus``: a documents + embeddings corpus with engineered
  exact and near duplicates, for the dedup/ANN operator rung.
- ``dbt_project``: a seed, per-chain staging/table/incremental/mart
  models, snapshots and generic tests.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "fr", "es", "zh"]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _texts(rng: np.random.Generator, n: int, vocab: list[str],
           lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, size=n)
    picks = rng.integers(0, len(vocab), size=int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(vocab[i] for i in picks[pos:pos + k]))
        pos += k
    return out


def _documents(rng: np.random.Generator, n: int, vocab: list[str],
               lo: int, hi: int) -> pa.Table:
    """``n`` docs; every 50th doc is an exact duplicate of its
    predecessor with different case and spacing, every 50th (offset
    25) a near duplicate with one token replaced."""
    texts = _texts(rng, n, vocab, lo, hi)
    for j in range(1, n):
        if j % 50 == 49:
            texts[j] = "  " + texts[j - 1].upper().replace(" ", "   ")
        elif j % 50 == 24:
            toks = texts[j - 1].split(" ")
            toks[len(toks) // 2] = vocab[int(rng.integers(len(vocab)))]
            texts[j] = " ".join(toks)
    langs = rng.choice(LANGS, size=n, p=[0.41, 0.15, 0.15, 0.14, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{j % 20}" for j in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64,
                n_clusters: int = 32) -> pa.Table:
    """Clustered vectors (0.8 x unit centroid + 0.3 x noise); every
    100th vector is its predecessor plus 1e-2 noise, so near-duplicate
    pairs with cosine ~0.999 exist at every size."""
    cents = rng.standard_normal((n_clusters, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    cluster = rng.integers(0, n_clusters, size=n)
    vecs = 0.8 * cents[cluster] + 0.3 * rng.standard_normal((n, dim))
    dup = np.arange(99, n, 100)
    vecs[dup] = vecs[dup - 1] + 0.01 * rng.standard_normal((len(dup), dim))
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), dim
        ).cast(pa.list_(pa.float32())),
        "label": pa.array((cluster % 8).astype(np.int32), pa.int32()),
    })


def rung_corpus(dest: str, seed: int, n: int) -> None:
    """``n`` documents over a ~1000-word vocabulary (so coincidental
    shingle overlap stays rare and the engineered duplicates are the
    positives) plus ``n`` clustered 64-d embeddings."""
    os.makedirs(dest, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    vocab = WORDS + [a + b for a in WORDS for b in WORDS]
    _write(_documents(rng, n, vocab, 8, 60), f"{dest}/documents.parquet")
    _write(_embeddings(rng, n, n_clusters=64), f"{dest}/embeddings.parquet")


def seed_rows(seed: int, n: int, start: int = 0) -> list[tuple]:
    """Rows ``start .. start+n-1`` of the project seed
    ``raw_orders(id, chain, cust, amount, status)``; row ``i`` depends
    only on ``(seed, i)``, so appending extends the same table."""
    rows = []
    for i in range(start, start + n):
        r = np.random.default_rng([seed, 3, i])
        rows.append((
            i, int(r.integers(0, 1 << 16)), int(r.integers(0, 40)),
            int(r.integers(1, 10_000)),
            ["new", "paid", "shipped"][int(r.integers(0, 3))],
        ))
    return rows


def write_seed(root: str, rows: list[tuple]) -> None:
    with open(os.path.join(root, "seeds", "raw_orders.csv"), "w") as f:
        f.write("id,chain,cust,amount,status\n")
        f.writelines(",".join(map(str, r)) + "\n" for r in rows)


def dbt_project(root: str, seed: int, n_chains: int, n_rows: int) -> None:
    """A project over one seed: per chain ``c`` a staging view, a
    table, a merge incremental, a mart table and a check-strategy
    snapshot, with unique/not_null tests on the keys. Rows belong to
    chain ``chain % n_chains``."""
    for d in ("models", "seeds", "snapshots"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    with open(os.path.join(root, "dbt_project.yml"), "w") as f:
        f.write(
            "name: perfbench_project\nmodel-paths: [models]\n"
            "seed-paths: [seeds]\nsnapshot-paths: [snapshots]\n"
        )
    write_seed(root, seed_rows(seed, n_rows))
    yml = ["version: 2", "models:"]
    for c in range(n_chains):
        files = {
            f"models/stg_{c}.sql":
                "{{ config(materialized='view') }}\n"
                "select id, cust, amount, status from {{ ref('raw_orders') }}"
                f" where chain % {n_chains} = {c}",
            f"models/tbl_{c}.sql":
                "{{ config(materialized='table') }}\n"
                "select id, cust, amount * 2 as amount2, status"
                f" from {{{{ ref('stg_{c}') }}}}",
            f"models/inc_{c}.sql":
                "{{ config(materialized='incremental', unique_key='id',"
                " incremental_strategy='merge') }}\n"
                f"select id, cust, amount2, status from {{{{ ref('tbl_{c}') }}}}",
            f"models/mart_{c}.sql":
                "{{ config(materialized='table') }}\n"
                "select cust, count(*) as n, sum(amount2) as total"
                f" from {{{{ ref('inc_{c}') }}}} group by cust",
            f"snapshots/snap_{c}.sql":
                f"{{% snapshot snap_{c} %}}\n"
                "{{ config(strategy='check', unique_key='id',"
                " check_cols=['status']) }}\n"
                f"select id, status from {{{{ ref('stg_{c}') }}}}\n"
                "{% endsnapshot %}\n",
        }
        for rel, body in files.items():
            with open(os.path.join(root, rel), "w") as f:
                f.write(body)
        for model, key in ((f"inc_{c}", "id"), (f"mart_{c}", "cust")):
            yml += [
                f"- name: {model}", "  columns:", f"  - name: {key}",
                "    data_tests: [unique, not_null]",
            ]
    with open(os.path.join(root, "models", "schema.yml"), "w") as f:
        f.write("\n".join(yml) + "\n")
