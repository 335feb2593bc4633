"""Seeded input generator: corpora, CDC batches and request streams.

Everything the program receives is derived from the workload seed alone,
in this process, with NumPy's PCG64 generator; the same seed gives
byte-identical parquet files and request streams.

Corpora are Gaussian mixtures (64 clusters, dim 64) spread over 10
libraries (`label` 0-9, drawn independently of the cluster, so every
library holds every cluster), plus a `documents.parquet` keyed
`doc_id = vec_id`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_CLUSTERS = 64
N_LIBS = 10
CLUSTER_SPREAD = 0.35
HOT_SET = 64
ZIPF_S = 1.1
ALGORITHMS = ("flat", "lsh", "grid")  # store.default_algorithm: label % 3
INGEST_CLASSES = ("flat", "lsh", "grid", "flat")  # one period of ingest cycles
BATCH_TYPES = ("U", "I", "U", "D", "U", "I", "U", "U", "I", "D")  # 50/30/20


@dataclass
class Corpus:
    centers: np.ndarray
    ids: np.ndarray  # int64
    vecs: np.ndarray  # float32, (n, DIM)
    labels: np.ndarray  # int32


@dataclass
class Cycle:
    """One ingest_mix cycle: a CDC batch on one library, then searches."""

    library: int
    kind: str  # 'U' update-only, 'I' insert-only, 'D' delete-only
    path: str  # parquet file holding the batch
    n_rows: int
    queries: list = field(default_factory=list)  # 4 query ids


def zipf_weights(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def mixture(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    cl = rng.integers(0, len(centers), n)
    x = centers[cl] + CLUSTER_SPREAD * rng.standard_normal((n, DIM))
    return x.astype(np.float32)


def make_corpus(rng: np.random.Generator, n: int) -> Corpus:
    centers = rng.standard_normal((N_CLUSTERS, DIM))
    return Corpus(
        centers=centers,
        ids=np.arange(n, dtype=np.int64),
        vecs=mixture(rng, centers, n),
        labels=rng.integers(0, N_LIBS, n).astype(np.int32),
    )


def embedding_array(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(np.ascontiguousarray(vecs, dtype=np.float32).ravel())
    return pa.FixedSizeListArray.from_arrays(flat, DIM).cast(pa.list_(pa.float32()))


def write_corpus(c: Corpus, sf_dir: str) -> None:
    """embeddings.parquet as one file, plus documents.parquet."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "vec_id": c.ids,
            "embedding": embedding_array(c.vecs),
            "label": c.labels,
        }),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    langs = np.array(["en", "de", "fr", "es"])[c.ids % 4]
    text = [f"chunk {i} of library {lib}" for i, lib in zip(c.ids, c.labels)]
    pq.write_table(
        pa.table({
            "doc_id": c.ids,
            "text": text,
            "lang": langs,
            "source": [f"src{i % 17}" for i in c.ids],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }),
        os.path.join(sf_dir, "documents.parquet"),
    )


def point_stream(rng: np.random.Generator, n_corpus: int, n: int) -> list:
    """(query_id, library|None): ids uniform over the corpus, so the
    query-vector memo misses; three of every four requests are global
    and the fourth is scoped to a random library. The fixed pattern keeps
    the two latency modes in the same proportion in every run."""
    ids = rng.integers(0, n_corpus, n)
    libs = rng.integers(0, N_LIBS, n)
    return [
        (int(q), int(lib) if i % 4 == 3 else None)
        for i, (q, lib) in enumerate(zip(ids, libs))
    ]


def _library_of_class(rng: np.random.Generator, algo: str, order: dict) -> int:
    libs = order[algo]
    return int(libs[rng.choice(len(libs), p=zipf_weights(len(libs)))])


def library_order(rng: np.random.Generator) -> dict:
    """Per algorithm class, the libraries in Zipf rank order (seeded)."""
    return {
        a: rng.permutation([lib for lib in range(N_LIBS) if lib % 3 == i])
        for i, a in enumerate(ALGORITHMS)
    }


def indexed_stream(rng: np.random.Generator, n_corpus: int, n: int) -> list:
    """(route, library|None, query_id): every 4th request is a global IVF
    probe; the others cycle flat -> lsh -> grid, each going to a
    Zipf-chosen library of that algorithm. Query ids are Zipf-drawn from
    a 64-id hot set, so the query-vector memo hits after warm-up."""
    hot = rng.choice(n_corpus, HOT_SET, replace=False)
    qs = hot[rng.choice(HOT_SET, n, p=zipf_weights(HOT_SET))]
    order = library_order(rng)
    out, j = [], 0
    for i in range(n):
        if i % 4 == 3:
            out.append(("ivf", None, int(qs[i])))
        else:
            algo = ALGORITHMS[j % 3]
            j += 1
            out.append((algo, _library_of_class(rng, algo, order), int(qs[i])))
    return out


def batch_stream(rng: np.random.Generator, n_corpus: int, n: int, width: int) -> list:
    return [
        [int(q) for q in rng.choice(n_corpus, width, replace=False)]
        for _ in range(n)
    ]


def _batch_table(ids, vecs, lib, op, seq) -> pa.Table:
    n = len(ids)
    return pa.table({
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": embedding_array(vecs),
        "label": pa.array(np.full(n, lib, dtype=np.int32)),
        "op": pa.array([op] * n),
        "seq": pa.array(np.full(n, seq, dtype=np.int64)),
    })


def ingest_plan(
    rng: np.random.Generator, c: Corpus, out_dir: str, n_cycles: int, batch_rows: int
) -> list[Cycle]:
    """CDC batches and per-cycle query ids, written as parquet files.

    Library classes rotate through INGEST_CLASSES (a Zipf-chosen library
    within each class; flat has 4 of the 10 libraries and two of the four
    slots, so most searches succeed while lsh and grid fail) and batch types follow BATCH_TYPES, so every run has the same
    cost mix; the seed decides which library, ids and vectors. Each
    library keeps a hot set of ids that deletes never touch, so its
    searches can always use them; updates do touch them, which re-embeds
    a query vector under the stored index."""
    os.makedirs(out_dir, exist_ok=True)
    order = library_order(rng)
    live = {lib: set(c.ids[c.labels == lib].tolist()) for lib in range(N_LIBS)}
    hot = {
        lib: rng.choice(sorted(live[lib]), HOT_SET // 4, replace=False)
        for lib in range(N_LIBS)
    }
    next_id = int(c.ids.max()) + 1
    cycles = []
    for i in range(n_cycles):
        lib = _library_of_class(rng, INGEST_CLASSES[i % len(INGEST_CLASSES)], order)
        kind = BATCH_TYPES[i % len(BATCH_TYPES)]
        if kind == "I":
            ids = np.arange(next_id, next_id + batch_rows, dtype=np.int64)
            next_id += batch_rows
            vecs = mixture(rng, c.centers, batch_rows)
            live[lib].update(ids.tolist())
        elif kind == "U":
            ids = rng.choice(sorted(live[lib]), batch_rows, replace=False)
            vecs = mixture(rng, c.centers, batch_rows)
        else:
            cold = sorted(live[lib] - set(hot[lib].tolist()))
            ids = rng.choice(cold, batch_rows, replace=False)
            vecs = np.zeros((batch_rows, DIM), dtype=np.float32)
            live[lib].difference_update(ids.tolist())
        path = os.path.join(out_dir, f"batch-{i:04d}.parquet")
        pq.write_table(_batch_table(np.sort(ids), vecs[np.argsort(ids)], lib, kind, i + 1), path)
        qs = hot[lib][rng.choice(len(hot[lib]), 4, p=zipf_weights(len(hot[lib])))]
        cycles.append(Cycle(lib, kind, path, batch_rows, [int(q) for q in qs]))
    return cycles


def vectors(t: pa.Table) -> np.ndarray:
    """The `embedding` column of a table as an (n, DIM) float32 array."""
    flat = t.column("embedding").combine_chunks().flatten()
    return np.asarray(flat, dtype=np.float32).reshape(t.num_rows, DIM)


def read_batch(path: str) -> tuple[np.ndarray, np.ndarray, str]:
    t = pq.read_table(path)
    return t.column("vec_id").to_numpy(), vectors(t), t.column("op")[0].as_py()
