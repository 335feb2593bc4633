"""The four workloads, driven through the package's public functions by
one closed-loop client (the next request is sent when the previous one
has returned), each result judged by the NumPy oracle.

Why each workload exists:

- point_search: exact `knn.knn` over a single-file corpus, three of four
  requests global and one scoped to a library; query ids are uniform, so
  the query-vector memo misses. Full-scan scoring, per-query driver work
  and Spark job overhead dominate; the store and ANN layers are bypassed.
- indexed_search: the stored-index read path on the same layout with the
  indexes prebuilt: flat libraries go to `knn.knn(library=...)`, lsh to
  `store.lsh_probe`, grid to `store.grid_probe`, every 4th request to a
  global `store.ivf_probe` (nprobe=2). Query ids come from a 64-id hot
  set, so the memo hits: the hot-cache counterpart of point_search.
- batch_search: `ann.brute_force_topk` with 32 query ids per call, the
  only path through the broadcast multi-query join and the Arrow
  `mapInPandas` partial top-k.
- ingest_mix: the store layer with writes beside the reads, on the
  `embeddings.parquet/label=N/` layout the store is designed for: per
  cycle one CDC batch (`catalog.apply_cdc`, dynamic partition overwrite,
  `store.ensure_library`) and 4 searches into that library.
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from . import gen, oracle
from .trace import Tracer, bytes_under, spark_op_stats

K = oracle.K

# Corpus sizes and stream shapes, chosen so that every run of every
# workload fits the benchmark's time budget on a 4-core machine.
SIZES = {
    "point_search": 20_000,
    "indexed_search": 20_000,
    "batch_search": 1_000,
    "ingest_mix": 10_000,
}
BATCH_WIDTH = 32
CDC_ROWS = 100
# Steps of the request pattern that repeats; the timed phase runs whole
# periods, so every run has the same mix of request kinds.
PERIOD = {"point_search": 4, "indexed_search": 4, "batch_search": 1,
          "ingest_mix": len(gen.INGEST_CLASSES)}
# Untimed steps before the timed phase, enough for every request kind to
# have run (and been compiled) before timing starts.
WARMUP_STEPS = {"point_search": 8, "indexed_search": 8, "batch_search": 3, "ingest_mix": 3}
STREAM_LEN = 5_000
MAX_CYCLES = 120

EXACT_ROUTES = {"flat", "global"}
METRIC = {"flat": "cosine", "global": "cosine", "lsh": "cosine", "ivf": "cosine",
          "grid": "euclidean"}
EXEC_LAYER = {"flat": "knn.knn.exec", "global": "knn.knn.exec",
              "lsh": "store.lsh_probe.exec", "grid": "store.grid_probe.exec",
              "ivf": "store.ivf_probe.exec"}


@dataclass
class Op:
    kind: str  # 'search' (one search call) or 'write' (one CDC batch)
    latency: float
    reason: str | None
    traced: bool
    correct_queries: int = 0
    recalls: list = field(default_factory=list)
    rows: int = 0  # CDC rows, for writes


class Workload:
    def __init__(self, name: str, seed: int, work: str, tracer: Tracer | None):
        self.name = name
        self.work = work
        self.sf = os.path.join(work, "data", f"sf_{name}")
        self.root = os.path.join(work, "indexes")
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.ops: list[Op] = []
        self.op_stats: list[tuple[int, int, int]] = []
        self.index_build_s: float | None = None
        self.spark = None
        self.period_traced = False  # set per period of the timed phase
        self.traced_ops: set[str] = set()
        self.errors: list[str] = []
        self._n_ops = 0

    # -- inputs --------------------------------------------------------------

    def generate(self) -> None:
        n = SIZES[self.name]
        corpus = gen.make_corpus(self.rng, n)
        gen.write_corpus(corpus, self.sf)
        self.state = oracle.State(corpus.ids, corpus.vecs, corpus.labels)
        if self.name == "point_search":
            self.stream = gen.point_stream(self.rng, n, STREAM_LEN)
        elif self.name == "indexed_search":
            self.stream = gen.indexed_stream(self.rng, n, STREAM_LEN)
        elif self.name == "batch_search":
            self.stream = gen.batch_stream(self.rng, n, STREAM_LEN // 10, BATCH_WIDTH)
        else:
            self.stream = gen.ingest_plan(
                self.rng, corpus, os.path.join(self.work, "cdc"), MAX_CYCLES, CDC_ROWS
            )

    def partition_by_label(self) -> None:
        """ingest_mix only: rewrite embeddings.parquet as `label=N/`
        partition directories, one file each, with the same Spark writer
        the CDC batches use, so that every partition file is encoded
        alike however many batches have rewritten it."""
        emb = os.path.join(self.sf, "embeddings.parquet")
        flat = os.path.join(self.work, "embeddings-flat.parquet")
        os.rename(emb, flat)
        self.spark.read.parquet(flat).repartition("label").write.partitionBy(
            "label").parquet(emb)
        os.remove(flat)

    # -- one operation ---------------------------------------------------------

    def _begin_op(self) -> tuple[bool, str]:
        self._n_ops += 1
        op_id = f"op{self._n_ops}"
        traced = self.tracer is not None and self.period_traced
        if traced:
            self.traced_ops.add(op_id)
        if self.tracer is not None:
            self.tracer.enabled = traced
            self.tracer.op = op_id
            self.spark.sparkContext.setJobGroup(op_id if traced else "untraced", "perfbench")
        return traced, op_id

    def _end_op(self, traced: bool, op_id: str) -> None:
        if self.tracer is not None:
            self.tracer.enabled = False
            if traced:
                t0 = time.perf_counter()
                self.op_stats.append(spark_op_stats(self.spark, op_id))
                self.tracer.bookkeeping_s += time.perf_counter() - t0

    def _failed(self, exc: Exception) -> Exception:
        """Record a failed operation's traceback for the run's report."""
        import traceback

        self.errors.append("".join(traceback.format_exception(exc)))
        return exc

    def _span(self, layer: str):
        from contextlib import nullcontext

        return self.tracer.span(layer) if self.tracer is not None else nullcontext()

    def _run_search(self, route: str, library: int | None, qid: int) -> list:
        from vector_db_service_spark.operators import knn, store

        sp, sf, root = self.spark, self.sf, self.root
        if route in EXACT_ROUTES:
            df = knn.knn(sp, sf, query_id=qid, k=K, metric="cosine", library=library)
        elif route == "lsh":
            df = store.lsh_probe(sp, sf, library=library, query_id=qid, k=K,
                                 metric="cosine", root=root)
        elif route == "grid":
            df = store.grid_probe(sp, sf, library=library, query_id=qid, k=K,
                                  metric="euclidean", root=root)
        else:
            df = store.ivf_probe(sp, sf, query_id=qid, k=K, nprobe=2,
                                 metric="cosine", root=root)
        with self._span(EXEC_LAYER[route]):
            return [(r["vec_id"], r["score"]) for r in df.collect()]

    def search(self, route: str, library: int | None, qid: int) -> Op:
        traced, op_id = self._begin_op()
        t0 = time.perf_counter()
        try:
            rows = self._run_search(route, library, qid)
            err = None
        except Exception as exc:  # a failed search is counted, not fatal
            rows, err = None, self._failed(exc)
        lat = time.perf_counter() - t0
        self._end_op(traced, op_id)
        if err is not None:
            return Op("search", lat, "exception", traced, 0, [0.0])
        scope = library if route in ("flat", "lsh", "grid") else None
        ids, scores = self.state.scores(self.state.vector(qid), METRIC[route], scope)
        v = oracle.judge(rows, ids, scores, exact=route in EXACT_ROUTES)
        return Op("search", lat, v.reason, traced, int(v.ok), [v.recall])

    def batch(self, qids: list[int]) -> Op:
        from vector_db_service_spark.operators import ann

        traced, op_id = self._begin_op()
        t0 = time.perf_counter()
        try:
            df = ann.brute_force_topk(self.spark, self.sf, qids, k=K, metric="cosine")
            with self._span("ann.brute_force_topk.exec"):
                rows = df.collect()
            err = None
        except Exception as exc:
            rows, err = None, self._failed(exc)
        lat = time.perf_counter() - t0
        self._end_op(traced, op_id)
        if err is not None:
            return Op("search", lat, "exception", traced, 0, [0.0] * len(qids))
        by_q: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rnk"])):
            by_q.setdefault(int(r["query_id"]), []).append((r["vec_id"], r["score"]))
        reasons, recalls = [], []
        for q in qids:
            ids, scores = self.state.scores(self.state.vector(q), "cosine")
            v = oracle.judge(by_q.pop(q, []), ids, scores, exact=True)
            reasons.append(v.reason)
            recalls.append(v.recall)
        if by_q:
            reasons.append("unknown_id")
        bad = [r for r in reasons if r is not None]
        return Op("search", lat, bad[0] if bad else None, traced,
                  sum(r is None for r in reasons[: len(qids)]), recalls)

    def write(self, cycle: gen.Cycle) -> Op:
        """Apply one CDC batch and make it searchable: post-state of the
        library's partition, dynamic partition overwrite, ensure_library."""
        from pyspark.sql import functions as F

        from vector_db_service_spark.operators import catalog, store
        from vector_db_service_spark.sources import tables

        ids, vecs, kind = gen.read_batch(cycle.path)
        traced, op_id = self._begin_op()
        t0 = time.perf_counter()
        try:
            snapshot = tables.load(self.spark, self.sf, "embeddings").filter(
                F.col("label") == cycle.library
            )
            post = catalog.apply_cdc(snapshot, self.spark.read.parquet(cycle.path))
            with self._span("write.partition_overwrite"):
                (post.write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("label")
                 .parquet(os.path.join(self.sf, "embeddings.parquet")))
            store.ensure_library(self.spark, self.sf, cycle.library, root=self.root)
            err = None
        except Exception as exc:
            err = self._failed(exc)
        lat = time.perf_counter() - t0
        self._end_op(traced, op_id)
        if err is None:
            self.state.apply(cycle.library, kind, ids, vecs)
        else:
            self._resync(cycle.library)
        on_disk = self._partition_rows(cycle.library)
        reason = (
            "exception" if err is not None
            else None if on_disk == self.state.count(cycle.library)
            else "write_rows"
        )
        return Op("write", lat, reason, traced, rows=cycle.n_rows)

    def _partition_files(self, library: int) -> list[str]:
        d = os.path.join(self.sf, "embeddings.parquet", f"label={library}")
        return sorted(glob.glob(os.path.join(d, "*.parquet")))

    def _partition_rows(self, library: int) -> int:
        return sum(pq.read_metadata(f).num_rows for f in self._partition_files(library))

    def _resync(self, library: int) -> None:
        """After a failed write the table is whatever the program left on
        disk; make the oracle agree with it."""
        self.state.apply(library, "D", self.state.ids[self.state.labels == library], None)
        files = self._partition_files(library)
        if files:
            t = pq.read_table(files)
            self.state.apply(library, "I", t.column("vec_id").to_numpy(), gen.vectors(t))

    # -- phases --------------------------------------------------------------

    def build_indexes(self) -> None:
        """Every library's stored index plus the IVF centroids, from an
        empty root."""
        from vector_db_service_spark.operators import store

        if self.tracer is not None:
            self.tracer.enabled, self.tracer.op = True, "build"
        t0 = time.perf_counter()
        for lib in range(gen.N_LIBS):
            store.ensure_library(self.spark, self.sf, lib, root=self.root)
        store.ensure_ivf_centroids(self.spark, self.sf, root=self.root)
        self.index_build_s = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.enabled = False

    def cycle(self, c: gen.Cycle) -> list[Op]:
        ops = [self.write(c)]
        algo = gen.ALGORITHMS[c.library % 3]
        for i, q in enumerate(c.queries):
            if i % 4 == 3:
                ops.append(self.search("ivf", None, q))
            else:
                ops.append(self.search(algo, c.library, q))
        return ops

    def _step(self, i: int) -> list[Op]:
        item = self.stream[i]
        if self.name == "point_search":
            q, lib = item
            return [self.search("global" if lib is None else "flat", lib, q)]
        if self.name == "indexed_search":
            route, lib, q = item
            return [self.search(route, lib, q)]
        if self.name == "batch_search":
            return [self.batch(item)]
        return self.cycle(item)

    def warm_up(self) -> None:
        """Run, untimed, the first WARMUP_STEPS steps of the stream."""
        n = WARMUP_STEPS[self.name]
        for i in range(n):
            self._step(i)
        del self.stream[:n]

    def timed(self, seconds: float) -> float:
        """Closed loop over the stream for about `seconds`: whole periods of
        the request pattern, as many as brings the elapsed time nearest to
        `seconds` (at least one). Returns the elapsed wall time.

        In a traced run, periods alternate traced and untraced (at least
        one of each), so the tracing overhead is the difference between
        the two halves of the same warm process."""
        period = PERIOD[self.name]
        min_periods = 2 if self.tracer is not None else 1
        t0 = time.perf_counter()
        i = done = 0
        while i + period <= len(self.stream):
            self.period_traced = done % 2 == 0
            for j in range(i, i + period):
                self.ops.extend(self._step(j))
            i += period
            done += 1
            elapsed = time.perf_counter() - t0
            if done >= min_periods and elapsed + elapsed / done / 2 >= seconds:
                break
        self.period_traced = False
        return time.perf_counter() - t0

    def stored_bytes(self) -> int:
        return bytes_under(os.path.join(self.sf, "embeddings.parquet")) + bytes_under(self.root)
