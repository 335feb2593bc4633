"""Span recorder for the traced run.

Spans are recorded from the benchmark's own files only: the module
attributes of the package's public functions are replaced by wrappers,
including the copies other modules bind at import time (for example
`store.query_vector_row`, bound by `from .knn import ...`). Each span
holds the layer name, start, end, parent span and op id; spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op: str | None = None
        self._stack: list[int] = []
        self._restore: list[tuple] = []
        self.bookkeeping_s = 0.0

    # -- recording ---------------------------------------------------------

    def start(self, layer: str) -> dict:
        span = {
            "id": len(self.spans),
            "layer": layer,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "start_ns": time.time_ns(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, layer: str):
        """A span around a block, when tracing is on."""
        if not self.enabled:
            yield None
            return
        s = self.start(layer)
        try:
            yield s
        finally:
            self.end(s)

    def wrap(self, module, attr: str, layer: str, annotate=None) -> None:
        """Replace module.attr by a span-recording wrapper. `annotate`
        (optional) is called before the call and returns a function of
        the span called after it, to attach layer-specific facts."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            after = annotate() if annotate else None
            s = self.start(layer)
            try:
                return orig(*args, **kwargs)
            finally:
                self.end(s)
                if after:
                    after(s)

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, orig))

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- analysis ------------------------------------------------------------

    def totals(self, ops: set) -> dict[str, dict]:
        """Per layer, over spans of the given ops: calls, inclusive
        seconds and self seconds (duration minus the part of its interval
        that child spans cover)."""
        child_s = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0})
        for s in self.spans:
            if s["op"] not in ops or s["end"] is None:
                continue
            d = s["end"] - s["start"]
            t = out[s["layer"]]
            t["calls"] += 1
            t["s"] += d
            t["self_s"] += d - child_s[s["id"]]
        return out


def instrument(tracer: Tracer, index_root: str) -> None:
    """Wrap every layer boundary the per-layer metrics name."""
    from vector_db_service_spark.operators import ann, catalog, knn, store
    from vector_db_service_spark.sources import tables

    def memo():
        before = len(knn._QVEC_CACHE)

        def after(span):
            span["memo_hit"] = len(knn._QVEC_CACHE) == before

        return after

    def bytes_written():
        def after(span):
            t0 = time.perf_counter()
            span["bytes"] = bytes_under(index_root, newer_than_ns=span["start_ns"])
            tracer.bookkeeping_s += time.perf_counter() - t0

        return after

    tracer.wrap(knn, "query_vector_row", "knn.query_vector_row", memo)
    tracer.wrap(store, "query_vector_row", "knn.query_vector_row", memo)
    tracer.wrap(knn, "knn", "knn.knn.plan")
    tracer.wrap(tables, "path_signature", "tables.path_signature")
    tracer.wrap(tables, "row_count", "tables.row_count")
    tracer.wrap(ann, "row_count", "tables.row_count")
    tracer.wrap(store, "ensure_library", "store.ensure_library")
    tracer.wrap(store, "rebuild_library", "store.rebuild_library", bytes_written)
    tracer.wrap(store, "ensure_ivf_centroids", "store.ensure_ivf_centroids", bytes_written)
    for probe in ("lsh_probe", "grid_probe", "ivf_probe"):
        tracer.wrap(store, probe, f"store.{probe}.plan")
    tracer.wrap(ann, "brute_force_topk", "ann.brute_force_topk.plan")
    tracer.wrap(catalog, "apply_cdc", "catalog.apply_cdc")


def bytes_under(path: str, newer_than_ns: int = 0) -> int:
    """Bytes of the files under `path` (or of the file `path`) modified at
    or after `newer_than_ns`."""
    if os.path.isfile(path):
        st = os.stat(path)
        return st.st_size if st.st_mtime_ns >= newer_than_ns else 0
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except OSError:
                continue
            if st.st_mtime_ns >= newer_than_ns:
                total += st.st_size
    return total


def spark_op_stats(spark, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) the job group ran, from the status
    tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
                failed += si.numFailedTasks
    return len(jobs), tasks, failed
