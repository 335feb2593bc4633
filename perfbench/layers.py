"""Per-layer metrics of a traced run.

Periods of the request pattern alternate traced and untraced; per-op
figures are means over the traced ops. `trace.overhead.search_p50_ms` is
the traced ops' median search latency minus the untraced ops' median in
the same run, and `trace.bookkeeping_s` the time the recorder itself spent
reading the Spark status tracker and the index directory.
"""

from __future__ import annotations

from .metrics import percentile

PER_OP = "s/op"
CALLS = "count/op"

# layer span -> metric names (calls, inclusive seconds, self seconds)
SPAN_METRICS = {
    "knn.query_vector_row": ("knn.query_vector_row.calls", "knn.query_vector_row.s",
                             "knn.query_vector_row.self_s"),
    "knn.knn.plan": (None, "knn.knn.plan_s", None),
    "knn.knn.exec": (None, "knn.knn.exec_s", None),
    "tables.path_signature": ("tables.path_signature.calls", "tables.path_signature.s", None),
    "tables.row_count": ("tables.row_count.calls", None, None),
    "store.ensure_library": (None, "store.ensure_library.s", "store.ensure_library.self_s"),
    "store.rebuild_library": ("store.rebuild_library.calls", "store.rebuild_library.s", None),
    "store.lsh_probe.plan": (None, "store.lsh_probe.plan_s", None),
    "store.lsh_probe.exec": (None, "store.lsh_probe.exec_s", None),
    "store.grid_probe.plan": (None, "store.grid_probe.plan_s", None),
    "store.grid_probe.exec": (None, "store.grid_probe.exec_s", None),
    "store.ivf_probe.plan": (None, "store.ivf_probe.plan_s", None),
    "store.ivf_probe.exec": (None, "store.ivf_probe.exec_s", None),
    "store.ensure_ivf_centroids": (None, "store.ensure_ivf_centroids.s", None),
    "ann.brute_force_topk.plan": (None, "ann.brute_force_topk.plan_s", None),
    "ann.brute_force_topk.exec": (None, "ann.brute_force_topk.exec_s", None),
    "catalog.apply_cdc": (None, "catalog.apply_cdc.s", None),
    "write.partition_overwrite": (None, "write.partition_overwrite.s", None),
}


def layer_metrics(w, tracer, cpu1, cpu0, wall, extra) -> dict:
    ops = w.traced_ops
    n = max(1, len(ops))
    totals = tracer.totals(ops)
    out: dict[str, tuple] = {}
    for layer, (calls, incl, self_) in SPAN_METRICS.items():
        t = totals.get(layer, {"calls": 0, "s": 0.0, "self_s": 0.0})
        if calls:
            out[calls] = (t["calls"] / n, CALLS)
        if incl:
            out[incl] = (t["s"] / n, PER_OP)
        if self_:
            out[self_] = (t["self_s"] / n, PER_OP)
        if layer == "knn.query_vector_row":
            hits = sum(
                1 for s in tracer.spans
                if s["layer"] == layer and s["op"] in ops and s.get("memo_hit")
            )
            out["knn.query_vector_row.memo_hit_ratio"] = (hits / max(1, t["calls"]), "ratio")
    out["store.index_bytes_written"] = (sum(
        s.get("bytes", 0) for s in tracer.spans
        if s["layer"] in ("store.rebuild_library", "store.ensure_ivf_centroids")
    ), "bytes")
    extras = {name: value for name, value, _unit in extra}
    out["mem.peak_rss_mb"] = (extras["peak_rss_mb"], "MB")
    out["cpu.host_steal_s"] = (extras["host_steal_s"], "s")
    out["store.index_build_s"] = (extras.get("index_build_s", 0.0), "s")
    out["ingest.freshness_p50_s"] = (extras.get("freshness_p50_s", 0.0), "s")
    out["ingest.upsert_rows_per_s"] = (extras.get("upsert_rows_per_s", 0.0), "1/s")

    jobs = sum(j for j, _t, _f in w.op_stats)
    tasks = sum(t for _j, t, _f in w.op_stats)
    out["spark.jobs_per_op"] = (jobs / n, CALLS)
    out["spark.tasks_per_op"] = (tasks / n, CALLS)
    out["spark.failed_tasks"] = (sum(f for _j, _t, f in w.op_stats), "count")

    cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
    out["cpu.busy_cores"] = (sum(cpu.values()) / wall, "cores")
    out["cpu.jvm_s"] = (cpu["jvm"], "s")
    out["cpu.driver_s"] = (cpu["driver"], "s")
    out["cpu.python_workers_s"] = (cpu["python_workers"], "s")

    searches = [o for o in w.ops if o.kind == "search"]

    def p50(traced):
        g = [o for o in searches if o.traced == traced]
        ok = [o.latency for o in g if o.reason is None]
        bad = [o.latency for o in g if o.reason is not None]
        return 1000 * percentile(ok, bad, 50) if g else 0.0

    out["trace.overhead.search_p50_ms"] = (p50(True) - p50(False), "ms")
    out["trace.bookkeeping_s"] = (tracer.bookkeeping_s, "s")
    out["trace.traced_ops"] = (len(ops), "count")
    return out
