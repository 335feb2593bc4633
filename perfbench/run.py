"""Benchmark of the vector engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload point_search --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed under `.perfbench_work/` in the checkout, starts Spark on
local[<cores>] with a 2g driver, sets up, warms up, drives the workload
with one closed-loop client for `--seconds`, judges every result with
the NumPy oracle and prints `metric <name> <value> <unit>` lines followed
by one JSON line: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. Spans of a traced run go to
`.perfbench_out/spans-<workload>-seed<n>.jsonl`. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("point_search", "indexed_search", "batch_search", "ingest_mix")
DRIVER_MEM = "2g"
MB = 2 ** 20


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`, and
    stdout free of progress bars."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={os.path.join(work, 'spark-local')}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in submit)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then any process left under this
    one, and wait for each to end."""
    from pyspark import SparkContext

    from perfbench.metrics import tree

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        left = [p for p in tree() if p != os.getpid()]
        if not left:
            return
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)


def run(args, work: str) -> tuple[dict, list[tuple]]:
    from perfbench import oracle
    from perfbench.metrics import RssSampler, cpu_by_role, host_steal_s, percentile
    from perfbench.trace import Tracer, instrument
    from perfbench.workloads import Workload

    tracer = Tracer() if args.trace else None
    w = Workload(args.workload, args.seed, work, tracer)

    def phase(name):
        print(f"perfbench: {name} at {time.perf_counter() - T_START:.2f} s", file=sys.stderr)

    with RssSampler() as rss:
        w.generate()
        phase("inputs generated")
        from vector_db_service_spark.session import get_spark

        spark = get_spark("perfbench")
        try:
            spark.sparkContext.setLogLevel("ERROR")
            phase("spark started")
            w.spark = spark
            if tracer is not None:
                instrument(tracer, w.root)
            if args.workload == "ingest_mix":
                w.partition_by_label()
            if args.workload == "indexed_search":
                w.build_indexes()
                phase("indexes built")
            w.warm_up()
            phase("warmed up")
            setup_s = time.perf_counter() - T_START - (w.index_build_s or 0.0)
            cpu0, t0, steal0 = cpu_by_role(), time.perf_counter(), host_steal_s()
            elapsed = w.timed(args.seconds)
            cpu1, t1, steal1 = cpu_by_role(), time.perf_counter(), host_steal_s()
            stored = w.stored_bytes()
            phase("timed phase done")
        finally:
            if tracer is not None:
                tracer.unwrap()
            stop_spark(spark)

    ops = w.ops
    searches = [o for o in ops if o.kind == "search"]
    writes = [o for o in ops if o.kind == "write"]
    failed = [o for o in ops if o.reason is not None]
    recalls = [r for o in searches for r in o.recalls]

    def lat(group, ok):
        return [o.latency for o in group if (o.reason is None) == ok]

    def p(group, q):
        return percentile(lat(group, True), lat(group, False), q)

    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (1000 * p(writes or searches, 50), "ms"),
        "queries_per_s": (sum(o.correct_queries for o in searches) / elapsed, "1/s"),
        "recall_at_10": (sum(recalls) / len(recalls), "ratio"),
        "ok_op_ratio": (1 - len(failed) / len(ops), "ratio"),
        "bytes_per_user_byte": (stored / (len(w.state) * w.state.vecs.shape[1] * 4), "ratio"),
    }
    extra = [
        ("search_p50_ms", 1000 * p(searches, 50), "ms"),
        ("peak_rss_mb", rss.peak / MB, "MB"),
        ("failed_op_ratio", len(failed) / len(ops), "ratio"),
        ("searches", len(searches), "count"),
        ("timed_s", elapsed, "s"),
        ("host_steal_s", steal1 - steal0, "s"),
    ]
    if len(searches) >= 100:
        extra.append(("search_p90_ms", 1000 * p(searches, 90), "ms"))
    if args.workload == "batch_search":
        extra.append(("batch_p50_s", p(searches, 50), "s"))
    if w.index_build_s is not None:
        extra.append(("index_build_s", w.index_build_s, "s"))
    if writes:
        ok_rows = sum(o.rows for o in writes if o.reason is None)
        extra += [
            ("upsert_rows_per_s", ok_rows / sum(o.latency for o in writes), "1/s"),
            ("freshness_p50_s", p(writes, 50), "s"),
            ("write_batches", len(writes), "count"),
        ]
    reasons: dict[str, int] = {}
    for o in failed:
        reasons[o.reason] = reasons.get(o.reason, 0) + 1
    extra += [(f"failures.{r}", n, "count") for r, n in sorted(reasons.items())]
    print("perfbench: latencies_s " + " ".join(
        f"{o.kind[0]}{'' if o.reason is None else '!'}{o.latency:.3f}" for o in ops), file=sys.stderr)
    for tb in w.errors[:3]:
        print(tb, file=sys.stderr)

    if tracer is None:
        metrics = e2e
    else:
        from perfbench.layers import layer_metrics

        metrics = layer_metrics(w, tracer, cpu1, cpu0, t1 - t0, extra)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.dump(os.path.join(
            ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
    result = {
        "correct": not any(o.reason in oracle.WRONG for o in ops),
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, extra + [(k, v, u) for k, (v, u) in e2e.items()]


def main(argv=None) -> int:
    args = parse_args(argv)
    # run the cleanup in `finally` blocks when the run is terminated
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isdir(os.path.join(ROOT, "vector_db_service_spark")):
        print("perfbench: no vector_db_service_spark package next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    os.makedirs(work)
    try:
        configure(work)
        sys.path.insert(0, ROOT)
        result, lines = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    for name, value, unit in lines:
        print(f"metric {name} {value} {unit}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
