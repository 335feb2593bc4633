"""Self-tests of the benchmark, at tiny scale.

    python3 -m pytest perfbench -m "" -q -p no:cacheprovider

(`-m ""` because the repository's pytest.ini selects only the smoke tier
by default.) The full-run test starts Spark and takes about half a
minute.
"""

from __future__ import annotations

import filecmp
import importlib.util
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, oracle  # noqa: E402
from perfbench.metrics import percentile  # noqa: E402


def _inputs(seed: int, out: str):
    rng = np.random.default_rng(seed)
    c = gen.make_corpus(rng, 500)
    gen.write_corpus(c, out)
    streams = (
        gen.point_stream(rng, 500, 50),
        gen.indexed_stream(rng, 500, 50),
        gen.batch_stream(rng, 500, 5, 8),
    )
    cycles = gen.ingest_plan(rng, c, os.path.join(out, "cdc"), 12, 20)
    return streams, [(y.library, y.kind, y.n_rows, y.queries) for y in cycles]


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_same_seed_same_inputs(tmp_path):
    a, b, c, d = (str(tmp_path / n) for n in "abcd")
    assert _inputs(7, a) == _inputs(7, b)
    assert _same_tree(a, b)
    assert _inputs(8, c) != _inputs(7, d)


def _exact_rows(state, q, metric, library=None):
    ids, scores = state.scores(state.vector(q), metric, library)
    top_ids, top_scores = oracle.topk(ids, scores)
    return [(int(i), float(s)) for i, s in zip(top_ids, top_scores)], ids, scores


@pytest.fixture
def state():
    c = gen.make_corpus(np.random.default_rng(3), 400)
    return oracle.State(c.ids, c.vecs, c.labels)


def test_oracle_accepts_exact_result(state):
    for metric in ("cosine", "euclidean"):
        rows, ids, scores = _exact_rows(state, 5, metric)
        v = oracle.judge(rows, ids, scores, exact=True)
        assert v.ok and v.recall == 1.0


def test_oracle_flags_corrupted_results(state):
    rows, ids, scores = _exact_rows(state, 5, "cosine")
    outside = int(oracle.topk(ids, scores, 11)[0][-1])
    outside_score = float(scores[np.searchsorted(ids, outside)])

    def verdict(r, exact=True):
        return oracle.judge(r, ids, scores, exact=exact)

    bumped = [rows[0]] + [(rows[1][0], rows[1][1] + 1e-3)] + rows[2:]
    assert verdict(bumped).reason == "wrong_score"
    assert verdict(rows[::-1]).reason == "wrong_order"
    assert verdict(rows[:-1]).reason == "short_result"
    assert verdict([]).reason == "short_result"
    assert verdict(rows + [rows[0]]).reason == "too_many_rows"
    assert verdict(rows[:-1] + [(10**9, 0.0)]).reason == "unknown_id"
    assert verdict(rows[:-1] + [rows[0]]).reason == "duplicate_ids"
    swapped = rows[:-1] + [(outside, outside_score)]
    if outside_score < rows[-1][1]:  # not a tie at the k-th score
        assert verdict(swapped).reason == "wrong_ids"
        approx = verdict(swapped, exact=False)
        assert approx.ok and approx.recall == 0.9


def test_oracle_state_follows_cdc(state):
    lib = 2
    before = state.count(lib)
    new_ids = np.array([10_000, 10_001], dtype=np.int64)
    state.apply(lib, "I", new_ids, np.ones((2, gen.DIM), np.float32))
    assert state.count(lib) == before + 2
    state.apply(lib, "U", new_ids[:1], np.full((1, gen.DIM), 2.0, np.float32))
    assert state.vector(10_000)[0] == 2.0 and state.count(lib) == before + 2
    state.apply(lib, "D", new_ids, None)
    assert state.count(lib) == before
    with pytest.raises(KeyError):
        state.vector(10_001)


def test_percentile_ranks_failures_last():
    assert percentile([1.0, 2.0], [0.1, 0.2], 50) == 2.0
    assert percentile([1.0, 2.0], [0.1, 0.2], 75) == 2.0
    assert percentile([5.0], [1.0, 1.0, 1.0], 50) == 5.0
    assert percentile([1.0, 2.0, 3.0, 4.0], [], 50) == 2.5
    assert percentile([4.0, 1.0, 3.0], [], 50) == 3.0
    # a fix that turns a failure into a success never raises the figure
    assert percentile([1.0, 2.0, 3.0], [], 50) <= percentile([1.0, 2.0], [3.0], 50)


def _snapshot(top: str) -> dict:
    out = {}
    for d, dirs, files in os.walk(top):
        dirs[:] = [x for x in dirs if not (d == top and x == ".git")]
        for f in files:
            p = os.path.join(d, f)
            st = os.lstat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _testdata_dir() -> str | None:
    spec = importlib.util.spec_from_file_location(
        "_repo_conftest", os.path.join(ROOT, "tests", "conftest.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    d = os.path.dirname(os.path.normpath(mod.SF_SMALL))
    return d if os.path.isdir(d) else None


def _bench(cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_search",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_full_run_leaves_repo_and_testdata_unchanged():
    testdata = _testdata_dir()
    trees = [ROOT] + ([testdata] if testdata else [])
    before = [_snapshot(t) for t in trees]
    proc = _bench(ROOT)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = {m["name"] for m in json.load(f)["end_to_end"]}
    assert set(result["metrics"]) == e2e
    assert [_snapshot(t) for t in trees] == before


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _bench(str(tmp_path))
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
