"""Round-12 hardening: identifier quoting on the single-parse SQL
paths, robust embedding-dim inference, and the bench cache registry.

Each pins a round-11 advisor finding:
  #1/#2 bench cache homogeneity -> index_state_caches() registry shape
  #3 embedding_dim crash modes  -> empty first part / leading NULLs /
     all-NULL loud ValueError
  #4 raw identifier interpolation in lsh F.expr strings -> reserved
     words and non-identifier column names now parse and stay
     bit-identical to the Column-API form.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_db_service_spark.operators import lsh  # noqa: E402
from vector_db_service_spark.sources import tables  # noqa: E402


# ---------------------------------------------------------------- lsh ids
@pytest.mark.parametrize("colname", ["order", "select", "band-key.col"])
def test_band_keys_sql_path_quotes_identifiers(spark, colname):
    """A reserved word or non-identifier column name must produce the
    SAME band keys through the single-parse SQL path as through the
    Column API — before _quoted_ident, `order` failed to parse and a
    dotted name could bind to the wrong expression."""
    from pyspark.sql import functions as F

    planes = lsh.hyperplanes(8, 4, lsh.SEED)
    df = spark.range(50).select(
        F.expr(
            "transform(sequence(1, 8), i -> "
            "cast(pmod(id * i, 31) as float) / 31.0f)"
        ).alias(colname)
    )
    via_sql = df.select(
        F.col("`" + colname + "`").alias("v"),
        lsh.band_keys(colname, planes, 2).alias("k"),
        lsh.signature_bits(colname, planes).alias("b"),
    )
    via_col = df.select(
        lsh.band_keys(F.col("`" + colname + "`"), planes, 2).alias("k"),
        lsh.signature_bits(F.col("`" + colname + "`"), planes).alias("b"),
    )
    a = [(r["k"], r["b"]) for r in via_sql.collect()]
    b = [(r["k"], r["b"]) for r in via_col.collect()]
    assert a == b


# ------------------------------------------------------- embedding_dim
def _write_parts(tmpdir: str, parts: list[list]) -> str:
    """Write a multi-part parquet dir with the given embedding values."""
    root = os.path.join(tmpdir, "embeddings.parquet")
    os.makedirs(root, exist_ok=True)
    for i, vals in enumerate(parts):
        t = pa.table({
            "vec_id": pa.array(range(len(vals)), pa.int64()),
            "embedding": pa.array(vals, pa.list_(pa.float32())),
        })
        pq.write_table(t, os.path.join(root, f"part-{i:05d}.parquet"))
    return tmpdir


def test_embedding_dim_skips_empty_first_part(tmp_path):
    d = _write_parts(str(tmp_path), [[], [[1.0, 2.0, 3.0]]])
    assert tables.embedding_dim(d) == 3


def test_embedding_dim_skips_leading_nulls(tmp_path):
    d = _write_parts(str(tmp_path), [[None, None, [1.0, 2.0]]])
    assert tables.embedding_dim(d) == 2


def test_embedding_dim_all_null_raises_loudly(tmp_path):
    d = _write_parts(str(tmp_path), [[None], []])
    with pytest.raises(ValueError, match="no non-null value"):
        tables.embedding_dim(d)


def test_embedding_dim_missing_dir_raises(tmp_path):
    os.makedirs(os.path.join(str(tmp_path), "embeddings.parquet"))
    with pytest.raises(FileNotFoundError):
        tables.embedding_dim(str(tmp_path))


# ------------------------------------------------------ cache registry
def test_index_state_caches_registry():
    """Every module-level memo the bench must snapshot/restore is in the
    registry, and each entry is the LIVE module dict (identity, not a
    copy) — a copy would make the restore discipline a no-op."""
    from vector_db_service_spark.benchutil import index_state_caches
    from vector_db_service_spark.operators import ann, dedup, grid, knn, store

    caches = index_state_caches()
    assert all(isinstance(c, dict) for c in caches)
    assert any(c is dedup._LABELS_CACHE for c in caches)
    assert any(c is ann._KM_CENTERS_CACHE for c in caches)
    assert any(c is ann._COARSE_CACHE for c in caches)
    assert any(c is knn._QVEC_CACHE for c in caches)
    assert any(c is grid._BOUNDS_CACHE for c in caches)
    assert any(c is store._STORED_SIG_CACHE for c in caches)


def test_prewarm_covers_registered_ann_keys(spark, sf_dir):
    """prewarm_index_state must build exactly the index state the
    registered queries request: after a prewarm on a cold cache, a
    probe query's own build path finds every key warm (no new keys
    appear when the query constructs its plan)."""
    from vector_db_service_spark.benchutil import (
        index_state_caches,
        prewarm_index_state,
    )
    from vector_db_service_spark.operators import ann, knn

    saved = [dict(c) for c in index_state_caches()]
    try:
        for c in index_state_caches():
            c.clear()
        prewarm_index_state(spark, sf_dir)
        km_keys = set(ann._KM_CENTERS_CACHE)
        coarse_keys = set(ann._COARSE_CACHE)
        qvec_keys = set(knn._QVEC_CACHE)
        # the fit paths the registry's n_lists=7 queries take
        ann.mllib_km_centers(spark, sf_dir, 7)
        ann._coarse_centers(spark, sf_dir, 7)
        knn.query_vector_rows(spark, sf_dir, [0, 1, 2, 3, 4])
        assert set(ann._KM_CENTERS_CACHE) == km_keys
        assert set(ann._COARSE_CACHE) == coarse_keys
        assert set(knn._QVEC_CACHE) == qvec_keys
    finally:
        for c, s in zip(index_state_caches(), saved):
            c.clear()
            c.update(s)


# ------------------------------------------------------------- skyline
def test_skyline_crafted_dominance(spark):
    """Crafted rows: dominated points die, Pareto points survive, and
    exact ties on BOTH dimensions survive together (neither dominates)."""
    from vector_db_service_spark.operators.relational import _skyline_survivors

    rows = [
        # (group, id, price, d_day)
        ("g", 1, 10.0, 100),   # skyline (cheapest)
        ("g", 2, 20.0, 200),   # skyline (most recent at its price range)
        ("g", 3, 20.0, 150),   # dominated by 2 (equal price, older)
        ("g", 4, 30.0, 150),   # dominated by 2 (pricier, older)
        ("g", 5, 15.0, 100),   # dominated by 1 (pricier, same recency)
        ("g", 6, 25.0, 250),   # skyline
        ("g", 7, 25.0, 250),   # exact tie of 6 -> BOTH survive
        ("h", 8, 99.0, 1),     # separate group: alone -> skyline
    ]
    df = spark.createDataFrame(
        rows, "grp string, o_orderkey int, price double, d_day int"
    )
    got = sorted(
        r["o_orderkey"]
        for r in _skyline_survivors(df, ["grp"]).collect()
    )
    assert got == [1, 2, 6, 7, 8]


def test_skyline_bucket_pruning_is_lossless(spark, sf_dir):
    """The local-prune stage must not change the result for ANY bucket
    count: a point dominated inside any subset is dominated globally,
    so survivors of stage 1 always contain the true skyline."""
    from vector_db_service_spark.operators.relational import skyline_orders

    base = None
    for buckets in (1, 3, 16):
        rows = sorted(
            (r["o_orderpriority"], r["o_orderkey"], r["price"], r["d_day"])
            for r in skyline_orders(spark, sf_dir, prune_buckets=buckets).collect()
        )
        if base is None:
            base = rows
            assert rows, "skyline must be non-empty"
        else:
            assert rows == base


def test_skyline_randomized_vs_bruteforce(spark):
    """200 seeded random points across 3 groups, duplicates included:
    the window algebra must agree with a quadratic python dominance
    check on every point."""
    import random

    from vector_db_service_spark.operators.relational import _skyline_survivors

    rng = random.Random(42)
    rows = [
        (f"g{rng.randrange(3)}", i, float(rng.randrange(20)), rng.randrange(20))
        for i in range(200)
    ]

    def dominated(p, pts):
        return any(
            q[0] == p[0]
            and q[2] <= p[2] and q[3] >= p[3]
            and (q[2] < p[2] or q[3] > p[3])
            for q in pts
        )

    expect = sorted(r[1] for r in rows if not dominated(r, rows))
    df = spark.createDataFrame(
        rows, "grp string, o_orderkey int, price double, d_day int"
    )
    got = sorted(
        r["o_orderkey"] for r in _skyline_survivors(df, ["grp"]).collect()
    )
    assert got == expect


# ------------------------------------------------- durable km centers
def test_km_centers_survive_cold_start(spark, sf_dir, monkeypatch):
    """r11 verdict #5: the fitted kmeans|| centers persist next to the
    stored IVF index and restore on cold start. A fresh process
    (cleared memo) must see NO KMeans fit job, and the restored list
    must be bit-identical INCLUDING ORDER — list_id routing depends on
    each center's position in the fitted sequence."""
    from pyspark.ml.clustering import KMeans

    from vector_db_service_spark.operators import ann

    saved = dict(ann._KM_CENTERS_CACHE)
    try:
        ann._KM_CENTERS_CACHE.clear()
        # first cold call: loads the durable table if a prior session
        # persisted it, else fits once and persists — either way the
        # parquet exists afterwards and the memo is warm
        first = ann.mllib_km_centers(spark, sf_dir, 7)

        ann._KM_CENTERS_CACHE.clear()  # simulate a process restart

        def _no_fit(self, dataset):
            raise AssertionError(
                "cold start with persisted centers ran a KMeans fit job"
            )

        monkeypatch.setattr(KMeans, "fit", _no_fit)
        second = ann.mllib_km_centers(spark, sf_dir, 7)
        assert second == first
    finally:
        ann._KM_CENTERS_CACHE.clear()
        ann._KM_CENTERS_CACHE.update(saved)


def test_km_centers_staleness_contract(spark, tmp_path):
    """A persisted centers table is honored only while the embeddings
    table's path_signature matches: a dataset rewrite, a missing table,
    or an n_lists mismatch each force a refit (load returns None)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from vector_db_service_spark.operators import store

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    emb = corpus / "embeddings.parquet"
    pq.write_table(
        pa.table({"vec_id": [1, 2], "embedding": [[0.1, 0.2], [0.3, 0.4]]}),
        emb,
    )
    root = str(tmp_path / "idx")
    sfd = str(corpus)
    centers = [[float(i), float(i) + 0.5] for i in range(3)]

    assert store.load_km_centers(spark, sfd, 3, root) is None  # absent
    store.save_km_centers(spark, sfd, 3, centers, root)
    assert store.load_km_centers(spark, sfd, 3, root) == centers
    assert store.load_km_centers(spark, sfd, 5, root) is None  # n_lists
    time.sleep(0.02)  # ensure the rewrite moves mtime_ns
    pq.write_table(
        pa.table({"vec_id": [1, 2], "embedding": [[0.9, 0.2], [0.3, 0.4]]}),
        emb,
    )
    assert store.load_km_centers(spark, sfd, 3, root) is None  # rewritten


# --------------------------------------------- zorder + funnel semantics
def test_zorder_buckets_are_tight_rectangles(spark, sf_dir):
    """The locality CLAIM of rel_zorder_locality: every 10-bit Morton
    prefix bucket covers a rectangle of at most 32x32 grid cells (the
    low 5 bits of each dimension), which is exactly the min/max
    file-pruning property a Z-ordered layout buys at scale. The shared
    interleave text (parity-checked) is the definition; this pins the
    consequence."""
    from vector_db_service_spark.operators import relational

    rows = relational.zorder_locality(spark, sf_dir).collect()
    assert rows, "no buckets"
    assert len(rows) <= 1024
    for r in rows:
        assert 0 <= r["z_bucket"] < 1024
        assert 0 <= r["x_span"] <= 31, r
        assert 0 <= r["y_span"] <= 31, r
        assert r["x_max"] - r["x_min"] == r["x_span"]
        # the bucket's rectangle corner must agree with its prefix:
        # the prefix's x-bits are x_min >> 5's high bits
        assert (r["x_min"] >> 5) == (r["x_max"] >> 5)
        assert (r["y_min"] >> 5) == (r["y_max"] >> 5)


def test_event_funnel_strict_sequence_semantics(spark, tmp_path):
    """sf0.01 converts every user (dense per-user histories), so the
    oracle parity alone cannot distinguish strict-sequence from the
    naive per-type-min funnel. Crafted corpus:
      u1: signup < click < purchase          -> full conversion
      u2: click BEFORE signup, none after    -> signup only
      u3: signup, click, purchase BEFORE click -> signup + click
      u4: click at ts == signup (not strict) -> signup only
      u5: no signup at all                   -> counted in n_users only
    Naive per-type-min would count u2 and u4 as clicks and u3 as a
    purchase; strict-sequence must not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vector_db_service_spark.operators import relational

    us = 1_000_000
    rows = [
        (1, "signup", 1), (1, "click", 2), (1, "purchase", 3),
        (2, "click", 1), (2, "signup", 2),
        (3, "signup", 1), (3, "purchase", 2), (3, "click", 3),
        (4, "signup", 5), (4, "click", 5),
        (5, "click", 1), (5, "purchase", 2),
    ]
    corpus = tmp_path / "funnel"
    corpus.mkdir()
    pq.write_table(
        pa.table({
            "event_id": list(range(len(rows))),
            "ts": pa.array([r[2] * us for r in rows],
                           type=pa.timestamp("us")),
            "user_id": [r[0] for r in rows],
            "event_type": [r[1] for r in rows],
            "value": [0.0] * len(rows),
            "props": ["{}"] * len(rows),
        }),
        corpus / "events.parquet",
    )
    out = relational.event_funnel(spark, str(corpus)).collect()[0]
    assert out["n_users"] == 5
    assert out["n_signup"] == 4          # u1..u4
    assert out["n_seq_click"] == 2       # u1, u3 only
    assert out["n_seq_purchase"] == 1    # u1 only
    assert out["click_rate"] == 0.5
    assert out["purchase_rate"] == 0.5
