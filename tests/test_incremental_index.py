"""End-to-end incremental index maintenance (I11 + O9/O10 at the file
level): a mutation batch touching ONE library must rewrite only that
library's index partition — the other partitions' files stay untouched.
This is the 100 TB contract: index maintenance cost scales with the
mutation's blast radius, not the corpus.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vector_db_service_spark.operators import lsh as lsh_ops  # noqa: E402
from vector_db_service_spark.sources.tables import load  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.001")


def _partition_state(index_dir: str) -> dict[str, tuple[str, float]]:
    """label partition -> (file list, latest mtime)."""
    state = {}
    for entry in os.listdir(index_dir):
        if not entry.startswith("label="):
            continue
        pdir = os.path.join(index_dir, entry)
        files = sorted(f for f in os.listdir(pdir) if f.endswith(".parquet"))
        mtime = max(os.path.getmtime(os.path.join(pdir, f)) for f in files)
        state[entry] = (",".join(files), mtime)
    return state


def test_mutation_rewrites_only_affected_partition(spark, tmp_path):
    index_dir = str(tmp_path / "lsh_index")
    emb = load(spark, SF, "embeddings")
    planes = lsh_ops.hyperplanes(64)

    # initial build: the index table partitioned by library
    lsh_ops.build_index(emb, planes).write.partitionBy("label").parquet(index_dir)
    before = _partition_state(index_dir)
    assert len(before) == 10

    # mutation batch: new vectors for library 3 only (ids offset to be new)
    n3 = emb.filter(F.col("label") == 3).count()
    mutation = (
        emb.filter(F.col("label") == 3)
        .withColumn("vec_id", F.col("vec_id") + 1_000_000)
    )

    # incremental maintenance: recompute ONLY the affected partition from
    # base + mutation, dynamic-partition-overwrite that partition
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    affected = emb.filter(F.col("label") == 3).unionByName(mutation)
    lsh_ops.build_index(affected, planes).write.mode("overwrite") \
        .partitionBy("label").parquet(index_dir)

    after = _partition_state(index_dir)
    # affected partition rewritten...
    assert after["label=3"] != before["label=3"]
    # ...every other partition byte-identical (same files, same mtimes)
    for part in before:
        if part != "label=3":
            assert after[part] == before[part], f"{part} was rewritten"

    # and the rebuilt index reflects the mutation: old + mutated rows
    idx = spark.read.parquet(index_dir).filter(F.col("label") == 3)
    assert idx.count() == 2 * n3 * lsh_ops.NUM_HASHES


def test_stored_index_probe_matches_derived_and_survives_sessions(spark, tmp_path):
    """operators/store.py: the materialized index probed from a DIFFERENT
    session gives the same result as the derived-frame probe, and a
    one-library rebuild rewrites only that library's partition."""
    from vector_db_service_spark.operators import grid as grid_ops
    from vector_db_service_spark.operators import store

    root = str(tmp_path / "vdbs_indexes")

    store.rebuild_library(spark, SF, 1, "lsh", root=root)
    store.rebuild_library(spark, SF, 2, "grid", root=root)
    base = store.index_root(SF, root)

    stored = store.lsh_probe(spark, SF, library=1, query_id=0, k=10, root=root)
    derived = lsh_ops.search(spark, SF, library=1, query_id=0, k=10, metric="cosine")
    assert [tuple(r) for r in stored.collect()] == [tuple(r) for r in derived.collect()]

    stored_g = store.grid_probe(spark, SF, library=2, query_id=0, k=10, root=root)
    derived_g = grid_ops.search(spark, SF, library=2, query_id=0, k=10,
                                metric="euclidean")
    assert [tuple(r) for r in stored_g.collect()] == [tuple(r) for r in derived_g.collect()]

    # a SECOND session (fresh state, same cluster) probes the same store
    # without rebuilding: partition dir exists, so ensure_library no-ops
    other = spark.newSession()
    before = _partition_state(os.path.join(base, "lsh_index"))
    stored2 = store.lsh_probe(other, SF, library=1, query_id=0, k=10, root=root)
    assert [tuple(r) for r in stored2.collect()] == [tuple(r) for r in derived.collect()]
    assert _partition_state(os.path.join(base, "lsh_index")) == before

    # rebuilding library 1 must not touch other libraries' partitions
    store.rebuild_library(spark, SF, 4, "lsh", root=root)
    after = _partition_state(os.path.join(base, "lsh_index"))
    assert set(after) == {"label=1", "label=4"}
    assert after["label=1"] == before["label=1"]

    # registry reflects every rebuild
    reg = dict(
        (r["label"], r["algorithm"])
        for r in store.stored_registry(spark, SF, root=root).collect()
    )
    assert reg == {1: "lsh", 2: "grid", 4: "lsh"}


def test_warm_probe_is_probe_shaped(spark, tmp_path, monkeypatch):
    """A WARM stored-index probe must not pay a freshness job per call
    (VERDICT r5 Wrong #1): the source stamp is a file stat and the
    stored stamp is memoized on the registry partition's own files, so
    repeat probes rebuild nothing and read no stored stamp — they are
    partition-pruned read + re-rank only."""
    from vector_db_service_spark.operators import store

    root = str(tmp_path / "idx")
    calls = {"rebuild": 0, "stamp_read": 0}

    def counting(name, real):
        def wrapped(*args, **kwargs):
            calls[name] += 1
            return real(*args, **kwargs)
        return wrapped

    monkeypatch.setattr(store, "rebuild_library",
                        counting("rebuild", store.rebuild_library))
    monkeypatch.setattr(store, "_read_stored_sig",
                        counting("stamp_read", store._read_stored_sig))

    # cold: the first probe builds the library's index
    store.lsh_probe(spark, SF, library=1, query_id=0, k=10, root=root).collect()
    assert calls["rebuild"] == 1
    warm_start = dict(calls)
    # warm: three more probes, no rebuild and no stored-stamp read
    for _ in range(3):
        store.lsh_probe(spark, SF, library=1, query_id=0, k=10, root=root).collect()
    assert calls == warm_start, "warm probe rebuilt or re-read its stamp"

    # forced write->read path stays covered: rebuild_and_probe equals the
    # derived probe result
    out = store.rebuild_and_probe(spark, SF, library=1, query_id=0, k=10, root=root)
    derived = lsh_ops.search(spark, SF, library=1, query_id=0, k=10, metric="cosine")
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in derived.collect()]


def test_double_rebuild_last_writer_wins(spark, tmp_path):
    """Documented concurrency invariant (store.py module docstring): two
    sessions that both decide to rebuild the same stale library converge
    — the second dynamic-partition overwrite replaces the first's files
    wholesale within `label=N`, payloads are row-identical (deterministic
    build from the same source), and the probe result is unchanged."""
    from vector_db_service_spark.operators import store

    root = str(tmp_path / "idx")
    s2 = spark.newSession()
    # both "sessions" rebuild the same library back-to-back (the serial
    # schedule of the race; partition-level atomicity makes interleaved
    # file writes invisible to readers)
    store.rebuild_library(spark, SF, 1, "lsh", root=root)
    first = store.lsh_probe(spark, SF, library=1, query_id=0, k=10, root=root).collect()
    store.rebuild_library(s2, SF, 1, "lsh", root=root)
    base = store.index_root(SF, root)
    # exactly one generation of files in the partition, not a mix
    pdir = os.path.join(base, "lsh_index", "label=1")
    n_files = len([f for f in os.listdir(pdir) if f.endswith(".parquet")])
    idx = spark.read.parquet(os.path.join(base, "lsh_index")).filter(F.col("label") == 1)
    n_vec = load(spark, SF, "embeddings").filter(F.col("label") == 1).count()
    assert idx.select("vec_id").distinct().count() == n_vec
    assert n_files >= 1
    second = store.lsh_probe(s2, SF, library=1, query_id=0, k=10, root=root).collect()
    assert [tuple(r) for r in first] == [tuple(r) for r in second]


def test_ensure_library_detects_regenerated_dataset(spark, tmp_path):
    """ADVICE r2: a dataset regenerated under the same sf-tag directory
    must NOT be served a stale index — ensure_library compares the
    stored source stamp against the current embeddings files and
    rebuilds on mismatch."""
    from vector_db_service_spark.operators import store

    sf_dir = str(tmp_path / "sfX")
    root = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings").filter(F.col("label").isin(1, 2))
    emb.write.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    base = store.ensure_library(spark, sf_dir, 1, "lsh", root=root)
    before = _partition_state(os.path.join(base, "lsh_index"))

    # same data: second ensure is a no-op (stamp matches)
    store.ensure_library(spark, sf_dir, 1, "lsh", root=root)
    assert _partition_state(os.path.join(base, "lsh_index")) == before

    # dataset regenerated in place: extra rows for library 1
    regen = emb.unionByName(
        emb.filter(F.col("label") == 1).withColumn(
            "vec_id", F.col("vec_id") + 1_000_000
        )
    )
    regen.write.mode("overwrite").parquet(os.path.join(sf_dir, "embeddings.parquet"))

    store.ensure_library(spark, sf_dir, 1, "lsh", root=root)
    after = _partition_state(os.path.join(base, "lsh_index"))
    assert after["label=1"] != before["label=1"], "stale index served"

    # and the rebuilt index covers the regenerated rows
    idx = spark.read.parquet(os.path.join(base, "lsh_index")).filter(
        F.col("label") == 1
    )
    n1 = regen.filter(F.col("label") == 1).count()
    assert idx.select("vec_id").distinct().count() == n1

    # a registry written by an older layout (no stamp column) is treated
    # as stale; it holds old-layout rows for other libraries too, so
    # after the rebuild the registry mixes layouts
    reg_path = os.path.join(base, "registry")
    spark.createDataFrame(
        [(0, "flat", 5, 9), (1, "lsh", 5, 9)],
        "label int, algorithm string, n_rows long, max_vec_id long",
    ).write.mode("overwrite").partitionBy("label").parquet(reg_path)
    mid = _partition_state(os.path.join(base, "lsh_index"))
    store.ensure_library(spark, sf_dir, 1, "lsh", root=root)
    rebuilt = _partition_state(os.path.join(base, "lsh_index"))
    assert rebuilt != mid
    # ...exactly once: the stamp is read from the library's own registry
    # partition, so the mixed layout cannot hide it
    reg_before = _partition_state(reg_path)
    store.ensure_library(spark, sf_dir, 1, "lsh", root=root)
    assert _partition_state(os.path.join(base, "lsh_index")) == rebuilt
    assert _partition_state(reg_path) == reg_before


def test_update_in_place_is_stale(spark, tmp_path):
    """perfbench known defect 2: a batch that rewrites vectors without
    changing the row count or the max vec_id (update-only) must make the
    stored lsh index and the IVF centroids stale — the reference rebuilds
    on every mutation. On a label=N-partitioned table a write to one
    library leaves another library's stored state untouched."""
    from vector_db_service_spark.operators import store

    root = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings").filter(F.col("label").isin(1, 2))
    doubled = F.transform("embedding", lambda x: x * F.lit(2.0))
    qid = emb.agg(F.min("vec_id")).head()[0]

    sf_dir = str(tmp_path / "sfU")
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    emb.write.parquet(emb_path)
    base = store.ensure_library(spark, sf_dir, 1, "lsh", root=root)
    store.ivf_probe(spark, sf_dir, query_id=qid, k=10, root=root).collect()
    lsh_before = _partition_state(os.path.join(base, "lsh_index"))
    ivf_before = _partition_state(os.path.join(base, "ivf_centroids"))

    # library 1's vectors rewritten in place: same ids, same row count
    emb.withColumn(
        "embedding",
        F.when(F.col("label") == 1, doubled).otherwise(F.col("embedding")),
    ).write.mode("overwrite").parquet(emb_path)

    store.ensure_library(spark, sf_dir, 1, "lsh", root=root)
    lsh_after = _partition_state(os.path.join(base, "lsh_index"))
    assert lsh_after["label=1"] != lsh_before["label=1"], "stale lsh index"
    store.ivf_probe(spark, sf_dir, query_id=qid, k=10, root=root).collect()
    ivf_after = _partition_state(os.path.join(base, "ivf_centroids"))
    assert ivf_after != ivf_before, "stale ivf centroids"

    # label=N layout: flat libraries (row_count does not see partitioned
    # files yet, so lsh/grid store no index rows on this layout)
    sf_p = str(tmp_path / "sfP")
    p_path = os.path.join(sf_p, "embeddings.parquet")
    emb.write.partitionBy("label").parquet(p_path)
    base_p = store.ensure_library(spark, sf_p, 1, "flat", root=root)
    store.ensure_library(spark, sf_p, 2, "flat", root=root)

    def store_files() -> dict:
        return {
            os.path.relpath(os.path.join(d, f), base_p):
                os.path.getmtime(os.path.join(d, f))
            for d, _dirs, files in os.walk(base_p)
            for f in files if f.endswith(".parquet")
        }

    before = store_files()
    emb.filter(F.col("label") == 2).withColumn(
        "embedding", doubled
    ).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("label").parquet(p_path)
    store.ensure_library(spark, sf_p, 1, "flat", root=root)
    assert store_files() == before, "library 1 rebuilt for a label=2 write"
    store.ensure_library(spark, sf_p, 2, "flat", root=root)
    changed = {f for f, m in store_files().items() if before.get(f) != m}
    assert changed and all(f.startswith("registry/label=2/") for f in changed)


def test_stored_ivf_centroids_freshness_and_probe_parity(spark, tmp_path):
    """The materialized IVF centroid table follows the same freshness
    contract as the lsh/grid stores: built lazily, served warm with no
    aggregation job, rebuilt when the dataset is regenerated in place;
    the stored probe equals the derived ivf_topk."""
    from vector_db_service_spark.operators import ann, store

    sf_dir = str(tmp_path / "sfY")
    root = str(tmp_path / "idx")
    emb = load(spark, SF, "embeddings")
    emb.write.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    stored = store.ivf_probe(spark, sf_dir, query_id=0, k=10, nprobe=2, root=root)
    derived = ann.ivf_topk(spark, sf_dir, query_id=0, k=10, nprobe=2)
    assert [tuple(r) for r in stored.collect()] == [tuple(r) for r in derived.collect()]

    base = store.index_root(sf_dir, root)
    before = _partition_state(os.path.join(base, "ivf_centroids"))
    # warm probe: no rebuild
    store.ivf_probe(spark, sf_dir, query_id=0, k=10, nprobe=2, root=root).collect()
    assert _partition_state(os.path.join(base, "ivf_centroids")) == before

    # regenerate the dataset in place: centroids must rebuild
    regen = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x * F.lit(2.0))
    )
    regen.unionByName(
        emb.limit(1).withColumn("vec_id", F.col("vec_id") + 5_000_000)
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "embeddings.parquet"))
    store.ivf_probe(spark, sf_dir, query_id=0, k=10, nprobe=2, root=root).collect()
    assert _partition_state(os.path.join(base, "ivf_centroids")) != before


def test_cdc_tree_cache_keeps_one_tree_per_corpus(spark, tmp_path):
    """versioned_cdc_tree keys its shared tree on the corpus files'
    identity; when the corpus is rewritten, the superseded tree is
    dropped from the memo and removed from disk, so a long-lived process
    holds one tree per corpus, not one per corpus change."""
    from vector_db_service_spark.operators import store

    sf_dir = str(tmp_path / "sfC")
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    emb = load(spark, SF, "embeddings").filter(F.col("label").isin(1, 2))
    emb.write.parquet(emb_path)

    def entries() -> list:
        rp = os.path.realpath(emb_path)
        return [v for k, v in store._CDC_TREE_CACHE.items() if k[0] == rp]

    _m, first = store.versioned_cdc_tree(spark, sf_dir)
    emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x * F.lit(2.0))
    ).write.mode("overwrite").parquet(emb_path)
    _m, second = store.versioned_cdc_tree(spark, sf_dir)
    _m, again = store.versioned_cdc_tree(spark, sf_dir)

    assert again == second != first
    assert [d for _m, d in entries()] == [second]
    assert not os.path.exists(first) and os.path.isdir(second)
