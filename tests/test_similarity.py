from __future__ import annotations

from pyspark.sql import functions as F

from dff.similarity import brute_force_topk, ivf_topk

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _queries(spark, n=5):
    emb = spark.read.parquet(EMB)
    return emb.orderBy("vec_id").limit(n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_brute_force_self_query_rank1(spark):
    """Querying with vectors from the corpus must return themselves at rank 1."""
    emb = spark.read.parquet(EMB)
    q = _queries(spark, 5)
    top = brute_force_topk(emb, q, k=3).collect()
    rank1 = {r["query_id"]: r["item_id"] for r in top if r["rank"] == 1}
    assert rank1 == {qid: qid for qid in rank1}
    for r in top:
        if r["rank"] == 1:
            assert r["cosine"] > 0.999999


def test_ivf_recall_vs_brute_force(spark):
    emb = spark.read.parquet(EMB).cache()
    q = _queries(spark, 10)
    exact = brute_force_topk(emb, q, k=5)
    approx = ivf_topk(emb, q, k=5, n_centroids=16, nprobe=8)
    e = {(r["query_id"], r["item_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["item_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # full probe == brute force
    full = ivf_topk(emb, q, k=5, n_centroids=8, nprobe=8)
    f = {(r["query_id"], r["item_id"]) for r in full.collect()}
    assert f == e
    emb.unpersist()


def test_topk_scores_map_side_no_shuffle_of_items(spark):
    """The query matrix is closed over the MapInPandas scorer (no join of
    any kind); items are scanned once, unshuffled."""
    emb = spark.read.parquet(EMB)
    q = _queries(spark, 2)
    plan = brute_force_topk(emb, q, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Join" not in plan


def test_ivf_index_build_once_query_many(spark):
    """IvfIndex: one build (assignment persisted), multiple query batches;
    results identical to one-shot ivf_topk with the same parameters, and
    dirty queries (null embedding) are tolerated by the brute-force path."""
    from dff.similarity import build_ivf_index

    emb = spark.read.parquet(EMB)
    index = build_ivf_index(emb, n_centroids=8, persist=True)
    try:
        for qn in (2, 3):
            q = _queries(spark, qn)
            via_index = {
                (r["query_id"], r["item_id"], r["rank"])
                for r in index.query(q, k=4, nprobe=8).collect()
            }
            one_shot = {
                (r["query_id"], r["item_id"], r["rank"])
                for r in ivf_topk(emb, q, k=4, n_centroids=8, nprobe=8).collect()
            }
            assert via_index == one_shot
    finally:
        index.unpersist()


def test_brute_force_tolerates_null_and_ragged_embeddings(spark):
    """ADVICE r02: null query embeddings must be dropped (not crash the
    numpy matmul); ragged dims must raise a clear error; null/ragged item
    embeddings are skipped."""
    import pytest
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    items = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None), (4, [1.0, 0.0, 0.5])],
        schema,
    )
    q = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, None)], schema
    ).withColumnRenamed("vec_id", "query_id")
    out = brute_force_topk(items, q, k=2)
    rows = out.collect()
    # null query dropped; null + wrong-dim items skipped
    assert {r["query_id"] for r in rows} == {10}
    assert {r["item_id"] for r in rows} == {1, 2}

    ragged_q = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [1.0, 0.0, 0.3])], schema
    ).withColumnRenamed("vec_id", "query_id")
    with pytest.raises(ValueError, match="inconsistent dimensions"):
        brute_force_topk(items, ragged_q, k=2)


def test_ivf_index_save_load_prunes_partitions(spark, tmp_path):
    """VERDICT r03 #6: a reloaded index (assigned partitioned by cell)
    must (a) return exactly what the in-memory index returns, and (b)
    scan ONLY the probed cells — a static `cell IN (...)` partition
    filter in the file scan, not a full-table read."""
    from dff.similarity import IvfIndex, build_ivf_index

    items = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = items.limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = build_ivf_index(items, n_centroids=8)
    idx.save(str(tmp_path / "ivf"))
    loaded = IvfIndex.load(spark, str(tmp_path / "ivf"))
    mem = sorted(map(tuple, idx.query(queries, k=5, nprobe=2).collect()))
    out = loaded.query(queries, k=5, nprobe=2)
    dsk = sorted(map(tuple, out.collect()))
    assert mem == dsk and len(dsk) == 25
    # the driver-side assignment must also agree with the distributed UDF
    udf = sorted(
        map(tuple, idx.query(queries, k=5, nprobe=2, prune_cells=False).collect())
    )
    assert udf == mem
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan
    probed = [int(v) for v in m.group(1).split(",")]
    assert 0 < len(probed) < 8  # strictly fewer than all cells scanned


def test_brute_force_all_null_queries_returns_empty(spark):
    """ADVICE r03: when EVERY query embedding is null the early-return
    guard must yield an empty frame with the output schema — not an
    opaque numpy IndexError from a 1-D empty matrix."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    items = spark.createDataFrame([(1, [1.0, 0.0])], schema)
    q = spark.createDataFrame(
        [(10, None), (11, None)], schema
    ).withColumnRenamed("vec_id", "query_id")
    out = brute_force_topk(items, q, k=3)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "item_id", "cosine", "rank"}


def test_ivf_incremental_add_matches_rebuild_full_probe(spark, tmp_path):
    """IvfIndex.add (incremental, frozen centroids) must return the exact
    brute-force top-k under full probe — same invariant as the one-shot
    build — and IvfIndex.append must make a reloaded index see the added
    batch."""
    from dff.similarity import IvfIndex, build_ivf_index, ivf_topk

    items = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = items.where(F.xxhash64("vec_id") % 2 == 0)
    new = items.where(F.xxhash64("vec_id") % 2 != 0)
    queries = items.limit(4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    incr = build_ivf_index(old, n_centroids=8).add(new)
    got = sorted(map(tuple, incr.query(queries, k=5, nprobe=8).collect()))
    want = sorted(
        map(tuple, ivf_topk(items, queries, k=5, n_centroids=8, nprobe=8).collect())
    )
    # full probe is exact on both paths, so ranks/ids/cosines must agree
    # even though the two indexes trained on different samples
    assert [t[:2] for t in got] == [t[:2] for t in want]

    # on-disk append: reloaded index covers old + new
    base = build_ivf_index(old, n_centroids=8)
    base.save(str(tmp_path / "ivf"))
    base.append(new, str(tmp_path / "ivf"))
    loaded = IvfIndex.load(spark, str(tmp_path / "ivf"))
    assert loaded.assigned.count() == items.count()
    disk = sorted(map(tuple, loaded.query(queries, k=5, nprobe=8).collect()))
    assert [t[:2] for t in disk] == [t[:2] for t in got]


def test_ivf_training_sample_is_partition_invariant(spark):
    """r6 (VERDICT r05 #3): the centroid training sample is fully
    hash-defined — building the index from differently-partitioned
    identical data must train IDENTICAL centroids and assign identical
    cells (the old hash-filter + bare limit took whatever partitions
    responded first)."""
    import numpy as np

    from dff.similarity import build_ivf_index

    items = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = build_ivf_index(items, n_centroids=4)
    b = build_ivf_index(items.repartition(17), n_centroids=4)
    assert np.array_equal(a.centroids, b.centroids)
    cells_a = sorted(map(tuple, a.assigned.select("item_id", "cell").collect()))
    cells_b = sorted(map(tuple, b.assigned.select("item_id", "cell").collect()))
    assert cells_a == cells_b


def test_ivf_training_sample_ignores_null_ids(spark):
    """Rows with a NULL item id are never sampled for centroid training, in
    either pass: adding them leaves the trained centroids unchanged."""
    import numpy as np

    from dff.similarity import build_ivf_index

    items = spark.read.parquet(EMB)
    nulls = items.where(F.col("vec_id") % 5 == 0).withColumn(
        "vec_id", F.lit(None).cast("long")
    )
    a = build_ivf_index(items, n_centroids=4)
    b = build_ivf_index(items.unionByName(nulls), n_centroids=4)
    assert np.array_equal(a.centroids, b.centroids)


def test_ivf_training_sample_rejects_nondeterministic_source(spark):
    """The two sample passes must see the same ids; a source that
    re-draws its ids per evaluation fails with a clear error instead of a
    KeyError from the sort."""
    import random

    import pytest

    from dff.similarity import build_ivf_index

    draw = F.udf(lambda: random.getrandbits(40), "long").asNondeterministic()
    items = spark.read.parquet(EMB).withColumn("vec_id", draw())
    with pytest.raises(ValueError, match="must be deterministic"):
        build_ivf_index(items, n_centroids=4)


def test_ivf_training_sample_needs_no_lateral_alias(spark):
    """The sample hash is defined on the source id column, so the build
    resolves with lateral column alias resolution switched off."""
    import numpy as np

    from dff.similarity import build_ivf_index

    items = spark.read.parquet(EMB)
    key = "spark.sql.lateralColumnAlias.enableImplicitResolution"
    a = build_ivf_index(items, n_centroids=4)
    spark.conf.set(key, "false")
    try:
        b = build_ivf_index(items, n_centroids=4)
    finally:
        spark.conf.unset(key)
    assert np.array_equal(a.centroids, b.centroids)
