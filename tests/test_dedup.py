from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dff.dedup import (
    dedup_exact,
    embedding_near_dup_pairs,
    exact_duplicate_groups,
    exact_duplicate_losers,
    minhash_dedup_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    signature_agreement,
    simhash,
    simhash_near_dup_pairs,
)

BASE = (
    "spark executes distributed dataframe pipelines with catalyst optimizing "
    "logical plans into whole stage generated code across many partitions "
    "while tungsten manages memory layout and shuffle services move blocks"
)


def _corpus(spark):
    """4 docs: 0 and 1 near-identical, 2 a partial overlap, 3 unrelated."""
    rows = [
        (0, BASE),
        (1, BASE.replace("shuffle services", "the shuffle service")),
        (2, BASE[: len(BASE) // 2] + " entirely different tail about gardening and tomatoes"),
        (3, "completely unrelated text about cooking pasta with fresh basil and "
            "olive oil in a small kitchen on a sunday afternoon with friends"),
        (4, BASE),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    df = _corpus(spark)
    groups = exact_duplicate_groups(df, "text")
    assert groups.count() == 1 and groups.first()["n_docs"] == 2
    kept = dedup_exact(df, "text", "doc_id")
    assert kept.count() == 4
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {0, 1, 2, 3}


def test_exact_losers_are_distinct_and_drive_dedup_exact(spark):
    """Three identical copies lose two ids; an id repeated under two losing
    texts is still listed once, so a left join with the set never
    multiplies rows; dedup_exact is exactly the anti join with it."""
    rows = [(0, "a"), (1, "a"), (2, "a"), (3, "b"), (4, "c"), (5, "b"), (5, "c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    losers = exact_duplicate_losers(df, "text", "doc_id")
    assert sorted(r["doc_id"] for r in losers.collect()) == [1, 2, 5]
    tagged = df.join(losers.withColumn("lost", F.lit(True)), "doc_id", "left")
    assert tagged.count() == len(rows)
    kept = dedup_exact(df, "text", "doc_id")
    assert sorted(map(tuple, kept.collect())) == [(0, "a"), (3, "b"), (4, "c")]


def test_minhash_estimates_jaccard(spark):
    df = _corpus(spark)
    sigs = df.select(
        "doc_id", minhash_signature("text", num_hashes=128, k=9).alias("sig")
    )
    a = sigs.where(F.col("doc_id") == 0).first()["sig"]
    b = sigs.where(F.col("doc_id") == 1).first()["sig"]
    c = sigs.where(F.col("doc_id") == 3).first()["sig"]
    est_ab = sum(x == y for x, y in zip(a, b)) / len(a)
    est_ac = sum(x == y for x, y in zip(a, c)) / len(a)
    assert est_ab > 0.6          # near-dups agree on most positions
    assert est_ac < 0.2          # unrelated docs rarely agree
    # exact dup -> identical signature
    d = sigs.where(F.col("doc_id") == 4).first()["sig"]
    assert list(a) == list(d)


def test_minhash_lsh_pairs(spark):
    df = _corpus(spark)
    pairs = minhash_dedup_pairs(
        df, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 4) in found and (0, 1) in found and (1, 4) in found
    assert not any(3 in p for p in found)
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    assert est[(0, 4)] == 1.0


def test_simhash_near_dups(spark):
    df = _corpus(spark)
    sh = {r["doc_id"]: r["sh"] for r in df.select("doc_id", simhash("text").alias("sh")).collect()}
    assert sh[0] == sh[4]
    ham01 = bin(sh[0] ^ sh[1]).count("1")
    ham03 = bin(sh[0] ^ sh[3]).count("1")
    # near-dup pair clearly closer than unrelated pair (64-bit sketch)
    assert ham01 <= 20 and ham03 >= 24 and ham01 < ham03
    pairs = simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=3, prefix_bits=8)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 4) in found


def test_ngram_jaccard_pairs(spark):
    df = _corpus(spark)
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.4).collect()
    }
    assert pairs[(0, 4)] == 1.0
    assert 0.4 <= pairs[(0, 1)] < 1.0
    assert (0, 3) not in pairs


def test_embedding_near_dups_on_testdata(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # plant an exact duplicate vector with a new id
    dup = emb.limit(1).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    df = emb.unionByName(dup)
    pairs = embedding_near_dup_pairs(
        df, "vec_id", "embedding", dim=64, threshold=0.999, planes=8
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    first_id = emb.first()["vec_id"]
    assert (first_id, first_id + 100000) in found
    for r in pairs:
        assert r["cosine"] >= 0.999


def test_hot_bucket_cap_no_quadratic_blowup(spark):
    """Adversarial fixture: 300 byte-identical boilerplate docs would give
    300*299/2 ≈ 45k in-bucket pairs per table.  With the bucket cap the
    boilerplate bucket is dropped (those belong to exact dedup), the stage
    stays linear, and a planted near-dup pair living in cold buckets is
    still found."""
    rows = [(i, BASE) for i in range(300)]
    other = ("completely unrelated text about cooking pasta with fresh basil "
             "and olive oil in a small kitchen on a sunday afternoon")
    rows += [(1000, other), (1001, other)]  # identical pair in a COLD bucket
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_near_dup_pairs(
        df, "doc_id", "text", max_hamming=6, prefix_bits=8,
        n_tables=2, max_bucket_size=100,
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1000, 1001) in found
    # no pair from the capped boilerplate bucket survives
    assert not any(a < 300 and b < 300 for a, b in found)
    # minhash path: same fixture, same cap behavior
    mh = minhash_dedup_pairs(
        df, "doc_id", "text", num_hashes=32, bands=8,
        threshold=0.5, max_bucket_size=100,
    ).collect()
    mh_found = {(r["id_a"], r["id_b"]) for r in mh}
    assert (1000, 1001) in mh_found
    assert not any(a < 300 and b < 300 for a, b in mh_found)


def test_simhash_multi_table_recall_superset(spark):
    """Two rotation tables find at least everything one table finds (on a
    corpus with no hot buckets)."""
    df = _corpus(spark)
    one = {(r["id_a"], r["id_b"]) for r in simhash_near_dup_pairs(
        df, "doc_id", "text", max_hamming=20, prefix_bits=16, n_tables=1
    ).collect()}
    two = {(r["id_a"], r["id_b"]) for r in simhash_near_dup_pairs(
        df, "doc_id", "text", max_hamming=20, prefix_bits=16, n_tables=2
    ).collect()}
    assert one <= two


def test_arrow_signature_matches_expression(spark):
    """The numpy fast path must be bit-for-bit identical to the pure
    Catalyst expression path."""
    from dff.dedup import minhash_signature_arrow_udf
    from dff.textops import shingle_hashes
    df = _corpus(spark)
    h32 = F.transform(shingle_hashes("text", 9), lambda h: F.pmod(h, F.lit(4294967296)))
    sign = minhash_signature_arrow_udf(32, seed=7)
    # store h32 and double-reference it so the let_once lambda stays out
    # of the UDF argument (see minhash_dedup_pairs — Spark planner edge)
    both = df.select(
        "doc_id",
        minhash_signature("text", num_hashes=32, seed=7).alias("expr_sig"),
        h32.alias("__h32"),
    ).select(
        "doc_id",
        "expr_sig",
        F.when(F.size("__h32") >= 0, sign("__h32")).alias("arrow_sig"),
    ).collect()
    for r in both:
        assert list(r["expr_sig"]) == list(r["arrow_sig"]), r["doc_id"]


def test_signature_agreement_expression(spark):
    df = spark.createDataFrame(
        [([1, 2, 3, 4], [1, 2, 9, 9])], "a array<bigint>, b array<bigint>"
    )
    got = df.select(signature_agreement(F.col("a"), F.col("b")).alias("j")).first()["j"]
    assert got == pytest.approx(0.5)


def test_eager_false_is_lazy_and_equal(spark):
    """ADVICE r02: eager=False must skip the construction-time persist/count
    job entirely (plan stays lazy) and return identical pairs."""
    df = _corpus(spark)
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    lazy = minhash_dedup_pairs(
        df, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5, eager=False
    )
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before), "eager=False ran a job at construction"
    eager = minhash_dedup_pairs(
        df, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
    )
    assert {tuple(r) for r in lazy.collect()} == {tuple(r) for r in eager.collect()}


def test_minhash_slim_and_payload_band_shapes_identical(spark):
    """r4: the slim two-phase banding (40 B/doc band shuffle + one
    signature join) must return exactly the pairs the payload shape
    (signatures carried through the band shuffle) returns."""
    from dff.sources import synthetic_documents

    docs = synthetic_documents(spark, 2000, dup_every=10)
    kw = dict(num_hashes=64, bands=16, threshold=0.5)
    slim = minhash_dedup_pairs(docs, "doc_id", "text", slim_bands=True, **kw)
    fat = minhash_dedup_pairs(docs, "doc_id", "text", slim_bands=False, **kw)
    rs = sorted((r["id_a"], r["id_b"], round(r["est_jaccard"], 9)) for r in slim.collect())
    rf = sorted((r["id_a"], r["id_b"], round(r["est_jaccard"], 9)) for r in fat.collect())
    assert rs == rf
    assert len(rs) >= 150  # the planted ~1/10 near-dups are found


def test_contaminated_docs_flags_planted_overlap_only(spark):
    from dff.contamination import contaminated_docs

    secret = "alpha beta gamma delta epsilon zeta eta theta"  # one 8-gram
    corpus = spark.createDataFrame(
        [
            (1, f"intro words here {secret} trailing tail words"),
            (2, "completely unrelated text with many distinct words inside"),
            (3, f"{secret} immediately at the start of this document"),
            (4, "short doc"),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(100, f"benchmark question mentions {secret} and an answer")],
        "bid bigint, text string",
    )
    got = {
        r["doc_id"]: r["n_shared"]
        for r in contaminated_docs(corpus, bench, "doc_id", "text", n=8).collect()
    }
    assert set(got) == {1, 3}
    assert all(v >= 1 for v in got.values())


def test_ngram_containment_asymmetric_pairs(spark):
    from dff.dedup import ngram_containment_pairs, ngram_jaccard_pairs

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(80))
    rows = [
        (1, short),                      # contained in 2
        (2, filler + " " + short + " " + filler.replace("w", "v")),
        (3, "totally different words entirely unrelated content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["id_small"], r["id_big"]): r["containment"]
        for r in ngram_containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.8
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0  # every gram of 1 is in 2
    assert (2, 1) not in got                     # NOT symmetric
    assert all(3 not in k for k in got)
    # symmetric Jaccard at the same bar misses the asymmetric pair
    jac = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.8)
    assert not [r for r in jac.collect() if {r["id_a"], r["id_b"]} == {1, 2}]


def test_ngram_containment_rare_gram_cap(spark):
    from dff.dedup import ngram_containment_pairs

    # a gram shared by MANY docs (df > max_df) is not a blocking key:
    # identical boilerplate-only docs generate no candidates (documented)
    rows = [(i, "common boiler plate text repeated") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = ngram_containment_pairs(df, "doc_id", "text", n=3, max_df=20)
    assert out.count() == 0
    # raising max_df above the df makes them all mutual containments
    out2 = ngram_containment_pairs(df, "doc_id", "text", n=3, max_df=40)
    assert out2.count() == 30 * 29  # both directions for every pair
