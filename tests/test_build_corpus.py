"""End-to-end corpus build (jobs/build_corpus.py): quality gate -> exact
dedup -> decontamination -> mixture -> packing -> WAP publish, with the
published layout internally consistent and low-quality docs never packed,
every stage count equal to a stage-by-stage recomputation, and the whole
build within a fixed Spark job budget."""

from __future__ import annotations

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"
    ),
)

from dff.contamination import contaminated_docs  # noqa: E402
from dff.dedup import dedup_exact  # noqa: E402
from dff.mixing import mixture_plan, mixture_sample  # noqa: E402
from dff.tablefmt import Table  # noqa: E402
from dff.textops import quality_score, repetition_ratio  # noqa: E402

#: Spark jobs one build_corpus.main() over the 400-doc fixture (with a
#: benchmark, no embeddings) may run: the quality audit's validate(), the
#: tagged frame's fill and its one per-source aggregate, the mixture sample
#: and packing, the branch append, the layout audit, publish and the
#: context total.
MAIN_JOB_BUDGET = 38


def _text(i):
    # doc 7 is junk (too short), docs 20/21 are exact duplicates
    if i == 7:
        return "tiny"
    if i == 21:
        i = 20
    return " ".join(f"tok{i}x{j}" for j in range(30))


def _write_docs(spark, tmp_path, rows):
    """Write ``rows`` as the documents, and doc 30's text as the benchmark."""
    df = spark.createDataFrame(
        [(i, t, s, len(t)) for i, t, s in rows],
        ["doc_id", "text", "source", "n_chars"],
    )
    src = str(tmp_path / "docs")
    df.write.parquet(src)
    bench = df.where(F.col("doc_id") == 30).select("doc_id", "text")
    bench_p = str(tmp_path / "bench")
    bench.write.parquet(bench_p)
    return src, bench_p


BASE_ROWS = [(i, _text(i), f"s{i % 4}") for i in range(400)]


@pytest.fixture()
def corpus_src(spark, tmp_path):
    # 400 docs over 4 sources; doc 7 is junk (too short), docs 20/21 are
    # exact duplicates, doc 30 replays the benchmark doc verbatim
    src, bench_p = _write_docs(spark, tmp_path, BASE_ROWS)

    # embeddings: well-spread pseudo-random unit vectors per doc, with
    # docs 50/51 sharing a vector -> semantic dedup must drop 51
    import math

    def vec(i):
        if i == 51:
            i = 50
        raw = []
        for j in range(8):
            x = math.sin(i * 12.9898 + j * 78.233) * 43758.5453
            raw.append((x - math.floor(x)) * 2.0 - 1.0)
        n = math.sqrt(sum(x * x for x in raw))
        return [x / n for x in raw]

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(400)], ["vec_id", "embedding"]
    )
    emb_p = str(tmp_path / "emb")
    emb.write.parquet(emb_p)
    return src, bench_p, emb_p, str(tmp_path / "tbl")


def test_full_build_publishes_consistent_layout(spark, corpus_src):
    import build_corpus

    src, bench_p, emb_p, t_root = corpus_src
    out = build_corpus.main([
        "--src", src, "--out", t_root,
        "--budget-frac", "0.8", "--seq-len", "64", "--n-shards", "4",
        "--benchmark", bench_p, "--min-chars", "20",
        "--embeddings", emb_p, "--semantic-threshold", "0.999",
        "--semantic-centroids", "4",
        "--parallelism", "4", "--seed", "5",
    ])
    assert json.loads(json.dumps(out))  # one JSON-able summary
    assert out["published"] and out["version"] is not None
    assert out["rows_quality"] == 399          # doc 7 dropped by Q2
    assert out["rows_dedup"] == 398            # doc 21 collapsed into 20
    assert out["rows_semantic_dropped"] == 1   # doc 51 shares 50's vector
    assert out["rows_contaminated"] >= 1       # doc 30 replays the benchmark
    assert out["layout_violations"] == 0
    t = Table(t_root)
    packed = t.scan(spark)
    assert packed.count() == out["rows_packed"] > 0
    ids = {r["doc_id"] for r in packed.select("doc_id").distinct().collect()}
    assert 7 not in ids and 21 not in ids and 30 not in ids
    assert 51 not in ids and 50 in ids  # semantic: later twin out, earlier in
    # layout invariants hold on the PUBLISHED table, not just pre-commit
    bad = packed.where(
        (F.col("start_off") < 0)
        | (F.col("ctx_off") >= 64)
        | (F.col("n_ctx") < 1)
        | (F.col("epoch") < 0)
    )
    assert bad.count() == 0
    assert t.list_branches() == []


def test_everything_filtered_is_safe(spark, corpus_src):
    import build_corpus

    src, bench_p, emb_p, t_root = corpus_src
    out = build_corpus.main([
        "--src", src, "--out", t_root + "2",
        "--min-chars", "100000",  # quality gate drops every doc
        "--parallelism", "4",
    ])
    assert out["rows_quality"] == 0
    assert out["rows_packed"] == 0
    assert out["mixture"] == {}


def _stage_by_stage(spark, src, bench_p, weights, budget_frac, seed):
    """The build's counts and plan, one stage after another in plain Spark:
    quality anti join -> dedup_exact -> contaminated_docs -> mixture_plan."""
    docs = spark.read.parquet(src)
    scored = docs.withColumn("q", quality_score("text")).withColumn(
        "r", repetition_ratio("text")
    )
    bad = scored.where(
        F.col("text").isNull()
        | (F.col("n_chars") < 20)
        | (F.col("q") < 0.15)
        | (F.col("r") > 0.9)
    ).select("doc_id")
    repeated = docs.groupBy("doc_id").count().where("count > 1").select("doc_id")
    clean = docs.join(bad.union(repeated), "doc_id", "left_anti")
    surv = dedup_exact(clean, "text", "doc_id")
    contam = contaminated_docs(
        surv, spark.read.parquet(bench_p), "doc_id", "text", n=3
    )
    kept = surv.join(contam, "doc_id", "left_anti")
    pool = kept.where(F.col("source").isin(list(weights)))
    total = pool.agg(F.sum(F.col("n_chars").cast("long"))).collect()[0][0] or 0
    budget = int(total * budget_frac)
    plan = mixture_plan(pool, "source", "n_chars", weights, budget)
    return {
        "rows_raw": docs.count(),
        "rows_quality": clean.count(),
        "rows_dedup": surv.count(),
        "rows_semantic_dropped": 0,
        "rows_contaminated": contam.count(),
        "budget_chars": budget,
        "mixture": {
            d: {"rate": round(s.rate, 6), "copies": s.copies, "avail": s.avail}
            for d, s in sorted(plan.items())
        },
        "rows_packed": mixture_sample(pool, "source", ["doc_id"], plan, seed).count(),
    }


def test_single_pass_counts_match_stage_by_stage(spark, tmp_path):
    """Edge rows the tag joins must count like the old stage-by-stage
    anti joins: three identical texts (two losers), a repeated doc_id
    (every copy fails the quality audit's uniqueness rule), a benchmark
    replay that is also an exact-dup loser (it is not counted as
    contaminated: it is already gone), and explicit weights naming an
    absent domain and a zero-weight one (whose chars still count in the
    budget's pool)."""
    import build_corpus

    rows = [r for r in BASE_ROWS if r[0] not in (41, 42, 31)]
    rows += [
        (41, _text(40), "s1"),
        (42, _text(40), "s3"),
        (31, _text(30), "s2"),
        (60, _text(460), "s1"),
    ]
    src, bench_p = _write_docs(spark, tmp_path, rows)
    weights = {"s0": 2.0, "s1": 1.0, "s2": 0.0, "s9": 1.0}
    out = build_corpus.main([
        "--src", src, "--out", str(tmp_path / "tbl"),
        "--weights", json.dumps(weights),
        "--budget-frac", "0.8", "--seq-len", "64", "--n-shards", "4",
        "--benchmark", bench_p, "--parallelism", "4", "--seed", "5",
    ])
    want = _stage_by_stage(spark, src, bench_p, weights, 0.8, 5)
    assert {k: out[k] for k in want} == want
    # 401 rows; doc 7 (junk) and both doc 60s fail the audit; 21, 41, 42
    # and 31 are losers; only doc 30 counts as contaminated
    assert (want["rows_raw"], want["rows_quality"], want["rows_dedup"]) == (
        401, 398, 394,
    )
    assert want["rows_contaminated"] == 1
    assert set(want["mixture"]) == {"s0", "s1"}
    assert out["published"] and out["layout_violations"] == 0


def test_main_job_budget(spark, corpus_src):
    """One build runs each stage once: the whole main() stays within a
    fixed Spark job budget (regression guard against per-count actions
    re-running the stages before them)."""
    import build_corpus

    src, bench_p, _, t_root = corpus_src
    sc = spark.sparkContext
    sc.setJobGroup("budget-corpus", "build_corpus.main")
    try:
        build_corpus.main([
            "--src", src, "--out", t_root,
            "--budget-frac", "0.8", "--seq-len", "64", "--n-shards", "4",
            "--benchmark", bench_p, "--parallelism", "4", "--seed", "5",
        ])
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("budget-corpus")
    assert len(jobs) <= MAIN_JOB_BUDGET, len(jobs)
