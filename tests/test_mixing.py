"""Corpus mixture sampling: plan arithmetic, up/down-sampling epochs,
partition invariance, renormalization over absent domains, and the
map-only plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dff.mixing import (
    mixture_plan,
    mixture_plan_from_avail,
    mixture_sample,
    mixture_summary,
)


@pytest.fixture(scope="module")
def corpus(spark):
    # 3 domains with different sizes: web 6000 rows, wiki 3000, code 1000,
    # each row ~100 tokens (+ jitter keyed off id, deterministic).
    return (
        spark.range(0, 10000)
        .select(
            F.col("id"),
            F.when(F.col("id") < 6000, "web")
            .when(F.col("id") < 9000, "wiki")
            .otherwise("code")
            .alias("domain"),
            (F.lit(100) + (F.col("id") % 11)).cast("long").alias("tokens"),
        )
    )


def test_plan_rates_exact(corpus):
    total = corpus.agg(F.sum("tokens")).collect()[0][0]
    budget = total // 2
    plan = mixture_plan(
        corpus, "domain", "tokens", {"web": 0.5, "wiki": 0.25, "code": 0.25}, budget
    )
    assert set(plan) == {"web", "wiki", "code"}
    # exact integer avails
    avails = {
        r["domain"]: r["a"]
        for r in corpus.groupBy("domain").agg(F.sum("tokens").alias("a")).collect()
    }
    for d, s in plan.items():
        assert s.avail == avails[d]
        assert s.rate == pytest.approx(budget * s.weight / avails[d], rel=1e-12)
    # code is tiny (10% of rows) but owed 25% of half the corpus -> upsample
    assert plan["code"].rate > 1.0 and plan["code"].copies >= 2
    # web is huge but owed only 25% -> downsample
    assert plan["web"].rate < 1.0 and plan["web"].copies == 1


def test_sample_hits_targets_and_is_partition_invariant(corpus):
    total = corpus.agg(F.sum("tokens")).collect()[0][0]
    plan = mixture_plan(
        corpus, "domain", "tokens", {"web": 0.5, "wiki": 0.25, "code": 0.25}, total // 2
    )
    out = mixture_sample(corpus, "domain", ["id"], plan, seed=3)
    summ = {
        r["domain"]: r
        for r in mixture_summary(out, "domain", "tokens", plan).collect()
    }
    for d in plan:
        # hash sampling is binomial around the rate: 5% tolerance at n>=1000
        assert summ[d]["achieved_frac"] == pytest.approx(1.0, abs=0.05), d
    # identical membership under a different partitioning
    out2 = mixture_sample(corpus.repartition(13), "domain", ["id"], plan, seed=3)
    a = sorted(map(tuple, out.select("id", "epoch").collect()))
    b = sorted(map(tuple, out2.select("id", "epoch").collect()))
    assert a == b


def test_upsample_epochs_structure(corpus):
    total = corpus.agg(F.sum("tokens")).collect()[0][0]
    plan = mixture_plan(
        corpus, "domain", "tokens", {"web": 0.5, "wiki": 0.25, "code": 0.25}, total // 2
    )
    out = mixture_sample(corpus, "domain", ["id"], plan, seed=3)
    code = out.where(F.col("domain") == "code")
    per_epoch = {
        r["epoch"]: r["n"]
        for r in code.groupBy("epoch").agg(F.count("*").alias("n")).collect()
    }
    full = plan["code"].epochs_full
    n_code = corpus.where(F.col("domain") == "code").count()
    for e in range(full):
        assert per_epoch[e] == n_code  # full epochs keep every row
    if plan["code"].frac > 0:
        assert 0 < per_epoch[full] < n_code  # partial epoch is a strict subset


def test_no_upsample_cap_and_absent_domain_renormalization(corpus):
    total = corpus.agg(F.sum("tokens")).collect()[0][0]
    plan = mixture_plan(
        corpus,
        "domain",
        "tokens",
        {"web": 0.5, "code": 0.25, "nosuch": 0.25},
        total // 2,
        allow_upsample=False,
    )
    assert "nosuch" not in plan and "wiki" not in plan
    # weights renormalized over the present ones: 0.5/0.75, 0.25/0.75
    assert plan["web"].weight == pytest.approx(0.5 / 0.75)
    assert all(s.rate <= 1.0 for s in plan.values())
    out = mixture_sample(corpus, "domain", ["id"], plan, seed=3)
    assert out.where(F.col("domain") == "wiki").count() == 0
    assert out.agg(F.max("epoch")).collect()[0][0] == 0


def test_empty_plan_and_validation(corpus):
    assert mixture_plan(corpus, "domain", "tokens", {"nosuch": 1.0}, 100) == {}
    out = mixture_sample(corpus, "domain", ["id"], {}, seed=3)
    assert out.count() == 0 and "epoch" in out.columns
    with pytest.raises(ValueError):
        mixture_plan(corpus, "domain", "tokens", {"web": -0.1}, 100)
    with pytest.raises(ValueError):
        mixture_plan(corpus, "domain", "tokens", {"web": 1.0}, -1)


def test_plan_from_avail_matches_plan_without_a_job(spark, corpus):
    """The driver half reproduces mixture_plan exactly from the same
    per-domain availability (an absent domain, a zero-weight one, a NULL
    and a zero availability included) and runs no Spark job."""
    weights = {"web": 0.5, "wiki": 0.0, "code": 0.25, "nosuch": 0.25}
    total = corpus.agg(F.sum("tokens")).collect()[0][0]
    avail = {
        r["domain"]: r["a"]
        for r in corpus.groupBy("domain").agg(F.sum("tokens").alias("a")).collect()
    }
    for budget, up in ((total // 2, True), (total * 3, True), (total * 3, False)):
        want = mixture_plan(
            corpus, "domain", "tokens", weights, budget, allow_upsample=up
        )
        sc = spark.sparkContext
        sc.setJobGroup("plan-from-avail", "driver-only plan")
        try:
            got = mixture_plan_from_avail(
                {**avail, "empty": 0, "unknown": None},
                {**weights, "empty": 1.0, "unknown": 1.0},
                budget,
                allow_upsample=up,
            )
        finally:
            sc._jsc.clearJobGroup()
        assert got == want
        assert list(sc.statusTracker().getJobIdsForGroup("plan-from-avail")) == []


def test_plan_from_avail_validates():
    with pytest.raises(ValueError, match="budget"):
        mixture_plan_from_avail({"web": 10}, {"web": 1.0}, -1)
    with pytest.raises(ValueError, match="weight"):
        mixture_plan_from_avail({"web": 10}, {"web": 1.0, "code": -0.5}, 10)


def test_map_only_plan(corpus):
    total = corpus.agg(F.sum("tokens")).collect()[0][0]
    plan = mixture_plan(
        corpus, "domain", "tokens", {"web": 0.5, "wiki": 0.25, "code": 0.25}, total // 2
    )
    out = mixture_sample(corpus, "domain", ["id"], plan, seed=3)
    physical = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in physical  # pure map-side: no shuffle
