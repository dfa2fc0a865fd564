from __future__ import annotations

from pyspark.sql import functions as F

from dff.referential import allowed_values_violations, orphan_rows, valid_rows
from dff.sources import ALLOWED_LANGS, commits_dim, langs_dim, synthetic_source_files
from dff.uniqueness import (
    dedup_exact,
    duplicate_key_counts,
    duplicate_rows,
    uniqueness_violations,
)

KEYS = ["repo", "path", "commit"]


def test_duplicates_found_exactly(spark):
    n = 4000
    df = synthetic_source_files(spark, n, n_repos=100).cache()
    n_dup_groups = len([i for i in range(n) if i % 499 == 21])
    dup_keys = duplicate_key_counts(df, KEYS)
    assert dup_keys.count() == n_dup_groups
    assert dup_keys.agg(F.max("dup_count")).first()[0] == 2
    # one violation row per extra occurrence
    viols = uniqueness_violations(df, KEYS)
    assert viols.count() == n_dup_groups
    # dedup keeps exactly one row per key, the lowest row_id
    deduped = dedup_exact(df, KEYS, order_by=["row_id"])
    assert deduped.count() == n
    kept = deduped.where(F.col("row_id") >= n).count()
    assert kept == 0  # copies (row_id >= n) always lose to originals
    df.unpersist()


def test_duplicate_rows_hash_compressed_plan_and_values(spark):
    """duplicate_rows routes through the hash-compressed two-pass (round-2
    verdict: the old self-join shape was the slow one): values = every row
    of every duplicate group, and the plan's full-table Exchange partitions
    on the 8-byte hash, with the dup set coming back via broadcast semi."""
    n = 4000
    df = synthetic_source_files(spark, n, n_repos=100).cache()
    n_dup_groups = len([i for i in range(n) if i % 499 == 21])
    rows = duplicate_rows(df, KEYS)
    assert rows.count() == 2 * n_dup_groups  # both copies of each group
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(__h" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    # uniqueness_violations shares the shape
    plan_v = (
        uniqueness_violations(df, KEYS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning(__h" in plan_v, plan_v
    df.unpersist()


def test_validation_config_rejects_unknown_check_columns(spark):
    import pytest

    from dff.ruleset import parse_json
    from dff.runner import ReferentialCheck, ValidationConfig

    rs = parse_json({"rules": [{"id": "a", "name": "lang is null", "requires": []}]})
    with pytest.raises(ValueError, match="unique_keys.*key_cols"):
        ValidationConfig(ruleset=rs, unique_keys=("repo", "lang"))
    dim = langs_dim(spark)
    with pytest.raises(ValueError, match="referential.*lang"):
        ValidationConfig(
            ruleset=rs,
            referential=[ReferentialCheck(dim, ["lang"], "C_lang")],
        )
    # part_col itself is a legal unique key (and must not be selected twice)
    cfg = ValidationConfig(ruleset=rs, unique_keys=("repo", "part_id"))
    from dff.runner import ValidationRunner

    df = synthetic_source_files(spark, 500, n_repos=10, plant_violations=False)
    runner = ValidationRunner(cfg)
    runner.violations(df, runner.row_verdicts(df)).count()  # analyzes cleanly


def test_referential_orphans_and_allowed_values(spark):
    n = 4000
    df = synthetic_source_files(spark, n, n_repos=100).cache()
    commits = commits_dim(spark, n_repos=100)
    orphans = orphan_rows(df, commits, ["repo", "commit"], constraint_id="ref_commit")
    expected = df.where(F.array_contains("planted", "orphan_commit")).count()
    assert orphans.count() == expected
    assert orphans.first()["constraint_id"] == "ref_commit"
    assert valid_rows(df, commits, ["repo", "commit"]).count() == df.count() - expected

    bad = allowed_values_violations(df, "lang", ALLOWED_LANGS, "ref_lang")
    assert bad.count() == df.where(F.array_contains("planted", "bad_lang")).count()

    # broadcast anti join is actually broadcast (no shuffle of the fact side)
    plan = orphan_rows(df, commits, ["repo", "commit"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    df.unpersist()


def test_langs_dim_join_matches_inlist(spark):
    df = synthetic_source_files(spark, 2000, n_repos=50)
    via_join = orphan_rows(df.where(F.col("lang").isNotNull()), langs_dim(spark), ["lang"])
    via_inlist = allowed_values_violations(df, "lang", ALLOWED_LANGS)
    assert via_join.count() == via_inlist.count()


def test_duplicate_hash_survivors_falls_back_when_dup_set_large(spark, monkeypatch):
    """r4 size guard (ADVICE r03): an over-limit duplicated-hash set must
    NOT broadcast — the semi join falls back to a shuffled strategy with
    identical results."""
    import dff.uniqueness as u

    df = spark.createDataFrame(
        [(i % 50, f"p{i}") for i in range(400)], "k long, payload string"
    )
    normal, normal_cached = u._duplicate_hash_survivors(df, ["k"])
    monkeypatch.setattr(u, "MAX_BROADCAST_DUP_HASHES", 1)
    fallback, fallback_cached = u._duplicate_hash_survivors(df, ["k"])
    assert sorted(map(tuple, fallback.collect())) == sorted(
        map(tuple, normal.collect())
    )
    # over-limit path: the PLANNED join carries no broadcast hint (at real
    # scale that is what prevents the driver OOM; on this tiny fixture AQE
    # may still legitimately re-broadcast from runtime stats — that's the
    # safe, stats-driven path, not the forced one)
    opt_fb = fallback._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in opt_fb.lower(), opt_fb
    opt_n = normal._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" in opt_n.lower(), opt_n
    for cached in (*normal_cached, *fallback_cached):
        cached.unpersist()


def test_duplicate_hash_survivors_row_bound_skips_cache_and_count(spark):
    """A known row bound at or under 2x the broadcast limit settles the
    size guard without a cache or an action (every duplicated hash covers
    two rows); over it, the counted, persisted path runs as before."""
    import dff.uniqueness as u

    df = spark.createDataFrame(
        [(i % 50, f"p{i}") for i in range(400)], "k long, payload string"
    )
    counted, counted_cached = u._duplicate_hash_survivors(df, ["k"])
    bounded, bounded_cached = u._duplicate_hash_survivors(df, ["k"], max_rows=400)
    assert bounded_cached == () and len(counted_cached) == 1
    assert sorted(map(tuple, bounded.collect())) == sorted(
        map(tuple, counted.collect())
    )
    opt = bounded._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" in opt.lower(), opt
    over = 2 * u.MAX_BROADCAST_DUP_HASHES + 2
    _, over_cached = u._duplicate_hash_survivors(df, ["k"], max_rows=over)
    assert len(over_cached) == 1
    for cached in (*counted_cached, *over_cached):
        cached.unpersist()


def test_orphan_rows_big_dim_matches_plain_incl_null_keys(spark):
    from dff.referential import orphan_rows_big_dim

    df = synthetic_source_files(spark, 3000, n_repos=60).cache()
    # inject NULL-key rows: NULL never matches a dim row, so both
    # realizations must report them as orphans
    nulled = df.limit(7).withColumn("commit", F.lit(None).cast("string"))
    fact = df.union(nulled)
    commits = commits_dim(spark, n_repos=60)
    # duplicate dim keys must not duplicate fact rows (semi-join semantics)
    dup_dim = commits.union(commits.limit(20))

    plain = orphan_rows(fact, dup_dim, ["repo", "commit"])
    big = orphan_rows_big_dim(fact, dup_dim, ["repo", "commit"])
    key = [F.col("repo"), F.col("path"), F.col("commit")]
    assert sorted(
        (r["repo"], r["path"], r["commit"] or "") for r in plain.select(*key).collect()
    ) == sorted(
        (r["repo"], r["path"], r["commit"] or "") for r in big.select(*key).collect()
    )
    assert big.count() == plain.count() > 7
    df.unpersist()


def test_orphan_rows_big_dim_shuffles_keys_not_rows(spark):
    """The only hash exchanges in the plan must carry key columns only —
    the fact's payload (content/lang/...) never shuffles."""
    from dff.referential import orphan_rows_big_dim

    df = synthetic_source_files(spark, 2000, n_repos=50)
    plan = (
        orphan_rows_big_dim(df, commits_dim(spark, 50), ["repo", "commit"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "content" not in line and "lang" not in line, line
