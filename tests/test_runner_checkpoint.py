"""End-to-end runner + resume semantics (SURVEY.md §5: resume tests)."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from dff.checkpoint import (
    CheckpointStore,
    TableCheckpointStore,
    ViolationsSink,
    plan_pending,
)
from dff.drift import CategoricalBins, DriftSpec, snapshot
from dff.ruleset import parse_json
from dff.runner import ReferentialCheck, ValidationConfig, ValidationRunner
from dff.sources import ALLOWED_LANGS, commits_dim, synthetic_source_files

SPEC = {
    "version": "dag-v1",
    "sensitivity": 0.7,
    "rules": [
        {"id": "C_null_lang", "name": "lang is null", "requires": []},
        {"id": "C_empty", "name": "length(content) = 0", "requires": ["C_null_lang"]},
        {"id": "C_huge", "name": "length(content) > 10485760", "requires": ["C_empty"]},
    ],
}

#: Spark jobs a full run() over a 2k-row parquet input with uniqueness,
#: one referential check and drift may trigger (empty store, local[4]):
#: 3 for the row-count/histogram collect (base cache, shuffle, result),
#: 8 for the violation-count collect (the dim's distinct and broadcast, the
#: duplicated-hash aggregate and broadcast, the window shuffle, the
#: violations cache, the rollup's shuffle and result), 1 violations write,
#: 1 checkpoint write
RUN_JOB_BUDGET = 13


def make_runner(spark, df, with_drift=False, snapshot_id="snap-A"):
    cfg = ValidationConfig(
        ruleset=parse_json(SPEC),
        referential=[
            ReferentialCheck(commits_dim(spark, 100), ["repo", "commit"], "C_ref_commit"),
        ],
        snapshot_id=snapshot_id,
    )
    if with_drift:
        cfg.drift_spec = DriftSpec(
            categorical=[CategoricalBins("lang", tuple(ALLOWED_LANGS))]
        )
        cfg.drift_baseline = snapshot(
            synthetic_source_files(spark, 5000, n_repos=100, plant_violations=False),
            cfg.drift_spec,
        )
    return ValidationRunner(cfg)


def test_validate_matches_planted(spark):
    n = 6000
    df = synthetic_source_files(spark, n, n_repos=100).cache()
    runner = make_runner(spark, df)
    result = runner.validate(df)

    by_constraint = {
        r["constraint_id"]: r["n"]
        for r in result.violations.groupBy("constraint_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    tag = lambda t: F.array_contains("planted", t)  # noqa: E731
    assert by_constraint["C_null_lang"] == df.where(tag("null_lang")).count()
    assert by_constraint["C_empty"] == df.where(
        tag("empty_content") & ~tag("null_lang")
    ).count()  # first-match: null_lang wins over empty
    assert by_constraint["C_ref_commit"] == df.where(tag("orphan_commit")).count()
    n_dup_groups = len([i for i in range(n) if i % 499 == 21])
    assert by_constraint["uniqueness"] == n_dup_groups

    metrics = result.partition_metrics.collect()
    assert all(m["verdict"] in ("pass", "fail") for m in metrics)
    total_viols = sum(m["violations"] for m in metrics)
    assert total_viols == result.violations.count()
    df.unpersist()


def test_cross_partition_duplicates_fail_every_holding_partition(spark):
    """A key duplicated ACROSS partitions must fail every partition that
    holds a surplus copy (regression: max(part) attribution let the other
    partitions pass while containing duplicates)."""
    rows = [
        ("r1", "a.py", "c1", "python", "x", 3),   # canonical copy, part 3
        ("r1", "a.py", "c1", "python", "x", 7),   # surplus copy, part 7
        ("r1", "a.py", "c1", "python", "x", 9),   # surplus copy, part 9
        ("r2", "b.py", "c2", "python", "y", 3),   # unique key
    ]
    df = spark.createDataFrame(
        rows, ["repo", "path", "commit", "lang", "content", "part_id"]
    )
    runner = ValidationRunner(ValidationConfig(ruleset=parse_json(SPEC)))
    viols = runner.violations(df, runner.row_verdicts(df))
    dup = viols.where(F.col("constraint_id") == "uniqueness").collect()
    # one violation per surplus copy, each carrying its OWN part_id
    assert sorted(r["part_id"] for r in dup) == [7, 9]


def test_clean_table_passes(spark):
    df = synthetic_source_files(spark, 12000, n_repos=100, plant_violations=False)
    runner = make_runner(spark, df, with_drift=True)
    result = runner.validate(df)
    assert result.violations.count() == 0
    verdicts = [m["verdict"] for m in result.partition_metrics.collect()]
    assert verdicts and all(v == "pass" for v in verdicts)


@pytest.mark.parametrize("store_cls", [CheckpointStore, TableCheckpointStore])
def test_resume_skips_completed_partitions(spark, tmp_path, store_cls):
    n = 4000
    df = synthetic_source_files(spark, n, n_repos=100).cache()
    store = store_cls(spark, str(tmp_path / "ckpt"))
    runner = make_runner(spark, df, snapshot_id="snap-R")

    # simulate a run killed after validating partitions 0..7
    first_half = df.where(F.col("part_id") < 8)
    r1 = runner.run(first_half, store, violations_path=str(tmp_path / "viol"))
    assert r1 is not None
    done = {r["partition_id"] for r in store.completed_partitions("snap-R", "dag-v1").collect()}
    assert done == set(range(8))

    # restart over the FULL table: completed partitions must not re-validate
    pending = plan_pending(df, "part_id", store, "snap-R", "dag-v1")
    pending_parts = {r["part_id"] for r in pending.select("part_id").distinct().collect()}
    assert pending_parts.isdisjoint(done)

    r2 = runner.run(df, store, violations_path=str(tmp_path / "viol"))
    assert r2 is not None
    assert {
        r["part_id"] for r in r2.partition_metrics.select("part_id").collect()
    }.isdisjoint(done)

    # final state identical to a fresh full run: same violation multiset
    from dff.checkpoint import ViolationsSink

    full = runner.validate(df)
    resumed = ViolationsSink(spark, str(tmp_path / "viol"), "part_id").read()
    a = sorted(
        (r["repo"], r["path"], r["commit"], r["constraint_id"])
        for r in resumed.select("repo", "path", "commit", "constraint_id").collect()
    )
    b = sorted(
        (r["repo"], r["path"], r["commit"], r["constraint_id"])
        for r in full.violations.select("repo", "path", "commit", "constraint_id").collect()
    )
    assert a == b

    # third run: nothing pending
    assert runner.run(df, store) is None
    df.unpersist()


def test_crash_between_violations_write_and_checkpoint_append(spark, tmp_path):
    """Crash-window idempotency (VERDICT r02 §next-5, r04 #7): a run that
    dies AFTER writing violations but BEFORE appending checkpoint rows
    must, on resume, re-validate those partitions and REPLACE their
    output via the sink's per-partition last-writer-wins — never
    duplicate it."""
    from dff.checkpoint import ViolationsSink

    n = 4000
    df = synthetic_source_files(spark, n, n_repos=100).cache()
    store = TableCheckpointStore(spark, str(tmp_path / "ckpt"))
    runner = make_runner(spark, df, snapshot_id="snap-C")
    viol_path = str(tmp_path / "viol")
    cfg = runner.config
    sink = ViolationsSink(spark, viol_path, cfg.part_col)

    # crashed attempt: replicate run()'s violations write for the full
    # input, then "die" before store.append
    crashed = runner.validate(df)
    sink.write(crashed.violations)
    n_crashed = sink.read().count()
    assert n_crashed > 0  # planted violations exist
    # no checkpoint row made it out
    assert store.completed_partitions("snap-C", "dag-v1").count() == 0

    # resume: every partition is still pending, so the full table
    # re-validates and its newer batch supersedes the crashed attempt's
    r = runner.run(df, store, violations_path=viol_path)
    assert r is not None
    resumed = sink.read()
    assert resumed.count() == n_crashed  # replaced, not appended

    # and the multiset matches a fresh in-memory validation exactly
    fresh = runner.validate(df)
    key = ["repo", "path", "commit", "constraint_id"]
    a = sorted(tuple(row[c] for c in key) for row in resumed.select(*key).collect())
    b = sorted(
        tuple(row[c] for c in key) for row in fresh.violations.select(*key).collect()
    )
    assert a == b
    df.unpersist()


def test_torn_append_invisible_to_reads_and_resume(spark, tmp_path):
    """VERDICT r03 #2: a writer killed mid-append must leave readers and
    resume planning untouched.  Simulates the crash by planting what a
    dead writer leaves behind — a .staging-* directory with a truncated
    parquet file — and by truncating a file inside it mid-'write'."""
    import os

    from pyspark.sql import functions as F

    path = str(tmp_path / "ckpt")
    store = CheckpointStore(spark, path)
    row = spark.createDataFrame(
        [("snap1", "spec", 0, "v1", 10, 0, "pass", {}, None)],
        schema=store.read().schema,
    ).withColumn("completed_at", F.current_timestamp())
    store.append(row)
    assert store.read().count() == 1
    # committed batch landed as a visible batch-* dir, no stray part files
    entries = sorted(os.listdir(path))
    assert any(e.startswith("batch-") for e in entries), entries
    assert not any(e.startswith("part-") for e in entries), entries

    # torn write: a staging dir holding a truncated/corrupt parquet file
    torn = tmp_path / "ckpt" / ".staging-deadbeef"
    torn.mkdir()
    (torn / "part-00000.snappy.parquet").write_bytes(b"PAR1\x00torn")
    # reads skip the hidden dir entirely (no corrupt-footer error)
    assert store.read().count() == 1
    assert store.completed_partitions("snap1", "v1").count() == 1
    # a later append still commits atomically alongside the orphan
    store.append(
        row.withColumn("partition_id", F.lit(7)).withColumn(
            "completed_at", F.current_timestamp()
        )
    )
    assert store.read().count() == 2
    assert sorted(
        r["partition_id"]
        for r in store.completed_partitions("snap1", "v1").collect()
    ) == [0, 7]


def test_row_attribution_reports_every_constraint_not_first_win(spark):
    """VERDICT r03 #5: row_attribution must list EVERY violated constraint
    per row — a row triggering two rules AND failing a referential check
    yields three attribution rows, while verdict_id collapses to the
    first-win rule only."""
    rows = [
        # (repo, path, commit, lang, content, part_id)
        ("r1", "a.py", "c1", "xx", "", 0),      # R_empty + R_badlang + ref
        ("r1", "b.py", "c1", "py", "x = 1", 0),  # clean
        ("r1", "c.py", "c1", "py", "", 1),       # R_empty only
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, part_id int"
    )
    dim = spark.createDataFrame([("py",), ("go",)], "lang string")
    runner = ValidationRunner(
        ValidationConfig(
            ruleset=parse_json(
                {
                    "rules": [
                        {"id": "R_empty", "name": "length(content) = 0",
                         "requires": []},
                        {"id": "R_badlang", "name": "lang = 'xx'",
                         "requires": ["R_empty"]},
                    ]
                }
            ),
            key_cols=("repo", "path", "commit", "lang"),
            unique_keys=None,
            referential=[
                ReferentialCheck(
                    dim=dim, on=["lang"], constraint_id="lang_ref",
                    dim_is_distinct=True,
                )
            ],
        )
    )
    attr = sorted(
        (r["path"], r["constraint_id"])
        for r in runner.row_attribution(df).collect()
    )
    assert attr == [
        ("a.py", "R_badlang"), ("a.py", "R_empty"), ("a.py", "lang_ref"),
        ("c.py", "R_empty"),
    ]
    # contrast: the first-win verdict collapses a.py to R_empty alone
    v = {r["path"]: r["verdict_id"] for r in runner.row_verdicts(df).collect()}
    assert v == {"a.py": "R_empty", "b.py": None, "c.py": "R_empty"}


def test_metric_regressions_trend_checks(spark, tmp_path):
    import datetime as dt

    from dff.checkpoint import CHECKPOINT_SCHEMA, CheckpointStore, metric_regressions

    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    ts = dt.datetime(2026, 1, 1)

    def rows(snap, entries):
        return spark.createDataFrame(
            [
                (snap, "bucket(part_id)", pid, "v1", n, v, "pass", {}, ts)
                for (pid, n, v) in entries
            ],
            CHECKPOINT_SCHEMA,
        )

    store.append(rows("s1", [(0, 1000, 10), (1, 1000, 10), (2, 500, 0), (3, 100, 5)]))
    store.append(rows("s2", [
        (0, 980, 10),    # fine
        (1, 850, 10),    # 15% row drop -> breach
        (2, 510, 30),    # base_viol = 0 -> rate check skipped (no evidence)
        # partition 3 vanished -> missing_partition
        (9, 50, 50),     # new partition -> pass
    ]))
    got = {r["partition_id"]: r["check"] for r in
           metric_regressions(store, "s2", "s1").collect()}
    assert got == {1: "row_drop", 3: "missing_partition"}
    # violation-rate rise: same rows, violations 10 -> 20 (rate x2)
    store.append(rows("s3", [(0, 980, 25), (1, 850, 10)]))
    got3 = {r["partition_id"]: r["check"] for r in
            metric_regressions(store, "s3", "s2").collect()}
    assert got3[0] == "violation_rise" and got3[2] == "missing_partition"


def test_metric_regressions_multi_dag_version_no_fanout(spark, tmp_path):
    """A snapshot validated under two dag_versions stores one lineage row
    per version; the trend join must NOT fan out (ADVICE r04) — latest
    completed_at wins, or an explicit dag_version filters."""
    import datetime as dt

    from dff.checkpoint import CHECKPOINT_SCHEMA, CheckpointStore, metric_regressions

    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    t0 = dt.datetime(2026, 1, 1)
    t1 = dt.datetime(2026, 1, 2)
    rows = []
    for snap, n_pid2 in (("base", 1000), ("cur", 500)):
        for ver, ts, viol in (("v1", t0, 10), ("v2", t1, 12)):
            for pid in range(4):
                n = n_pid2 if pid == 2 else 1000
                rows.append((snap, "mod4", pid, ver, n, viol, "pass", {}, ts))
    store.append(spark.createDataFrame(rows, CHECKPOINT_SCHEMA))

    out = metric_regressions(store, "cur", "base").collect()
    assert len(out) == 1  # one row per breached partition, never 2x2 fan-out
    assert (out[0]["partition_id"], out[0]["check"]) == (2, "row_drop")
    assert out[0]["base_viol"] == 12  # latest dag_version (v2) won

    pinned = metric_regressions(store, "cur", "base", dag_version="v1").collect()
    assert len(pinned) == 1 and pinned[0]["base_viol"] == 10

def test_torn_violations_write_invisible_to_reads(spark, tmp_path):
    """VERDICT r04 #7 (mirror of the checkpoint torn-append test): a
    violations writer killed mid-write leaves only a hidden .staging-*
    dir — readers never see a half-visible result set, and later batches
    still commit atomically alongside the orphan."""
    import os

    from dff.checkpoint import ViolationsSink

    path = str(tmp_path / "viol")
    sink = ViolationsSink(spark, path, "part_id")
    b1 = spark.createDataFrame(
        [(0, "r1", "bad row"), (0, "r2", "bad row"), (1, "r3", "bad row")],
        ["part_id", "repo", "constraint_id"],
    )
    sink.write(b1)
    assert sink.read().count() == 3
    entries = sorted(os.listdir(path))
    assert any(e.startswith("batch-") for e in entries), entries
    assert not any(e.startswith("part-") for e in entries), entries

    # torn write: a staging dir holding a truncated/corrupt parquet file
    torn = tmp_path / "viol" / ".staging-deadbeef"
    torn.mkdir()
    (torn / "part-00000.snappy.parquet").write_bytes(b"PAR1\x00torn")
    assert sink.read().count() == 3  # hidden dir skipped, no footer error

    # partition 1 re-validated -> its newer batch supersedes; partition 0
    # untouched by the new batch stays visible from the old one
    b2 = spark.createDataFrame(
        [(1, "r3", "worse row")], ["part_id", "repo", "constraint_id"]
    )
    sink.write(b2)
    got = {(r["part_id"], r["repo"], r["constraint_id"])
           for r in sink.read().collect()}
    assert got == {(0, "r1", "bad row"), (0, "r2", "bad row"),
                   (1, "r3", "worse row")}


def test_table_checkpoint_store_atomicity_and_audit(spark, tmp_path):
    """The table-format lineage backend (round-5 ADR amendment): a writer
    dying after materializing parquet but before the snapshot commit is
    INVISIBLE to readers and resume; every append is one auditable
    history entry; reopening the same path resumes the same log."""
    path = str(tmp_path / "ckpt")
    store = TableCheckpointStore(spark, path)
    row = spark.createDataFrame(
        [("snap1", "spec", 0, "v1", 10, 0, "pass", {}, None)],
        schema=store.read().schema,
    ).withColumn("completed_at", F.current_timestamp())
    store.append(row)
    assert store.read().count() == 1
    # dead writer: data file exists on disk but no snapshot references it
    store.table._materialize(row.withColumn("partition_id", F.lit(9)))
    assert store.read().count() == 1
    assert store.completed_partitions("snap1", "v1").count() == 1
    # reopen (restart) -> same log, next append lands as the next version
    store2 = TableCheckpointStore(spark, path)
    store2.append(
        row.withColumn("partition_id", F.lit(7)).withColumn(
            "completed_at", F.current_timestamp()
        )
    )
    assert sorted(
        r["partition_id"]
        for r in store2.completed_partitions("snap1", "v1").collect()
    ) == [0, 7]
    ops = [h["operation"] for h in store2.table.history()]
    assert ops == ["create", "append", "append"]


def _batch_dirs(path) -> list[str]:
    import os

    if not os.path.isdir(path):
        return []
    return sorted(e for e in os.listdir(path) if e.startswith("batch-"))


def test_resume_validates_null_partition_rows(spark, tmp_path):
    """NULL-keyed rows never match a completed partition id, so they stay
    pending on resume (as they did under the anti join the scan filter
    replaced) and are validated and counted in their own metrics row."""
    df = synthetic_source_files(spark, 3000, n_repos=100).withColumn(
        "part_id", F.when(F.col("part_id") != 9, F.col("part_id"))
    ).cache()
    n_null = df.where(F.col("part_id").isNull()).count()
    assert n_null > 0
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    runner = make_runner(spark, df, snapshot_id="snap-N")
    assert runner.run(df.where(F.col("part_id") < 8), store) is not None

    pending = plan_pending(df, "part_id", store, "snap-N", "dag-v1")
    assert pending.where(F.col("part_id").isNull()).count() == n_null
    r = runner.run(df, store)
    by_part = {m["part_id"]: m for m in r.partition_metrics.collect()}
    assert set(by_part) == set(range(8, 16)) - {9} | {None}
    assert by_part[None]["rows"] == n_null
    null_viols = r.violations.where(F.col("part_id").isNull()).count()
    assert by_part[None]["violations"] == null_viols
    r.unpersist()
    df.unpersist()


def test_violations_sink_reads_back_null_partition_rows(spark, tmp_path):
    """Violations of NULL-partition rows survive ``ViolationsSink.read``:
    the last-writer-wins semi join matches the partition null-safe.  NULL
    rows stay pending on resume, so the second run writes them again, and
    the read keeps only the newer batch's copy."""
    df = synthetic_source_files(spark, 3000, n_repos=100).withColumn(
        "part_id", F.when(F.col("part_id") != 5, F.col("part_id"))
    ).cache()
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    viol = str(tmp_path / "viol")
    runner = make_runner(spark, df, snapshot_id="snap-V")
    null_rows = F.col("part_id").isNull()
    runner.run(df.where(null_rows), store, violations_path=viol).unpersist()
    r = runner.run(df, store, violations_path=viol)
    cols = r.violations.columns
    want = sorted(map(tuple, r.violations.where(null_rows).collect()))
    assert want
    r.unpersist()
    assert len(_batch_dirs(viol)) == 2
    got = ViolationsSink(spark, viol, "part_id").read()
    assert sorted(map(tuple, got.where(null_rows).select(*cols).collect())) == want
    assert got.where(F.col("part_id") == 1).count() > 0
    df.unpersist()


def test_complete_store_run_returns_none_and_writes_nothing(spark, tmp_path):
    df = synthetic_source_files(spark, 2000, n_repos=100)
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    viol = str(tmp_path / "viol")
    runner = make_runner(spark, df, snapshot_id="snap-D")
    runner.run(df, store, violations_path=viol).unpersist()
    before = (_batch_dirs(store.path), _batch_dirs(viol))
    assert len(before[0]) == 1 and len(before[1]) == 1

    assert runner.run(df, store, violations_path=viol) is None
    assert (_batch_dirs(store.path), _batch_dirs(viol)) == before


def test_run_checkpoint_rows_and_drift_match_validate(spark, tmp_path):
    """run()'s committed checkpoint rows equal checkpoint_rows() over a
    plain validate() of the same input, and validate()'s drift rows equal
    drift_statistics over a separate collect of the same histograms."""
    from dff.drift import drift_statistics, partition_histograms

    df = synthetic_source_files(spark, 4000, n_repos=100, drift_part=5).cache()
    runner = make_runner(spark, df, with_drift=True, snapshot_id="snap-M")
    cfg = runner.config
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    r = runner.run(df, store)
    v = runner.validate(df)

    cols = ["partition_id", "rows", "violations", "verdict", "metrics"]

    def rows(frame):
        return sorted(
            (*(r[c] for c in cols[:-1]), sorted(r["metrics"].items()))
            for r in frame.select(*cols).collect()
        )

    assert rows(store.read()) == rows(runner.checkpoint_rows(v.partition_metrics, "dag-v1"))
    verdict = {m["part_id"]: m["verdict"] for m in v.partition_metrics.collect()}
    assert verdict[5] == "fail"

    hist = partition_histograms(df, "part_id", cfg.drift_spec).collect()
    drift, _ = drift_statistics(
        hist, "part_id", cfg.drift_spec, cfg.drift_baseline
    )
    want = {(d[0], d[1]): dict(zip(("psi", "ks", "js"), d[2:])) for d in drift}
    got = {(d["part_id"], d["column"]): d for d in v.drift.collect()}
    assert set(got) == set(want)
    for k, d in got.items():
        for stat in ("psi", "ks", "js"):
            assert abs(d[stat] - want[k][stat]) <= 1e-12, (k, stat)
    assert got[(5, "lang")]["psi"] > cfg.psi_threshold
    r.unpersist()
    v.unpersist()
    df.unpersist()


def test_run_job_budget(spark, tmp_path):
    """A full run() into an empty store: plan_pending costs no job, and the
    whole run stays within a fixed job budget (regression guard for
    per-job driver overhead creeping back in)."""
    df = synthetic_source_files(spark, 2000, n_repos=100)
    df.write.parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))
    runner = make_runner(spark, src, with_drift=True, snapshot_id="snap-J")
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("budget-plan", "plan_pending")
    plan_pending(src, "part_id", store, "snap-J", "dag-v1")
    sc.setJobGroup("budget-run", "run")
    try:
        runner.run(src, store, violations_path=str(tmp_path / "viol")).unpersist()
    finally:
        sc._jsc.clearJobGroup()
    assert len(tracker.getJobIdsForGroup("budget-plan")) == 0
    assert len(tracker.getJobIdsForGroup("budget-run")) <= RUN_JOB_BUDGET
