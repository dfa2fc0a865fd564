from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dff.ruleset import parse_json
from dff.runner import ValidationConfig, ValidationRunner
from dff.sources import synthetic_source_files
from dff.streaming import (
    interval_join_streams,
    sessionize_events,
    validate_stream,
    windowed_violation_counts,
)

SPEC = {
    "version": "s1",
    "sensitivity": 0.7,
    "rules": [
        {"id": "C_null_lang", "name": "lang is null", "requires": []},
        {"id": "C_empty", "name": "length(content) = 0", "requires": ["C_null_lang"]},
    ],
}


def _drain(q):
    """Wait for an ``availableNow`` query to finish, and stop it whatever
    happens, so no query outlives its test."""
    try:
        assert q.awaitTermination(120), f"query {q.name or q.id} still running"
    finally:
        q.stop()


def test_stream_batches_match_batch_run(spark, tmp_path):
    src = synthetic_source_files(spark, 3000, n_repos=50)
    src_path = str(tmp_path / "src")
    src.write.mode("overwrite").parquet(src_path)

    cfg = ValidationConfig(ruleset=parse_json(SPEC), unique_keys=None)
    runner = ValidationRunner(cfg)

    collected: list[tuple] = []

    def sink(violations, batch_id):
        collected.extend(
            (r["repo"], r["path"], r["commit"], r["constraint_id"])
            for r in violations.collect()
        )

    stream = (
        spark.readStream.schema(spark.read.parquet(src_path).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src_path)
    )
    q = validate_stream(stream, runner, sink, str(tmp_path / "sck"))
    _drain(q)

    batch_df = spark.read.parquet(src_path)
    batch = runner.validate(batch_df, persist_violations=False)
    want = sorted(
        (r["repo"], r["path"], r["commit"], r["constraint_id"])
        for r in batch.violations.collect()
    )
    assert sorted(collected) == want and len(want) > 0


VSPEC = {
    "version": "w1",
    "sensitivity": 0.7,
    "rules": [{"id": "C_neg", "name": "v < 0", "requires": []}],
}

_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def _write_events(spark, path, rows):
    spark.createDataFrame(
        [(dt.datetime(2026, 1, 1, h, m), u, v) for (h, m, u, v) in rows],
        _EVENT_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(path)


def test_windowed_violation_counts_drops_late_data(spark, tmp_path):
    """Watermark semantics end-to-end: a row older than the watermark set by
    a PREVIOUS trigger must not update its (already aggregated) window."""
    src = str(tmp_path / "events")
    ck = str(tmp_path / "wck")
    runner = ValidationRunner(ValidationConfig(ruleset=parse_json(VSPEC)))

    # batch 1: three violations in [10:00,10:10) + one 10:20 row that
    # advances the watermark to 10:15 (delay 5 min)
    _write_events(
        spark, src,
        [(10, 0, 1, -1.0), (10, 3, 1, -2.0), (10, 7, 2, -3.0), (10, 20, 2, -9.0)],
    )
    stream = spark.readStream.schema(_EVENT_SCHEMA).parquet(src)
    agg = windowed_violation_counts(
        stream, runner, ts_col="ts",
        window_duration="10 minutes", watermark_delay="5 minutes",
    )
    rows1: list = []
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(lambda b, _i: rows1.extend(b.collect()))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    _drain(q)
    got1 = {
        (r["window"]["start"].minute, r["verdict_id"]): r["n"] for r in rows1
    }
    assert got1[(0, "C_neg")] == 3
    assert got1[(20, "C_neg")] == 1

    # batch 2 (restart on the same checkpoint): one LATE violation at 10:02
    # (behind the 10:15 watermark -> dropped) + one fresh row at 10:21
    _write_events(spark, src, [(10, 2, 3, -5.0), (10, 21, 3, -6.0)])
    stream2 = spark.readStream.schema(_EVENT_SCHEMA).parquet(src)
    agg2 = windowed_violation_counts(
        stream2, runner, ts_col="ts",
        window_duration="10 minutes", watermark_delay="5 minutes",
    )
    rows2: list = []
    q2 = (
        agg2.writeStream.outputMode("update")
        .foreachBatch(lambda b, _i: rows2.extend(b.collect()))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    _drain(q2)
    got2 = {
        (r["window"]["start"].minute, r["verdict_id"]): r["n"] for r in rows2
    }
    # the late 10:02 row produced NO update for the [10:00,10:10) window...
    assert (0, "C_neg") not in got2
    # ...while the in-watermark 10:21 row updated its window to 2
    assert got2[(20, "C_neg")] == 2


def test_sessionize_events_stateful_counts(spark, tmp_path):
    """applyInPandasWithState: per-key running sessions over micro-batches
    (state persists across triggers; counts accumulate per key)."""
    src = str(tmp_path / "sess_events")
    ck = str(tmp_path / "sess_ck")
    _write_events(
        spark, src,
        [(9, 0, 1, 1.0), (9, 1, 1, 1.0), (9, 2, 1, 1.0), (9, 0, 2, 1.0)],
    )
    stream = spark.readStream.schema(_EVENT_SCHEMA).parquet(src)
    out = sessionize_events(stream, key_col="user_id", ts_col="ts", gap_minutes=30)
    srows1: list = []
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda b, _i: srows1.extend(b.collect()))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    _drain(q)
    got = {r["user_id"]: r for r in srows1}
    assert got[1]["n_events"] == 3 and not got[1]["closed"]
    assert got[1]["first_ts"] == dt.datetime(2026, 1, 1, 9, 0)
    assert got[1]["last_ts"] == dt.datetime(2026, 1, 1, 9, 2)
    assert got[2]["n_events"] == 1

    # second micro-batch: state carries over, user 1's count grows to 4
    _write_events(spark, src, [(9, 5, 1, 1.0)])
    stream2 = spark.readStream.schema(_EVENT_SCHEMA).parquet(src)
    out2 = sessionize_events(stream2, key_col="user_id", ts_col="ts", gap_minutes=30)
    srows2: list = []
    q2 = (
        out2.writeStream.outputMode("update")
        .foreachBatch(lambda b, _i: srows2.extend(b.collect()))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    _drain(q2)
    got2 = {r["user_id"]: r for r in srows2}
    assert got2[1]["n_events"] == 4 and got2[1]["last_ts"] == dt.datetime(2026, 1, 1, 9, 5)


def _sessionize_run(spark, tmp_path, batches):
    """Every row ``sessionize_events`` (gap 30 min) emits over ``batches``,
    one micro-batch per file, in one ``availableNow`` query."""
    src = str(tmp_path / "sess_src")
    for batch in batches:
        _write_events(spark, src, batch)
    stream = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = sessionize_events(stream, key_col="user_id", ts_col="ts", gap_minutes=30)
    rows: list = []
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda b, _i: rows.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .trigger(availableNow=True).start()
    )
    _drain(q)
    return rows


def test_sessionize_events_closes_session_on_event_time(spark, tmp_path):
    """A session is emitted closed once an event of ANY key more than the
    gap later moves the watermark past its last event + gap; a session
    the watermark has not passed stays open."""
    rows = _sessionize_run(spark, tmp_path, [
        [(9, 0, 1, 1.0), (9, 1, 1, 1.0), (9, 0, 2, 1.0)],
        [(10, 5, 3, 1.0)],  # watermark -> 9:35, past 9:31 (user 1) and 9:30
    ])
    closed = {r["user_id"]: r for r in rows if r["closed"]}
    assert set(closed) == {1, 2}
    assert closed[1]["n_events"] == 2
    assert closed[1]["first_ts"] == dt.datetime(2026, 1, 1, 9, 0)
    assert closed[1]["last_ts"] == dt.datetime(2026, 1, 1, 9, 1)
    assert closed[2]["n_events"] == 1
    assert [r["n_events"] for r in rows if r["user_id"] == 3] == [1]


def test_sessionize_events_drops_late_events(spark, tmp_path):
    """A row behind the watermark is dropped: it neither opens a session
    nor joins one.  Spark filters late rows against the watermark the
    previous micro-batch ran with, so the late row comes two batches after
    the row that set it."""
    rows = _sessionize_run(spark, tmp_path, [
        [(10, 0, 1, 1.0)],                   # watermark -> 9:30
        [(10, 1, 1, 1.0)],
        [(9, 0, 2, 1.0), (10, 2, 1, 1.0)],   # 9:00 is behind it
    ])
    assert {r["user_id"] for r in rows} == {1}
    assert max(r["n_events"] for r in rows) == 3


def test_sessionize_events_key_behind_current_watermark(spark, tmp_path):
    """An event that passes the late-row filter (the previous batch's
    watermark) can still leave its session's gap end behind the current
    watermark; the session is kept and closed at the next watermark move
    instead of failing the query on a timeout set in the past."""
    rows = _sessionize_run(spark, tmp_path, [
        [(9, 0, 1, 1.0)],                    # watermark -> 8:30
        [(11, 0, 2, 1.0)],                   # watermark -> 10:30
        [(9, 20, 1, 1.0)],                   # not late; 9:20 + gap < 10:30
        [(11, 30, 3, 1.0)],                  # watermark -> 11:00
    ])
    closed = {r["user_id"]: r for r in rows if r["closed"]}
    assert closed[1]["n_events"] == 2
    assert closed[1]["last_ts"] == dt.datetime(2026, 1, 1, 9, 20)


def test_dedup_stream_suppresses_redelivered_keys(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a key re-delivered in a later
    micro-batch (within the watermark) is emitted exactly once, and state
    stays bounded by the watermark instead of growing forever."""
    from dff.streaming import dedup_stream

    path = str(tmp_path / "dups")
    # batch 1: keys 1,2,3 ; batch 2 (separate file): keys 2,3 redelivered + 4
    _write_events(spark, path, [(10, 0, 1, 1.0), (10, 1, 2, 1.0), (10, 2, 3, 1.0)])
    _write_events(spark, path, [(10, 3, 2, 1.0), (10, 4, 3, 1.0), (10, 5, 4, 1.0)])

    stream = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = dedup_stream(stream, ["user_id"], ts_col="ts", watermark_delay="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    rows = spark.table("dedup_stream_t").collect()
    ids = sorted(r["user_id"] for r in rows)
    assert ids == [1, 2, 3, 4]  # each key exactly once despite redelivery


def test_incremental_rollup_exactly_once_on_retry(spark, tmp_path):
    """Hypertable-rollup analog: per-batch algebraic partials partitioned by
    (day, batch_id) with dynamic overwrite — the maintained rollup equals a
    batch recompute, and a re-delivered batch REPLACES its own partials
    (no double counting)."""
    from dff.streaming import incremental_rollup, read_rollup

    src = str(tmp_path / "src")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    _write_events(spark, src, [(10, 0, 1, 2.0), (10, 1, 2, 3.0)])
    _write_events(spark, src, [(11, 0, 1, 5.0), (12, 0, 3, 7.0)])

    stream = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "rollup")
    q = incremental_rollup(
        stream, out, str(tmp_path / "ck"), key_cols=["user_id"], value_col="v"
    )
    _drain(q)

    def totals():
        return {
            (str(r["day"]), r["user_id"]): (r["n"], r["sum_value"])
            for r in read_rollup(spark, out, ["user_id"]).collect()
        }

    got = totals()
    batch = {
        (str(r["day"]), r["user_id"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(src)
        .groupBy(F.to_date("ts").alias("day"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_value"))
        .collect()
    }
    assert got == batch and len(got) >= 3

    # simulate a crash-retry of batch 0: re-deliver the SAME batch partials
    # into the same (day, batch_id) partitions — rollup must not change.
    # (materialize first: lazily re-reading the path being overwritten
    # would race the write)
    b0 = spark.read.parquet(out).where(F.col("__batch_id") == 0)
    rows, schema = b0.collect(), b0.schema
    assert rows  # batch 0 produced partials
    spark.createDataFrame(rows, schema).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("__day", "__batch_id").parquet(out)
    assert totals() == got  # replaced, not double-counted


def test_interval_join_streams_matches_batch_join(spark, tmp_path):
    """Stream-stream interval join == the static join on the same data."""
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    _write_events(spark, lsrc, [(10, 0, 1, 1.0), (10, 30, 2, 2.0), (11, 0, 1, 3.0)])
    _write_events(spark, rsrc, [(10, 20, 1, 9.0), (10, 40, 1, 8.0), (10, 45, 2, 7.0), (9, 50, 1, 6.0)])
    ls = spark.readStream.schema(_EVENT_SCHEMA).parquet(lsrc)
    rs = spark.readStream.schema(_EVENT_SCHEMA).parquet(rsrc)
    joined = interval_join_streams(
        ls, rs, ["user_id"], lower="0 seconds", upper="30 minutes",
        watermark_delay="2 hours",
    )
    out: list = []
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda b, _i: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    _drain(q)
    got = sorted((r["user_id"], r["v_l"], r["v_r"]) for r in out)
    # static truth: user 1 10:00 -> 10:20 only; user 1 11:00 -> none in
    # (11:00, 11:30]; 9:50 right row is BEFORE every left row; user 2
    # 10:30 -> 10:45
    lb = spark.read.parquet(lsrc)
    rb = spark.read.parquet(rsrc)
    want = sorted(
        (r["user_id"], r["lv"], r["rv"])
        for r in lb.alias("a").join(
            rb.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") >= F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 30 minutes")),
        ).select(F.col("a.user_id"), F.col("a.v").alias("lv"), F.col("b.v").alias("rv")).collect()
    )
    assert got == want
    assert (1, 1.0, 9.0) in got and (2, 2.0, 7.0) in got


def test_interval_join_streams_state_is_bounded(spark, tmp_path):
    """The time-range conjunct must be part of the join condition (that is
    what lets the engine evict state); assert the plan carries the interval
    bound, not a post-filter."""
    lsrc, rsrc = str(tmp_path / "l2"), str(tmp_path / "r2")
    _write_events(spark, lsrc, [(10, 0, 1, 1.0)])
    _write_events(spark, rsrc, [(10, 5, 1, 2.0)])
    ls = spark.readStream.schema(_EVENT_SCHEMA).parquet(lsrc)
    rs = spark.readStream.schema(_EVENT_SCHEMA).parquet(rsrc)
    joined = interval_join_streams(
        ls, rs, ["user_id"], upper="10 minutes", watermark_delay="5 minutes"
    )
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert "watermark" in plan.lower(), plan
    assert "INTERVAL" in plan or "interval" in plan, plan


def test_stream_to_table_exactly_once(spark, tmp_path):
    from dff.streaming import stream_to_table
    from dff.tablefmt import Table

    src = str(tmp_path / "src")
    synthetic_source_files(spark, 1500, n_repos=30).write.mode(
        "overwrite"
    ).parquet(src)
    root = str(tmp_path / "tbl")
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = stream_to_table(stream, root, str(tmp_path / "ckpt"))
    _drain(q)
    n_src = spark.read.parquet(src).count()  # generator plants extra rows
    t = Table(root)
    assert t.scan(spark).count() == n_src
    ops = [h["operation"] for h in t.history()]
    assert ops[0] == "create" and all(o == "append" for o in ops[1:])
    # crash-window replay: redeliver batch 0 by hand — the idempotency
    # key in the commit log makes it a no-op
    batch0 = spark.read.parquet(src)
    v_before = t._latest_version()
    t.append(batch0, idempotency_key="stream-batch-0")
    assert t._latest_version() == v_before
    assert t.scan(spark).count() == n_src


def test_stream_to_table_upsert_exactly_once(spark, tmp_path):
    """Streaming CDC apply: mode='upsert' lands each micro-batch as a
    merge-on-read MERGE under an idempotency key — later batches replace
    earlier rows per key, redeliveries no-op, and the target is never
    read (its pre-merge files survive untouched)."""
    from pyspark.sql import functions as F

    from dff.streaming import stream_to_table
    from dff.tablefmt import Table

    src = str(tmp_path / "src")
    base = spark.range(0, 500).select(
        F.col("id").alias("k"),
        F.lit("v0").alias("val"),
    )
    base.write.mode("overwrite").parquet(src)
    root = str(tmp_path / "tbl")
    stream = spark.readStream.schema(base.schema).parquet(src)
    q = stream_to_table(
        stream, root, str(tmp_path / "ckpt"), mode="upsert", key_cols=["k"]
    )
    _drain(q)
    t = Table(root)
    assert t.scan(spark).count() == 500
    files_before = {e["path"] for e in t.entries()}

    # second batch: 100 updates + 50 inserts, delivered as a new file
    upd = spark.range(400, 550).select(
        F.col("id").alias("k"), F.lit("v1").alias("val")
    )
    upd.write.mode("append").parquet(src)
    q = stream_to_table(
        stream, root, str(tmp_path / "ckpt"), mode="upsert", key_cols=["k"]
    )
    _drain(q)
    df = t.scan(spark)
    assert df.count() == 550
    assert df.where(F.col("val") == "v1").count() == 150  # last writer won
    assert files_before <= {e["path"] for e in t.entries()}  # MOR: no rewrite

    # crash-window replay of the second batch id: no-op
    v = t._latest_version()
    t.merge_upsert(spark, upd, ["k"], mode="mor",
                   idempotency_key="stream-batch-1")
    assert t._latest_version() == v and t.scan(spark).count() == 550


# ---------------------------------------------------------------- source side


def _mk_table(spark, path, lo, hi, change_feed=False):
    from dff.tablefmt import Table

    df = spark.range(lo, hi).withColumnRenamed("id", "k")
    t = Table.create(path, df.schema, change_feed=change_feed)
    t.append(df, n_files=1)
    return t


def test_stream_from_table_drains_appends_once(spark, tmp_path):
    from dff.streaming import stream_from_table
    from dff.tablefmt import Table

    root = str(tmp_path / "src")
    t = _mk_table(spark, root, 0, 10)
    t.append(spark.range(10, 15).withColumnRenamed("id", "k"), n_files=1)

    batches: list[tuple] = []

    def proc(df, b):
        batches.append((b["since"], b["until"], sorted(r["k"] for r in df.collect())))

    n = stream_from_table(spark, root, str(tmp_path / "ck"), proc)
    assert n == 1
    assert batches == [(-1, 2, list(range(15)))]
    # cursor committed: a second drain delivers nothing
    assert stream_from_table(spark, root, str(tmp_path / "ck"), proc) == 0
    assert len(batches) == 1
    # new commits deliver exactly the delta
    t.append(spark.range(15, 17).withColumnRenamed("id", "k"), n_files=1)
    assert stream_from_table(spark, root, str(tmp_path / "ck"), proc) == 1
    assert batches[-1] == (2, 3, [15, 16])


def test_stream_from_table_skips_compaction_rows(spark, tmp_path):
    # compaction rewrites every file; a naive scan_added across it would
    # re-deliver the whole table — the stream must surface only true rows
    from dff.streaming import stream_from_table

    root = str(tmp_path / "src")
    t = _mk_table(spark, root, 0, 10)
    ck = str(tmp_path / "ck")
    stream_from_table(spark, root, ck, lambda df, b: None)
    t.append(spark.range(10, 13).withColumnRenamed("id", "k"), n_files=1)
    t.compact(spark)
    t.append(spark.range(13, 14).withColumnRenamed("id", "k"), n_files=1)

    got: list = []
    n = stream_from_table(
        spark, root, ck, lambda df, b: got.extend(r["k"] for r in df.collect())
    )
    assert n == 1
    assert sorted(got) == [10, 11, 12, 13]


def test_stream_from_table_data_change_raises_then_skips(spark, tmp_path):
    import pytest as _pytest

    from dff.streaming import stream_from_table

    root = str(tmp_path / "src")
    t = _mk_table(spark, root, 0, 10)
    ck = str(tmp_path / "ck")
    stream_from_table(spark, root, ck, lambda df, b: None)
    t.delete_where(spark, [("k", "<", 3)])
    with _pytest.raises(ValueError, match="deletes or rewrites"):
        stream_from_table(spark, root, ck, lambda df, b: None)
    # skip mode advances past it without delivering phantom rows
    delivered: list = []
    n = stream_from_table(
        spark, root, ck,
        lambda df, b: delivered.append(df.count()),
        on_data_change="skip",
    )
    assert n == 0 and delivered == []
    # and the cursor moved: the next append is the only thing delivered
    t.append(spark.range(90, 92).withColumnRenamed("id", "k"), n_files=1)
    got: list = []
    stream_from_table(
        spark, root, ck, lambda df, b: got.extend(r["k"] for r in df.collect())
    )
    assert sorted(got) == [90, 91]


def test_stream_from_table_rate_limit_and_idempotency_keys(spark, tmp_path):
    from dff.streaming import stream_from_table

    root = str(tmp_path / "src")
    t = _mk_table(spark, root, 0, 4)
    t.append(spark.range(4, 6).withColumnRenamed("id", "k"), n_files=1)
    t.append(spark.range(6, 7).withColumnRenamed("id", "k"), n_files=1)

    meta: list[dict] = []
    n = stream_from_table(
        spark, root, str(tmp_path / "ck"),
        lambda df, b: meta.append(b),
        max_versions_per_batch=1,
    )
    # v0 (create) delivers nothing; each append is its own batch
    assert n == 3
    assert [b["idempotency_key"] for b in meta] == [
        "table-src-1", "table-src-2", "table-src-3",
    ]


def test_stream_from_table_crash_redelivers_same_batch(spark, tmp_path):
    # cursor commits AFTER process returns: a crash inside process
    # redelivers the identical range under the identical idempotency key,
    # so an idempotent table sink downstream is exactly-once end-to-end
    import pytest as _pytest

    from dff.streaming import stream_from_table

    root = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    t = _mk_table(spark, root, 0, 5)
    stream_from_table(spark, root, ck, lambda df, b: None)
    t.append(spark.range(5, 8).withColumnRenamed("id", "k"), n_files=1)

    keys: list[str] = []

    def boom(df, b):
        keys.append(b["idempotency_key"])
        raise RuntimeError("mid-batch crash")

    with _pytest.raises(RuntimeError):
        stream_from_table(spark, root, ck, boom)
    replay: list[tuple] = []
    stream_from_table(
        spark, root, ck,
        lambda df, b: replay.append((b["idempotency_key"], df.count())),
    )
    assert replay == [(keys[0], 3)]


def test_stream_from_table_cdc_mode_streams_deletes(spark, tmp_path):
    from dff.streaming import stream_from_table

    root = str(tmp_path / "src")
    t = _mk_table(spark, root, 0, 6, change_feed=True)
    t.delete_where(spark, [("k", ">=", 4)])
    events: list[tuple] = []
    n = stream_from_table(
        spark, root, str(tmp_path / "ck"),
        lambda df, b: events.extend(
            (r["k"], r["_change_type"], r["_commit_version"]) for r in df.collect()
        ),
        mode="cdc",
    )
    assert n == 1
    assert sorted(e for e in events if e[1] == "delete") == [
        (4, "delete", 2), (5, "delete", 2),
    ]
    assert sorted(e[0] for e in events if e[1] == "insert") == list(range(6))


def test_stream_from_table_cursor_ahead_of_tip_raises(spark, tmp_path):
    import shutil

    import pytest as _pytest

    from dff.streaming import stream_from_table

    root = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    t = _mk_table(spark, root, 0, 5)
    t.append(spark.range(5, 6).withColumnRenamed("id", "k"), n_files=1)
    stream_from_table(spark, root, ck, lambda df, b: None)
    # recreate the table shorter than the consumed offset
    shutil.rmtree(root)
    _mk_table(spark, root, 0, 3)
    with _pytest.raises(ValueError, match="ahead of the table tip"):
        stream_from_table(spark, root, ck, lambda df, b: None)


def test_stream_from_table_into_table_sink_exactly_once(spark, tmp_path):
    # the composed story: source table -> stream_from_table -> append into
    # a sink table under the batch idempotency key; a full replay after a
    # lost cursor write lands zero duplicate rows
    from dff.streaming import stream_from_table
    from dff.tablefmt import Table

    root = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    sink_root = str(tmp_path / "sink")
    t = _mk_table(spark, root, 0, 8)

    def copy_into_sink(df, b):
        if not Table.exists(sink_root):
            Table.create(sink_root, df.schema)
        Table(sink_root).append(df, idempotency_key=b["idempotency_key"])

    stream_from_table(spark, root, ck, copy_into_sink)
    # simulate the crash window: cursor write lost AFTER the sink commit
    import os

    os.remove(os.path.join(ck, "cursor.json"))
    stream_from_table(spark, root, ck, copy_into_sink)  # replays everything
    out = Table(sink_root).scan(spark)
    assert sorted(r["k"] for r in out.collect()) == list(range(8))


def test_stream_from_table_overwrite_is_a_data_change(spark, tmp_path):
    # overwrite removes rows; an append stream can't represent that —
    # raise by default, skip entirely under on_data_change="skip"
    # (Delta's skipChangeCommits), full events under mode="cdc"
    import pytest as _pytest

    from dff.streaming import stream_from_table

    root = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    t = _mk_table(spark, root, 0, 4, change_feed=True)
    stream_from_table(spark, root, ck, lambda df, b: None)
    t.overwrite(spark.range(100, 102).withColumnRenamed("id", "k"))
    with _pytest.raises(ValueError, match="deletes or rewrites"):
        stream_from_table(spark, root, ck, lambda df, b: None)
    got: list = []
    n = stream_from_table(
        spark, root, ck, lambda df, b: got.append(df.count()),
        on_data_change="skip",
    )
    assert n == 0 and got == []
    # a CDC consumer of the same table sees deletes + inserts
    ck2 = str(tmp_path / "ck2")
    events: list = []
    stream_from_table(
        spark, root, ck2,
        lambda df, b: events.extend(
            (r["k"], r["_change_type"]) for r in df.collect()
        ),
        mode="cdc",
    )
    assert sorted(e for e in events if e[1] == "delete") == [
        (0, "delete"), (1, "delete"), (2, "delete"), (3, "delete"),
    ]
    assert sorted(e[0] for e in events if e[1] == "insert") == [
        0, 1, 2, 3, 100, 101,
    ]


def test_stream_from_table_rename_splits_batches(spark, tmp_path):
    # appends on either side of a column rename must not union across
    # schemas: each batch reads under its own range's until-schema
    from dff.streaming import stream_from_table

    root = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    t = _mk_table(spark, root, 0, 3)
    stream_from_table(spark, root, ck, lambda df, b: None)
    t.append(spark.range(3, 5).withColumnRenamed("id", "k"), n_files=1)
    t.rename_column("k", "key")
    t.append(spark.range(5, 6).withColumnRenamed("id", "key"), n_files=1)

    batches: list[tuple] = []
    n = stream_from_table(
        spark, root, ck,
        lambda df, b: batches.append((df.columns, sorted(r[0] for r in df.collect()))),
    )
    assert n == 2
    assert batches[0] == (["k"], [3, 4])
    assert batches[1] == (["key"], [5])
