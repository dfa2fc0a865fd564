"""Structured Streaming surface: foreachBatch incremental validation,
watermarked event-time violation windows, and a stateful session operator.

The reference scores request/response single records
(/root/reference/02_dff_orchestration.py:311-341, widget-driven) — there is
no true streaming there (SURVEY.md §2.6).  Our engine's incremental story is
checkpoint/resume; this module adds the optional streaming surface:

- :func:`validate_stream` — each micro-batch flows through the SAME compiled
  rule DAG (one vectorized select) and appends violations + checkpoint rows,
  so batch and streaming share one code path.
- :func:`windowed_violation_counts` — a streaming-NATIVE plan
  (readStream -> rule select -> withWatermark -> window groupBy): per
  event-time window per constraint violation counts, late data beyond the
  watermark dropped by the engine, state bounded by the watermark.
- :func:`sessionize_events` — custom stateful operator via
  ``applyInPandasWithState``: per-key session assembly with an event-time
  gap timeout, the Arrow-batched stand-in for any reference operator Spark
  lacks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from .runner import ValidationRunner


def validate_stream(
    stream_df: DataFrame,
    runner: ValidationRunner,
    sink: Callable[[DataFrame, int], None],
    checkpoint_location: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Attach the validation engine to a streaming DataFrame.

    ``sink(violations_df, batch_id)`` receives each micro-batch's violation
    rows (already tagged with constraint ids).  Exactly-once is inherited
    from foreachBatch + the stream checkpoint; the engine's own lineage
    table is idempotent per (snapshot, partition, dag_version) on top.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        verdicts = runner.row_verdicts(batch_df)
        violations, cached = runner._violations(batch_df, verdicts)
        try:
            sink(violations, batch_id)
        finally:
            for c in cached:
                c.unpersist()

    writer = stream_df.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_location
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_violation_counts(
    stream_df: DataFrame,
    runner: ValidationRunner,
    ts_col: str = "ts",
    window_duration: str = "10 minutes",
    watermark_delay: str = "5 minutes",
) -> DataFrame:
    """Streaming-native windowed rollup of rule violations with late-data
    handling — no foreachBatch, so Spark manages the aggregation state.

    Plan: rule select (map-only, same compiled DAG as batch) ->
    ``withWatermark`` -> tumbling-``window`` groupBy count.  Events later
    than ``watermark_delay`` behind the max seen event time are DROPPED by
    the engine (asserted in tests), and window state older than the
    watermark is evicted — bounded state at unbounded runtime, which is
    what makes this shape safe on an infinite source.

    Returns an unstarted streaming DataFrame:
    ``(window struct, verdict_id, n)``; attach ``.writeStream`` (append
    output mode works because the watermark closes windows).
    """
    verdicts = stream_df.select(
        F.col(ts_col), runner_compiled_verdict_id(runner, stream_df).alias("verdict_id")
    )
    return (
        verdicts.where(F.col("verdict_id").isNotNull())
        .withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration), "verdict_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def event_time_sessions(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("user_id",),
    gap: str = "30 minutes",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Event-time gap sessionization via ``session_window`` — the
    built-in counterpart to ``sessionize_events``'s custom state
    (VERDICT r03 #8): a replay of the same input yields the same
    sessions, so it sits under the driver's oracle gate.

    Two events of a key belong to one session iff they are < ``gap``
    apart; the session spans [first event, last event + gap).  Watermark
    bounds state (sessions whose end falls behind it finalize + evict), so
    the shape is safe on an unbounded source; in append output mode only
    finalized sessions emit — on an ``availableNow`` replay that is every
    session whose end <= max event time, which an oracle reproduces with
    a plain gaps-and-islands SQL plus that cutoff.

    Returns an unstarted streaming DataFrame:
    ``(*key_cols, session_window struct, n_events)``.
    """
    return (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(*key_cols, F.session_window(ts_col, gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def runner_compiled_verdict_id(runner: ValidationRunner, df: DataFrame):
    """The rule DAG's first-violated-constraint column for ``df`` (streaming
    or batch — compilation is schema-driven and source-agnostic)."""
    from .compiler import compile_ruleset

    cfg = runner.config
    return compile_ruleset(cfg.ruleset, df, cfg.scorers).verdict_id


def incremental_rollup(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_location: str,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
) -> StreamingQuery:
    """Continuously-maintained daily rollup (the "hypertable rollup" /
    continuous-aggregate pattern): each micro-batch appends its ALGEBRAIC
    partials (count, sum) per (day, keys) to a partial-aggregate table;
    :func:`read_rollup` folds partials into the final aggregate at read.

    Exactly-once without transactions: partials are partitioned by
    ``(__day, __batch_id)`` and written with DYNAMIC partition overwrite —
    a retried batch (foreachBatch may re-deliver after a crash) REPLACES
    its own partitions instead of double-counting, and never touches other
    batches' partitions.  At 10^12 rows the per-batch work is one map-side
    combine + a tiny shuffle of (days x keys) partials; the read-side fold
    is over partial rows, not events.  Compact by periodically rewriting
    old days' partials into one batch partition (same idempotent shape).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            batch_df.groupBy(
                F.to_date(F.col(ts_col)).alias("__day"), *key_cols
            )
            .agg(
                F.count(F.lit(1)).alias("partial_n"),
                F.sum(value_col).alias("partial_sum"),
            )
            .withColumn("__batch_id", F.lit(batch_id))
        )
        delta.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("__day", "__batch_id").parquet(out_path)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_location)
        .trigger(availableNow=True)
        .start()
    )


def read_rollup(spark, out_path: str, key_cols: list[str]) -> DataFrame:
    """Fold the partial-aggregate table into the final daily rollup."""
    return (
        spark.read.parquet(out_path)
        .groupBy("__day", *key_cols)
        .agg(
            F.sum("partial_n").alias("n"),
            F.sum("partial_sum").alias("sum_value"),
        )
        .withColumnRenamed("__day", "day")
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark_delay: str = "1 hour",
    suffixes: tuple[str, str] = ("_l", "_r"),
) -> DataFrame:
    """Watermarked stream-stream inner join: right events on the same key
    whose event time falls in ``[left_ts + lower, left_ts + upper]``.

    Both sides carry a watermark and the join condition bounds the two
    event times against each other, which is exactly what lets Spark evict
    buffered rows: state per side is bounded by ``watermark_delay`` +
    the interval width, not by the stream length.  Without the time-range
    conjunct the engine must buffer both streams forever — the classic
    stream-join scale trap this helper makes unrepresentable.

    Column collisions outside ``key_cols`` get ``suffixes``.  ``left_ts``
    / ``right_ts`` must be TIMESTAMP (cast TIMESTAMP_NTZ upstream).
    """
    lsfx, rsfx = suffixes
    lw = left.withWatermark(left_ts, watermark_delay)
    rw = right.withWatermark(right_ts, watermark_delay)
    shared = (set(lw.columns) & set(rw.columns)) - set(key_cols)
    for c in shared:
        lw = lw.withColumnRenamed(c, f"{c}{lsfx}")
        rw = rw.withColumnRenamed(c, f"{c}{rsfx}")
    lts = f"{left_ts}{lsfx}" if left_ts in shared else left_ts
    rts = f"{right_ts}{rsfx}" if right_ts in shared else right_ts
    cond = F.lit(True)
    for k in key_cols:
        cond = cond & (lw[k] == rw[k])
    cond = (
        cond
        & (F.col(rts) >= F.col(lts) + F.expr(f"INTERVAL {lower}"))
        & (F.col(rts) <= F.col(lts) + F.expr(f"INTERVAL {upper}"))
    )
    joined = lw.join(rw, cond, "inner")
    for k in key_cols:  # keep one copy of each join key
        joined = joined.drop(rw[k])
    return joined


def dedup_stream(
    stream_df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keyed on ``keys``.

    A plain ``dropDuplicates`` on a stream accumulates every key seen
    forever (state grows without bound on an infinite source); the
    within-watermark variant evicts key state once the event time passes
    ``watermark_delay``, so duplicates arriving within the delay are
    suppressed and state size is bounded by the watermark window — the
    streaming twin of :func:`dff.dedup.dedup_exact` for at-least-once
    ingestion (e.g. replayed Kafka partitions or re-delivered files).
    ``ts_col`` must be TIMESTAMP (cast TIMESTAMP_NTZ upstream)."""
    return stream_df.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        keys
    )


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("first_ts", T.TimestampType()),
        T.StructField("last_ts", T.TimestampType()),
        T.StructField("closed", T.BooleanType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("first_ts_ms", T.LongType()),
        T.StructField("last_ts_ms", T.LongType()),
    ]
)


def sessionize_events(
    stream_df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Per-key session assembly via ``applyInPandasWithState`` — the custom
    stateful-operator escape hatch (Arrow-batched, GroupState + event-time
    timeout) for semantics Spark's built-in operators can't express.

    Emits one row per key per trigger with the running session
    (``closed=false``) or the final session once ``gap_minutes`` of event
    time pass after its last event (``closed=true``).  Event time, not
    processing time, so replayed data sessionizes as it did live and an
    ``availableNow`` query terminates.  Hence a session closes only once
    later events, of any key, move the watermark (max event time seen
    minus the gap) past its last event plus the gap, and rows that arrive
    behind the watermark (as of the previous micro-batch) are dropped.
    State is three longs per key — bounded by keys, not by events.
    """
    import pandas as pd  # local: executors import lazily inside the worker

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_minutes * 60 * 1000

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            n, first_ms, last_ms = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "first_ts": [pd.Timestamp(first_ms, unit="ms")],
                    "last_ts": [pd.Timestamp(last_ms, unit="ms")],
                    "closed": [True],
                }
            )
            return
        n, first_ms, last_ms = (state.get if state.exists else (0, None, None))
        for pdf in pdfs:
            # normalize to ns first: Arrow may hand datetime64[us] batches
            ts_ms = (
                pdf[ts_col].astype("datetime64[ns]").astype("int64") // 1_000_000
            ).to_numpy()
            n += len(ts_ms)
            first_ms = int(min(first_ms, ts_ms.min())) if first_ms is not None else int(ts_ms.min())
            last_ms = int(max(last_ms, ts_ms.max())) if last_ms is not None else int(ts_ms.max())
        state.update((n, first_ms, last_ms))
        # an event that passed the late-row filter (previous batch's
        # watermark) can still end its gap behind the current one, which
        # setTimeoutTimestamp rejects: close at the next watermark move
        state.setTimeoutTimestamp(
            max(last_ms + gap_ms, state.getCurrentWatermarkMs())
        )
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "first_ts": [pd.Timestamp(first_ms, unit="ms")],
                "last_ts": [pd.Timestamp(last_ms, unit="ms")],
                "closed": [False],
            }
        )

    return (
        stream_df.select(F.col(key_col).alias("user_id"), F.col(ts_col))
        .withWatermark(ts_col, f"{gap_minutes} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_to_table(
    stream_df: DataFrame,
    table_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
    n_files: int | None = None,
    mode: str = "append",
    key_cols: list[str] | None = None,
) -> StreamingQuery:
    """Exactly-once streaming sink into the native table format
    (:class:`dff.tablefmt.Table`): every micro-batch lands as ONE atomic
    snapshot commit carrying ``idempotency_key = stream-batch-{id}``, so
    the crash window foreachBatch leaves open (batch committed, streaming
    checkpoint not yet advanced -> Spark redelivers the same batch id) is
    closed by the table's commit log itself — the replay finds its key
    committed and no-ops.  Downstream consumers tail the table with
    ``scan_added`` per snapshot, making the whole chain incremental:
    stream -> atomic table commits -> incremental validation
    (``jobs/validate.py --table-input --since``).

    The table is created from the first batch's schema if absent; later
    batches append under the committed schema (mismatched columns raise,
    as in batch appends).

    ``mode="upsert"`` (requires ``key_cols``) is the streaming CDC-apply
    path: each micro-batch lands as a merge-on-read MERGE — a tombstone
    file on the batch keys plus the batch rows, the TARGET never read —
    under the same idempotency key, so updates are exactly-once too.  A
    batch must carry at most one row per key (pre-aggregate a raw change
    stream to last-change-per-key upstream; redundant deliveries of the
    whole batch are the part this sink de-duplicates).
    """
    from .tablefmt import CommitConflict, Table

    if mode not in ("append", "upsert"):
        raise ValueError(f"mode must be 'append' or 'upsert', got {mode!r}")
    if mode == "upsert" and not key_cols:
        raise ValueError("mode='upsert' requires key_cols")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not Table.exists(table_root):
            try:
                Table.create(table_root, batch_df.schema)
            except (CommitConflict, FileExistsError):
                pass  # another delivery created it first
        key = f"stream-batch-{batch_id}"
        if mode == "upsert":
            Table(table_root).merge_upsert(
                batch_df.sparkSession,
                batch_df,
                list(key_cols),
                mode="mor",
                idempotency_key=key,
            )
        else:
            Table(table_root).append(
                batch_df, n_files=n_files, idempotency_key=key
            )

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Table as a streaming SOURCE (the read side of stream_to_table; the
# native-format realization of Delta's `spark.readStream.format("delta")`)
# ---------------------------------------------------------------------------

# Commit operations that add rows ONLY through new data files: a
# version-range scan_added over them is exactly the new rows.  "create"
# is row-neutral (v0 never carries data files), which also guarantees no
# scan range ever needs the nonexistent v-1 baseline.  "overwrite" is
# NOT here: it removes rows too, which an append stream cannot represent
# — it takes the data-change path (raise, or skip entirely under
# on_data_change="skip" — Delta's skipChangeCommits semantics; use
# mode="cdc" to see it as deletes + inserts).
_APPEND_OPS = {"append", "publish"}
# Layout / metadata commits: file sets may change (compaction rewrites
# files without changing rows!) but the ROW set does not — a streaming
# consumer must skip them, never scan_added across them.
_NO_ROW_CHANGE_OPS = {
    "create", "compact", "rewrite-manifests", "optimize", "tag", "drop-tag",
    "set-partition-spec", "rename-column", "drop-column", "add-column",
    "widen-column", "branch", "add-constraint", "drop-constraint",
}
# Row-neutral commits that change the READ schema: appends on either
# side of one of these must land in separate batches (unioning a
# pre-rename scan with a post-rename scan would mix column names).  A
# chunk CLOSED by a schema change delivers its appends under each
# append's own pre-change schema; only the NEXT chunk reads under the
# new schema (pinned by test_stream_from_table_rename_splits_batches).
_SCHEMA_CHANGE_OPS = {
    "rename-column", "drop-column", "add-column", "widen-column",
}


def stream_from_table(
    spark,
    table_root: str,
    checkpoint_dir: str,
    process: Callable[[DataFrame, dict], None],
    mode: str = "append",
    on_data_change: str = "raise",
    max_versions_per_batch: int | None = None,
) -> int:
    """Tail a native-format table (:class:`dff.tablefmt.Table`) as a
    micro-batch stream: each call drains every commit newer than the
    checkpointed cursor, handing ``process(df, batch)`` one DataFrame per
    version chunk, then atomically advances the cursor — the read-side
    twin of :func:`stream_to_table` and the native realization of Delta's
    ``spark.readStream.format("delta")`` / Iceberg's incremental-append
    streaming read.  Returns the number of batches processed.

    Why not a literal ``readStream``: Spark has no Python API for custom
    streaming sources, so the micro-batch loop (poll the commit log,
    planInputPartitions the new files, advance the offset log) is
    realized directly — which is exactly what the DSv2 MicroBatchStream
    for Delta/Iceberg does under the hood, with the commit log as the
    offset log.

    ``batch`` (second arg to ``process``) carries ``since`` / ``until``
    (the version range), ``operations`` (the commit ops in range) and
    ``idempotency_key`` (``table-src-<until>``, stable across crash
    replays).  The cursor is committed AFTER ``process`` returns, so the
    contract is at-least-once with whole-batch replay; a downstream
    :meth:`Table.append`/``merge_upsert`` carrying the batch's
    ``idempotency_key`` makes the chain exactly-once end-to-end (the
    replay finds its key in the commit log and no-ops) — the same
    crash-window closure ``stream_to_table`` uses, mirrored.

    ``mode="append"`` (default) streams rows from append-family commits
    (``append``/``publish``) via per-range :meth:`Table.scan_added`;
    layout and metadata commits (compaction, OPTIMIZE, schema/spec
    evolution, tags) are skipped — their file churn is row-neutral, and
    scanning across a compaction would re-deliver every compacted row
    (a schema-changing metadata commit also closes its batch, so appends
    on either side never union across column renames).  Row-DELETING or
    row-REWRITING commits (COW/MOR delete, update, merge, overwrite,
    rollback) cannot be represented as an append stream:
    ``on_data_change="raise"`` (default, Delta's behavior without
    ``skipChangeCommits``) raises with the offending version; ``"skip"``
    advances past them delivering nothing (Delta's
    ``skipChangeCommits=true``).

    ``mode="cdc"`` streams the row-level change feed instead — each batch
    is :meth:`Table.scan_changes` over the range (``_change_type`` +
    ``_commit_version`` columns), so deletes/updates/merges flow as
    first-class events; COW mutations require the table created with
    ``change_feed=True`` (scan_changes raises otherwise, at the
    offending version).

    ``max_versions_per_batch`` bounds how many commits one batch spans
    (Delta's ``maxFilesPerTrigger`` analog): a consumer that fell a
    month behind catches up in bounded-size steps instead of one scan
    over the whole backlog.  At 10^12-file scale every step costs
    O(files added in range) — manifest set-difference, no full listing.

    A cursor AHEAD of the tip means the source table was rolled back or
    recreated under the consumer; that raises — re-sync from a fresh
    snapshot (drop the checkpoint) is the only sound recovery, as with
    any offset log whose upstream rewound.
    """
    import json as _json
    import os as _os
    import uuid as _uuid

    from .tablefmt import Table

    if mode not in ("append", "cdc"):
        raise ValueError(f"mode must be 'append' or 'cdc', got {mode!r}")
    if on_data_change not in ("raise", "skip"):
        raise ValueError(
            f"on_data_change must be 'raise' or 'skip', got {on_data_change!r}"
        )
    if max_versions_per_batch is not None and max_versions_per_batch < 1:
        raise ValueError("max_versions_per_batch must be >= 1")

    t = Table(table_root)
    _os.makedirs(checkpoint_dir, exist_ok=True)
    cursor_path = _os.path.join(checkpoint_dir, "cursor.json")

    if _os.path.exists(cursor_path):
        with open(cursor_path) as f:
            cursor = _json.load(f)["version"]
    else:
        cursor = -1  # deliver the table's full current contents first

    hist = t.history()
    if not hist:
        return 0
    tip = hist[-1]["version"]
    if cursor > tip:
        raise ValueError(
            f"checkpoint cursor v{cursor} is ahead of the table tip v{tip} "
            "(source rolled back or recreated) — drop the checkpoint and "
            "re-sync from a fresh snapshot"
        )
    ops = {h["version"]: h["operation"] for h in hist}
    if cursor >= 0 and cursor not in ops and cursor != tip:
        # the cursor's snapshot expired: version-range reads from it are
        # no longer answerable (retention ate the baseline manifest)
        raise ValueError(
            f"checkpoint cursor v{cursor} predates the table's retention "
            "(snapshot expired) — re-sync from a fresh snapshot"
        )

    def _advance(to_version: int) -> None:
        tmp = _os.path.join(
            checkpoint_dir, f".cursor-{_uuid.uuid4().hex}"
        )
        with open(tmp, "w") as f:
            _json.dump({"version": to_version}, f)
        _os.replace(tmp, cursor_path)

    pending = [v for v in sorted(ops) if v > cursor]
    if cursor == -1 and pending and pending[0] > 0 and (pending[0] - 1) not in ops:
        # r6 (ADVICE r05): a FRESH consumer on a table whose earliest
        # snapshots were expired has no retained baseline to scan_added
        # from — fail with the re-sync recipe instead of a raw
        # FileNotFoundError from the missing snapshot file.
        raise ValueError(
            f"cannot bootstrap a fresh consumer: the earliest retained "
            f"snapshot v{pending[0]} has no retained baseline (earlier "
            "snapshots expired) — deliver an initial full snapshot "
            "yourself (process Table(...).scan(spark), then write "
            '{"version": <tip>} as the cursor) and resume incrementally'
        )
    batches = 0
    while pending:
        # one batch = a bounded, homogeneous run of versions
        chunk: list[int] = []
        for v in pending:
            if max_versions_per_batch and len(chunk) >= max_versions_per_batch:
                break
            op = ops[v]
            if mode == "append":
                row_neutral = op in _NO_ROW_CHANGE_OPS
                appendish = op in _APPEND_OPS
                if not (row_neutral or appendish):
                    if on_data_change == "raise":
                        raise ValueError(
                            f"commit v{v} ({op!r}) deletes or rewrites rows; "
                            "an append-mode stream cannot represent it — use "
                            "mode='cdc' for the row-level feed, or "
                            "on_data_change='skip' to ignore it"
                        )
                    row_neutral = True  # skip: advance past, deliver nothing
            chunk.append(v)
            if op in _SCHEMA_CHANGE_OPS:
                # close the chunk: later appends read under the NEW
                # schema and must not union with pre-change scans
                break
        since = chunk[0] - 1
        until = chunk[-1]
        chunk_ops = [ops[v] for v in chunk]
        if mode == "cdc":
            # a fresh consumer's first chunk starts at v0 ("create", no
            # rows): clamp the open lower bound to 0 — (0, until] is the
            # same row set and v-1 has no snapshot to diff against
            df = t.scan_changes(
                spark, since_version=max(since, 0), until_version=until
            )
            deliver = True
        else:
            scan_versions = [v for v in chunk if ops[v] in _APPEND_OPS]
            deliver = bool(scan_versions)
            if any(ops[v] not in _APPEND_OPS for v in chunk) and scan_versions:
                # mixed chunk: scan each append run against its own parent
                # so a skipped compaction inside the range can't leak its
                # rewritten files into the set difference
                parts = [
                    t.scan_added(spark, since_version=v - 1, until_version=v)
                    for v in scan_versions
                ]
                df = parts[0]
                for p in parts[1:]:
                    df = df.unionByName(p)
            elif scan_versions:
                df = t.scan_added(spark, since_version=since, until_version=until)
            else:
                df = None
        if deliver and df is not None:
            process(
                df,
                {
                    "since": since,
                    "until": until,
                    "operations": chunk_ops,
                    "idempotency_key": f"table-src-{until}",
                },
            )
            batches += 1
        _advance(until)
        pending = pending[len(chunk):]
    return batches
