"""Validation orchestration: rule DAG + table-level constraints ->
verdicts / violations / per-partition metrics / checkpoint rows.

This is our analog of the reference's end-to-end flow (SURVEY.md §3.1-3.2):
one lineage ``read -> rule select (+ broadcast joins, + stat aggs) ->
verdicts / violations`` over a persisted slim base, with only per-partition
aggregates coming back to the driver.

Actions a resumable run (:meth:`ValidationRunner.run`) takes, in order:
  1. ``plan_pending``: collect the completed partition ids of this
     snapshot + DAG version from the checkpoint store (no job when the
     store is missing or empty) and turn them into a scan filter;
  2. ``validate``: collect the per-partition row-count + drift histogram
     aggregate (fills the base cache), then the violation counts per
     (partition, constraint) (fills the violations cache); verdicts and
     drift statistics are computed from those rows on the driver;
  3. if no partition was pending, return None having written nothing;
  4. ``ViolationsSink.write``: one atomic batch from the violations cache;
  5. ``CheckpointStore.append``: one atomic batch of checkpoint rows built
     from the driver-side metrics.

Scan budget per validated batch (at 10^12 rows the scans dominate): one
decode of the input into the base cache; the uniqueness hash-agg (one
8-byte shuffle), referential checks (map-side, dims broadcast) and the
drift histogram agg (map-side combine, tiny shuffle) all read that cache.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .checkpoint import CheckpointStore, ViolationsSink, plan_pending
from .compiler import ScorerRegistry, compile_ruleset
from .drift import (
    DRIFT_RESULT_SCHEMA,
    DriftSpec,
    _local_frame,
    bucket_projection,
    drift_statistics,
    partition_histograms,
)
from .ruleset import RuleSet


@dataclass
class ReferentialCheck:
    dim: DataFrame
    on: list[str]
    constraint_id: str
    #: dim already unique on ``on`` -> skip the distinct() shuffle before broadcast
    dim_is_distinct: bool = False


@dataclass
class ValidationConfig:
    ruleset: RuleSet
    scorers: ScorerRegistry | None = None
    key_cols: tuple[str, ...] = ("repo", "path", "commit")
    part_col: str = "part_id"
    unique_keys: tuple[str, ...] | None = ("repo", "path", "commit")
    referential: list[ReferentialCheck] = field(default_factory=list)
    drift_spec: DriftSpec | None = None
    drift_baseline: dict[str, np.ndarray] | None = None
    psi_threshold: float = 0.2
    ks_threshold: float = 0.15
    snapshot_id: str = "snapshot-0"
    partition_spec: str = "bucket(part_id)"

    def __post_init__(self) -> None:
        """Fail fast with a descriptive error instead of the opaque
        unresolved-column failure the slim persisted base projection would
        raise at analysis time: uniqueness/referential checks run over the
        base (key_cols + part_col + verdict), so their columns must be
        drawn from key_cols ∪ {part_col}."""
        allowed = {*self.key_cols, self.part_col}
        if self.unique_keys:
            bad = [c for c in self.unique_keys if c not in allowed]
            if bad:
                raise ValueError(
                    f"unique_keys {bad} not in key_cols {self.key_cols} ∪ "
                    f"part_col {self.part_col!r}: the uniqueness check reads "
                    "the slim base projection — add the column(s) to key_cols"
                )
        for check in self.referential:
            bad = [c for c in check.on if c not in allowed]
            if bad:
                raise ValueError(
                    f"referential check {check.constraint_id!r}: join columns "
                    f"{bad} not in key_cols {self.key_cols} ∪ part_col "
                    f"{self.part_col!r} — add the column(s) to key_cols"
                )


@dataclass
class ValidationResult:
    verdicts: DataFrame           # key cols + part + verdict_id + verdict
    violations: DataFrame         # key cols + part + constraint_id + detail
    partition_metrics: DataFrame  # per-partition rollup incl. pass/fail
    drift: DataFrame | None      # per-partition per-column psi/ks (if configured)
    base: DataFrame | None = None  # persisted slim projection feeding all of
    # the above; validate() has filled its cache and the violations cache
    # by the time it returns, so concurrent output actions read warm caches
    _cached: tuple[DataFrame, ...] = ()  # persisted frames, for unpersist()
    _metric_rows: tuple = ()  # partition_metrics' rows, held on the driver

    def unpersist(self) -> None:
        """Release this run's caches (base / violations / duplicated-hash set).

        Spark's ContextCleaner eventually unpersists them once the driver
        garbage-collects the references, but a long-lived service calling
        ``validate()`` per snapshot should release each batch explicitly so
        storage memory never carries dead snapshots between GC cycles.
        """
        for df in self._cached:
            df.unpersist()


def _metrics_schema(part_col: str, part_type: T.DataType) -> T.StructType:
    """Columns and types of ``ValidationResult.partition_metrics``."""
    return T.StructType([
        T.StructField(part_col, part_type),
        T.StructField("rows", T.LongType(), False),
        T.StructField("violations", T.LongType(), False),
        T.StructField(
            "by_constraint", T.MapType(T.StringType(), T.DoubleType(), False)
        ),
        T.StructField("max_psi", T.DoubleType()),
        T.StructField("max_ks", T.DoubleType()),
        T.StructField("verdict", T.StringType(), False),
    ])


class ValidationRunner:
    def __init__(self, config: ValidationConfig):
        self.config = config

    # -- row-level -----------------------------------------------------
    def row_verdicts(self, df: DataFrame) -> DataFrame:
        cfg = self.config
        compiled = compile_ruleset(cfg.ruleset, df, cfg.scorers)
        return df.select(
            *cfg.key_cols,
            cfg.part_col,
            compiled.verdict_id.alias("verdict_id"),
            compiled.verdict.alias("verdict"),
        )

    # -- per-row attribution -------------------------------------------
    def row_attribution(self, df: DataFrame) -> DataFrame:
        """Per-row MULTI-constraint attribution (VERDICT r03 #5): one
        output row per (row, violated constraint) — every triggered rule
        (not just the first-win verdict) plus every failed referential
        check.  Same fused map-only shape as the violations() rule branch:
        broadcast-joined dimension markers + one vectorized array build +
        explode, zero shuffle of the fact table.  Plain-SQL-reproducible,
        so it sits under the driver's oracle gate (``row_attribution``)."""
        cfg = self.config
        compiled = compile_ruleset(cfg.ruleset, df, cfg.scorers)
        key_sel = [*cfg.key_cols, cfg.part_col]
        fused = df
        entries = [compiled.all_triggered()]
        empty = F.array().cast("array<string>")
        for i, check in enumerate(cfg.referential):
            marker = f"__ref_ok_{i}"
            d = check.dim.select(*check.on)
            if not check.dim_is_distinct:
                d = d.distinct()
            fused = fused.join(
                F.broadcast(d.withColumn(marker, F.lit(1))), check.on, "left"
            )
            entries.append(
                F.when(
                    F.col(marker).isNull(),
                    F.array(F.lit(check.constraint_id)),
                ).otherwise(empty)
            )
        arr = F.concat(*entries) if len(entries) > 1 else entries[0]
        return (
            fused.withColumn("__attr", arr)
            .where(F.size("__attr") > 0)
            .select(*key_sel, F.explode("__attr").alias("constraint_id"))
        )

    # -- violations ----------------------------------------------------
    def violations(self, df: DataFrame, verdicts: DataFrame) -> DataFrame:
        """All constraint violations as a union of two shuffle-lean branches.

        Branch 1 (rule + referential): fused onto one MAP-ONLY projection —
        broadcast LEFT joins mark missing dimension keys, the verdict column
        marks rule hits; a row's violations explode into one output row per
        violated constraint.  Zero shuffle of the fact table.

        Branch 2 (uniqueness): HASH-COMPRESSED two-pass duplicate detection.
        Pass 1 aggregates ``xxhash64(unique_keys)`` — an 8-byte long per
        row instead of ~90 bytes of key strings, so the only full-table
        shuffle in the whole engine shrinks ~10x and the aggregation hash
        map compares longs, not strings (measured 53s -> 6s on 16M rows at
        local[8]; the string variant was a parallelism-independent wall).
        Pass 2 makes it EXACT despite hash collisions: the duplicated-hash
        set (tiny — violations are the exception by assumption) broadcasts
        into a map-side semi join, and only the surviving rows pass through
        a window keyed on the TRUE key columns, emitting one violation row
        per surplus copy CARRYING THAT COPY'S OWN part/extra columns (so a
        partition holding any surplus copy fails, even when a key's copies
        span partitions).  No full-table sort or string shuffle anywhere;
        the window sorts only the survivor set.  Earlier versions ran
        ``row_number`` over a full-table window (shuffle + SORT of every
        row) and then a plain string groupBy with max(part) attribution —
        the latter could mark a duplicate-holding partition 'pass'.

        Note the broadcast assumes duplicate keys are rare (a constraint
        violation, not the norm).  Corpus-scale dedup — where most rows may
        be duplicates — is dff.dedup's job, not a uniqueness constraint.

        The duplicated-hash set persisted for branch 2 is left to Spark's
        ContextCleaner here; :meth:`validate` releases its own explicitly.
        """
        return self._violations(df, verdicts)[0]

    def _violations(
        self, df: DataFrame, verdicts: DataFrame, max_rows: int | None = None
    ) -> tuple[DataFrame, tuple[DataFrame, ...]]:
        """:meth:`violations` plus the frames it persisted, which the
        caller releases once every consumer of the violations has run.
        ``max_rows`` bounds ``df``'s row count when the caller knows it
        (see ``_duplicate_hash_survivors``)."""
        cfg = self.config
        key_sel = [*cfg.key_cols, cfg.part_col]
        fused = verdicts
        cons_entries = [
            F.when(
                F.col("verdict_id").isNotNull(),
                F.struct(
                    F.col("verdict_id").alias("constraint_id"),
                    F.col("verdict").alias("detail"),
                ),
            )
        ]
        for i, check in enumerate(cfg.referential):
            marker = f"__ref_ok_{i}"
            d = check.dim.select(*check.on)
            if not check.dim_is_distinct:
                d = d.distinct()
            dim = F.broadcast(d.withColumn(marker, F.lit(1)))
            fused = fused.join(dim, check.on, "left")
            cons_entries.append(
                F.when(
                    F.col(marker).isNull(),
                    F.struct(
                        F.lit(check.constraint_id).alias("constraint_id"),
                        F.lit("missing in dimension").alias("detail"),
                    ),
                )
            )
        out = (
            fused.withColumn("__cons", F.array_compact(F.array(*cons_entries)))
            .where(F.size("__cons") > 0)
            .select(*key_sel, F.explode("__cons").alias("__c"))
            .select(*key_sel, F.col("__c.constraint_id"), F.col("__c.detail"))
        )
        if cfg.unique_keys:
            from .uniqueness import _duplicate_hash_survivors

            uniq_keys = list(cfg.unique_keys)
            extra = [c for c in key_sel if c not in uniq_keys and c != cfg.part_col]
            # dict.fromkeys: part_col may itself be a unique key (config
            # permits it) — selecting it twice would be an analysis error
            sel = list(dict.fromkeys([*uniq_keys, cfg.part_col, *extra]))
            # shared hash-compressed pre-pass (dff/uniqueness.py): 8-byte
            # hash shuffle + broadcast semi join of the duplicated-hash set
            survivors, dup_cached = _duplicate_hash_survivors(
                df.select(*sel), uniq_keys, max_rows
            )
            # per-COPY violation rows: every copy beyond the canonical first
            # (lowest part_col — deterministic under any partitioning) is a
            # violation carrying ITS OWN part/extra columns, so a partition
            # holding a surplus copy always fails even when the copies of a
            # key span partitions.  The window is fine here: it runs over
            # the tiny survivor set (keys whose hash is duplicated), never
            # the full table.
            w = Window.partitionBy(*uniq_keys).orderBy(
                F.col(cfg.part_col).asc(), *[F.col(c).asc() for c in extra]
            )
            # __rn > 1 alone is exact: a hash-collision key that is not
            # actually duplicated forms a single-row group (rn == 1 only)
            dup = (
                survivors.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") > 1)
                .select(
                    *key_sel,
                    F.lit("uniqueness").alias("constraint_id"),
                    F.lit("duplicate key").alias("detail"),
                )
            )
            return out.unionByName(dup), dup_cached
        return out, ()

    # -- end to end ------------------------------------------------------
    def validate(self, df: DataFrame, persist_violations: bool = True) -> ValidationResult:
        """Single-decode pipeline: ONE projection evaluates the rule DAG and
        the drift bucket indices over the heavy columns (``content`` is
        decompressed and decoded exactly once), is persisted, and every
        downstream consumer — verdict output, violation explode, uniqueness
        hash-agg, per-partition row counts + drift histograms — reads the
        slim cached base (keys + verdict + a few ints per row).  The cache
        is columnar (InMemoryRelation), so consumers still get column
        pruning; with ``persist_violations=False`` (warmup / foreachBatch
        micro-batches) the base stays unpersisted and Catalyst recomputes
        it per action, which is the right call for small batches.

        Actions, in order (each a Spark job or a few under AQE):
          1. collect the per-partition row count + drift histogram
             aggregate (n_parts rows) — the first read of the input,
             filling the base cache;
          2. collect the violation count per (partition, constraint) —
             fills the violations cache the sink then reads.  The total
             row count from (1) bounds the duplicated-hash set, so the
             uniqueness branch broadcasts it without counting it first
             (up to 2 x MAX_BROADCAST_DUP_HASHES rows).
        Verdicts, ``max_psi``/``max_ks`` and ``by_constraint`` are computed
        from those rows on the driver with the numpy statistics in
        dff/drift.py; ``partition_metrics`` and ``drift`` are driver-local
        frames built from them, so reading them runs no Spark job.

        Shuffle budget: uniqueness hash-agg on the key columns (sort-free),
        histogram agg of n_parts x n_buckets longs, violations rollup.
        No full-row sort anywhere.
        """
        cfg = self.config
        compiled = compile_ruleset(cfg.ruleset, df, cfg.scorers)
        key_sel = [*cfg.key_cols, cfg.part_col]
        base_cols = [
            *key_sel,
            compiled.verdict_id.alias("verdict_id"),
            compiled.verdict.alias("verdict"),
        ]
        has_drift = cfg.drift_spec is not None and cfg.drift_baseline is not None
        if has_drift:
            base_cols += bucket_projection(cfg.drift_spec, [])
        base = df.select(*base_cols)
        cached: list[DataFrame] = []
        if persist_violations:
            base = base.persist()
            cached.append(base)
        part = cfg.part_col
        n_rows = F.count(F.lit(1)).alias("__rows")
        if has_drift:
            # rows-per-partition rides the SAME aggregation as the histograms
            hist = partition_histograms(
                base, part, cfg.drift_spec, extra_aggs=[n_rows], prebucketed=True
            )
        else:
            hist = base.groupBy(part).agg(n_rows)
        part_rows = hist.collect()
        verdicts = base.select(*key_sel, "verdict_id", "verdict")
        # the exact row count bounds the duplicated-hash set, settling the
        # uniqueness broadcast guard without another action
        violations, dup_cached = self._violations(
            base, verdicts, max_rows=sum(r["__rows"] for r in part_rows)
        )
        cached.extend(dup_cached)
        if persist_violations:
            # violations are consumed twice (count rollup below + sink
            # write) and are orders of magnitude smaller than the input:
            # persist so the explode/filter passes over the base run once
            violations = violations.persist()
            cached.append(violations)
        viol_counts = (
            violations.groupBy(part, "constraint_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        metric_rows, drift_rows = self._rollup(part_rows, viol_counts, has_drift)
        spark = df.sparkSession
        metrics = _local_frame(
            spark, metric_rows, _metrics_schema(part, base.schema[part].dataType)
        )
        drift = (
            _local_frame(spark, drift_rows, DRIFT_RESULT_SCHEMA)
            if has_drift else None
        )
        return ValidationResult(
            verdicts, violations, metrics, drift,
            base=base if persist_violations else None,
            _cached=tuple(cached),
            _metric_rows=tuple(metric_rows),
        )

    def _rollup(
        self, part_rows: list, viol_counts: list, has_drift: bool
    ) -> tuple[list, list]:
        """Per-partition metrics rows (the ``partition_metrics`` columns)
        and drift rows (``DRIFT_RESULT_SCHEMA``, from
        :func:`~dff.drift.drift_statistics`) from the collected
        histogram/row-count aggregate and per-(partition, constraint)
        violation counts.  A partition fails on any violation or when its
        worst column's PSI or KS exceeds the configured threshold."""
        cfg = self.config
        counts: dict = {}
        for p, c, n in viol_counts:
            counts.setdefault(p, {})[c] = n
        drift, worst = drift_statistics(
            part_rows,
            cfg.part_col,
            cfg.drift_spec if has_drift else DriftSpec(),
            cfg.drift_baseline if has_drift else {},
        )
        metrics = []
        for r, (max_psi, max_ks) in zip(part_rows, worst):
            p = r[cfg.part_col]
            drifted = max_psi is not None and (
                max_psi > cfg.psi_threshold or max_ks > cfg.ks_threshold
            )
            by_c = counts.get(p)
            n_viol = sum(by_c.values()) if by_c else 0
            metrics.append((
                p,
                r["__rows"],
                n_viol,
                {c: float(n) for c, n in by_c.items()} if by_c else None,
                max_psi,
                max_ks,
                "fail" if n_viol > 0 or drifted else "pass",
            ))
        return metrics, drift

    def checkpoint_rows(self, metrics: DataFrame, dag_version: str) -> DataFrame:
        cfg = self.config
        base_metrics = F.map_from_arrays(
            F.array(F.lit("rows"), F.lit("violations"), F.lit("max_psi"), F.lit("max_ks")),
            F.array(
                F.col("rows").cast("double"),
                F.col("violations").cast("double"),
                F.coalesce(F.col("max_psi"), F.lit(0.0)),
                F.coalesce(F.col("max_ks"), F.lit(0.0)),
            ),
        )
        merged = F.when(
            F.col("by_constraint").isNotNull(),
            F.map_concat(base_metrics, F.col("by_constraint")),
        ).otherwise(base_metrics)
        return metrics.select(
            F.lit(cfg.snapshot_id).alias("snapshot_id"),
            F.lit(cfg.partition_spec).alias("partition_spec"),
            F.col(cfg.part_col).cast("int").alias("partition_id"),
            F.lit(dag_version).alias("dag_version"),
            F.col("rows").cast("long").alias("rows"),
            F.col("violations").cast("long").alias("violations"),
            F.col("verdict"),
            merged.alias("metrics"),
            F.current_timestamp().alias("completed_at"),
        )

    def run(
        self,
        df: DataFrame,
        store: CheckpointStore,
        violations_path: str | None = None,
    ) -> ValidationResult | None:
        """Resumable validation: validate only partitions without a
        checkpoint row, write violations + checkpoint, return the batch
        result (None, with nothing written, if everything was already
        complete)."""
        cfg = self.config
        pending = plan_pending(
            df, cfg.part_col, store, cfg.snapshot_id, cfg.ruleset.version
        )
        result = self.validate(pending)
        if not result._metric_rows:  # no pending partition: nothing to write
            result.unpersist()
            return None
        if violations_path:
            # atomic batch publish (staged-rename, same contract as the
            # checkpoint store) with read-side per-partition last-writer-
            # wins: a crash between this write and store.append
            # re-validates those partitions on resume and the newer batch
            # REPLACES (never duplicates) the orphan; a crash mid-write
            # leaves only an invisible .staging-* dir (VERDICT r04 #7).
            ViolationsSink(
                result.violations.sparkSession, violations_path, cfg.part_col
            ).write(result.violations)
        store.append(self.checkpoint_rows(result.partition_metrics, cfg.ruleset.version))
        return result
