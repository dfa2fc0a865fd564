"""spark-submit entry point for the validation engine (north rule:
``spark-submit --py-files dist/dff.zip jobs/validate.py``).

Validates a source-code table (parquet/Iceberg path or synthetic) against a
rule spec, resumable from the checkpoint store.  ``--parallelism`` realizes
the N vs 4N cluster-size comparison in the sandbox (local[N]); on a real
cluster drop ``--local`` and size executors via spark-submit flags.

Usage examples:
  spark-submit --py-files dist/dff.zip jobs/validate.py \
      --input /data/source_files --rules rules.json \
      --checkpoint /data/ckpt --violations /data/violations
  python jobs/validate.py --synthetic-rows 2000000 --parallelism 8 --bench
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from dff.checkpoint import CheckpointStore
from dff.drift import CategoricalBins, DriftSpec, NumericBins, snapshot
from dff.ruleset import parse_dmn, parse_json
from dff.runner import ReferentialCheck, ValidationConfig, ValidationRunner
from dff.schema import SOURCE_SCHEMA, assert_schema
from dff.sources import ALLOWED_LANGS, commits_dim, synthetic_source_files

DEFAULT_RULES = {
    "version": "source-v1",
    "sensitivity": 0.7,
    "rules": [
        {"id": "C_null_lang", "name": "lang is null", "requires": []},
        {"id": "C_empty", "name": "length(content) = 0", "requires": ["C_null_lang"]},
        {"id": "C_huge", "name": "length(content) > 10485760", "requires": ["C_empty"]},
    ],
}


def build_session(parallelism: int | None, app: str = "dff-validate") -> SparkSession:
    b = SparkSession.builder.appName(app)
    if parallelism:
        # Fixed, pre-touched heap (-Xms == -Xmx + AlwaysPreTouch): without it
        # G1 repeatedly uncommits and recommits heap regions, and every
        # recommit re-faults pages.  On virtualized hosts (Firecracker/UFFD-
        # backed memory) those faults run ~100x slower than native — measured
        # here as executor threads at ~90% SYSTEM time and a 13x wall-time
        # collapse at local[32] (2.5s/pass pre-touched vs 50-115s growing).
        mem = os.environ.get("DFF_DRIVER_MEM", "16g")
        b = (
            b.master(f"local[{parallelism}]")
            .config("spark.sql.shuffle.partitions", str(2 * parallelism))
            .config("spark.driver.memory", mem)
            .config(
                "spark.driver.extraJavaOptions",
                f"-Xms{mem} -XX:+AlwaysPreTouch",
            )
        )
    # Shuffle/spill files go to tmpfs: this sandbox's disk writes at
    # ~15 MB/s (measured, with heavy kernel time), so any GB-scale shuffle
    # to /tmp becomes a parallelism-independent wall — tmpfs restores the
    # local-SSD behavior every real cluster node has.  The choice is
    # capacity-gated (dff/env.py): on a normal host with a small /dev/shm
    # the default stays the system temp dir so spills can't OOM the box.
    from dff.env import pick_local_dir

    local_dir = pick_local_dir()
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    return (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # source-code content compresses ~10x in parquet, so a default 128MB
        # split decompresses to >1GB of per-task work and a moderate table
        # yields too few splits to occupy the cluster (measured: 773MB input
        # -> 10 scan tasks, capping scaling at ~10 cores).  32MB file splits
        # keep scan stages wide; shuffles are sized by shuffle.partitions.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path of the source table")
    ap.add_argument("--table-input", metavar="TABLE_ROOT",
                    help="read the source table from a dff.tablefmt Table "
                         "(snapshot-isolated scan of the latest version)")
    ap.add_argument("--since-version", type=int, metavar="V",
                    help="with --table-input: validate ONLY rows in files "
                         "added after snapshot V (incremental validation — "
                         "the day's delta instead of the whole table)")
    ap.add_argument("--table-checkpoint", action="store_true",
                    help="back --checkpoint with the table-format lineage "
                         "store (atomic snapshot commits + audit history)")
    ap.add_argument("--synthetic-rows", type=int, default=0,
                    help="generate a synthetic source table instead of --input")
    ap.add_argument("--rules", help="rule spec (.json or .dmn); default built-in")
    ap.add_argument("--checkpoint", help="checkpoint store path (enables resume)")
    ap.add_argument("--violations", help="violations output path")
    ap.add_argument("--parallelism", type=int, default=None,
                    help="local[N] cores (sandbox stand-in for executor count)")
    ap.add_argument("--snapshot-id", default="snapshot-0")
    ap.add_argument("--n-repos", type=int, default=2000)
    ap.add_argument("--skew", action="store_true", help="skew-stress dataset")
    ap.add_argument("--no-drift", action="store_true")
    ap.add_argument("--trend-baseline", metavar="SNAPSHOT_ID",
                    help="after the run, compare this snapshot's per-"
                         "partition lineage metrics against SNAPSHOT_ID "
                         "(row drops / violation-rate rises / vanished "
                         "partitions); requires --checkpoint")
    ap.add_argument("--report", action="store_true",
                    help="print the rule-DAG dump + per-constraint hit report")
    ap.add_argument("--bench", action="store_true", help="print one timing JSON line")
    args = ap.parse_args(argv)
    if args.trend_baseline and not args.checkpoint:
        ap.error("--trend-baseline requires --checkpoint (lineage store)")

    spark = build_session(args.parallelism)
    spark.sparkContext.setLogLevel("ERROR")

    if args.rules and args.rules.endswith(".dmn"):
        ruleset = parse_dmn(args.rules)
    elif args.rules:
        ruleset = parse_json(args.rules)
    else:
        ruleset = parse_json(DEFAULT_RULES)

    if args.since_version is not None and not args.table_input:
        ap.error("--since-version requires --table-input")
    if args.table_input:
        from dff.tablefmt import Table

        tbl = Table(args.table_input)
        df = (
            tbl.scan_added(spark, args.since_version)
            if args.since_version is not None
            else tbl.scan(spark)
        )
    elif args.input:
        df = spark.read.parquet(args.input)
    elif args.synthetic_rows:
        df = synthetic_source_files(
            spark, args.synthetic_rows, n_repos=args.n_repos, n_parts=64,
            seed=42, skew=args.skew,
        )
    else:
        ap.error("one of --input / --table-input / --synthetic-rows is required")
    assert_schema(df, SOURCE_SCHEMA)

    cfg = ValidationConfig(
        ruleset=ruleset,
        referential=[
            ReferentialCheck(
                commits_dim(spark, args.n_repos), ["repo", "commit"],
                "C_ref_commit", dim_is_distinct=True,
            )
        ],
        snapshot_id=args.snapshot_id,
    )
    if not args.no_drift:
        cfg.drift_spec = DriftSpec(
            numeric=[
                NumericBins(
                    "content_length",
                    tuple(float(2**i) for i in range(4, 14)),
                    expr="length(content)",
                )
            ],
            categorical=[CategoricalBins("lang", tuple(ALLOWED_LANGS))],
        )
        cfg.drift_baseline = snapshot(df.sample(0.05, seed=1), cfg.drift_spec)

    runner = ValidationRunner(cfg)
    if args.bench:
        # JIT/codegen/page-cache warmup on a slice, excluded from timing
        warm = runner.validate(df.limit(20000), persist_violations=False)
        warm.violations.write.format("noop").mode("overwrite").save()
        warm.partition_metrics.collect()
    t0 = time.perf_counter()
    if args.checkpoint:
        if args.table_checkpoint:
            from dff.checkpoint import TableCheckpointStore

            store = TableCheckpointStore(spark, args.checkpoint)
        else:
            store = CheckpointStore(spark, args.checkpoint)
        result = runner.run(df, store, violations_path=args.violations)
        if result is None:
            print(json.dumps({"status": "already-complete"}))
            spark.stop()
            return {"status": "already-complete"}
    else:
        # validate() returns with the base and violations caches filled
        # (its metrics collects read the input once), so the independent
        # output actions run CONCURRENTLY against warm caches — Spark's
        # scheduler interleaves their stages, filling cores a single
        # sequential chain would idle.
        result = runner.validate(df)
        from concurrent.futures import ThreadPoolExecutor

        def write_verdicts():
            result.verdicts.write.format("noop").mode("overwrite").save()

        def write_violations():
            if args.violations:
                # same atomic batch commit the resumable path uses — a
                # crash mid-write leaves only a hidden .staging-* dir
                from dff.checkpoint import ViolationsSink

                ViolationsSink(spark, args.violations, cfg.part_col).write(
                    result.violations
                )
            else:
                result.violations.write.format("noop").mode("overwrite").save()

        with ThreadPoolExecutor(max_workers=3) as pool:
            fv = pool.submit(write_verdicts)
            fw = pool.submit(write_violations)
            fm = pool.submit(result.partition_metrics.collect)
            fv.result(), fw.result()
            metrics = fm.result()
        wall = time.perf_counter() - t0
        if args.report:
            from dff.report import render_report

            # pass the already-collected rows — no second metrics job
            print(render_report(ruleset, metrics), file=sys.stderr)
        print(json.dumps(_summary(metrics, wall, args)))
        spark.stop()
        return _summary(metrics, wall, args)
    metrics = result.partition_metrics.collect()
    out = _summary(metrics, time.perf_counter() - t0, args)
    if args.trend_baseline:
        from dff.checkpoint import metric_regressions

        breaches = [
            r.asDict()
            for r in metric_regressions(
                store, args.snapshot_id, args.trend_baseline
            ).collect()
        ]
        out["trend_breaches"] = breaches
        out["trend_ok"] = not breaches
    if args.report:
        from dff.report import render_report

        print(render_report(ruleset, metrics), file=sys.stderr)
    print(json.dumps(out))
    spark.stop()
    return out


def _summary(metrics, wall: float, args) -> dict:
    rows = sum(m["rows"] for m in metrics)
    return {
        "rows": rows,
        "violations": int(sum(m["violations"] for m in metrics)),
        "partitions": len(metrics),
        "failed_partitions": sum(1 for m in metrics if m["verdict"] == "fail"),
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(rows / wall) if wall > 0 else None,
        "parallelism": args.parallelism,
    }


if __name__ == "__main__":
    main()
