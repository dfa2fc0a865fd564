"""Benchmark of the dff engine's public entry points at local[4].

Usage (from the repository root):

    python3 perfbench/run.py --workload snapshot_validate --seed 1 --seconds 5 --trace 0

One process, one Spark session built by ``jobs/validate.build_session(4)``,
one closed-loop client.  Set-up (session start, input generation from the
seed, warm-up) is timed first; then ops run until ``--seconds`` have passed
and at least two ops ran, and each is checked against expectations computed
without the engine.  The
last line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics (spans joined with Spark's per-stage metrics) with
``--trace 1``.  See perfbench/BENCHMARK.md for the workloads and metrics.

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at exit; the traced run's spans are kept in
``.perfbench_traces/``.  Before it prints its result the run ends the Spark
gateway JVM and waits for every process Spark started, on every path out.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from spans import Tracer, persisted_rdds

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Session settings, all recorded in perfbench/BENCHMARK.md.  The repository's
#: default heap (16g, pre-touched) does not fit a 15 GiB machine.
DRIVER_MEM = "3g"
SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # the traced run reads every job and stage back from the status store
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}
#: Input sizes per workload.
SIZES = {
    "snapshot_validate": {"rows": 20_000, "repos": 2000},
    "corpus_build": {"docs": 2_000},
}

#: Spans each workload's traced ops record (see workloads.py), and the
#: per-layer fields reported for them.
LEAF_SPANS = {
    "snapshot_validate": [
        pre + name
        for pre in ("", "resume.")
        for name in ("checkpoint.plan_pending", "runner.validate",
                     "checkpoint.violations_sink", "checkpoint.store_append")
    ],
    "corpus_build": ["textops.quality", "dedup.exact", "contamination.decontam",
                     "mixing.plan", "tablefmt.wap_publish",
                     "dedup.minhash_pairs", "dedup.simhash_pairs"],
}
ROOT_SPANS = {
    "snapshot_validate": ["runner.run", "resume.runner.run"],
    "corpus_build": ["corpus.main", "near_dup.pass"],
}
LEAF_FIELDS = {"wall_s": "s", "jobs": "count", "executor_cpu_s": "s", "executor_run_s": "s",
               "input_records": "count", "shuffle_write_bytes": "B", "spill_bytes": "B"}
ROOT_FIELDS = {"wall_s": "s", "self_s": "s"}
EXTRA = {"checkpoint.resume.input_records_per_pending_row": "ratio",
         "spark.persisted_rdds_after": "count", "spark.persisted_rdds_live": "count",
         "spark.cached_bytes_peak": "B",
         "trace.overhead_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit (the list in BENCHMARK.json)."""
    units = {}
    for wl in LEAF_SPANS:
        for span in LEAF_SPANS[wl]:
            units.update({f"{span}.{f}": u for f, u in LEAF_FIELDS.items()})
        for span in ROOT_SPANS[wl]:
            units.update({f"{span}.{f}": u for f, u in ROOT_FIELDS.items()})
    units.update(EXTRA)
    return units


def _environment(work: str) -> None:
    """Keep every file the JVM, Spark and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = dict(SPARK_CONF, **{"spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
    os.environ.update({
        "DFF_DRIVER_MEM": DRIVER_MEM,
        "DFF_LOCAL_DIR": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {k}={v}" for k, v in conf.items())
        + " pyspark-shell",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def _own_descendants() -> None:
    """Have orphaned descendants (Spark's Python worker daemon once the JVM
    has gone) re-parented to this process, so ``_reap_children`` can wait for
    them, and let SIGTERM unwind through ``finally`` blocks like an exception."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))


def _children() -> list[int]:
    """Process ids whose parent is this process."""
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            kids.append(int(entry))
    return kids


def _reap_children(grace: float = 30.0) -> None:
    """Wait until this process has no children left, killing any that outlive ``grace``.

    As a child subreaper (see ``_own_descendants``) this process inherits every orphaned
    descendant, so no child left means no descendant left.
    """
    deadline = time.monotonic() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _stop_spark() -> None:
    """Stop the Spark context if one is live and end its gateway JVM.

    ``SparkSession.stop`` leaves the JVM running until the Python process
    exits; it ends on its own only when its stdin reaches EOF.
    """
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Exception:
        traceback.print_exc()
    if gateway is None:
        return
    try:
        gateway.shutdown()
    except Exception:
        pass
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(60)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    needed = ["dff/runner.py", "jobs/validate.py", "jobs/build_corpus.py"]
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2

    _own_descendants()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        t0 = time.perf_counter()
        try:
            _stop_spark()
        finally:
            _reap_children()
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: teardown {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0


def run(args, work: str) -> dict:
    _environment(work)
    for p in (ROOT, os.path.join(ROOT, "jobs")):
        sys.path.insert(0, p)
    from validate import build_session

    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = build_session(4, app=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    return measure(spark, WORKLOADS[args.workload], args, work, session_s)


def measure(spark, cls, args, work: str, session_s: float) -> dict:
    sc = spark.sparkContext
    wl = cls(spark, os.path.join(work, "run"), args.seed, SIZES[args.workload])
    os.makedirs(wl.work)
    wl.inputs = os.path.join(work, "inputs")
    t0 = time.perf_counter()
    wl.build(wl.inputs)
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    problems = wl.warm()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + build_s + warm_s
    for p in problems:
        print(f"perfbench: warm-up: {p}", file=sys.stderr)

    tracer = Tracer(spark) if args.trace else None
    ops: list[dict] = []
    # at least two measured ops (three in a traced run, which alternates
    # traced and untraced ops)
    need = 3 if tracer else 2
    deadline = time.perf_counter() + args.seconds
    while time.perf_counter() < deadline or len(ops) < need:
        traced = bool(tracer) and len(ops) % 2 == 0
        rec = {"traced": traced, "ok": False}
        raised = False
        try:
            st = wl.before()
            cached = persisted_rdds(sc)
            wl.tracer = tracer if traced else None
            if tracer:
                tracer.op = f"op{wl.n_ops}"
            t0 = time.perf_counter()
            wl.call(st)
            rec["wall_s"] = time.perf_counter() - t0
            rec["caches_left"] = persisted_rdds(sc) - cached
            t0 = time.perf_counter()
            bad = wl.check(st)
            rec["check_s"] = time.perf_counter() - t0
            for p in bad:
                print(f"perfbench: op {wl.n_ops}: {p}", file=sys.stderr)
            rec["ok"] = not bad
        except Exception:
            traceback.print_exc()
            raised = True
        wl.tracer = None
        wl.n_ops += 1
        ops.append(rec)
        if raised:  # the engine's state after a crash is not worth timing
            break

    print(f"perfbench: {args.workload} seed {args.seed}: session {session_s:.2f}s, "
          f"build {build_s:.2f}s, warm-up {warm_s:.2f}s, ops "
          f"{[round(o.get('wall_s', -1), 2) for o in ops]}s; untimed: expectations "
          f"{prepare_s:.2f}s, checks {sum(o.get('check_s', 0) for o in ops):.2f}s",
          file=sys.stderr)
    # the warm-up is checked too and counts as an attempted op
    attempted = len(ops) + 1
    failed = sum(not o["ok"] for o in ops) + bool(problems)
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    walls = [o["wall_s"] for o in ops if "wall_s" in o and not o["traced"]]
    if not walls:
        raise RuntimeError("no op completed; nothing to report")
    if tracer:
        out["metrics"] = layer_metrics(wl, tracer, ops, args)
    else:
        out["metrics"] = {
            "op_s": {"value": statistics.median(walls), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    return out


def layer_metrics(wl, tracer, ops, args) -> dict:
    tracer.collect_stage_metrics()
    med = tracer.medians()
    m = {}
    for name, unit in per_layer_units().items():
        span, _, field = name.rpartition(".")
        m[name] = med.get(span, {}).get(field, 0)
    resume_records = sum(
        rec["input_records"] for span, rec in med.items() if span.startswith("resume.")
    )
    pending = getattr(wl, "pending_rows", 0)
    m["checkpoint.resume.input_records_per_pending_row"] = (
        resume_records / pending if pending else 0
    )
    m["spark.persisted_rdds_after"] = statistics.median(o["caches_left"] for o in ops
                                                        if "caches_left" in o)
    m["spark.persisted_rdds_live"] = persisted_rdds(tracer.sc)
    m["spark.cached_bytes_peak"] = tracer.cached_bytes_peak
    walls = {t: [o["wall_s"] for o in ops if "wall_s" in o and o["traced"] == t]
             for t in (True, False)}
    m["trace.overhead_s"] = statistics.median(walls[True]) - statistics.median(walls[False])
    traces = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(traces, exist_ok=True)
    with open(os.path.join(traces, f"{args.workload}-{args.seed}.json"), "w") as f:
        json.dump({"spans": tracer.dump(), "ops": ops}, f, indent=1)
    units = per_layer_units()
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


if __name__ == "__main__":
    sys.exit(main())
