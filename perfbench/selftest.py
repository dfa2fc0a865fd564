"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

For every workload: the warm-up and one op must pass their output checks, a
traced op must record spans whose self times add up to the op's wall time,
and an op whose committed output loses one row must fail its check.  Also
checks that BENCHMARK.json lists exactly the metrics run.py reports.  Exits
non-zero on any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import run

TINY = {
    "snapshot_validate": {"rows": 2_000, "repos": 100},
    "corpus_build": {"docs": 1_000},
}


def main() -> int:
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("PASS " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expect(
        {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units(),
        "BENCHMARK.json per_layer matches run.per_layer_units()",
    )
    expect(
        {w["name"] for w in bench["workloads"]} == set(run.SIZES) == set(TINY),
        "BENCHMARK.json workloads match run.SIZES",
    )

    run._own_descendants()
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run._environment(work)
    for p in (run.ROOT, os.path.join(run.ROOT, "jobs")):
        sys.path.insert(0, p)
    from validate import build_session

    from spans import Tracer
    from workloads import WORKLOADS

    spark = build_session(4, app="perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for name, cls in WORKLOADS.items():
            wl = cls(spark, os.path.join(work, name), 7, TINY[name])
            os.makedirs(wl.work)
            wl.inputs = os.path.join(work, name + "-inputs")
            wl.build(wl.inputs)
            wl.prepare()
            problems = wl.warm()
            expect(not problems, f"{name}: warm-up outputs correct {problems[:3]}")

            tracer = Tracer(spark)
            tracer.op = "op0"
            wl.tracer = tracer
            st = wl.before()
            t0 = time.perf_counter()
            wl.call(st)
            wall = time.perf_counter() - t0
            wl.tracer = None
            problems = wl.check(st)
            expect(not problems, f"{name}: traced op outputs correct {problems[:3]}")
            tracer.collect_stage_metrics()
            by_id = {s.sid: s for s in tracer.spans}
            nested = all(
                by_id[s.parent].t0 <= s.t0 <= s.t1 <= by_id[s.parent].t1
                for s in tracer.spans if s.parent is not None
            )
            expect(nested and min(tracer.self_s(s) for s in tracer.spans) >= 0,
                   f"{name}: spans nest and no child overlaps another")
            # the root spans' self times are the op time no layer span covers
            covered = sum(s.wall_s for s in tracer.spans if s.parent is None)
            unattributed = sum(tracer.self_s(s) for s in tracer.spans if s.parent is None)
            expect(covered >= 0.95 * wall and unattributed <= 0.1 * wall,
                   f"{name}: layer spans account for the op "
                   f"({covered - unattributed:.2f}s of {wall:.2f}s)")
            expect(sum(s.stats["jobs"] for s in tracer.spans) > 0,
                   f"{name}: Spark jobs charged to spans")

            wl.n_ops += 1
            wl.corrupt = True
            st = wl.before()
            wl.call(st)
            problems = wl.check(st)
            # a corpus_build op loses a published row and a near-dup pair
            lost = 2 if name == "corpus_build" else 1
            expect(len(problems) >= lost,
                   f"{name}: dropped output rows detected {problems[:lost]}")
    finally:
        try:
            run._stop_spark()
        finally:
            run._reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
