from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from dff.drift import (
    DRIFT_RESULT_SCHEMA,
    CategoricalBins,
    DriftSpec,
    NumericBins,
    drift_by_partition,
    ks_binned,
    ks_exact,
    psi,
    snapshot,
)
from dff.sources import synthetic_source_files


def test_psi_hand_computed():
    # two bins: 50/50 -> 60/40; psi = (0.6-0.5)ln(0.6/0.5)+(0.4-0.5)ln(0.4/0.5)
    expected = np.array([50.0, 50.0])
    actual = np.array([60.0, 40.0])
    want = 0.1 * math.log(1.2) + (-0.1) * math.log(0.8)
    assert abs(psi(expected, actual) - want) < 1e-9
    assert psi(expected, expected) == 0.0


def test_ks_hand_computed_and_binned_close_to_exact():
    p = np.array([10.0, 20.0, 70.0])
    q = np.array([30.0, 30.0, 40.0])
    # cdfs: [.1,.3,1] vs [.3,.6,1] -> max diff .3
    assert abs(ks_binned(p, q) - 0.3) < 1e-12
    rng = np.random.default_rng(7)
    a = rng.normal(0, 1, 4000)
    b = rng.normal(0.5, 1, 4000)
    edges = np.linspace(-4, 4.5, 60)
    ha = np.histogram(a, bins=edges)[0].astype(float)
    hb = np.histogram(b, bins=edges)[0].astype(float)
    # pad under/overflow buckets to match bucket_index convention
    ha = np.concatenate([[0.0], ha, [0.0]])
    hb = np.concatenate([[0.0], hb, [0.0]])
    assert abs(ks_binned(ha, hb) - ks_exact(a, b)) < 0.03


def _spec() -> DriftSpec:
    return DriftSpec(
        numeric=[
            NumericBins(
                column="content_length",
                edges=tuple(float(2**i) for i in range(4, 14)),
                expr="length(content)",
            )
        ],
        categorical=[
            CategoricalBins(
                column="lang",
                categories=("python", "java", "go", "ts", "rust", "c", "cpp"),
            )
        ],
    )


def test_drifted_partition_flagged(spark):
    spec = _spec()
    base_df = synthetic_source_files(
        spark, 20000, n_repos=100, plant_violations=False
    )
    baseline = snapshot(base_df, spec)
    assert all(v.sum() > 0 for v in baseline.values())

    cur = synthetic_source_files(
        spark, 20000, n_repos=100, plant_violations=False, drift_part=3
    )
    drift = drift_by_partition(cur, "part_id", spec, baseline).toPandas()
    lang_psi = drift[drift["column"] == "lang"].set_index("part_id")["psi"]
    assert lang_psi[3] > 0.2, lang_psi.to_dict()
    assert (lang_psi.drop(3) < 0.05).all(), lang_psi.to_dict()
    len_ks = drift[drift["column"] == "content_length"].set_index("part_id")["ks"]
    assert len_ks[3] > 0.15
    # per-partition sampling noise ~1/sqrt(1200); stay clearly below the flag
    assert (len_ks.drop(3) < 0.12).all()


def test_drift_statistics_matches_numpy_on_hand_built_rows():
    """The one drift realization equals psi / ks_binned / js_divergence
    applied by hand, on an ordinary, an all-zero and a NULL-count row and
    on a NULL partition key (which comes back as part_id NULL)."""
    from pyspark.sql import Row

    from dff.drift import drift_statistics, js_divergence

    spec = DriftSpec(
        numeric=[NumericBins(column="x", edges=(1.0, 2.0, 4.0))],
        categorical=[CategoricalBins(column="c", categories=("a", "b"))],
    )
    baseline = {"x": np.array([5.0, 10.0, 20.0, 5.0]), "c": np.array([30.0, 8.0, 2.0])}
    counts = {
        1: {"x": [1, 9, 25, 5], "c": [10, 20, 10]},
        2: {"x": [0, 0, 0, 0], "c": [0, 0, 0]},
        3: {"x": [None, 4, None, 1], "c": [7, None, 0]},
        None: {"x": [2, 2, 2, 2], "c": [1, 1, 1]},
    }
    rows = [
        Row(
            part_id=p,
            **{f"h__{col}__{b}": n for col, h in hs.items() for b, n in enumerate(h)},
        )
        for p, hs in counts.items()
    ]
    drift, worst = drift_statistics(rows, "part_id", spec, baseline)

    assert [(d[0], d[1]) for d in drift] == [
        (p, col) for p in counts for col in ("x", "c")
    ]
    got = {(d[0], d[1]): d[2:] for d in drift}
    for p, hs in counts.items():
        for col, h in hs.items():
            actual = np.array([n or 0 for n in h], dtype=np.float64)
            want = (
                psi(baseline[col], actual),
                ks_binned(baseline[col], actual),
                js_divergence(baseline[col], actual),
            )
            assert got[(p, col)] == want, (p, col)
        assert worst[list(counts).index(p)] == (
            max(got[(p, c)][0] for c in hs), max(got[(p, c)][1] for c in hs)
        )
    # an all-zero partition scores as the uniform eps-smoothed histogram,
    # finite and non-negative
    assert all(np.isfinite(v) and v >= 0 for v in got[(2, "x")])
    # no tracked column: no drift rows, no worst statistics
    assert drift_statistics(rows, "part_id", DriftSpec(), {}) == (
        [], [(None, None)] * len(rows)
    )


def test_js_divergence_properties():
    """JS is zero on identical distributions, symmetric, and bounded by
    ln 2 even on disjoint supports (where PSI explodes)."""
    from dff.drift import js_divergence

    rng = np.random.default_rng(7)
    a = rng.integers(1, 100, size=12).astype(np.float64)
    b = rng.integers(1, 100, size=12).astype(np.float64)
    assert js_divergence(a, a) < 1e-12
    assert abs(js_divergence(a, b) - js_divergence(b, a)) < 1e-12
    disjoint_p = np.array([100.0, 0.0, 0.0, 0.0])
    disjoint_q = np.array([0.0, 0.0, 0.0, 100.0])
    js = js_divergence(disjoint_p, disjoint_q)
    assert 0.0 < js <= np.log(2) + 1e-9


def test_drift_by_partition_job_budget(spark):
    """drift_by_partition runs no more Spark jobs than collecting the
    histogram aggregate it is built on, and its result is a driver-local
    frame: reading it runs no job.  A NULL partition key comes back as
    part_id NULL."""
    from dff.drift import partition_histograms

    spec = _spec()
    base_df = synthetic_source_files(spark, 2000, n_repos=20, plant_violations=False)
    baseline = snapshot(base_df, spec)
    null_part = base_df.limit(3).withColumn("part_id", F.lit(None).cast("int"))
    df = base_df.unionByName(null_part)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("drift-hist", "partition_histograms collect")
        partition_histograms(df, "part_id", spec).collect()
        sc.setJobGroup("drift-by-part", "drift_by_partition")
        drift = drift_by_partition(df, "part_id", spec, baseline)
        sc.setJobGroup("drift-read", "read the result")
        rows = drift.collect()
    finally:
        sc._jsc.clearJobGroup()
    n_hist = len(tracker.getJobIdsForGroup("drift-hist"))
    assert 0 < len(tracker.getJobIdsForGroup("drift-by-part")) <= n_hist
    assert len(tracker.getJobIdsForGroup("drift-read")) == 0
    assert drift.schema == DRIFT_RESULT_SCHEMA
    assert {r["column"] for r in rows if r["part_id"] is None} == {
        "content_length", "lang"
    }
    # empty input: an empty frame with the same schema
    empty = drift_by_partition(df.limit(0), "part_id", spec, baseline)
    assert empty.schema == DRIFT_RESULT_SCHEMA and empty.collect() == []


def test_chi_square_numpy_and_distributed_agree(spark):
    import numpy as np
    from dff.drift import chi_square, chisq_drift

    rng = np.random.default_rng(7)
    cats = ["a", "b", "c", "d"]
    base = {c: int(n) for c, n in zip(cats, rng.integers(50, 200, 4))}
    cur_rows = [(c,) for c in rng.choice(cats, 500, p=[0.4, 0.3, 0.2, 0.1])]
    df = spark.createDataFrame(cur_rows, "cat string")
    got = chisq_drift(df, "cat", base).first()
    e = np.array([base[c] for c in cats], dtype=float)
    a = np.array(
        [sum(1 for (x,) in cur_rows if x == c) for c in cats], dtype=float
    )
    assert abs(got["chi2"] - chi_square(e, a)) < 1e-9
    assert got["dof"] == 3 and got["n"] == 500


def test_chi_square_missing_and_extra_categories(spark):
    import numpy as np
    from dff.drift import chi_square, chisq_drift

    # baseline has 'c' which vanished; current has 'x' absent from baseline
    base = {"a": 100, "b": 100, "c": 50}
    df = spark.createDataFrame(
        [("a",)] * 120 + [("b",)] * 80 + [("x",)] * 10, "cat string"
    )
    got = chisq_drift(df, "cat", base).first()
    e = np.array([100.0, 100.0, 50.0])
    a = np.array([120.0, 80.0, 0.0])  # 'x' has no term (no baseline evidence)
    # ...but its 10 rows still count in n and in the rescaling total: the
    # baseline is scaled to all 210 current rows, not to the 200 rows of
    # baseline categories (chi_square over these aligned arrays would use 200)
    scaled = e * (210.0 / e.sum())
    want = float(np.sum((a - scaled) ** 2 / scaled))
    assert abs(got["chi2"] - want) < 1e-9
    assert got["dof"] == 2
    # identical distribution => statistic 0
    same = spark.createDataFrame([("a",)] * 10 + [("b",)] * 10, "cat string")
    assert chisq_drift(same, "cat", {"a": 10, "b": 10}).first()["chi2"] == 0.0


def test_auto_numeric_bins_equalize_mass(spark):
    import numpy as np
    import pytest
    from dff.drift import DriftSpec, auto_numeric_bins, snapshot

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    bins = auto_numeric_bins(e, "value", n_buckets=8)
    assert bins.n_buckets <= 9  # dedup may collapse; never more
    spec = DriftSpec(numeric=[bins])
    counts = snapshot(e, spec)["value"]
    n = counts.sum()
    # interior buckets hold ~1/8 of the mass each (GK approx tolerance)
    assert (np.abs(counts / n - 1.0 / 8) < 0.05).all(), counts
    # degenerate: constant column collapses to one edge, two buckets
    const = spark.createDataFrame([(1.0,)] * 50, "v double")
    b2 = auto_numeric_bins(const, "v", n_buckets=8)
    assert b2.edges == (1.0,)
    with pytest.raises(ValueError):
        auto_numeric_bins(e, "value", n_buckets=1)
    allnull = spark.createDataFrame([(None,), (None,)], "v double")
    with pytest.raises(ValueError):
        auto_numeric_bins(allnull, "v")
