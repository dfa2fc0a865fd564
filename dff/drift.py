"""Distribution-drift checks: PSI + two-sample KS vs a baseline snapshot
(SURVEY.md §2.6 / §7.1 M4).

Design for 10^12 rows: a single aggregation pass computes ALL histogram
buckets for ALL tracked columns as ``sum(case when ...)`` expressions —
no per-column scans, no global sort.  The KS statistic is computed from the
binned empirical CDFs (shared bin edges with PSI), deliberately avoiding
``cume_dist`` over a global ``Window.orderBy`` which would single-task the
table (SURVEY.md §7.3).  The final small-statistics math (PSI/KS/JS over a
few dozen bucket counts per partition) runs where the counts already are:
the validation runner collects its n_parts histogram rows anyway and
applies the numpy :func:`psi` / :func:`ks_binned` / :func:`js_divergence`
on the driver; :func:`drift_by_partition` keeps the statistics distributed
as Catalyst arithmetic with the baseline folded into literals.

Exact KS is also provided for small-scale test verification.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class NumericBins:
    column: str
    edges: tuple[float, ...]          # ascending interior edges
    expr: str | None = None           # optional SQL expr instead of raw column

    @property
    def n_buckets(self) -> int:       # underflow + len(edges)-1 interior + overflow
        return len(self.edges) + 1

    def value(self) -> Column:
        return F.expr(self.expr) if self.expr else F.col(self.column)


@dataclass(frozen=True)
class CategoricalBins:
    column: str
    categories: tuple[str, ...]       # everything else (incl. NULL) -> OTHER bucket

    @property
    def n_buckets(self) -> int:
        return len(self.categories) + 1

    def value(self) -> Column:
        return F.col(self.column)


@dataclass
class DriftSpec:
    numeric: list[NumericBins] = field(default_factory=list)
    categorical: list[CategoricalBins] = field(default_factory=list)

    @property
    def all_bins(self) -> list:
        return [*self.numeric, *self.categorical]


def bucket_index(bins) -> Column:
    """0-based bucket index expression for one tracked column."""
    v = bins.value()
    if isinstance(bins, NumericBins):
        # count of edges <= value; NULL -> bucket 0 (underflow) is wrong, so
        # NULLs are excluded by the count aggregates below (when() is null).
        idx = F.lit(0)
        for e in bins.edges:
            idx = idx + F.when(v >= F.lit(float(e)), 1).otherwise(0)
        return F.when(v.isNotNull(), idx)
    idx = F.lit(len(bins.categories))  # OTHER
    for i, c in enumerate(bins.categories):
        idx = F.when(v == F.lit(c), F.lit(i)).otherwise(idx)
    return F.when(v.isNotNull(), idx)


def bucket_projection(spec: DriftSpec, keep: list[str]) -> list[Column]:
    """Pre-projection computing each tracked column's bucket index ONCE.

    CRITICAL for performance: the per-bucket ``sum(case when)`` aggregates
    below reference these stored attributes; inlining ``bucket_index`` into
    every bucket expression re-evaluates the underlying value (e.g.
    ``length(content)`` over ~KB strings) n_buckets times per row —
    measured 20x slower at 2M rows.
    """
    return [F.col(c) for c in keep] + [
        bucket_index(bins).alias(f"__b_{bins.column}") for bins in spec.all_bins
    ]


def histogram_exprs(spec: DriftSpec) -> list[Column]:
    """count-per-bucket aggregates over the pre-projected bucket indices —
    all evaluated in ONE scan."""
    exprs: list[Column] = []
    for bins in spec.all_bins:
        idx = F.col(f"__b_{bins.column}")
        for b in range(bins.n_buckets):
            exprs.append(
                F.sum(F.when(idx == b, 1).otherwise(0)).alias(
                    f"h__{bins.column}__{b}"
                )
            )
    return exprs


def snapshot(df: DataFrame, spec: DriftSpec) -> dict[str, np.ndarray]:
    """Whole-table baseline histogram: {column: bucket_counts}."""
    row = (
        df.select(*bucket_projection(spec, []))
        .agg(*histogram_exprs(spec))
        .first()
        .asDict()
    )
    return {
        bins.column: np.array(
            [row[f"h__{bins.column}__{b}"] or 0 for b in range(bins.n_buckets)],
            dtype=np.float64,
        )
        for bins in spec.all_bins
    }


def psi(expected: np.ndarray, actual: np.ndarray, eps: float = 1e-6) -> float:
    """Population Stability Index with epsilon smoothing."""
    p = expected / max(expected.sum(), 1.0)
    q = actual / max(actual.sum(), 1.0)
    p = np.clip(p, eps, None)
    q = np.clip(q, eps, None)
    p = p / p.sum()
    q = q / q.sum()
    return float(np.sum((q - p) * np.log(q / p)))


def js_divergence(
    expected: np.ndarray, actual: np.ndarray, eps: float = 1e-6
) -> float:
    """Jensen-Shannon divergence (natural log, so bounded by ln 2) with
    the SAME clip->renormalize smoothing as :func:`psi` — symmetric and
    bounded where PSI is neither, the better alarm metric when either
    side can have empty buckets."""
    p = expected / max(expected.sum(), 1.0)
    q = actual / max(actual.sum(), 1.0)
    p = np.clip(p, eps, None)
    q = np.clip(q, eps, None)
    p = p / p.sum()
    q = q / q.sum()
    m = (p + q) / 2.0
    return float(0.5 * np.sum(p * np.log(p / m)) + 0.5 * np.sum(q * np.log(q / m)))


def chi_square(expected: np.ndarray, actual: np.ndarray) -> float:
    """Pearson chi-square statistic of ``actual`` counts against the
    ``expected`` distribution (baseline counts rescaled to actual's total).

    Complements PSI/JS: chi-square grows with N, so with a chosen
    significance cut it answers "is this drift larger than sampling noise"
    rather than "how big is the drift".  Zero-expected buckets are skipped
    (they carry no baseline evidence); zero-ACTUAL buckets contribute their
    full rescaled expectation, as the textbook statistic requires."""
    e = expected.astype(float)
    a = actual.astype(float)
    if e.sum() <= 0 or a.sum() <= 0:
        return 0.0
    scaled = e * (a.sum() / e.sum())
    mask = scaled > 0
    return float(np.sum((a[mask] - scaled[mask]) ** 2 / scaled[mask]))


def chisq_drift(
    df: DataFrame, col: str, baseline_counts: dict[str, int]
) -> DataFrame:
    """Distributed chi-square of ``df[col]``'s category counts vs a
    baseline — one row ``(chi2, dof, n)``.

    One groupBy over the data (map-side combined); the baseline is a tiny
    literal frame broadcast into a full outer join so categories MISSING
    from the new data still contribute their expectation (a vanished
    category is drift, not a free pass).  Categories absent from the
    baseline are skipped, mirroring :func:`chi_square`.
    """
    spark = df.sparkSession
    actual = df.groupBy(F.col(col).alias("__cat")).agg(
        F.count(F.lit(1)).alias("__a")
    )
    base = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(baseline_counts.items())],
        "__cat string, __e long",
    )
    j = actual.join(F.broadcast(base), "__cat", "full_outer").select(
        F.coalesce(F.col("__a"), F.lit(0)).cast("double").alias("a"),
        F.coalesce(F.col("__e"), F.lit(0)).cast("double").alias("e"),
    )
    totals = j.agg(
        F.sum("a").alias("na"), F.sum("e").alias("ne"),
        F.sum(F.when(F.col("e") > 0, 1).otherwise(0)).alias("k"),
    )
    return (
        j.crossJoin(F.broadcast(totals))
        .where(F.col("e") > 0)
        .select(
            (
                F.pow(F.col("a") - F.col("e") * F.col("na") / F.col("ne"), 2)
                / (F.col("e") * F.col("na") / F.col("ne"))
            ).alias("term"),
            "k",
            "na",
        )
        .groupBy("k", "na")
        .agg(F.sum("term").alias("chi2"))
        .select(
            F.col("chi2"),
            (F.col("k") - 1).cast("long").alias("dof"),
            F.col("na").cast("long").alias("n"),
        )
    )


def ks_binned(expected: np.ndarray, actual: np.ndarray) -> float:
    """Two-sample KS statistic from binned CDFs (upper bound on exact KS
    error is one bin of probability mass)."""
    p = expected / max(expected.sum(), 1.0)
    q = actual / max(actual.sum(), 1.0)
    return float(np.max(np.abs(np.cumsum(p) - np.cumsum(q))))


def ks_exact(a: np.ndarray, b: np.ndarray) -> float:
    """Exact two-sample KS for small test arrays (oracle use only)."""
    allv = np.sort(np.concatenate([a, b]))
    cdf_a = np.searchsorted(np.sort(a), allv, side="right") / len(a)
    cdf_b = np.searchsorted(np.sort(b), allv, side="right") / len(b)
    return float(np.max(np.abs(cdf_a - cdf_b)))


DRIFT_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType()),
        T.StructField("column", T.StringType()),
        T.StructField("psi", T.DoubleType()),
        T.StructField("ks", T.DoubleType()),
        T.StructField("js", T.DoubleType()),
    ]
)


def partition_histograms(
    df: DataFrame,
    part_col: str,
    spec: DriftSpec,
    extra_aggs: list[Column] | None = None,
    prebucketed: bool = False,
) -> DataFrame:
    """One-scan per-partition bucket counts (plus any ``extra_aggs`` such as
    a row count) — lets the caller fuse its own per-partition aggregates
    into the SAME scan instead of re-reading the table.
    ``prebucketed=True`` means ``df`` already carries the ``__b_<col>``
    bucket-index columns (e.g. a persisted base projection that decoded the
    heavy value columns exactly once)."""
    src = df if prebucketed else df.select(*bucket_projection(spec, [part_col]))
    return src.groupBy(part_col).agg(*histogram_exprs(spec), *(extra_aggs or []))


def _column_drift_exprs(
    bins, baseline: dict[str, np.ndarray], eps: float = 1e-6
) -> tuple[Column, Column, Column]:
    """(psi, ks, js) Catalyst expressions for one tracked column,
    replicating :func:`psi` / :func:`ks_binned` / :func:`js_divergence`
    term by term with the baseline side folded into literals (it is
    constant across every partition row).

    Realized with ARRAY higher-order functions, not unrolled per-bucket
    arithmetic: an unrolled form re-inlines the normalizer sum inside
    every bucket's term, so the expression tree grows O(n_buckets^2) —
    and tripling it for JS pushed the (driver-side) optimize+codegen cost
    of the metrics query from ~5s to ~14s on the 500k-row bench (the
    frame is tiny; COMPILATION was the cost).  HOF lambdas are one
    runtime-looped expression instance each, so the tree stays O(n) and
    the left-to-right fold order — hence the float result — is identical
    to the unrolled form."""
    h_arr = F.array(
        *[
            F.coalesce(
                F.col(f"h__{bins.column}__{b}").cast("double"), F.lit(0.0)
            )
            for b in range(bins.n_buckets)
        ]
    )
    base = np.asarray(baseline[bins.column], dtype=np.float64)
    p = base / max(base.sum(), 1.0)
    p_psi = np.clip(p, eps, None)
    p_psi = p_psi / p_psi.sum()
    p_cdf = np.cumsum(p)
    p_psi_arr = F.array(*[F.lit(float(v)) for v in p_psi])
    p_cdf_arr = F.array(*[F.lit(float(v)) for v in p_cdf])

    def asum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)

    qt = F.greatest(asum(h_arr), F.lit(1.0))
    q = F.transform(h_arr, lambda x: x / qt)
    # psi: clip -> renormalize -> sum((q-p) * ln(q/p))
    qc = F.transform(q, lambda x: F.greatest(x, F.lit(eps)))
    qs = asum(qc)
    psi_expr = asum(
        F.zip_with(
            qc, p_psi_arr, lambda c, pb: (c / qs - pb) * F.log(c / qs / pb)
        )
    )
    # js: 0.5*KL(p||m) + 0.5*KL(q||m), m = (p+q)/2, same clipped inputs
    js_expr = asum(
        F.zip_with(
            qc,
            p_psi_arr,
            lambda c, pb: (
                pb * F.log(pb / ((pb + c / qs) / 2)) * 0.5
                + (c / qs) * F.log((c / qs) / ((pb + c / qs) / 2)) * 0.5
            ),
        )
    )
    # ks: max |cdf(p) - cdf(q)| — a running-sum fold over (q_b, p_cdf_b)
    ks_expr = F.aggregate(
        F.zip_with(
            q,
            p_cdf_arr,
            lambda qb, pc: F.struct(qb.alias("q"), pc.alias("pc")),
        ),
        F.struct(F.lit(0.0).alias("run"), F.lit(0.0).alias("maxd")),
        lambda acc, x: F.struct(
            (acc["run"] + x["q"]).alias("run"),
            F.greatest(
                acc["maxd"], F.abs(acc["run"] + x["q"] - x["pc"])
            ).alias("maxd"),
        ),
        lambda acc: acc["maxd"],
    )
    return psi_expr, ks_expr, js_expr


def drift_from_histograms(
    hist: DataFrame,
    part_col: str,
    spec: DriftSpec,
    baseline: dict[str, np.ndarray],
) -> DataFrame:
    """PSI/KS per (partition, column) from precomputed bucket counts.

    Pure Catalyst: a map-only projection over the (tiny) histogram frame —
    the baseline side is constant-folded into literals and the statistics
    are ordinary arithmetic over a few dozen bucket counts, so NO shuffle
    and NO Python worker run here.  The previous ``applyInPandas``
    realization was numerically fine but each of its ``shuffle.partitions``
    tasks paid a Python-worker round-trip for kilobytes of work — measured
    17.8s at local[8] vs 4s at local[2] on this host (the task count grows
    with parallelism while the work doesn't), which single-handedly sank
    the N->4N scaling gate.  Expressions make the cost ~0 at ANY
    parallelism; :func:`drift_from_histograms_pandas` is kept as the
    numpy cross-check used by the parity test.

    The validation runner no longer uses this: it collects its histogram
    rows for the per-partition verdicts anyway and applies the numpy
    statistics to them on the driver (building this expression tree cost
    more driver time than the whole metrics computation).
    :func:`drift_by_partition` is its remaining caller.
    """
    pairs = []
    for bins in spec.all_bins:
        psi_e, ks_e, js_e = _column_drift_exprs(bins, baseline)
        pairs.append(
            F.struct(
                F.lit(bins.column).alias("column"),
                psi_e.alias("psi"),
                ks_e.alias("ks"),
                js_e.alias("js"),
            )
        )
    return hist.select(
        F.col(part_col).cast("int").alias("part_id"),
        F.inline(F.array(*pairs)),
    )


def drift_from_histograms_pandas(
    hist: DataFrame,
    part_col: str,
    spec: DriftSpec,
    baseline: dict[str, np.ndarray],
) -> DataFrame:
    """numpy reference realization of :func:`drift_from_histograms`
    (Arrow-batched ``applyInPandas``); retained for parity testing."""
    bins_meta = [(b.column, b.n_buckets) for b in spec.all_bins]
    baseline_plain = {k: v.tolist() for k, v in baseline.items()}

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            for col, n_b in bins_meta:
                counts = np.array(
                    [row[f"h__{col}__{b}"] or 0 for b in range(n_b)],
                    dtype=np.float64,
                )
                base = np.array(baseline_plain[col], dtype=np.float64)
                out.append(
                    {
                        "part_id": int(row[part_col]),
                        "column": col,
                        "psi": psi(base, counts),
                        "ks": ks_binned(base, counts),
                        "js": js_divergence(base, counts),
                    }
                )
        return pd.DataFrame(
            out, columns=["part_id", "column", "psi", "ks", "js"]
        )

    return hist.groupBy(part_col).applyInPandas(compute, DRIFT_RESULT_SCHEMA)


def drift_by_partition(
    df: DataFrame,
    part_col: str,
    spec: DriftSpec,
    baseline: dict[str, np.ndarray],
) -> DataFrame:
    """Per-partition PSI/KS vs the baseline snapshot.

    One shuffle total: the ``groupBy(part_col)`` histogram aggregation
    (map-side combine makes the shuffled volume ``n_parts x n_buckets``
    longs, independent of row count); the statistics projection on top is
    map-only.  See :func:`partition_histograms` /
    :func:`drift_from_histograms` to fuse extra per-partition aggregates
    into the same scan.
    """
    return drift_from_histograms(
        partition_histograms(df, part_col, spec), part_col, spec, baseline
    )


def content_length_bins(max_log2: int = 24) -> NumericBins:
    """Log2-spaced edges for content length (bytes 1 .. 16 MiB)."""
    return NumericBins(
        column="content_length",
        edges=tuple(float(2**i) for i in range(0, max_log2, 2)),
        expr="length(content)",
    )


def auto_numeric_bins(
    df: DataFrame,
    column: str,
    n_buckets: int = 16,
    expr: str | None = None,
    accuracy: int = 10000,
) -> NumericBins:
    """Derive equi-depth bin edges for :class:`NumericBins` from a baseline
    frame — hand-tuned edges (e.g. ``content_length_bins``) stop being a
    requirement for tracking a new column.

    Interior edges are the column's ``1/n .. (n-1)/n`` approximate
    quantiles (Greenwald-Khanna, one pass, mergeable), deduplicated (a hot
    point value collapses its buckets instead of producing zero-width
    bins).  Equal-mass bins maximize the histogram's sensitivity where the
    data actually lives, which is what PSI/KS/JS read.  Edge collection is
    one bounded driver row, same footprint class as the drift baseline
    snapshot itself.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    src = F.expr(expr) if expr else F.col(column)
    row = df.agg(
        F.percentile_approx(src.cast("double"), qs, accuracy).alias("q")
    ).first()
    cuts = row["q"] or []
    edges = tuple(sorted({float(c) for c in cuts if c is not None}))
    if not edges:
        raise ValueError(
            f"column {column!r} has no non-null values to derive bins from"
        )
    return NumericBins(column=column, edges=edges, expr=expr)
