"""Distribution-drift checks: PSI + two-sample KS vs a baseline snapshot
(SURVEY.md §2.6 / §7.1 M4).

Design for 10^12 rows: a single aggregation pass computes ALL histogram
buckets for ALL tracked columns as ``sum(case when ...)`` expressions —
no per-column scans, no global sort.  The KS statistic is computed from the
binned empirical CDFs (shared bin edges with PSI), deliberately avoiding
``cume_dist`` over a global ``Window.orderBy`` which would single-task the
table (SURVEY.md §7.3).  The statistics themselves (PSI/KS/JS over a few
dozen bucket counts per partition) have ONE realization, on the driver:
:func:`drift_statistics` applies the numpy :func:`psi` / :func:`ks_binned`
/ :func:`js_divergence` to the collected ``n_parts`` histogram rows.  The
validation runner and :func:`drift_by_partition` both call it.  (A
Python-worker realization paid a per-task boundary cost for kilobytes of
work — 17.8 s at local[8] — and a Catalyst-expression one cost more
driver planning time than the whole computation.)

Exact KS is also provided for small-scale test verification.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


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


def _smoothed(expected: np.ndarray, actual: np.ndarray, eps: float):
    """Both histograms as probabilities, clipped to ``eps`` and
    renormalized (an all-zero histogram becomes uniform)."""
    p = np.clip(expected / max(expected.sum(), 1.0), eps, None)
    q = np.clip(actual / max(actual.sum(), 1.0), eps, None)
    return p / p.sum(), q / q.sum()


def psi(expected: np.ndarray, actual: np.ndarray, eps: float = 1e-6) -> float:
    """Population Stability Index with epsilon smoothing."""
    p, q = _smoothed(expected, actual, eps)
    return float(np.sum((q - p) * np.log(q / p)))


def js_divergence(
    expected: np.ndarray, actual: np.ndarray, eps: float = 1e-6
) -> float:
    """Jensen-Shannon divergence (natural log, so bounded by ln 2) with
    the SAME clip->renormalize smoothing as :func:`psi` — symmetric and
    bounded where PSI is neither, the better alarm metric when either
    side can have empty buckets."""
    p, q = _smoothed(expected, actual, eps)
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
    baseline contribute no term, but their rows still count in ``n`` and
    in the total the baseline is rescaled to — unlike :func:`chi_square`
    over baseline-aligned arrays, whose total holds only the baseline
    categories' rows.
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


def drift_statistics(
    hist_rows: list,
    part_col: str,
    spec: DriftSpec,
    baseline: dict[str, np.ndarray],
) -> tuple[list[tuple], list[tuple]]:
    """PSI/KS/JS of each collected :func:`partition_histograms` row vs the
    baseline, on the driver: the one realization of the drift statistics.

    Returns ``(drift, worst)``: one ``DRIFT_RESULT_SCHEMA`` tuple per (row,
    tracked column) — a NULL partition key gives ``part_id`` NULL, a NULL
    bucket count reads as 0 — and ``worst[i]``, ``hist_rows[i]``'s (max
    PSI, max KS), ``(None, None)`` when ``spec`` tracks no column.
    """
    drift, worst = [], []
    for r in hist_rows:
        p = r[part_col]
        stats = []
        for bins in spec.all_bins:
            hist = np.array(
                [r[f"h__{bins.column}__{b}"] or 0 for b in range(bins.n_buckets)],
                dtype=np.float64,
            )
            base = np.asarray(baseline[bins.column], dtype=np.float64)
            stats.append(
                (psi(base, hist), ks_binned(base, hist), js_divergence(base, hist))
            )
            drift.append((None if p is None else int(p), bins.column, *stats[-1]))
        worst.append((
            max((s[0] for s in stats), default=None),
            max((s[1] for s in stats), default=None),
        ))
    return drift, worst


def _local_frame(spark, rows: list, schema: T.StructType) -> DataFrame:
    """``rows`` as a DataFrame that lives on the driver: built through an
    Arrow table it plans as a LocalRelation, so collecting it, or anything
    else computed from it alone, runs no Spark job."""
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def drift_by_partition(
    df: DataFrame,
    part_col: str,
    spec: DriftSpec,
    baseline: dict[str, np.ndarray],
) -> DataFrame:
    """Per-partition PSI/KS/JS vs the baseline snapshot, as a driver-local
    frame (reading it runs no Spark job).

    One Spark action: collecting the ``groupBy(part_col)`` histogram
    aggregation (map-side combine makes it ``n_parts x n_buckets`` longs,
    independent of row count); :func:`drift_statistics` does the rest on
    the driver.  Use :func:`partition_histograms` directly to fuse extra
    per-partition aggregates into the same scan.
    """
    rows = partition_histograms(df, part_col, spec).collect()
    drift, _ = drift_statistics(rows, part_col, spec, baseline)
    return _local_frame(df.sparkSession, drift, DRIFT_RESULT_SCHEMA)


def auto_numeric_bins(
    df: DataFrame,
    column: str,
    n_buckets: int = 16,
    expr: str | None = None,
    accuracy: int = 10000,
) -> NumericBins:
    """Derive equi-depth bin edges for :class:`NumericBins` from a baseline
    frame — hand-tuned edges stop being a requirement for tracking a new
    column.

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
