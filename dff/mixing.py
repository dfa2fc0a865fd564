"""Token-budget corpus mixture sampling (data mixing for training runs).

A training corpus is rarely consumed as-is: the run specifies a MIXTURE —
"50% of the token budget from web, 25% from wiki, 25% from code" — and a
total budget, and the pipeline must translate that into per-domain
sampling rates, DOWN-sampling over-represented domains and UP-sampling
(repeating for multiple epochs) under-represented ones.  This module is
the bridge from a domain-weighted spec (the mixture tables published with
Pile/DoReMi-style recipes) to a deterministic row-level sample.

Reference scope: the reference engine stops at per-rule row validation
(01_dff_model.py); mixture construction is part of the
beyond-reference training-data surface (SURVEY.md §2 extension family,
alongside dff/sampling.py).

How it stays deterministic AND cross-engine replayable (the oracle gate
replays the whole derivation in DuckDB):

- Per-domain availability is summed over an INTEGER weight column
  (token or char counts), so both engines agree exactly (no float
  summation-order hazard).
- The budget is integer arithmetic on that exact total.
- The rate is derived in a FIXED operation order,
  ``budget * w / wsum / avail`` (left-associative IEEE doubles), so the
  Python driver and the SQL oracle produce bit-identical doubles.
- Row membership reuses the content-hash predicate from
  :mod:`dff.sampling`: keep epoch ``e`` of a row iff ``e < floor(rate)``
  (full epochs) or ``md5(seed|e|key)``-uniform ``< rate - floor(rate)``
  (the partial epoch) — stable under repartitioning and engines.

Scale shape (100 TB): one bounded aggregate (rows = #domains) plans the
mixture (:func:`mixture_plan`; a caller that already holds the
per-domain availability plans on the driver with
:func:`mixture_plan_from_avail`); the sample itself is a map-only
explode+filter — down-sampled domains emit one epoch and prune at the
scan, up-sampled domains emit ``ceil(rate)`` copies (bounded by
``max_rate``).  No shuffle anywhere; whole-stage codegen end to end.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dff.sampling import uniform_hash


@dataclass(frozen=True)
class MixtureShare:
    """Planned share for one domain."""

    domain: str
    weight: float          # renormalized over PRESENT weighted domains
    avail: int             # exact integer sum of weight_col in the domain
    target: float          # budget * weight (tokens)
    rate: float            # target / avail, capped at max_rate
    epochs_full: int       # floor(rate): epochs kept in full
    frac: float            # rate - floor(rate): partial-epoch keep fraction

    @property
    def copies(self) -> int:
        return self.epochs_full + (1 if self.frac > 0.0 else 0)


def mixture_plan(
    df: DataFrame,
    domain_col: str,
    weight_col: str,
    weights: dict[str, float],
    budget: int,
    allow_upsample: bool = True,
    max_rate: float = 4.0,
) -> dict[str, MixtureShare]:
    """Derive per-domain sampling rates for a token ``budget``: one
    bounded aggregate (one row per weighted domain, same convention as
    the strata collect in dff/sampling.py) for the availability, then
    :func:`mixture_plan_from_avail`.

    ``weight_col`` must be integral (token/char counts) — that is what
    makes the plan exact and cross-engine replayable; a float weight
    column would reintroduce summation-order nondeterminism.
    """
    rows = (
        df.where(F.col(domain_col).isin(list(weights)))
        .groupBy(domain_col)
        .agg(F.sum(F.col(weight_col).cast("long")).alias("__avail"))
        .collect()  # bounded: one row per weighted domain
    )
    avail = {r[domain_col]: r["__avail"] for r in rows}
    return mixture_plan_from_avail(avail, weights, budget, allow_upsample, max_rate)


def mixture_plan_from_avail(
    avail: dict[str, int | None],
    weights: dict[str, float],
    budget: int,
    allow_upsample: bool = True,
    max_rate: float = 4.0,
) -> dict[str, MixtureShare]:
    """The driver half of :func:`mixture_plan`: rates from an exact
    integer availability per domain, for callers that already aggregated
    it.  Runs no Spark job.

    ``weights`` are renormalized over the domains actually present (a
    recipe naming an absent domain, or one with zero or NULL ``avail``,
    redistributes its share), summing in sorted-domain order so the
    normalization is reproducible.  Domains in ``avail`` without a
    positive weight are ignored.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    for d, w in weights.items():
        if w < 0:
            raise ValueError(f"weight for domain {d!r} must be >= 0")
    present = sorted(d for d, a in avail.items() if a and weights.get(d, 0.0) > 0.0)
    if not present:
        return {}
    wsum = 0.0
    for d in present:  # fixed (sorted) order — mirrored by the oracle
        wsum += weights[d]
    plan: dict[str, MixtureShare] = {}
    for d in present:
        # FIXED op order: budget*w/wsum/avail, left-assoc IEEE doubles —
        # the oracle SQL writes the identical expression.
        rate = float(budget) * weights[d] / wsum / float(avail[d])
        if not allow_upsample:
            rate = min(rate, 1.0)
        rate = min(rate, float(max_rate))
        full = int(math.floor(rate))
        plan[d] = MixtureShare(
            domain=d,
            weight=weights[d] / wsum,
            avail=int(avail[d]),
            target=float(budget) * weights[d] / wsum,
            rate=rate,
            epochs_full=full,
            frac=rate - full,
        )
    return plan


def _epoch_hash(seed: int, epoch_col: str, key_cols: list[str]) -> Column:
    """Uniform [0,1) from (seed, epoch, row key) — the dff/sampling.py
    md5 predicate with the epoch folded in as the first key column, so
    each partial epoch picks an independent uniform subset of the
    domain.  Payload = seed|epoch|keys, exactly what the oracle replays."""
    return uniform_hash([epoch_col, *key_cols], seed)


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    key_cols: list[str],
    plan: dict[str, MixtureShare],
    seed: int = 0,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Materialize the planned mixture as rows tagged with ``epoch_col``.

    Map-only: a CASE chain assigns per-domain copies/floor/frac, an
    explode emits ``copies`` epochs per row (1 for down-sampled domains),
    and the keep predicate is ``epoch < floor(rate) OR hash < frac``.
    Domains absent from the plan are dropped.  Output row multiplicity IS
    the mixture: a rate-2.3 domain contributes every row twice plus a
    30%-of-rows third epoch.
    """
    if not plan:
        return df.where(F.lit(False)).withColumn(epoch_col, F.lit(0))
    copies_e: Column = F.lit(0)
    full_e: Column = F.lit(0)
    frac_e: Column = F.lit(0.0)
    for d, s in sorted(plan.items()):
        match = F.col(domain_col) == F.lit(d)
        copies_e = F.when(match, F.lit(s.copies)).otherwise(copies_e)
        full_e = F.when(match, F.lit(s.epochs_full)).otherwise(full_e)
        frac_e = F.when(match, F.lit(s.frac)).otherwise(frac_e)
    out = (
        df.withColumn("__copies", copies_e)
        .where(F.col("__copies") > 0)
        .withColumn(
            epoch_col,
            F.explode(F.sequence(F.lit(0), F.col("__copies") - F.lit(1))),
        )
        .withColumn("__full", full_e)
        .withColumn("__frac", frac_e)
    )
    keep = (F.col(epoch_col) < F.col("__full")) | (
        _epoch_hash(seed, epoch_col, key_cols) < F.col("__frac")
    )
    return out.where(keep).drop("__copies", "__full", "__frac")


def mixture_summary(
    sampled: DataFrame,
    domain_col: str,
    weight_col: str,
    plan: dict[str, MixtureShare],
) -> DataFrame:
    """Achieved-vs-target report: one row per domain with picked rows,
    picked weight (token) sum, the planned target, and the achieved
    fraction of it.  Bounded output (#domains rows)."""
    target_e: Column = F.lit(None).cast("double")
    for d, s in sorted(plan.items()):
        target_e = F.when(F.col(domain_col) == F.lit(d), F.lit(s.target)).otherwise(
            target_e
        )
    return (
        sampled.groupBy(domain_col)
        .agg(
            F.count(F.lit(1)).alias("picked_rows"),
            F.sum(F.col(weight_col).cast("long")).alias("picked_weight"),
        )
        .withColumn("target_weight", target_e)
        .withColumn(
            "achieved_frac",
            F.col("picked_weight").cast("double") / F.col("target_weight"),
        )
    )
