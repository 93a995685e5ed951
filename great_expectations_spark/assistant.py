"""Numeric-range estimators for the profiler's multi-batch builders.

The reference's data assistants (great_expectations/rule_based_profiler/
data_assistant/onboarding_data_assistant.py; parameter estimation in
rule_based_profiler/estimators/*) fit expectation thresholds from the
spread of a metric across MANY batches. Here the per-batch metric values
come from ``rule_profiler.batch_metrics`` (one ``groupBy`` over real or
pseudo batches); this module keeps only the plain driver-side estimators
that turn those values into a [lower, upper] range: ``estimate_range``,
``bootstrap_range`` and ``quantiles_range``. The onboarding path is
``data_assistant.run_onboarding_assistant``.
"""

from __future__ import annotations

import math

# --------------------------------------------------------------------------
# numeric-range estimators (reference parity: rule_based_profiler/
# helpers/util.py:735 compute_bootstrap_quantiles_point_estimate,
# estimators/quantiles_numeric_range_estimator.py:37,
# estimators/exact_numeric_range_estimator.py:33, consumed by
# parameter_builder/numeric_metric_range_multi_batch_parameter_builder.py:86).
# The metric-values vector is one value per batch, already on the driver,
# so estimation is O(n_resamples * n_batches) pure-Python work with zero
# extra Spark jobs.

_LCG_M = 2147483647  # 2**31 - 1 (MINSTD modulus; products stay < 2**63)


def _resample_index(t: int, n: int, seed: int) -> int:
    """Deterministic counter-based resample index: two MINSTD-style LCG
    rounds on the draw counter. DELIBERATE DEVIATION from the reference's
    ``np.random.choice`` / PCG64 (helpers/util.py:813-824): every
    operation here is exact int64 arithmetic reproducible in any SQL
    engine, so the bootstrap bounds themselves are oracle-checkable —
    a seeded PCG64 stream is not."""
    h = (48271 * ((t + seed) % _LCG_M) + 12345) % _LCG_M
    h = (69621 * h + 12345) % _LCG_M
    return h % n


def _quantile_linear(sorted_vals: list[float], q: float) -> float:
    """numpy's default 'linear' (type-7) interpolation, written out so the
    identical expression can be evaluated in SQL: pos = q*(n-1),
    v[i] + frac*(v[i+1]-v[i])."""
    n = len(sorted_vals)
    if n == 1:
        return sorted_vals[0]
    pos = q * (n - 1)
    i = int(math.floor(pos))
    frac = pos - i
    if frac == 0.0 or i + 1 >= n:
        return sorted_vals[i]
    return sorted_vals[i] + frac * (sorted_vals[i + 1] - sorted_vals[i])


def bootstrap_range(
    values: list[float],
    false_positive_rate: float = 0.05,
    n_resamples: int = 999,
    seed: int = 7,
    quantile_bias_correction: bool = False,
    quantile_bias_std_error_ratio_threshold: float = 0.25,
) -> tuple[float, float]:
    """Bootstrapped quantile point estimates for [lower, upper] =
    [fpr/2, 1-fpr/2] — the reference's "bootstrap" estimator
    (helpers/util.py:735-848): resample the metric values with
    replacement n_resamples times, take each resample's quantile, use the
    mean of those as the point estimate, and bias-correct (subtract
    mean - sample_quantile) when correction is forced or the
    bias/standard-error ratio exceeds the Efron-Tibshirani 0.25 rule of
    thumb (util.py:920-938). Resampling uses the deterministic LCG
    stream (see _resample_index) instead of PCG64."""
    vals = [float(v) for v in values if v is not None]
    if not vals:
        raise ValueError("bootstrap_range needs at least one value")
    n = len(vals)
    svals = sorted(vals)
    q_lo = false_positive_rate / 2.0
    q_hi = 1.0 - false_positive_rate / 2.0
    # one resample pass serves both bounds: the draws depend only on
    # (r, n, seed), so regenerating them per quantile doubles driver CPU
    # for byte-identical results
    boots_lo: list[float] = []
    boots_hi: list[float] = []
    for r in range(n_resamples):
        draw = sorted(
            vals[_resample_index(r * n + j, n, seed)] for j in range(n)
        )
        boots_lo.append(_quantile_linear(draw, q_lo))
        boots_hi.append(_quantile_linear(draw, q_hi))
    out: list[float] = []
    for q, boots in ((q_lo, boots_lo), (q_hi, boots_hi)):
        sample_q = _quantile_linear(svals, q)
        mean = sum(boots) / n_resamples
        # population std (np.std default ddof=0), as the reference uses
        se = math.sqrt(sum((b - mean) ** 2 for b in boots) / n_resamples)
        bias = mean - sample_q
        if (
            not quantile_bias_correction
            and se > 0.0
            and bias / se <= quantile_bias_std_error_ratio_threshold
        ):
            out.append(mean)
        else:
            out.append(mean - bias)
    return out[0], out[1]


def quantiles_range(
    values: list[float], false_positive_rate: float = 0.05
) -> tuple[float, float]:
    """Nonparametric sample quantiles at [fpr/2, 1-fpr/2] — the
    reference's "quantiles" estimator
    (estimators/quantiles_numeric_range_estimator.py:37, compute_quantiles
    in helpers/util.py)."""
    vals = sorted(float(v) for v in values if v is not None)
    if not vals:
        raise ValueError("quantiles_range needs at least one value")
    return (
        _quantile_linear(vals, false_positive_rate / 2.0),
        _quantile_linear(vals, 1.0 - false_positive_rate / 2.0),
    )


def estimate_range(
    values: list[float],
    estimator: str = "bootstrap",
    false_positive_rate: float = 0.05,
    n_resamples: int = 999,
    seed: int = 7,
) -> tuple[float, float]:
    """Dispatch over the reference's estimator names ("exact" |
    "quantiles" | "bootstrap"; "kde" is deliberately absent — no scipy in
    the engine's dependency set, and bootstrap dominates it in the
    reference's own defaults)."""
    vals = [float(v) for v in values if v is not None]
    if not vals:
        raise ValueError("estimate_range needs at least one value")
    if estimator == "exact":
        return min(vals), max(vals)
    if estimator == "quantiles":
        return quantiles_range(vals, false_positive_rate)
    if estimator == "bootstrap":
        return bootstrap_range(
            vals, false_positive_rate, n_resamples=n_resamples, seed=seed)
    raise ValueError(
        f"unknown estimator {estimator!r}; expected exact|quantiles|bootstrap")
