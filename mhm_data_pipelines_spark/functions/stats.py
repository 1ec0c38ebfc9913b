"""The numeric stats block and related aggregate expression builders.

Reference: ``compute_stats`` at
``mhm-data-pipelines/extract_patient_summary.py:114-118`` — count, mean,
median, std, min, max over a list of floats. Two parity traps (SURVEY §7):

* ``np.std`` is **population** std (ddof=0) → ``stddev_pop``, not the
  sample ``stddev``.
* median is exact (numpy interpolates the middle pair) → Spark ``median``
  (exact, interpolated; Spark >= 3.4), never ``percentile_approx``.

All exprs are builtin JVM aggregates — partial+final hash aggregation and
whole-stage codegen apply automatically, which is what makes the stats
block a single shuffle at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stats_agg_exprs(value: Column | str, prefix: str = "") -> list[Column]:
    """The reference's stats block as aggregate Columns:
    ``total_entries, mean, median, std_dev, min, max`` (optionally
    name-prefixed for multi-measure aggs)."""
    v = F.col(value) if isinstance(value, str) else value
    p = prefix
    return [
        F.count(v).alias(f"{p}total_entries"),
        F.avg(v).alias(f"{p}mean"),
        F.median(v).alias(f"{p}median"),
        F.stddev_pop(v).alias(f"{p}std_dev"),
        F.min(v).alias(f"{p}min"),
        F.max(v).alias(f"{p}max"),
    ]


def distinct_days(ts: Column | str) -> Column:
    """Distinct calendar days with data — the reference's pervasive
    ``day_set`` (process-overview.py:120-126, data_collection.py:48-62,
    extract_patient_summary.py:111,382-388).

    The count is the size of the group's set of days: a set holds at
    most one entry per calendar day, so it stays small, and unlike
    ``count_distinct`` it needs no second shuffle.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.size(F.collect_set(F.to_date(c))).cast("long")


def normal_cdf(z: Column | str) -> Column:
    """Standard normal CDF Φ(z) as a pure Column expression — the
    Zelen & Severo rational approximation (Abramowitz & Stegun
    26.2.17, |error| < 7.5e-8): ``Φ(x) = 1 − φ(x)·(b1·t + … + b5·t⁵)``
    with ``t = 1/(1 + 0.2316419·x)`` for x ≥ 0, reflected for x < 0.

    Exists so p-values stay ENGINE-PORTABLE: no erf lives in either
    Spark SQL or DuckDB's core function set, but both evaluate this
    exact elementary-op tree (exp/sqrt/*,+) identically, so an oracle
    writing the same polynomial reproduces the p-value to the bit
    (modulo a last-ulp libm exp difference — far below any rounding
    the callers apply). Accuracy is plenty for screening/FDR use;
    anyone needing 1e-12 tails shouldn't be on a polynomial CDF.
    """
    c = F.col(z) if isinstance(z, str) else z
    x = F.abs(c)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * x)
    poly = (
        F.lit(0.319381530) * t
        - F.lit(0.356563782) * t * t
        + F.lit(1.781477937) * t * t * t
        - F.lit(1.821255978) * t * t * t * t
        + F.lit(1.330274429) * t * t * t * t * t
    )
    pdf = F.exp(F.lit(-0.5) * x * x) / F.lit(
        2.5066282746310002  # sqrt(2*pi), the double both engines parse
    )
    upper = F.lit(1.0) - pdf * poly
    return F.when(c >= 0, upper).otherwise(F.lit(1.0) - upper)


#: The exact SQL twin of :func:`normal_cdf` (DuckDB/ANSI dialect);
#: interpolate with the z expression. Kept NEXT TO the Python source
#: so the two trees can only drift in code review, not silently.
_T_SQL = "(1.0 / (1.0 + 0.2316419 * abs({z})))"
_UPPER_TAIL_SQL = (
    "1.0 - (exp(-0.5 * abs({z}) * abs({z})) / 2.5066282746310002) * ("
    "0.319381530 * " + _T_SQL
    + " - 0.356563782 * " + _T_SQL + " * " + _T_SQL
    + " + 1.781477937 * " + _T_SQL + " * " + _T_SQL + " * " + _T_SQL
    + " - 1.821255978 * " + _T_SQL + " * " + _T_SQL + " * " + _T_SQL
    + " * " + _T_SQL
    + " + 1.330274429 * " + _T_SQL + " * " + _T_SQL + " * " + _T_SQL
    + " * " + _T_SQL + " * " + _T_SQL + ")"
)

NORMAL_CDF_SQL = (
    "(CASE WHEN ({z}) >= 0 THEN " + _UPPER_TAIL_SQL
    + " ELSE 1.0 - (" + _UPPER_TAIL_SQL + ") END)"
)
