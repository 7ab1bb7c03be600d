"""Data-quality / invariant check jobs (SURVEY.md §2.4 A8–A10, §5).

The reference audits its corpus with standalone scripts (duplicate
uuid check at /root/reference/src/ck-duplicate-uuids.py:13-27,
coverage-tolerance test at src/stats-dashboard/mp-coverage.py:33-41);
here each check is a DataFrame job returning the VIOLATIONS (empty
result = pass), so the same checks run in CI, post-commit audits, or
ad hoc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from scripts_spark.plans.pipeline import REASONS

KNOWN_REASONS = list(REASONS)


def duplicate_ids(decisions: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """A8: corpus-wide id uniqueness (empty ⇒ pass). Content-hash ids
    make this ≡ url uniqueness, but the audit stays cheap insurance."""
    return (
        decisions.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def unknown_reasons(decisions: DataFrame) -> DataFrame:
    """Reasons ⊆ rule registry (empty ⇒ pass)."""
    return (
        decisions.select(F.explode("filter_reasons").alias("reason"))
        .filter(~F.col("reason").isin(KNOWN_REASONS))
        .distinct()
    )


def keep_consistency(decisions: DataFrame) -> DataFrame:
    """keep ⇔ no reasons (empty ⇒ pass)."""
    return decisions.filter(
        (F.col("keep") & (F.size("filter_reasons") > 0))
        | (~F.col("keep") & (F.size("filter_reasons") == 0))
    ).select("url", "keep", "filter_reasons")


def coverage_tolerance(metrics: DataFrame, baseline: DataFrame,
                       on: list[str], value: str = "n_kept",
                       tol_num: int = 1, tol_den: int = 10) -> DataFrame:
    """A9 (mp-coverage.py pattern): current vs baseline counts per
    stratum; returns rows outside ±tol (integer cross-multiplied).
    status: 'pass' exact, 'almost' within tolerance, 'fail' outside —
    only 'fail' rows are returned."""
    b = baseline.select(*on, F.col(value).alias("_baseline"))
    j = metrics.select(*on, F.col(value).alias("_current")).join(b, on, "inner")
    lo_ok = F.col("_current") * tol_den >= F.col("_baseline") * (tol_den - tol_num)
    hi_ok = F.col("_current") * tol_den <= F.col("_baseline") * (tol_den + tol_num)
    return j.filter(~(lo_ok & hi_ok))


def non_empty_share(decisions: DataFrame, col: str) -> DataFrame:
    """A10 (redetect.py:49-51): share of non-empty values — a metric
    frame, not a violation frame."""
    return decisions.agg(
        F.avg((F.length(F.coalesce(F.col(col), F.lit(""))) > 0).cast("int")).alias(
            f"share_nonempty_{col}"
        )
    )


def run_all(decisions: DataFrame) -> dict[str, int]:
    """Run the violation checks; returns violation counts by name."""
    return {
        "duplicate_ids": duplicate_ids(decisions).count(),
        "unknown_reasons": unknown_reasons(decisions).count(),
        "keep_consistency": keep_consistency(decisions).count(),
    }
