"""Data-quality / invariant check jobs behind ``run_job.py check``
(SURVEY.md §2.4 A8, §5).

The reference audits its corpus with standalone scripts (duplicate
uuid check at /root/reference/src/ck-duplicate-uuids.py:13-27); here
each check is a DataFrame job returning the VIOLATIONS (empty result =
pass), so the same checks run in CI, post-commit audits, or ad hoc.
The coverage-tolerance (A9) and non-empty-share (A10) checks are
registry queries (coverage_tolerance, props_nonempty_share).
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


def run_all(decisions: DataFrame) -> dict[str, int]:
    """Run the violation checks; returns violation counts by name."""
    return {
        "duplicate_ids": duplicate_ids(decisions).count(),
        "unknown_reasons": unknown_reasons(decisions).count(),
        "keep_consistency": keep_consistency(decisions).count(),
    }
