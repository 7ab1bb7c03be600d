"""QC sampling + accuracy estimation jobs — the reference's quality
loop (SURVEY.md §3.3) as engine features:

1. emit a stratified QC sample for human annotation
   (sample_pages_new.py / sample_paragraphs.py analogs);
2. score predictions against returned gold labels with per-stratum
   rollups and Beta(5%, 95%) credible intervals
   (/root/reference/src/segmentation_accuracy_estimate.py:108-125).

The Beta quantiles run driver-side on the tiny per-stratum aggregate
(SURVEY §2.11: no custom UDAF needed); the incomplete-beta inverse is
implemented with math.lgamma + a continued fraction (standard
Numerical-Recipes-style betacf), no scipy dependency.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from scripts_spark.operators import sampling


def emit_qc_sample(decisions: DataFrame, per_stratum: int = 30,
                   stratum_col: str = "lang_pred", seed: int = 0) -> DataFrame:
    """Deterministic per-stratum sample of decisions for annotation;
    emits the columns an annotator needs plus the engine's verdict."""
    s = sampling.stratified_fixed_n(
        decisions, [stratum_col], per_stratum, "doc_id", seed=seed
    )
    return s.select(
        "doc_id", "url", stratum_col, "keep", "filter_reasons",
        F.substring("scrubbed_text", 1, 400).alias("text_preview"),
    )


# --- regularized incomplete beta + inverse (driver-side math) -------
def _betacf(a: float, b: float, x: float) -> float:
    MAXIT, EPS, FPMIN = 200, 3e-12, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    if abs(d) < FPMIN:
        d = FPMIN
    d = 1.0 / d
    h = d
    for m in range(1, MAXIT + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        de = d * c
        h *= de
        if abs(de - 1.0) < EPS:
            break
    return h


def beta_cdf(x: float, a: float, b: float) -> float:
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_bt = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log(1.0 - x)
    )
    bt = math.exp(ln_bt)
    if x < (a + 1.0) / (a + b + 2.0):
        return bt * _betacf(a, b, x) / a
    return 1.0 - bt * _betacf(b, a, 1.0 - x) / b


def beta_ppf(q: float, a: float, b: float) -> float:
    """Inverse CDF by bisection (tiny inputs, driver-side only)."""
    lo, hi = 0.0, 1.0
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if beta_cdf(mid, a, b) < q:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2.0


def score_against_gold(decisions: DataFrame, gold: DataFrame,
                       pred_col: str = "keep", gold_col: str = "gold_keep",
                       stratum_col: str | None = None) -> list[dict]:
    """Join gold labels on doc_id, roll up correct/incorrect per
    stratum, attach Beta(5%,95%) credible interval on accuracy —
    the segmentation_accuracy_estimate.py:108-125 pattern."""
    j = decisions.join(gold, "doc_id", "inner")
    correct = (F.col(pred_col) == F.col(gold_col)).cast("long")
    keys = [stratum_col] if stratum_col else []
    agg = (
        j.groupBy(*keys)
        .agg(F.sum(correct).alias("n_correct"), F.count(F.lit(1)).alias("n_total"))
        .collect()
    )
    out = []
    for r in agg:
        nc, nt = r["n_correct"], r["n_total"]
        a, b = nc + 1.0, (nt - nc) + 1.0  # Beta(1,1) prior
        row = {
            "stratum": r[stratum_col] if stratum_col else "all",
            "n_correct": nc,
            "n_total": nt,
            "accuracy": nc / nt if nt else None,
            "ci_low": beta_ppf(0.05, a, b),
            "ci_high": beta_ppf(0.95, a, b),
        }
        out.append(row)
    return out


def accuracy_rollup(decisions: DataFrame, gold: DataFrame,
                    pred_col: str = "keep", gold_col: str = "gold_keep",
                    stratum_col: str = "decade",
                    scale: int = 1_000_000) -> DataFrame:
    """DataFrame form of score_against_gold (J9+A4): per-stratum
    correct/total rollup with integer-scaled Beta(5%,95%) credible
    bounds, the segmentation_accuracy_estimate.py:108-125 decade table.

    The distributed work is ONE join + partial-agg'd groupBy, collected
    exactly once (at most one row per stratum — the same tiny aggregate
    the reference iterates); the Beta quantiles are attached driver-side
    and the result is returned as a small DataFrame with exact-integer
    (micro-unit) bounds that hash identically across engines. A
    two-action formulation (collect a LUT, re-run the agg, join) was
    rejected: it executes the gold join twice and silently drops strata
    via the inner LUT join if the input is nondeterministic."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    j = decisions.join(gold, "doc_id", "inner")
    agg = j.groupBy(stratum_col).agg(
        F.sum((F.col(pred_col) == F.col(gold_col)).cast("long")).alias("n_correct"),
        F.count(F.lit(1)).alias("n_total"),
    )
    rows = agg.collect()
    out = []
    for r in rows:
        nc, nt = int(r["n_correct"]), int(r["n_total"])
        out.append(
            (
                r[stratum_col],
                nc,
                nt,
                nc / nt,
                int(round(beta_ppf(0.05, nc + 1.0, nt - nc + 1.0) * scale)),
                int(round(beta_ppf(0.95, nc + 1.0, nt - nc + 1.0) * scale)),
            )
        )
    schema = StructType(
        [
            agg.schema[stratum_col],
            StructField("n_correct", LongType(), False),
            StructField("n_total", LongType(), False),
            StructField("accuracy", DoubleType(), False),
            StructField("ci_low_micro", LongType(), False),
            StructField("ci_high_micro", LongType(), False),
        ]
    )
    return decisions.sparkSession.createDataFrame(out, schema)


def keep_f1(decisions: DataFrame, gold: DataFrame,
            pred_col: str = "keep", gold_col: str = "gold_keep") -> dict:
    """Precision/recall/F1 of the keep decision vs gold."""
    j = decisions.join(gold, "doc_id", "inner")
    r = j.agg(
        F.sum((F.col(pred_col) & F.col(gold_col)).cast("long")).alias("tp"),
        F.sum((F.col(pred_col) & ~F.col(gold_col)).cast("long")).alias("fp"),
        F.sum((~F.col(pred_col) & F.col(gold_col)).cast("long")).alias("fn"),
    ).collect()[0]
    tp, fp, fn = r["tp"], r["fp"], r["fn"]
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": prec, "recall": rec, "f1": f1}


def confusion_matrix(scored: DataFrame, gold_col: str = "gold",
                     pred_col: str = "pred") -> DataFrame:
    """M4 confusion-matrix pivot
    (/root/reference/src/build_classifier.py:156-164): one count per
    (gold, pred) class pair. Multi-class, one partial-agg'd shuffle."""
    return scored.groupBy(
        F.col(gold_col).alias("gold"), F.col(pred_col).alias("pred")
    ).agg(F.count(F.lit(1)).alias("n"))
