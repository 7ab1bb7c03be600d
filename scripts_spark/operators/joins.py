"""Join operators beyond plain equi-joins: the fuzzy-match cascade,
unique-page substring containment and the as-of join — SURVEY.md §2.3
J3/J5 and the custom-operator family. The interval join (J2) and
multi-match arbitration (J8) are registry queries (interval_tier_join,
multival_arbitration).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def fuzzy_match_cascade(facts: DataFrame, dim: DataFrame, fact_key: str,
                        stages: list[tuple[str, Column]]) -> DataFrame:
    """Staged matching with first-hit semantics (SURVEY J3 —
    fuzzy_matching.py:75-103 tries 7 matchers in order and keeps the
    first hit). Each stage is (name, join_condition); stage k+1 joins
    ONLY the left_anti residue of stages <= k, so the reference's
    per-row short-circuit economics carry over set-at-a-time: when the
    cheap exact equi-join resolves 95% of facts, the expensive fuzzy
    stages (levenshtein theta-joins against the broadcast dim) scan
    only the unmatched 5% tail, not the full 10^12-row fact table.
    Unmatched facts survive with match_stage null.

    Within a stage, a fact matching several dim rows keeps a
    deterministic one: row_number ordered by every dim-side column
    (sorted by name). Results are identical to running ALL stages over
    ALL facts and arbitrating on (priority, dim cols) — a fact matched
    at stage k is by construction absent from every later stage —
    which the equivalence test pins."""
    dim_cols = sorted(set(dim.columns) - set(facts.columns))
    # every dim column shadowed by a fact column → nothing to order the
    # arbitration by (matches are then indistinguishable anyway); a
    # constant keeps the window valid instead of an AnalysisException
    order_cols = [F.col(c) for c in dim_cols] or [F.lit(1)]
    remaining = facts
    best = None
    for name, cond in stages:
        m = remaining.join(F.broadcast(dim), cond, "inner").withColumn(
            "match_stage", F.lit(name)
        )
        w = Window.partitionBy(fact_key).orderBy(*order_cols)
        stage_best = (
            m.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        best = stage_best if best is None else best.unionByName(stage_best)
        remaining = remaining.join(
            stage_best.select(fact_key), fact_key, "left_anti"
        )
    missing = remaining.withColumn("match_stage", F.lit(None).cast("string"))
    for c in best.columns:
        if c not in missing.columns:
            missing = missing.withColumn(c, F.lit(None))
    return best.unionByName(missing.select(best.columns))


def containment_join_unique_page(sentences: DataFrame, pages: DataFrame,
                                 sent_col: str = "sentence",
                                 page_text: str = "page_text",
                                 page_id: str = "page") -> DataFrame:
    """SURVEY J5 (add_modern_pagenumbers.py:102-123): locate sentences
    on pages by substring containment; keep only sentences found on
    exactly one distinct page (the reference's early-exit-at-2 check
    has identical semantics)."""
    hits = sentences.join(pages, F.col(page_text).contains(F.col(sent_col)))
    arb = hits.groupBy(sent_col).agg(
        F.count_distinct(page_id).alias("n_pages"), F.min(page_id).alias(page_id)
    )
    return arb.filter(F.col("n_pages") == 1).drop("n_pages")


def asof_join(left: DataFrame, right: DataFrame, key: str, ts: str,
              value_cols: list[str], suffix: str = "_asof") -> DataFrame:
    """As-of join: attach to each left row the LATEST right row with
    right.ts <= left.ts, per key (SURVEY custom-operator family; the
    time-series point-in-time lookup).

    Merged-stream window form — the scalable physical strategy: union
    both streams, one sort per key partition, and a running
    last(ignorenulls) carries the most recent right values forward onto
    left rows. No range join, no per-row probe, no broadcast
    requirement on either side; cost is one shuffle on the key plus the
    partition sort both sides already need for any time ordering. Right
    rows order BEFORE left rows at equal timestamps (<= semantics).

    Determinism + atomicity: the carried values travel as ONE struct of
    all value columns, so ties and NULLs can never mix fields from
    different right rows — the carried tuple is always exactly one
    right row (the tuple-MAX of rows tied on (key, ts), since the
    window order tie-breaks on the struct itself and last() then picks
    the greatest). Per-column last(ignorenulls) would instead
    synthesize a row on NULL-containing ties, e.g. tied rows (1, 7)
    and (2, NULL) carrying (2, 7) — a tuple in neither row."""
    l = left.withColumn("_is_left", F.lit(1))
    r = (
        right.select(
            F.col(key), F.col(ts), *[F.col(c).alias(f"_r_{c}") for c in value_cols]
        ).withColumn("_is_left", F.lit(0))
    )
    m = l.unionByName(r, allowMissingColumns=True)
    # non-null only on right rows: ignorenulls skips left rows entirely,
    # and a right row with NULL values still carries (as itself, atomically)
    m = m.withColumn(
        "_r_row",
        F.when(
            F.col("_is_left") == 0,
            F.struct(*[F.col(f"_r_{c}").alias(c) for c in value_cols]),
        ),
    )
    w = (
        Window.partitionBy(key)
        .orderBy(ts, "_is_left", "_r_row")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = m.withColumn("_r_row", F.last("_r_row", ignorenulls=True).over(w))
    out = m.filter(F.col("_is_left") == 1).drop("_is_left", *[f"_r_{c}" for c in value_cols])
    for c in value_cols:
        out = out.withColumn(f"{c}{suffix}", F.col("_r_row")[c])
    return out.drop("_r_row")
