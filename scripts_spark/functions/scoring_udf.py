"""Arrow-vectorized model scoring: langid evidence + bigram LM cost in
one pandas UDF pass over the scrubbed text.

This is the north-star architecture (BASELINE.json): the frozen model
tables (word scores, bigram costs) ship to executors as a Spark
broadcast, and scoring runs inside an Arrow-batched pandas UDF with a
per-task token memo — the reference's ``prob_dict`` cache
(/root/reference/src/cur-prot/reclassify.py:40-47) made distributed.

Why this beats the JVM explode+join path (scoring_join.py keeps it
as the pure-SQL reference this scorer is checked against): token
scoring is two dict lookups per token here, versus explode (20M
rows), a window sort, two hash joins and a re-aggregation there —
measured ~9x faster on 200k docs at local[32], where the JVM path's
allocation churn hits GC contention. No shuffle at all on this path.

All sums are Python ints (exact); results are bit-identical to the
oracle and to scoring_join (same frozen tables).

Measured-and-rejected (round 3): a pandas-vectorized scorer
(explode + dict-map + groupby-sum) was equivalence-verified and
benchmarked at 0.3x the loop's speed — the memoized loop costs ~9µs
per document, so this stage's wall time is Arrow transfer of the text
column, not Python compute; vectorizing the compute only added
explode/map overhead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from scripts_spark.functions import langmodel
from scripts_spark.oracle import textoracle
from scripts_spark.session import drop_zip_finders, per_app

SCORE_COLS = ("lang_score", "ppx_sum", "n_bigrams")
SCORE_SCHEMA = ", ".join(f"{c} long" for c in SCORE_COLS)


def _score_texts(texts, stop_scores, bigram, token_memo):
    oov = langmodel.OOV_COST_MILLI
    tn = textoracle.token_normalize
    sv = langmodel.SV_CHARS
    rare = langmodel.RARE_SV_CHARS
    out_lang, out_ppx, out_nb = [], [], []
    for text in texts:
        lang = ppx = nb = 0
        prev_tl = None
        if text:
            for tok in text.replace("\n", " ").split(" "):
                memo = token_memo.get(tok)
                if memo is None:
                    tl = tn(tok)
                    if tl == "":
                        s = 0
                    else:
                        s = stop_scores.get(tl)
                        if s is None:
                            s = 0
                            if any(c in sv for c in tl):
                                s += 2
                            if any(c in rare for c in tl):
                                s -= 1
                    memo = (tl, s)
                    token_memo[tok] = memo
                tl, s = memo
                lang += s
                if tl != "":
                    if prev_tl is not None:
                        ppx += bigram.get(prev_tl + " " + tl, oov)
                        nb += 1
                    prev_tl = tl
        out_lang.append(lang)
        out_ppx.append(ppx)
        out_nb.append(nb)
    return out_lang, out_ppx, out_nb


def _model_broadcast(spark: SparkSession):
    """The frozen model tables as one broadcast per Spark application,
    not per curate() call: rebuilding + re-broadcasting them for every
    bench trial / streaming micro-batch is pure fixed cost (it shows up
    directly as lost scaling efficiency — serial seconds that don't
    shrink with cores)."""
    return per_app(spark, "scoring_udf.models", lambda: spark.sparkContext.broadcast(
        (dict(langmodel.STOP_SCORES), dict(langmodel.bigram_cost_table()))
    ))


def scores_udf(spark: SparkSession) -> "function":
    """Build the scoring pandas UDF with the model tables attached as
    a Spark broadcast (one copy per executor, not per task)."""
    bc = _model_broadcast(spark)

    def _udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        stop_scores, bigram = bc.value
        token_memo: dict[str, tuple[str, int]] = {}
        for s in it:
            lang, ppx, nb = _score_texts(s.fillna(""), stop_scores, bigram, token_memo)
            yield pd.DataFrame(
                {"lang_score": lang, "ppx_sum": ppx, "n_bigrams": nb}
            )

    return F.pandas_udf(_udf, SCORE_SCHEMA)


def score_cols(spark: SparkSession, text_col: str = "scrubbed_text") -> tuple[Column, ...]:
    """lang_score, ppx_sum and n_bigrams of ``text_col``: three fields
    of ONE UDF call (the planner evaluates an identical Python UDF once
    per projection), built once per Spark application."""
    def build():
        sc = scores_udf(spark)(F.col(text_col))
        return tuple(sc[c].alias(c) for c in SCORE_COLS)

    return per_app(spark, ("scoring_udf.scores", text_col), build)


def with_scores(docs: DataFrame, text_col: str = "scrubbed_text") -> DataFrame:
    """Attach lang_score/ppx_sum/n_bigrams columns — no shuffle."""
    return docs.select("*", *score_cols(docs.sparkSession, text_col))
