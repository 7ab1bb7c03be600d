"""Bigram (KenLM-style) perplexity: the cost table as a frame and the
per-document perplexity and threshold expressions.

The pure-SQL reference scorer (functions/scoring_join, run by the
doc_scoring registry query) reaches the data with this table through
a broadcast hash join. Costs are integer milli-nats so the per-doc
sum is an exact long; the keep/drop comparison is integer
cross-multiplication (sum > threshold·n), never a float compare.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from scripts_spark.functions import langmodel
from scripts_spark.session import local_frame, per_app

def cost_table_df(spark: SparkSession) -> DataFrame:
    """The bigram cost table (pair → cost), a LocalTableScan built once
    per Spark application."""
    return per_app(spark, "perplexity.costs", lambda: local_frame(
        spark, list(langmodel.bigram_cost_table().items()), "pair string, cost long"
    ))


def perplexity_expr(ppx_sum: Column, n_bigrams: Column) -> Column:
    """Mean cost in nats as double; OOV ceiling when no bigrams."""
    return F.when(
        n_bigrams > 0, ppx_sum.cast("double") / (n_bigrams.cast("double") * F.lit(1000.0))
    ).otherwise(F.lit(langmodel.OOV_COST_MILLI / 1000.0))


def ppx_reason_expr(ppx_sum: Column, n_bigrams: Column) -> Column:
    """Integer-exact threshold test (drop when mean > threshold)."""
    return (n_bigrams > 0) & (
        ppx_sum > F.lit(langmodel.PPX_THRESHOLD_MILLI) * n_bigrams
    )
