"""Bigram (KenLM-style) perplexity scoring, join-based.

The cost table lives in a DataFrame and reaches the data through a
broadcast hash join — the shape that still works when the LM has 10^8
n-grams (a map-literal would not). Costs are integer milli-nats so the
per-doc sum is an exact long; the keep/drop comparison is integer
cross-multiplication (sum > threshold·n), never a float compare.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from scripts_spark.functions import langmodel, text_kernel
from scripts_spark.session import local_frame, per_app

_MAP_LITERAL: list = []


def cost_map_literal() -> Column:
    """The bigram table as a map literal — viable for this small
    frozen table (~1.4k entries) and enables fully array-side,
    zero-shuffle scoring in the pipeline. For LMs too big to inline,
    ppx_stats below is the broadcast-join path with identical results.

    Built as ONE sql expr string: per-element F.lit would cost a py4j
    round-trip each (~20s of driver time for 2800 literals)."""
    if not _MAP_LITERAL:
        parts = []
        for k, v in langmodel.bigram_cost_table().items():
            kk = k.replace("\\", "\\\\").replace("'", "\\'")
            parts.append(f"'{kk}',{int(v)}L")
        _MAP_LITERAL.append(F.expr("map(" + ",".join(parts) + ")"))
    return _MAP_LITERAL[0]


def cost_table_df(spark: SparkSession) -> DataFrame:
    """The bigram cost table (pair → cost), a LocalTableScan built once
    per Spark application."""
    return per_app(spark, "perplexity.costs", lambda: local_frame(
        spark, list(langmodel.bigram_cost_table().items()), "pair string, cost long"
    ))


def norm_token_array(text_col: Column) -> Column:
    """Normalized non-empty tokens, in document order."""
    return F.filter(
        F.transform(text_kernel.tokens(text_col), text_kernel.token_normalize),
        lambda t: t != "",
    )


def bigram_array(text_col: Column) -> Column:
    # bind_once: each toks[i] reference otherwise re-runs the whole
    # tokenize+normalize chain per bigram element (r7, same fix as
    # queries._md5_shingles3 — measured 20x there)
    def _grams(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - 2, F.lit(-1)))
        return F.when(
            n >= 2, F.transform(idx, lambda i: F.concat_ws(" ", toks[i], toks[i + 1]))
        ).otherwise(F.array().cast("array<string>"))

    return text_kernel.bind_once(norm_token_array(text_col), _grams)


def ppx_stats(docs: DataFrame, key: str = "url", text_col: str = "scrubbed_text") -> DataFrame:
    """One row per doc: (ppx_sum long, n_bigrams long)."""
    spark = docs.sparkSession
    pairs = docs.select(
        F.col(key), F.explode(bigram_array(F.col(text_col))).alias("pair")
    )
    joined = pairs.join(F.broadcast(cost_table_df(spark)), "pair", "left")
    return joined.groupBy(key).agg(
        F.sum(F.coalesce(F.col("cost"), F.lit(langmodel.OOV_COST_MILLI))).alias("ppx_sum"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


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
