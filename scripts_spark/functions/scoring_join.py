"""Model-table scoring in pure SQL — the reference form of the Arrow
scorer (scoring_udf.py), run by the doc_scoring registry query against
DuckDB: ONE token explode per document, two broadcast hash joins
(word-score table, bigram cost table via a lag window), one
groupBy(url) aggregation.

Design notes (measured on 200k docs, local[32]):
- map literals are out: Spark map lookup is a linear scan
  (1.4k-entry bigram map ⇒ ~70k string compares/doc, 135s vs 10s);
- higher-order array lambdas (transform/aggregate folds) interpret
  per element and build intermediate object arrays — a fused
  struct-concat explode was 3x slower than this plain explode;
- bigrams come from a lag() window over the exploded tokens instead
  of per-row pair arrays: the window sort shares the explode's rows
  and stays in whole-stage codegen;
- everything summed is an exact long (order-free determinism).

Token counts (n_tokens/n_distinct/tok_chars) intentionally do NOT come
from this pass — they are pure string arithmetic on the normalized
text (see pipeline.py) because scrubbed_text is single-space/newline
separated by construction.

Semantics are pinned by the unchanged pipeline parity oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from scripts_spark.functions import langmodel, perplexity, text_kernel
from scripts_spark.session import local_frame, per_app


def stop_score_df(spark: SparkSession) -> DataFrame:
    """The word-score model as a broadcast-join table (tl → score), a
    LocalTableScan built once per Spark application."""
    return per_app(spark, "scoring_join.stop_scores", lambda: local_frame(
        spark, list(langmodel.STOP_SCORES.items()), "tl string, stop_score long"
    ))


def doc_scores(docs: DataFrame, key: str = "url",
               text_col: str = "scrubbed_text") -> DataFrame:
    """One row per doc (absent for zero-token docs — caller left-joins
    and coalesces): lang_score, ppx_sum, n_bigrams (exact longs)."""
    spark = docs.sparkSession
    # scrubbed text is ws-normalized: tokens are separated by exactly
    # one space or newline, so a plain regex split needs no filtering
    # (an empty doc yields one '' token, which scores 0 and forms no
    # bigram — same as the oracle's empty token list).
    ex = docs.select(
        F.col(key), F.posexplode(F.split(F.col(text_col), "[ \n]")).alias("pos", "token")
    ).withColumn("tl", text_kernel.token_normalize(F.col("token")))

    scored = ex.join(F.broadcast(stop_score_df(spark)), "tl", "left")
    heur = F.when(F.col("tl").rlike("[åäö]"), F.lit(2)).otherwise(F.lit(0)) + F.when(
        F.col("tl").rlike("[wz]"), F.lit(-1)
    ).otherwise(F.lit(0))
    tok_score = F.when(F.col("tl") == "", F.lit(0)).otherwise(
        F.coalesce(F.col("stop_score"), heur.cast("long"))
    )
    scored = scored.withColumn("tok_score", tok_score)

    # bigram of adjacent non-empty normalized tokens: filter empties
    # out, then lag() in doc order; the window partitions by the same
    # key the final agg uses, so the sort piggybacks on that shuffle
    w = Window.partitionBy(key).orderBy("pos")
    nn = scored.filter(F.col("tl") != "")
    withpair = nn.withColumn("prev_tl", F.lag("tl", 1).over(w)).withColumn(
        "pair", F.when(F.col("prev_tl").isNotNull(), F.concat_ws(" ", "prev_tl", "tl"))
    )

    costed = withpair.join(F.broadcast(perplexity.cost_table_df(spark)), "pair", "left")
    pair_cost = F.when(
        F.col("pair").isNotNull(),
        F.coalesce(F.col("cost"), F.lit(langmodel.OOV_COST_MILLI).cast("long")),
    ).otherwise(F.lit(0))

    # two partial aggregations: token scores over ALL tokens (incl.
    # ones that normalize to ''), pair costs over the non-empty stream
    lang = scored.groupBy(key).agg(F.sum("tok_score").alias("lang_score"))
    ppx = costed.groupBy(key).agg(
        F.sum(pair_cost).alias("ppx_sum"),
        F.sum(F.col("pair").isNotNull().cast("long")).alias("n_bigrams"),
    )
    return lang.join(ppx, key, "left").select(
        key,
        "lang_score",
        F.coalesce("ppx_sum", F.lit(0)).alias("ppx_sum"),
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
    )
