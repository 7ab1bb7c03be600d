"""Language decision from a document's integer language score.

The score itself (the sum of per-token word scores, exact long) comes
from the Arrow UDF scorer in scoring_udf.py; scoring_join.py is its
pure-SQL reference form. These two expressions are the
Spark twins of ``langmodel.lang_decision`` and ``langmodel.lang_conf``.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def lang_pred_expr(score: Column) -> Column:
    return F.when(score > 0, F.lit("sv")).otherwise(F.lit("other"))


def lang_conf_expr(score: Column) -> Column:
    a = F.abs(score).cast("double")
    return a / (a + F.lit(8.0))
