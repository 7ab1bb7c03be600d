"""Deterministic sampling operators — SURVEY.md §2.9 R2, and the salted
top-n that the registry's samplers share.

All sampling is derived from content hashes or fixed seeds; reruns and
retries produce identical samples (the reference seeds its RNG from
md5(seed_string), sample_pages_new.py:144-145 — same idea, no RNG
state at all here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def hash_order(*cols: Column, seed: int = 0) -> Column:
    """Deterministic pseudo-random ordering key."""
    return F.xxhash64(*cols, F.lit(seed))


_TOP_N_WORK_COLS = ("_salt", "_rn1", "_rn")


def _salted_top_n(df: DataFrame, strata: list[str], order_cols: list[Column],
                  n: int | Column, id_col: str,
                  rank_col: str | None = None) -> DataFrame:
    """Top-n per stratum under a TOTAL order, without a per-stratum
    global sort (r7, guide §2.5): stage 1 ranks within
    (strata, pmod(xxhash64(id), 64)) and keeps n per salt — every true
    top-n row is within its own salt's top-n — stage 2 ranks the
    ≤ 64·n survivors per stratum. Bit-identical to the single-window
    form because the order (incl. the id tie-break) is total; no task
    ever sorts more than a 1/64 slice of a Zipf-hot stratum.

    ``n`` is an int or a per-row Column (e.g. a per-stratum quota).
    ``rank_col`` keeps the final 1-based rank under that name; without
    it the rank is dropped. A frame that already carries one of the
    working columns is refused rather than silently overwritten."""
    clash = set(_TOP_N_WORK_COLS + ((rank_col,) if rank_col else ())) & set(df.columns)
    if clash:
        raise ValueError(f"_salted_top_n working columns already present: {sorted(clash)}")
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(64))
    w1 = Window.partitionBy(*strata, "_salt").orderBy(*order_cols)
    w2 = Window.partitionBy(*strata).orderBy(*order_cols)
    out = (
        df.withColumn("_salt", salt)
        .withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= n)
        .withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= n)
        .drop("_salt", "_rn1")
    )
    return out.withColumnRenamed("_rn", rank_col) if rank_col else out.drop("_rn")


def stratified_fixed_n(df: DataFrame, strata: list[str], n: int,
                       id_col: str, seed: int = 0) -> DataFrame:
    """R2: n rows per stratum, hash-ordered (sample_intros.py:37-43)."""
    return _salted_top_n(
        df, strata, [hash_order(F.col(id_col), seed=seed), F.col(id_col)], n, id_col
    )
