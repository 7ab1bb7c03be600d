"""Property-based byte-identity fuzzing of the text kernels: random
strings drawn from the characters the pipeline actually faces
(Swedish letters, digits, §/$, soft hyphen, the whitespace zoo) must
round-trip identically through the Spark expressions and the Python
oracle. This is the hard part of the contract (SURVEY.md §7.3 #1) —
regex-engine divergence shows up exactly on these inputs."""

from __future__ import annotations

import hypothesis
from hypothesis import given, settings, strategies as st

from scripts_spark.oracle import textoracle as ora

ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "åäöÅÄÖéüß0123456789"
    " \t\n\xa0   　"
    "§$­-–—.,!?:;()[]{}'\"«»”/\\+"
)

texts = st.text(alphabet=ALPHABET, min_size=0, max_size=120)


@st.composite
def planted(draw):
    """Bias toward the cascade's trigger shapes."""
    prefix = draw(
        st.sampled_from(
            ["", "$ ", "$", "8 3.", "8 23. ", "3 $", "12 $ ", "2$", "100 $ ",
             "Herr ", "Fru ", "Storgatan 1 ", "850709-1234 ", "19850709+1234"]
        )
    )
    return prefix + draw(texts)


def _gen_samples() -> list[str]:
    out: list[str] = []
    # drive hypothesis purely as a deterministic generator
    @settings(max_examples=60, deadline=None, database=None,
              derandomize=True,
              suppress_health_check=list(hypothesis.HealthCheck))
    @given(st.lists(planted(), min_size=1, max_size=30))
    def run(samples):
        out.extend(samples)

    run()
    return out


def test_fuzz_kernels_byte_identity(spark):
    from pyspark.sql import functions as F

    from scripts_spark.functions import text_kernel as tk
    from scripts_spark.plans.pipeline import _repair_line

    samples = _gen_samples()
    assert len(samples) > 100
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got = df.select(
        tk.normalize_ws(F.col("t")).alias("a"),
        tk.dollar_signs(F.col("t")).alias("b"),
        tk.join_soft_hyphens(F.col("t")).alias("c"),
        tk.fix_capitalized_dashes(F.col("t")).alias("d"),
        tk.scrub_pii(F.col("t")).alias("e"),
        tk.scrub_all(_repair_line(F.col("t"))).alias("f"),
        tk.token_normalize(F.col("t")).alias("g"),
    ).collect()
    for s, r in zip(samples, got):
        assert r["a"] == ora.normalize_ws(s), repr(s)
        assert r["b"] == ora.dollar_signs(s), repr(s)
        assert r["c"] == ora.join_soft_hyphens(s), repr(s)
        assert r["d"] == ora.fix_capitalized_dashes(s), repr(s)
        assert r["e"] == ora.scrub_pii(s), repr(s)
        assert r["f"] == ora.repair_and_scrub(s), repr(s)
        assert r["g"] == ora.token_normalize(s), repr(s)
