"""Property-based byte-identity fuzzing of the round-2 kernels
(intro join, ALLCAPS surname, protocol-id surgery, docDate rewrite,
i-ort splitting, name fold) vs their Python oracles. Same harness
shape as test_property_parity: hypothesis as a deterministic sample
generator, one batched Spark round-trip."""

from __future__ import annotations

import hypothesis
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from scripts_spark.functions import text_kernel as tk
from scripts_spark.oracle import textoracle as ora

WORDS = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzåäöé", min_size=1, max_size=8
)
CAPS = st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZÅÄÖ", min_size=1, max_size=8)


@st.composite
def intro_pair(draw):
    """Bias toward the join branches: trailing '-', ' S:'+'T ', plain."""
    name = draw(CAPS)
    tail = draw(st.sampled_from(["- ", "-", " S:", "", ":  ", " "]))
    t1 = draw(st.sampled_from(["Herr ", "Fru ", "", "Anf. 4 "])) + name + tail
    head = draw(st.sampled_from(["T ", "", "SON", "QVIST i "]))
    t2 = head + draw(WORDS)
    return (t1, t2)


@st.composite
def iort_string(draw):
    """Always well-formed per the reference's data contract: a
    '<surname> i <ort>' head, optionally 'senare' + separator salad."""
    surname = draw(WORDS).capitalize()
    has_senare = draw(st.booleans())
    # data contract (generate_i-ort_testfile.py): the ' I ' variant
    # only occurs in simple rows; 'senare' rows always use ' i '
    sep_i = " i " if has_senare else draw(st.sampled_from([" i ", " I "]))
    head = surname + sep_i + draw(WORDS).capitalize()
    if not has_senare:
        return head
    orter = []
    for _ in range(draw(st.integers(1, 3))):
        prefix = draw(st.sampled_from(["", " ", "åter ", " åter "]))
        orter.append(prefix + draw(WORDS).capitalize())
    glue = draw(st.lists(st.sampled_from([", ", " o ", " och ", ","]),
                         min_size=len(orter) - 1, max_size=len(orter) - 1))
    rest = orter[0] + "".join(g + o for g, o in zip(glue, orter[1:]))
    # ' i ' must precede 'senare' for the head split to be well-formed
    return head + draw(st.sampled_from([" senare ", ", senare ", " senare"])) + rest


@st.composite
def protocol_row(draw):
    year = draw(st.sampled_from(["1971/72", "197172", "1999/2000", "2014"]))
    num = draw(st.integers(0, 4321))
    d = (
        f"{draw(st.integers(1900, 2022))}-{draw(st.integers(1, 12)):02d}"
        f"-{draw(st.integers(1, 28)):02d}"
    )
    xml = draw(
        st.sampled_from(
            [
                '<p><docDate when="{d}">{d}</docDate></p>',
                'x <docDate when="{d}">{d}</docDate> y <docDate when="{d}">{d}</docDate>',
                "<p>no date</p>",
                "",
            ]
        )
    ).format(d=d)
    scraped = d + draw(st.sampled_from(["", " 00:00:00", " 12:30:00"]))
    return (year, num, xml, scraped)


def _collect(strategy, n_lists=40):
    out = []

    @settings(max_examples=n_lists, deadline=None, database=None,
              derandomize=True,
              suppress_health_check=list(hypothesis.HealthCheck))
    @given(st.lists(strategy, min_size=1, max_size=10))
    def run(samples):
        out.extend(samples)

    run()
    return out


def test_fuzz_intro_join_and_allcaps(spark):
    pairs = _collect(intro_pair())
    assert len(pairs) > 60
    df = spark.createDataFrame(pairs, "t1 string, t2 string")
    got = df.select(
        tk.join_intro_texts(F.col("t1"), F.col("t2")).alias("j"),
        tk.allcaps_surname(tk.join_intro_texts(F.col("t1"), F.col("t2"))).alias("s"),
    ).collect()
    for (t1, t2), r in zip(pairs, got):
        want_j = ora.join_intro_texts(t1, t2)
        assert r["j"] == want_j, (t1, t2)
        assert r["s"] == ora.allcaps_surname(want_j), (t1, t2)


def test_fuzz_iort_pairs(spark):
    samples = _collect(iort_string())
    assert len(samples) > 60
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = [
        [(p["surname"], p["iort"]) for p in (r["p"] or [])]
        for r in df.select(tk.iort_pairs(F.col("s")).alias("p")).collect()
    ]
    for s, g in zip(samples, got):
        assert g == ora.iort_pairs(s), repr(s)


def test_fuzz_protocol_surgery(spark):
    rows = _collect(protocol_row())
    df = spark.createDataFrame(rows, "y string, n long, xml string, d string")
    pid = tk.protocol_id_build(F.col("y"), F.col("n"))
    got = df.select(
        pid.alias("b"),
        tk.protocol_id_pad(pid).alias("p"),
        tk.docdate_rewrite(F.col("xml"), F.col("d")).alias("x"),
    ).collect()
    for (y, n, xml, d), r in zip(rows, got):
        b = ora.protocol_id_build(y, n)
        assert r["b"] == b
        assert r["p"] == ora.protocol_id_pad(b)
        assert r["x"] == ora.docdate_rewrite(xml, d), (xml, d)


def test_allcaps_unicode_boundary(spark):
    """(?U) parity: a surname STARTING with Å must anchor like Python
    re's Unicode \\b, not Java's ASCII \\b."""
    cases = ["Herr ÅKESSON talade", "ÖSTLUND:", " ÄNGMAN i Umeå"]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = [r["s"] for r in df.select(tk.allcaps_surname(F.col("t")).alias("s")).collect()]
    assert got == [ora.allcaps_surname(c) for c in cases]
    assert got[0] == "ÅKESSON"


@st.composite
def malformed_iort(draw):
    """Rows WITHOUT the ' i '/' I ' separator — the gate added in
    round 3 must yield [] in both engines, never a ('whole','') pair."""
    words = " ".join(draw(st.lists(WORDS, min_size=1, max_size=3)))
    tail = draw(st.sampled_from(["", " senare Boden", ", senare X o Y"]))
    hypothesis.assume(" i " not in words and " I " not in words)
    return words + tail


def test_fuzz_iort_malformed_rows(spark):
    samples = _collect(malformed_iort())
    assert len(samples) > 40
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = [
        [(p["surname"], p["iort"]) for p in (r["p"] or [])]
        for r in df.select(tk.iort_pairs(F.col("s")).alias("p")).collect()
    ]
    for s, g in zip(samples, got):
        want = ora.iort_pairs(s)
        assert g == want, repr(s)
        if " i " not in (s if " i " in s else s.replace(" I ", " i ")):
            assert g == [], repr(s)


def test_fuzz_correct_allcaps_replacement(spark):
    """Dictionary corrections containing regex-replacement metachars
    ('$', '\\', group refs) insert LITERALLY and identically in both
    engines (round-3 replacement quoting)."""
    meta = st.text(
        alphabet="ABCÅÄÖ$\\g1{}<>", min_size=1, max_size=8
    )
    cases = [(f"Herr {w}-SON i X:", c) for w, c in
             zip(["ANDERS", "PETTERS", "NILS"] * 20, _collect(meta, n_lists=20))][:50]
    df = spark.createDataFrame(cases, "s string, c string")
    got = [
        r["o"]
        for r in df.select(tk.correct_allcaps(F.col("s"), F.col("c")).alias("o")).collect()
    ]
    for (s, c), g in zip(cases, got):
        assert g == ora.correct_allcaps(s, c), (s, c)
