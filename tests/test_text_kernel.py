"""Byte-identity of every text kernel vs the pure-Python oracle,
on hand-written golden cases (FIXTURES.md §5 planted checklist) plus
the first 400 generated pages' paragraphs."""

from __future__ import annotations

from pyspark.sql import functions as F

from scripts_spark.functions import text_kernel as tk
from scripts_spark.oracle import textoracle as ora
from scripts_spark.plans.pipeline import _repair_line
from scripts_spark.sources import pages

GOLDEN = [
    # whitespace normalization: tabs, newlines, NBSP, line-sep, runs
    "  a\t\tb\nc\xa0d e   f ",
    "\t \n ",
    "",
    "plain text",
    # dollar-sign branch 1: leading $
    "$ 7. Herr talman anförde.",
    "$5 betyder paragraf fem",
    # branch 2: '8 N.' → '§ N.'
    "8 3. Första stycket.",
    "8 23. Andra stycket 8 23. upprepat",
    # branch 3: 'N $'
    "3 $ Tredje stycket.",
    "12 $ Fjärde stycket.",
    "12$ utan mellanslag",
    # overlap: branch 1 wins over branch 3
    "$ 3 $ överlapp",
    # overlap: branch 2 wins over branch 3 ('8 2.' before '2 $')
    "8 2. och sen 2 $ resten",
    # no branch fires
    "100 $ för stort nummer",
    "pris i $ anges",
    # soft hyphens: bare, space-before, space-after, both
    "riks­dagen", "riks­ dagen", "riks ­dagen", "riks ­ dagen",
    # capitalized dash splits incl Å/Ä/Ö, and non-matches
    "PERS- SON anförde", "SJÖ- GREN och ÅKES- SON", "ÄNG- MAN",
    "i- ort ska inte slås ihop", "AB- C för kort", "X- YZ en bokstav",
    # PII: personnummer 10/12-digit, -, +, bare
    "pnr 850709-1234 slut", "pnr 19850709-1234 slut", "pnr 850709+1234 slut",
    "pnr 8507091234 slut", "pnr 198507091234 slut",
    "inte pnr 12345678901234567 för långt",
    "Herr ANDERSSON i Göteborg yttrade sig",
    "Fröken SJÖGREN sade", "Doktor Öst-Lund talade", "Fru LARSSON",
    "Adress Storgatan 12 noterades", "Kungsvägen 3 vid torget",
    "herr andersson gemener ska inte maskas",
    # wf token normalization cases
    "Ordet, (test) [x] {y} <z> 'q' \"w\" 1974-75 a/b :kolon: --- – —",
]


def _spark_one(spark, expr_builder, values):
    df = spark.createDataFrame([(v,) for v in values], "t string")
    return [r[0] for r in df.select(expr_builder(F.col("t"))).collect()]


def test_normalize_ws(spark):
    got = _spark_one(spark, tk.normalize_ws, GOLDEN)
    assert got == [ora.normalize_ws(v) for v in GOLDEN]


def test_dollar_signs(spark):
    got = _spark_one(spark, tk.dollar_signs, GOLDEN)
    assert got == [ora.dollar_signs(v) for v in GOLDEN]


def test_join_soft_hyphens(spark):
    got = _spark_one(spark, tk.join_soft_hyphens, GOLDEN)
    assert got == [ora.join_soft_hyphens(v) for v in GOLDEN]


def test_fix_capitalized_dashes(spark):
    got = _spark_one(spark, tk.fix_capitalized_dashes, GOLDEN)
    assert got == [ora.fix_capitalized_dashes(v) for v in GOLDEN]


def test_scrub_pii(spark):
    got = _spark_one(spark, tk.scrub_pii, GOLDEN)
    assert got == [ora.scrub_pii(v) for v in GOLDEN]


def _chain(raw):
    """The pipeline's per-paragraph chain: repair, then redact."""
    return tk.scrub_all(_repair_line(raw))


def test_full_chain(spark):
    got = _spark_one(spark, _chain, GOLDEN)
    assert got == [ora.repair_and_scrub(v) for v in GOLDEN]


def test_token_normalize(spark):
    words = [w for v in GOLDEN for w in v.split()] + ["ÅÄÖ", "Så-Kallad", "1984", ":::"]
    got = _spark_one(spark, tk.token_normalize, words)
    assert got == [ora.token_normalize(w) for w in words]


def test_chain_on_generated_paragraphs(spark):
    paras = []
    for r in pages.gen_rows(range(400)):
        paras.extend((r["text"] or "").split("\n"))
    paras = [p for p in paras if p]
    got = _spark_one(spark, _chain, paras)
    exp = [ora.repair_and_scrub(p) for p in paras]
    assert got == exp


TOX_GOLDEN = [
    "Det var ett jävla oväsen",         # scrubbed
    "JÄVLAR i kammaren",                # case-insensitive incl Ä
    "Helvete, sade talmannen",          # capitalized
    "skiten ska inte maskas",           # whole-word only: 'skiten' kept
    "fantastiskt arbete",               # 'fan' inside a word kept
    "ett helvete och en skit och fan",  # multiple hits
    "",
]


def test_scrub_toxicity(spark):
    got = _spark_one(spark, tk.scrub_toxicity, TOX_GOLDEN)
    assert got == [ora.scrub_toxicity(v) for v in TOX_GOLDEN]
    assert got[0] == "Det var ett [TOX] oväsen"
    assert got[3] == "skiten ska inte maskas"
    assert got[4] == "fantastiskt arbete"
    assert got[5] == "ett [TOX] och en [TOX] och [TOX]"


def test_scrub_all_order(spark):
    # PII first, then toxicity — combined line exercises both
    s = "Herr ANDERSSON på Storgatan 3 skrek helvete, pnr 850709-1234"
    got = _spark_one(spark, tk.scrub_all, [s])[0]
    assert got == ora.scrub_all(s)
    assert "[NAME]" in got and "[ADDR]" in got and "[TOX]" in got and "[PNR]" in got
