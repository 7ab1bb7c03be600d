"""html_to_text: unit cases for every SPEC hazard + property fuzz of
the Spark chain against an independent pure-Python implementation of
the same spec (re module — a third regex engine besides Java regex
and DuckDB's RE2, so an engine-specific quirk in any one of them
shows up as a three-way disagreement somewhere)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from scripts_spark.functions.html_extract import html_to_text
from scripts_spark.oracle.textoracle import html_to_text as py_html_to_text

CASES = [
    # comments stripped, incl. multi-line
    ("a<!-- x\ny -->b", "ab"),
    # script/style blocks vanish wholesale, case-insensitive, with
    # '<' and fake tags inside; non-greedy stops at the FIRST close
    ('<SCRIPT a=b>if (1 < 2) { s = "<p>"; }</script>tail', "tail"),
    ("<style>.x{}</style>ok", "ok"),
    ("<script>a</script>mid<script>b</script>", "mid"),
    # unclosed script: only the tags are lost, content survives
    ("<script>var x = 1;", "var x = 1;"),
    # break tags -> newline, other tags -> space
    ("<p>a</p><p>b</p>", "a\nb"),
    ("<h2>t</h2>body<br>next", "t\nbody\nnext"),
    ("a<span>b</span>c", "a b c"),
    # entities decode AFTER tag-strip: &lt;u&gt; never becomes a tag
    ("&lt;u&gt;x&lt;/u&gt;", "<u>x</u>"),
    # double-encoded &amp;lt; -> &lt; (single-pass, NOT '<')
    ("&amp;lt;", "&lt;"),
    ("&nbsp;&quot;q&quot;&#39;a&#39;&apos;b&apos;&amp;", "\"q\"'a''b'&"),
    # bare '<' eats to the next '>' exactly as the regex reads
    ("1 < 2 > 0 done", "1 0 done"),
    # whitespace: tabs/spaces collapse, newline runs collapse, outer trim
    ("  a\t\tb  \n\n\n c ", "a b\nc"),
    ("", ""),
]


@pytest.mark.parametrize("raw,expected", CASES)
def test_spec_cases_python(raw, expected):
    assert py_html_to_text(raw) == expected


def test_spec_cases_spark(spark):
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(CASES)], "i int, h string"
    )
    got = {
        r["i"]: r["t"]
        for r in df.select("i", html_to_text(F.col("h")).alias("t")).collect()
    }
    for i, (_, expected) in enumerate(CASES):
        assert got[i] == expected, f"case {i}"


def test_null_and_binary_input(spark):
    # row 3 is malformed UTF-8: must degrade to U+FFFD per byte, not
    # abort the job (ANSI decode() would — one poisoned page in a
    # crawl must cost one document, never the batch)
    df = spark.createDataFrame(
        [(1, "<p>hi</p>".encode()), (2, None), (3, b"\xff<p>x</p>\xfe")],
        "i int, h binary",
    )
    rows = {
        r["i"]: r["t"]
        for r in df.select(
            "i", html_to_text(F.col("h"), from_binary=True).alias("t")
        ).collect()
    }
    assert rows[1] == "hi"
    assert rows[2] is None
    expected = py_html_to_text(b"\xff<p>x</p>\xfe".decode("utf-8", "replace"))
    assert rows[3] == expected and rows[3].count("�") == 2


# Fragment soup biased toward the hazards: tag punctuation, entity
# prefixes, partial script/style openers, whitespace runs.
_frag = st.sampled_from(
    [
        "<", ">", "/", "&", ";", "!", "-", "--", " ", "\t", "\n",
        "a", "b c", "script", "style", "p", "br", "div", "h3",
        "<p>", "</p>", "<br/>", "<script>", "</script>", "<style>",
        "</style>", "<!--", "-->", "&amp;", "&lt;", "&gt;", "&nbsp;",
        "&quot;", "&#39;", "&apos;", "&amp;lt;", "<span class='x'>",
        "</ SPAN>", "<x", "y>",
    ]
)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.lists(_frag, max_size=25).map("".join), min_size=1, max_size=8))
def test_fuzz_spark_matches_python(spark, docs):
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "i int, h string"
    )
    got = {
        r["i"]: r["t"]
        for r in df.select("i", html_to_text(F.col("h")).alias("t")).collect()
    }
    for i, d in enumerate(docs):
        assert got[i] == py_html_to_text(d), repr(d)


def test_curate_text_from_html_drop_in(spark):
    """CurateConfig.text_from_html derives text from the binary html
    payload on-engine; on pages whose text round-trips the html
    scaffold (single-spaced — the extractor's ws-collapse is the only
    lossy step), the full curate output is byte-identical to trusting
    the text column, so the flag is a drop-in for untrusted crawls."""
    from scripts_spark.plans.pipeline import CurateConfig, curate
    from scripts_spark.sources.pages import pages_df

    p = pages_df(spark, 800, partitions=4)
    # collapse space runs (19/3000 fixture pages carry doubles), then
    # rebuild html from the collapsed text exactly as the source does
    clean = p.withColumn(
        "text", F.regexp_replace("text", "[ \t]+", " ")
    ).withColumn(
        "html",
        F.when(
            F.col("text").isNotNull(),
            F.encode(
                F.concat(
                    F.lit("<html><body><p>"),
                    F.replace(F.col("text"), F.lit("\n"), F.lit("</p><p>")),
                    F.lit("</p></body></html>"),
                ),
                "UTF-8",
            ),
        ),
    )
    cols = ["url", "keep", "scrubbed_text", "filter_reasons"]
    from scripts_spark.plans.pipeline import drain_curate_persisted

    try:
        off = curate(clean, CurateConfig(num_buckets=8)).select(cols)
        on = curate(
            clean, CurateConfig(num_buckets=8, text_from_html=True)
        ).select(cols)
        assert off.exceptAll(on).count() == 0
        assert on.exceptAll(off).count() == 0
        assert on.count() > 0
    finally:
        # curate persists its docs frame internally; release so later
        # tests asserting a cache-clean session aren't poisoned
        drain_curate_persisted()


def test_curate_text_from_html_oracle_parity(spark):
    """On html-only pages (text null) the oracle extracts the html by
    the same spec when text_from_html is on: keep F1 = 1.0 and
    byte-identical scrubbed_text against the engine."""
    from scripts_spark.oracle.pipeline_oracle import curate_rows
    from scripts_spark.plans.pipeline import CurateConfig, curate, drain_curate_persisted
    from scripts_spark.sources.pages import PAGES_SCHEMA, gen_rows

    rows = [dict(r, text=None) for r in gen_rows(range(50))]
    cfg = CurateConfig(num_buckets=4, text_from_html=True)
    try:
        got = {r["url"]: r for r in curate(
            spark.createDataFrame(rows, PAGES_SCHEMA), cfg).collect()}
    finally:
        drain_curate_persisted()
    want = curate_rows(rows, cfg)
    assert set(got) == set(want)
    tp = sum(got[u]["keep"] and w["keep"] for u, w in want.items())
    fp = sum(got[u]["keep"] and not w["keep"] for u, w in want.items())
    fn = sum(w["keep"] and not got[u]["keep"] for u, w in want.items())
    assert tp > 0 and fp == fn == 0  # keep F1 = 1.0
    for u, w in want.items():
        assert got[u]["scrubbed_text"] == w["scrubbed_text"], u
        assert list(got[u]["filter_reasons"]) == w["filter_reasons"], u


def test_single_projection_no_shuffle(spark):
    """The whole chain must stay one narrow projection: no Exchange,
    no BatchEvalPython — at crawl scale extraction rides the scan."""
    df = spark.range(10).select(
        F.concat(F.lit("<p>"), F.col("id").cast("string"), F.lit("</p>")).alias("h")
    )
    plan = df.select(html_to_text(F.col("h")).alias("t"))._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in plan
    assert "Python" not in plan
