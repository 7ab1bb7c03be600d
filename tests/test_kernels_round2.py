"""Round-2 kernel tail (SURVEY §2.7) + W13 find_toc + M4 confusion
matrix: every Spark Column kernel pinned to its pure-Python oracle in
scripts_spark.oracle.textoracle, golden cases straight from the
reference semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scripts_spark.functions import text_kernel as TK
from scripts_spark.operators import windows as W
from scripts_spark.oracle import textoracle as O
from scripts_spark.plans import accuracy as ACC
from scripts_spark.sources.catalog import git_stable_sort


def _col1(spark, vals, expr):
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    return [r["o"] for r in df.select(expr(F.col("s")).alias("o")).collect()]


# --------------------------------------------------- intro-join family
INTRO_PAIRS = [
    ("Herr ANDERS- ", "SON i Göteborg:"),
    ("Fru PETTERS-", "SON:"),
    ("Herr talman! Anf. 4 S:", "T Eriksson:"),
    ("Statsrådet  LINDQVIST", "yttrade sig."),
    ("", "ensam text"),
    ("bara vänster", ""),
]


def test_join_intro_texts_matches_oracle(spark):
    df = spark.createDataFrame(INTRO_PAIRS, "t1 string, t2 string")
    got = [
        r["o"]
        for r in df.select(
            TK.join_intro_texts(F.col("t1"), F.col("t2")).alias("o")
        ).collect()
    ]
    want = [O.join_intro_texts(a, b) for a, b in INTRO_PAIRS]
    assert got == want


ALLCAPS_CASES = [
    "Herr ANDERS-SON i Göteborg:",
    "Fru PETTERSSON:",
    "inga versaler här",
    "Statsrådet SJÖGREN talade",  # interior Ö works in both regex engines
]


def test_allcaps_surname_matches_oracle(spark):
    got = _col1(spark, ALLCAPS_CASES, TK.allcaps_surname)
    assert got == [O.allcaps_surname(s) for s in ALLCAPS_CASES]


def test_correct_allcaps(spark):
    df = spark.createDataFrame(
        [("Herr ANDERS-SON i Göteborg:", "ANDERSSON"), ("Fru X:", None)],
        "s string, c string",
    )
    got = [
        r["o"]
        for r in df.select(
            TK.correct_allcaps(F.col("s"), F.col("c")).alias("o")
        ).collect()
    ]
    assert got == [
        O.correct_allcaps("Herr ANDERS-SON i Göteborg:", "ANDERSSON"),
        O.correct_allcaps("Fru X:", None),
    ]
    # the reference's re.sub(' {correct}') swallows the following space
    assert got[0] == "Herr ANDERSSONi Göteborg:"


def test_correct_allcaps_replacement_quoting(spark):
    """A dictionary value containing '$' or '\\' must be inserted
    LITERALLY — Java would read '$1' as a group reference (error) and
    Python '\\g' as a bad escape without replacement quoting."""
    cases = [
        ("Herr ANDERS-SON i X:", "A$1B"),
        ("Herr ANDERS-SON i X:", "A\\gB"),
        ("Herr ANDERS-SON i X:", "A\\\\B"),
    ]
    df = spark.createDataFrame(cases, "s string, c string")
    got = [
        r["o"]
        for r in df.select(TK.correct_allcaps(F.col("s"), F.col("c")).alias("o")).collect()
    ]
    assert got == [O.correct_allcaps(s, c) for s, c in cases]
    assert got[0] == "Herr A$1Bi X:"


# --------------------------------------------------- protocol surgery
def test_protocol_id_build_and_pad(spark):
    rows = [("1971/72", 12), ("201718", 101), ("1999/2000", 7)]
    df = spark.createDataFrame(rows, "y string, n long")
    pid = TK.protocol_id_build(F.col("y"), F.col("n"))
    got = df.select(pid.alias("b"), TK.protocol_id_pad(pid).alias("p")).collect()
    for (y, n), r in zip(rows, got):
        assert r["b"] == O.protocol_id_build(y, n)
        assert r["p"] == O.protocol_id_pad(O.protocol_id_build(y, n))
    assert got[0]["b"] == "prot_197172__12"
    assert got[0]["p"] == "prot-197172--012"


def test_docdate_rewrite(spark):
    xml = '<a><docDate when="1971-03-04">1971-03-04</docDate></a>'
    df = spark.createDataFrame([(xml, "1971-11-30 00:00:00")], "x string, d string")
    got = df.select(TK.docdate_rewrite(F.col("x"), F.col("d")).alias("o")).first()["o"]
    assert got == O.docdate_rewrite(xml, "1971-11-30 00:00:00")
    assert 'when="1971-11-30">1971-11-30<' in got


# --------------------------------------------------------- i-ort split
IORT_CASES = [
    "Andersson i Göteborg",
    "Larsson i Lund, senare Malmö, Ystad o Trelleborg",
    "Berg i Umeå senare åter Luleå och Boden",
    "Ek I Uppsala",
    "Nord i Piteå senareåter Boden",
    # malformed (no separator): both engines yield NO pairs, not ('…','')
    "Svensson utan ort",
    "konstig, senare Boden",
]


@pytest.mark.parametrize("s", IORT_CASES)
def test_iort_pairs_matches_oracle(spark, s):
    df = spark.createDataFrame([(s,)], "s string")
    got = [
        (r["p"]["surname"], r["p"]["iort"])
        for r in df.select(F.explode(TK.iort_pairs(F.col("s"))).alias("p")).collect()
    ]
    assert got == O.iort_pairs(s)


# ------------------------------------------------------ role / gender
def test_role_and_gender_kernels(spark):
    roles = ["Sveriges statsminister", "riksdagsledamot", "Europaparlamentsledamot", "talman"]
    assert _col1(spark, roles, TK.role_ledamot) == [O.role_ledamot(r) for r in roles]
    assert _col1(spark, roles, TK.role_minister_clean) == [
        O.role_minister_clean(r) for r in roles
    ]
    genders = ["kvinna", "man", "okänd", ""]
    assert _col1(spark, genders, TK.gender_map) == [O.gender_map(g) for g in genders]


# ------------------------------------------------------- W13 find_toc
def test_find_toc_statuses_and_range(spark):
    rows = [
        ("ok", 0, "note", "x"),
        ("ok", 1, "pb", None),
        ("ok", 2, "seg", "mellanliggande"),
        ("ok", 3, "pb", None),
        ("ok", 4, "note", " Innehållsförteckning "),
        ("ok", 5, "seg", "post 1"),
        ("nopb", 0, "note", "INNEHÅLLSFÖRTECKNING"),
        ("nopb", 1, "seg", "x"),
        ("none", 0, "seg", "vanlig"),
    ]
    segs = spark.createDataFrame(rows, "url string, pos long, elem_type string, text string")
    out = {(r["url"], r["pos"]): r for r in W.find_toc(segs).collect()}
    # ToC starts at the LAST pb before the heading (pos 3), not pos 1
    assert [out[("ok", p)]["in_toc"] for p in range(6)] == [False, False, False, True, True, True]
    assert out[("ok", 0)]["status"] == "ok"
    # heading matched case-insensitively; no preceding pb → FAIL branch
    assert out[("nopb", 0)]["status"] == "missing_pb"
    assert not out[("nopb", 1)]["in_toc"]
    assert out[("none", 0)]["status"] == "no_toc"


# ------------------------------------------------- M4 confusion matrix
def test_confusion_matrix_and_metrics(spark):
    rows = [("a", "a")] * 3 + [("a", "b")] * 1 + [("b", "b")] * 2 + [("b", "a")] * 2
    scored = spark.createDataFrame(rows, "gold string, pred string")
    cm = {(r["gold"], r["pred"]): r["n"] for r in ACC.confusion_matrix(scored).collect()}
    assert cm == {("a", "a"): 3, ("a", "b"): 1, ("b", "b"): 2, ("b", "a"): 2}


# ------------------------------------------------------ O2 stable sort
def test_git_stable_sort_orders_by_all_columns(spark):
    df = spark.createDataFrame(
        [(2, "b"), (1, "z"), (1, "a"), (2, "a")], "k long, v string"
    )
    got = [(r["k"], r["v"]) for r in git_stable_sort(df).collect()]
    assert got == [(1, "a"), (1, "z"), (2, "a"), (2, "b")]


# ----------------------- round-4 kernels: url canonical / chunking ----
SF = "/root/testdata/sf0.001"


def _canon_py(url: str) -> tuple[str, str, int]:
    """Pure-Python oracle of the url_canonical kernel."""
    import re

    host = re.match(r"^[A-Za-z]+://([^/?]+)", url)
    host = (host.group(1) if host else "").lower()
    path = re.match(r"^[A-Za-z]+://[^/?]+([^?]*)", url)
    path = re.sub(r"/$", "", path.group(1) if path else "")
    kept: list[str] = []
    if "?" in url:
        qs = url.split("?", 1)[1]
        kept = sorted(
            p for p in qs.split("&")
            if not (p.startswith("utm_") or p.startswith("ref="))
        )
    canon = f"https://{host}{path}" + (f"?{'&'.join(kept)}" if kept else "")
    return canon, host, len(kept)


def test_url_canonical_matches_python_oracle(spark):
    """The Spark url kernel inside the query vs a pure-Python oracle
    over every synthesized messy shape (case salad, tracking params,
    kept params, trailing slash, no query)."""
    from scripts_spark.plans.queries import url_canonical

    out = {r["doc_id"]: r for r in url_canonical(spark, SF).collect()}
    assert out
    for doc_id, row in out.items():
        canon, host, n_kept = _canon_py(row["raw_url"])
        assert row["canonical_url"] == canon, (row["raw_url"], row["canonical_url"], canon)
        assert row["domain"] == host
        assert row["n_params_kept"] == n_kept


def test_chunk_windows_properties(spark):
    """Structural invariants of the training-chunk operator: chunk ids
    are dense 0..k-1, k = floor((n-1)/32)+1, and every chunk is the
    VERBATIM token slice at its stride offset with 1..48 tokens."""
    from scripts_spark.plans.queries import chunk_windows

    rows = chunk_windows(spark, SF).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc
    docs = {r["doc_id"]: [t for t in (r["text"] or "").split(" ") if t != ""]
            for r in spark.read.parquet(f"{SF}/documents.parquet").collect()}
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        toks = docs[doc_id]
        n = len(toks)
        assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
        assert len(chunks) == (n - 1) // 32 + 1
        for c in chunks:
            s = c["chunk_id"] * 32
            expect = toks[s:s + 48]
            got = [t for t in c["chunk_text"].split(" ") if t != ""]
            assert got == expect, (doc_id, c["chunk_id"])
            assert c["n_chunk_tokens"] == len(expect) >= 1
