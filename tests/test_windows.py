"""Window operators (SURVEY W1–W4, W7, W9–W11) vs straight-line Python oracles
over the synthetic segments fixture."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from scripts_spark.operators import windows as W
from tests import segments as seg_src

N_DOCS = 40


@pytest.fixture(scope="module")
def seg_rows():
    return seg_src.gen_docs(N_DOCS)


@pytest.fixture(scope="module")
def segs(spark):
    return seg_src.segments_df(spark, N_DOCS)


def _by_doc(rows):
    key = lambda r: r["url"]
    return {
        url: sorted(g, key=lambda r: r["pos"])
        for url, g in itertools.groupby(sorted(rows, key=key), key)
    }


def _is_break(r):
    t = (r["text"] or "").lstrip()
    return "§" in t[:4]


def test_sessionize_sections(spark, segs, seg_rows):
    got = {
        (r["url"], r["pos"]): r["section_id"]
        for r in W.sessionize_sections(segs, W.section_break_expr()).collect()
    }
    for url, rows in _by_doc(seg_rows).items():
        sid = 0
        for r in rows:
            if _is_break(r):
                sid += 1
            assert got[(url, r["pos"])] == sid, (url, r["pos"])


def test_type_sections(spark, segs, seg_rows):
    df = W.type_sections(W.sessionize_sections(segs, W.section_break_expr()))
    got = {(r["url"], r["pos"]): r["section_type"] for r in df.collect()}
    for url, rows in _by_doc(seg_rows).items():
        sid = 0
        sections: dict[int, list] = {}
        for r in rows:
            if _is_break(r):
                sid += 1
            sections.setdefault(sid, []).append(r)
        for sid, rs in sections.items():
            has_speaker = any(
                r["elem_type"] == "note" and r["type_attr"] == "speaker" for r in rs
            )
            want = "debateSection" if has_speaker else "commentSection"
            for r in rs:
                assert got[(url, r["pos"])] == want


def test_demote_pre_intro(spark, segs, seg_rows):
    df = W.demote_pre_intro(W.sessionize_sections(segs, W.section_break_expr()))
    got = {(r["url"], r["pos"]): r["elem_type"] for r in df.collect()}
    for url, rows in _by_doc(seg_rows).items():
        sid = 0
        first_intro: dict[int, int] = {}
        sid_of: dict[int, int] = {}
        for r in rows:
            if _is_break(r):
                sid += 1
            sid_of[r["pos"]] = sid
            if (
                r["elem_type"] == "note"
                and r["type_attr"] == "speaker"
                and sid not in first_intro
            ):
                first_intro[sid] = r["pos"]
        for r in rows:
            want = r["elem_type"]
            if want == "u":
                fi = first_intro.get(sid_of[r["pos"]])
                if fi is None or r["pos"] < fi:
                    want = "note"
            assert got[(url, r["pos"])] == want


def test_tag_after_intro(spark, segs, seg_rows):
    is_intro = (F.col("elem_type") == "note") & (F.col("type_attr") == "speaker")
    got = {
        (r["url"], r["pos"]): r["after_intro"]
        for r in W.tag_after_intro(segs, is_intro).collect()
    }
    for url, rows in _by_doc(seg_rows).items():
        prev_was_intro = False
        for r in rows:
            assert got[(url, r["pos"])] == prev_was_intro
            prev_was_intro = r["elem_type"] == "note" and r["type_attr"] == "speaker"


def test_first_date_and_range(spark, segs, seg_rows):
    fd = {r["url"]: r["first_date"] for r in W.first_date(segs).collect()}
    dr = {r["url"]: (r["date_min"], r["date_max"]) for r in W.date_range(segs).collect()}
    for url, rows in _by_doc(seg_rows).items():
        dates = [r["when_attr"] for r in rows if r["elem_type"] == "docDate"]
        assert fd[url] == dates[0]
        assert dr[url] == (min(dates), max(dates))


def test_interval_jaccard(spark):
    df = spark.createDataFrame(
        [
            ("2020-01-01", "2020-01-10", "2020-01-01", "2020-01-10"),  # perfect
            ("2020-01-01", "2020-01-10", "2020-01-06", "2020-01-15"),  # overlap
            ("2020-01-01", "2020-01-10", "2020-02-01", "2020-02-05"),  # disjoint
            ("2020-01-01", "2020-01-31", "2020-01-10", "2020-01-20"),  # contains
        ],
        "s1 string, e1 string, s2 string, e2 string",
    )
    rows = W.interval_jaccard(df, "s1", "e1", "s2", "e2").collect()
    assert [r["perfect"] for r in rows] == [True, False, False, False]
    assert [r["contains"] for r in rows] == [True, False, False, True]
    assert rows[0]["jaccard"] == 1.0
    assert rows[1]["jaccard"] == 5 / 15
    assert rows[2]["jaccard"] == 0.0


def test_clean_first_last(spark, segs, seg_rows):
    df = W.clean_first_last(W.sessionize_sections(segs, W.section_break_expr()))
    got = {(r["url"], r["pos"]): (r["prev"], r["next"]) for r in df.collect()}
    for url, rows in _by_doc(seg_rows).items():
        sid = 0
        sections: dict[int, list] = {}
        for r in rows:
            if _is_break(r):
                sid += 1
            sections.setdefault(sid, []).append(r)
        for rs in sections.values():
            for k, r in enumerate(rs):
                want_prev = None if k == 0 else r["prev"]
                want_next = None if k == len(rs) - 1 else r["next"]
                assert got[(url, r["pos"])] == (want_prev, want_next)


def test_corpus_stats(spark, segs, seg_rows):
    """Stats-dashboard scan parity (generate-markdown.py:100-152):
    pages/speeches/words per protocol-year vs a straight Python count."""
    import re

    from scripts_spark.plans.stats import corpus_stats

    got = {r["year"]: r for r in corpus_stats(segs).collect()}
    want: dict[int, list] = {}
    for url, rows in _by_doc(seg_rows).items():
        year = int(re.search(r"/(\d{4})/", url).group(1))
        w = want.setdefault(year, [set(), 0, 0, 0])
        w[0].add(url)
        for r in rows:
            if r["elem_type"] == "pb":
                w[1] += 1
            elif r["elem_type"] == "note" and r["type_attr"] == "speaker":
                w[2] += 1
            elif r["elem_type"] == "u" and r["text"] is not None:
                w[3] += len([t for t in r["text"].split(" ") if t and t != "\n"])
    assert set(got) == set(want)
    for y, (urls, pages, speeches, words) in want.items():
        g = got[y]
        assert (g["n_protocols"], g["n_pages"], g["n_speeches"], g["n_words"]) == (
            len(urls), pages, speeches, words
        ), y


def test_snapshot_trend_over_commits(spark, tmp_path):
    """The snapshots log as a release trend: two commits → two snapshot
    rows with exact deltas (version-over-version dashboard substrate)."""
    from scripts_spark.plans.pipeline import CurateConfig, curate
    from scripts_spark.plans.stats import snapshot_trend
    from scripts_spark.sources import catalog
    from scripts_spark.sources.pages import pages_df

    base = str(tmp_path / "out")
    cfg = CurateConfig(num_buckets=4)
    catalog.commit_buckets(curate(pages_df(spark, 60, partitions=2, start=0), cfg), base, job_id=0)
    catalog.commit_buckets(curate(pages_df(spark, 40, partitions=2, start=60), cfg), base, job_id=1)
    trend = snapshot_trend(spark, base).collect()
    assert [r["commit_seq"] for r in trend] == [0, 1]
    assert trend[0]["delta_n_rows"] is None
    assert trend[1]["delta_n_rows"] == trend[1]["n_rows"] - trend[0]["n_rows"]
    assert trend[0]["n_rows"] + trend[1]["n_rows"] == catalog.read_output(spark, base).count()
