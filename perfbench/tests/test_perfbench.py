"""The benchmark's own tests: pure Python, no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import gen  # noqa: E402
from checks import html_text  # noqa: E402
from measure import (  # noqa: E402
    Span,
    Tracer,
    backlog,
    open_loop_latencies,
    percentile,
    self_time,
    tail_percentile,
    timing_summary,
)


def test_batch_pages_deterministic_per_seed():
    assert gen.batch_pages(3, 300) == gen.batch_pages(3, 300)
    assert gen.batch_pages(3, 300) != gen.batch_pages(4, 300)


def test_stream_drops_deterministic_and_planted():
    a = gen.stream_drops(5, 4, 120)
    assert a == gen.stream_drops(5, 4, 120)
    assert a != gen.stream_drops(6, 4, 120)
    assert not a[0]["reposts"] and not a[0]["recrawls"]
    earlier: set[str] = set()
    for k, d in enumerate(a):
        urls = [r["url"] for r in d["rows"]]
        assert len(urls) == len(set(urls)), "no duplicate url inside a drop"
        if k:
            assert d["recrawls"] and d["reposts"]
            assert set(d["recrawls"]) <= earlier
            assert not set(d["reposts"]) & earlier
        # each drop's crawl times sit after every earlier drop's
        lo = min(r["warc_ts"] for r in d["rows"])
        assert all(lo > r["warc_ts"] for p in a[:k] for r in p["rows"])
        earlier |= set(urls)


def test_repost_is_one_word_edit_of_an_earlier_page():
    drops = gen.stream_drops(9, 3, 150)
    by_url = {r["url"]: r for d in drops for r in d["rows"]}
    rp = by_url[drops[1]["reposts"][0]]
    words = set(rp["text"].split())
    src = max(drops[0]["rows"], key=lambda r: len(words & set(r["text"].split())))
    a, b = src["text"].split(" "), rp["text"].split(" ")
    assert len(a) == len(b)
    assert sum(x != y for x, y in zip(a, b)) == 1
    assert rp["url"].split("/")[2] == src["url"].split("/")[2]


def test_html_only_drops_text_keeps_html():
    rows = gen.html_only(gen.batch_pages(1, 20))
    assert all(r["text"] is None and r["html"] for r in rows)


def test_html_text_recovers_generator_text():
    r = gen.batch_pages(2, 5)[1]
    assert html_text(r["html"]) == r["text"]


def test_percentile_nearest_rank():
    v = [float(i) for i in range(1, 101)]
    assert percentile(v, 50) == 50.0
    assert percentile(v, 90) == 90.0
    assert percentile(v, 100) == 100.0
    assert percentile([7.0], 99) == 7.0


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(199) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10000) == 99.9


def test_timing_summary_falls_back_to_median():
    s = timing_summary([3.0, 1.0, 2.0])
    assert s["p50"] == s["tail"] == 2.0 and s["tail_pct"].startswith("p50")
    s = timing_summary([float(i) for i in range(1, 101)])
    assert (s["p50"], s["tail"], s["tail_pct"]) == (50.5, 90.0, "p90")


def test_self_time_subtracts_covered_child_intervals_once():
    parent = Span("p", 0.0, 10.0, None, "r")
    spans = [
        parent,
        Span("a", 1.0, 3.0, "p", "r"),
        Span("b", 2.0, 5.0, "p", "r"),  # overlaps a: [1, 5] counted once
        Span("c", 8.0, 12.0, "p", "r"),  # clipped to the parent's end
        Span("d", 6.0, 7.0, "x", "r"),  # another parent's child
    ]
    assert self_time(parent, spans) == 10.0 - 4.0 - 2.0
    assert self_time(spans[1], spans) == 2.0


def test_tracer_nests_and_records_parents():
    t = Tracer("run-1")
    with t.span("outer"):
        with t.span("inner"):
            pass
    names = {s.name: s for s in t.spans}
    assert names["inner"].parent == "outer" and names["outer"].parent is None
    assert all(s.run_id == "run-1" for s in t.spans)
    assert 0.0 <= t.self_s("outer") <= names["outer"].dur


def test_open_loop_latency_is_timed_from_due():
    due = [0.0, 10.0, 20.0]
    # drop 1 landed late (generator stall) and still counts from 10.0
    done = [5.0, 18.0, None]
    assert open_loop_latencies(due, done) == [5.0, 8.0]


def test_backlog_counts_landed_but_uncommitted():
    landed = [0.1, 13.0, 20.1]
    done = [5.0, 18.0, None]
    assert backlog(landed, done, at=15.0) == 1
    assert backlog(landed, done, at=19.0) == 0
    assert backlog(landed, done, at=25.0) == 1
    assert backlog([None, None], [None, None], at=99.0) == 0
