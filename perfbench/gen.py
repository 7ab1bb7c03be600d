"""Seeded workload inputs for the benchmark.

Every table is a pure function of the seed, built from
``scripts_spark.sources.pages.gen_row`` so the pages carry the
generator's planted cases (OCR damage, PII, boilerplate nav lines, the
~20% hot domain). The program under test only ever sees the parquet
files written here.

- ``batch_pages``: one crawl snapshot, text present, almost no
  duplicate urls (gen_row plants one duplicate pair per 10k rows).
- ``stream_drops``: disjoint html-only crawl drops (text null). Drop
  k > 0 also carries recrawls of earlier urls (new warc_ts, same url:
  cross-batch url-dedup must drop them) and reposts of earlier pages
  under new urls with one word edited (the near-dup signature state
  should catch them). warc_ts grows by drop, so the url-dedup
  watermark never treats a fresh drop as late data.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from scripts_spark.sources.pages import gen_row

ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

CRAWL_EPOCH = dt.datetime(2024, 1, 1)
RECRAWL_FRAC = 0.10  # of a drop's fresh pages, re-fetched in the next drop
REPOST_FRAC = 0.20  # of a drop's fresh pages, reposted edited in a later drop


def batch_pages(seed: int, n: int) -> list[dict]:
    return [gen_row(i, seed) for i in range(n)]


def _html(text: str) -> bytes:
    # the same page shape gen_row builds from its own text
    return ("<html><body><p>" + text.replace("\n", "</p><p>") + "</p></body></html>").encode()


def _edit_one_word(rnd: random.Random, text: str) -> str:
    """Replace one word of the longest line: a repost that stays far
    above the near-dup Jaccard threshold."""
    lines = text.split("\n")
    k = max(range(len(lines)), key=lambda i: len(lines[i]))
    words = lines[k].split(" ")
    j = rnd.randrange(len(words))
    words[j] = "redigerad" if words[j] != "redigerad" else "ändrad"
    lines[k] = " ".join(words)
    return "\n".join(lines)


def _is_long(row: dict) -> bool:
    # reposts are planted on pages with enough distinct text that the
    # MinHash estimate is reliable and the page survives boilerplate
    # stripping with content left
    t = row["text"] or ""
    return t.count("\n") >= 4 and len(set(t.split())) >= 40


def stream_drops(seed: int, n_drops: int, per_drop: int) -> list[dict]:
    """``n_drops`` drops of ``per_drop`` fresh pages each, plus planted
    recrawls and reposts. Returns one dict per drop:
    ``{"rows": [...], "reposts": [url, ...], "recrawls": [url, ...]}``."""
    rnd = random.Random(seed * 7919 + 17)
    drops = []
    history: list[dict] = []
    for k in range(n_drops):
        ts0 = CRAWL_EPOCH + dt.timedelta(hours=k)
        fresh = []
        seen: set[str] = set()
        for off, i in enumerate(range(k * per_drop, (k + 1) * per_drop)):
            r = gen_row(i, seed)
            if r["url"] in seen:  # gen_row's planted duplicate pair
                continue
            seen.add(r["url"])
            fresh.append(dict(r, warc_ts=ts0 + dt.timedelta(seconds=off)))
        rows, reposts, recrawls = list(fresh), [], []
        if history:
            n_re = int(len(fresh) * RECRAWL_FRAC)
            for src in rnd.sample(history, min(n_re, len(history))):
                rows.append(dict(src, warc_ts=ts0 + dt.timedelta(minutes=30)))
                recrawls.append(src["url"])
            longs = [r for r in history if _is_long(r)]
            n_rp = min(int(len(fresh) * REPOST_FRAC), len(longs))
            for j, src in enumerate(rnd.sample(longs, n_rp)):
                dom = src["url"].split("/")[2]
                url = f"https://{dom}/repost/{k}-{j}"
                text = _edit_one_word(rnd, src["text"])
                rows.append(
                    dict(src, url=url, text=text, html=_html(text),
                         warc_ts=ts0 + dt.timedelta(minutes=40, seconds=j))
                )
                reposts.append(url)
        history.extend(fresh)
        drops.append({"rows": rows, "reposts": reposts, "recrawls": recrawls})
    return drops


def html_only(rows: list[dict]) -> list[dict]:
    return [dict(r, text=None) for r in rows]


def write_parquet(rows: list[dict], path: str) -> None:
    """Write atomically (tmp + rename) so a file-source stream never
    lists a half-written drop."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=ARROW_SCHEMA), tmp)
    os.replace(tmp, path)
