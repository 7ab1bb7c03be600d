"""Deterministic synthetic generator for the primary input table
``pages (url, warc_ts, html, text, lang)`` — the Common-Crawl-style
shape from BASELINE.json input_hint / FIXTURES.md §1.

All content is derived from the row index + seed (no wall-clock, no
RNG state shared across rows), so generation is embarrassingly
parallel: the Spark path is ``spark.range(n)`` + ``mapInPandas``, which
scales to any row count without a driver bottleneck, and the oracle
tests call ``gen_row`` directly for the same bytes.

Planted cases (FIXTURES.md §5): all three dollar-sign branches plus
overlaps, soft hyphens with/without spaces, PERS- SON splits with
Å/Ä/Ö, personnummer in 10/12-digit forms with -/+, wrong lang tags both
ways, domain-level boilerplate lines, empty/whitespace-only rows, and a
duplicate-url pair.
"""

from __future__ import annotations

import datetime as _dt
import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from scripts_spark.session import drop_zip_finders

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# --- embedded word material (public-knowledge common-word lists) ----
SV_FUNCTION_WORDS = [
    "och", "att", "det", "som", "en", "på", "är", "av", "för", "med",
    "till", "den", "har", "de", "inte", "om", "ett", "men", "var",
    "jag", "sig", "från", "vi", "så", "kan", "man", "när", "år",
    "skulle", "kommer", "vid", "också", "efter", "eller", "nu", "sin",
    "där", "vara", "mot", "ska", "blir", "denna", "detta", "vilket",
]
SV_CONTENT_WORDS = [
    "herr", "talman", "riksdagen", "regeringen", "fråga", "svar",
    "anförande", "kammaren", "proposition", "utskottet", "ledamot",
    "beslut", "debatt", "lagen", "staten", "frågan", "ärendet",
    "betänkande", "motion", "paragrafen", "sammanträdet", "protokollet",
    "överläggningen", "votering", "statsrådet", "ministern", "landet",
    "folket", "skatten", "budgeten", "förslaget", "yttrande", "skolan",
    "vården", "arbetet", "miljön", "försvaret", "järnvägen", "kommunen",
]
EN_WORDS = [
    "the", "of", "and", "to", "in", "is", "that", "it", "was", "for",
    "on", "are", "with", "as", "be", "at", "by", "this", "have",
    "from", "or", "one", "had", "not", "but", "what", "all", "were",
    "when", "we", "there", "can", "which", "their", "said", "will",
    "about", "would", "these", "other", "people", "government",
    "parliament", "question", "answer", "debate", "committee",
]
DE_WORDS = [
    "der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu",
    "mit", "den", "von", "auf", "für", "im", "dem", "sich", "des",
    "ich", "sie", "wir", "aber", "oder", "auch", "nach", "bei", "aus",
    "wenn", "nur", "noch", "wie", "über", "regierung", "frage",
]
FI_WORDS = [
    "ja", "on", "ei", "että", "se", "hän", "oli", "ovat", "mutta",
    "kun", "niin", "myös", "tämä", "joka", "mitä", "voi", "vain",
    "kuin", "sen", "nyt", "jos", "hyvin", "siitä", "olla", "sitä",
    "hallitus", "kysymys", "vastaus",
]
SURNAMES = [
    "ANDERSSON", "JOHANSSON", "KARLSSON", "NILSSON", "ERIKSSON",
    "LARSSON", "PERSSON", "SVENSSON", "GUSTAFSSON", "PETTERSSON",
    "SJÖGREN", "ÅKESSON", "ÖSTLUND", "ÄNGMAN", "LINDQVIST",
]
TOWNS = [
    "Göteborg", "Stockholm", "Malmö", "Uppsala", "Örebro", "Västerås",
    "Linköping", "Norrköping", "Lund", "Umeå",
]
STREETS = ["Storgatan", "Kungsvägen", "Drottninggatan", "Vasavägen"]
TLDS = ["se", "com", "org", "net"]

BOILER_LINES = [
    "Hem | Nyheter | Kontakt | Om oss",
    "© {domain} — Alla rättigheter förbehållna",
    "Prenumerera på vårt nyhetsbrev",
    "Cookies och personuppgifter | Tillgänglighet",
]

EPOCH = _dt.datetime(2020, 1, 1)
SPAN_SECONDS = 4 * 365 * 86400


def _domain(rnd: random.Random) -> str:
    if rnd.random() < 0.20:  # Zipfian hot domain ≈ 20% of rows
        return "hot.example.se"
    return f"site{rnd.randint(0, 39)}.example.{rnd.choice(TLDS)}"


def _sv_sentence(rnd: random.Random) -> str:
    n = rnd.randint(6, 14)
    words = []
    for j in range(n):
        src = SV_CONTENT_WORDS if (j % 3 == 2) else SV_FUNCTION_WORDS
        words.append(rnd.choice(src))
    s = " ".join(words)
    return s[0].upper() + s[1:] + "."


def _foreign_sentence(rnd: random.Random, lexicon: list[str]) -> str:
    words = [rnd.choice(lexicon) for _ in range(rnd.randint(6, 14))]
    s = " ".join(words)
    return s[0].upper() + s[1:] + "."


def _sv_paragraph(rnd: random.Random) -> str:
    return " ".join(_sv_sentence(rnd) for _ in range(rnd.randint(2, 5)))


def _plant_ocr(rnd: random.Random, para: str) -> str:
    branch = rnd.randint(0, 4)
    if branch == 0:
        return "$ 7. " + para  # branch 1: leading $
    if branch == 1:
        return f"8 {rnd.randint(1, 23)}. " + para  # branch 2: '8 N.'
    if branch == 2:
        return f"{rnd.randint(1, 23)} $ " + para  # branch 3: 'N $'
    if branch == 3:
        # overlap: starts with $ AND contains 'N $' — only branch 1 fires
        return "$ 3 $ " + para
    # soft hyphens, with and without surrounding spaces
    words = para.split(" ")
    k = max(1, len(words) // 2)
    words[k] = words[k][:2] + ("­ " if rnd.random() < 0.5 else "­") + words[k][2:]
    return " ".join(words)


def _plant_pii(rnd: random.Random, para: str) -> str:
    kind = rnd.randint(0, 3)
    if kind == 0:
        sep = rnd.choice(["-", "+", ""])
        pnr = f"{rnd.randint(30, 99):02d}{rnd.randint(1, 12):02d}{rnd.randint(1, 28):02d}{sep}{rnd.randint(0, 9999):04d}"
        return para + " Personnummer " + pnr + " antecknades."
    if kind == 1:
        pnr = f"19{rnd.randint(30, 99):02d}{rnd.randint(1, 12):02d}{rnd.randint(1, 28):02d}-{rnd.randint(0, 9999):04d}"
        return para + " Födelsenummer " + pnr + "."
    if kind == 2:
        title = rnd.choice(["Herr", "Fru", "Fröken", "Doktor"])
        name = rnd.choice(SURNAMES)
        town = rnd.choice(TOWNS)
        return f"{title} {name} i {town} yttrade sig. " + para
    street = rnd.choice(STREETS)
    return para + f" Adress {street} {rnd.randint(1, 120)} noterades."


def _plant_split_name(rnd: random.Random, para: str) -> str:
    name = rnd.choice(SURNAMES)
    cut = rnd.randint(2, max(2, len(name) - 2))
    return f"{name[:cut]}- {name[cut:]} anförde följande. " + para


TOXIC_PLANTS = ["jävla", "JÄVLAR", "helvete", "Fan", "skit", "förbannade", "skiten"]


def _plant_toxicity(rnd: random.Random, para: str) -> str:
    # mix of cased forms; 'skiten' must NOT be scrubbed (whole-word \b)
    w = rnd.choice(TOXIC_PLANTS)
    return para + f" Det var ett {w} oväsen i kammaren."


def gen_row(i: int, seed: int = 42) -> dict:
    """Deterministic page for global row index ``i``. Pure function."""
    rnd = random.Random((i * 2654435761 + seed * 97) & 0xFFFFFFFF)
    domain = _domain(rnd)
    year = 2020 + (i % 4)
    url = f"https://{domain}/{year}/page-{i}"
    ts = EPOCH + _dt.timedelta(seconds=(i * 7919) % SPAN_SECONDS)

    # planted special rows at fixed small indexes
    if i % 1000 == 997:
        text, lang = "", "sv"  # empty text
    elif i % 1000 == 998:
        text, lang = " \t\n   ", "sv"  # whitespace-only
    else:
        cat = rnd.random()
        paras: list[str] = []
        if cat < 0.55:  # Swedish parliamentary-style
            lang = "sv" if rnd.random() > 0.05 else rnd.choice(["en", "de"])
            for _ in range(rnd.randint(2, 6)):
                p = _sv_paragraph(rnd)
                r = rnd.random()
                if r < 0.25:
                    p = _plant_ocr(rnd, p)
                elif r < 0.45:
                    p = _plant_pii(rnd, p)
                elif r < 0.55:
                    p = _plant_split_name(rnd, p)
                elif r < 0.63:
                    p = _plant_toxicity(rnd, p)
                paras.append(p)
        elif cat < 0.75:  # non-Swedish
            lex, tag = rnd.choice(
                [(EN_WORDS, "en"), (DE_WORDS, "de"), (FI_WORDS, "fi")]
            )
            lang = tag if rnd.random() > 0.05 else "sv"  # sometimes-wrong tag
            paras = [
                " ".join(_foreign_sentence(rnd, lex) for _ in range(rnd.randint(2, 4)))
                for _ in range(rnd.randint(2, 5))
            ]
        elif cat < 0.85:  # boilerplate-heavy / repetitive
            lang = "sv"
            base = _sv_sentence(rnd)
            paras = [base] * rnd.randint(4, 8)
        else:  # short / low-quality
            lang = "sv"
            paras = [" ".join(rnd.choice(SV_FUNCTION_WORDS) for _ in range(rnd.randint(1, 8)))]

        # domain boilerplate nav/footer on every page of the domain
        nav = [BOILER_LINES[0], BOILER_LINES[1].format(domain=domain)]
        if rnd.random() < 0.5:
            nav.append(rnd.choice(BOILER_LINES[2:]))
        text = "\n".join([nav[0]] + paras + nav[1:])

    # duplicate-url pair: row 501 reuses row 500's url (lineage check)
    if i % 10000 == 501:
        j = i - 1
        rnd_j = random.Random((j * 2654435761 + seed * 97) & 0xFFFFFFFF)
        url = f"https://{_domain(rnd_j)}/{2020 + (j % 4)}/page-{j}"

    html = ("<html><body><p>" + text.replace("\n", "</p><p>") + "</p></body></html>").encode(
        "utf-8"
    )
    return {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": lang}


def gen_rows(indexes, seed: int = 42) -> list[dict]:
    return [gen_row(int(i), seed) for i in indexes]


def pages_df(spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None,
             start: int = 0) -> DataFrame:
    """Distributed deterministic generation: spark.range → mapInPandas.
    ``start`` offsets the global row index — disjoint [start, start+n)
    ranges yield disjoint url sets (incremental "crawl drops")."""
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)
    rng = spark.range(start, start + n, 1, parts)

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for b in batches:
            yield pd.DataFrame(gen_rows(b["id"].tolist(), seed))

    return rng.mapInPandas(_gen, PAGES_SCHEMA)


def write_pages(spark: SparkSession, path: str, n: int, seed: int = 42,
                start: int = 0) -> None:
    pages_df(spark, n, seed, start=start).write.mode("overwrite").parquet(path)


def domain_of(col) -> "F.Column":
    """Extract the domain from a url column (shared by pipeline+oracle)."""
    return F.regexp_extract(col, "^https?://([^/]+)/", 1)
