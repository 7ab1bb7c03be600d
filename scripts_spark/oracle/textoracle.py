"""Pure-Python oracle for the text kernels.

Row-at-a-time reimplementation of scripts_spark.functions.text_kernel
using Python ``re`` — the parity target the Spark expressions must
match byte-for-byte (tests/test_text_kernel.py, tests/test_pipeline_parity.py).

The whitespace normalization is literally the reference's own idiom
(``" ".join(t.split())``, /root/reference/src/cur-prot/dollar_sign_replace.py:26).
"""

from __future__ import annotations

import re

from scripts_spark.functions.html_extract import (
    HTML_ENTITY_STEPS,
    HTML_REGEX_STEPS,
    HTML_WS_STEPS,
)

_DOLLAR_1 = re.compile(r"^8 [0-9]{1,2}\.")
_DOLLAR_2 = re.compile(r"^[0-9]{1,2} ?\$")
_SOFT_HYPHEN = re.compile(" ?­ ?")
_CAP_DASH = re.compile("([A-ZÀ-Þ]{2,10})(- )([A-ZÀ-Þ]{2,10})")
_PNR = re.compile(r"(?<![0-9])[0-9]{6}(?:[0-9]{2})?[-+]?[0-9]{4}(?![0-9])")
_NAME = re.compile("\\b(Herr|Fru|Fröken|Doktor) ([A-ZÀ-Þ][A-ZÀ-Þa-zà-þ-]*)")
_ADDR = re.compile(
    "(?<![A-Za-zÀ-þ])[A-ZÀ-Þ][a-zà-þ]+" "(?:gatan|vägen|gränd|torget) [0-9]{1,3}(?![0-9])"
)
_WF_PUNCT = re.compile("[\\[\\]\\{\\}\\(\\)<>.,!§”$«»'\";]")
_WF_DIGIT_DASH = re.compile("[0-9\\-–—/]+")


def html_to_text(s: str | None) -> str | None:
    """functions/html_extract.html_to_text's spec in Python ``re``,
    built from the same step tables. Null html yields null text."""
    if s is None:
        return None
    for pat, rep in HTML_REGEX_STEPS:
        s = re.sub(pat, rep, s)
    for lit, rep in HTML_ENTITY_STEPS:
        s = s.replace(lit, rep)
    for pat, rep in HTML_WS_STEPS:
        s = re.sub(pat, rep, s)
    return s.strip(" \n")


def normalize_ws(t: str) -> str:
    return " ".join(t.split())


def join_soft_hyphens(t: str) -> str:
    return _SOFT_HYPHEN.sub("", normalize_ws(t))


def dollar_signs(raw: str) -> str:
    """Reference semantics at src/cur-prot/dollar_sign_replace.py:27-40:
    elif-cascade on the normalized text, literal replace in the raw."""
    norm = normalize_ws(raw)
    if norm.startswith("$"):
        return raw.replace("$", "§")
    m1 = _DOLLAR_1.search(norm)
    if m1 is not None:
        m = m1.group(0)
        return raw.replace(m, "§" + m[1:])
    m2 = _DOLLAR_2.search(norm)
    if m2 is not None:
        m = m2.group(0)
        return raw.replace(m, m.replace("$", "§"))
    return raw


def fix_capitalized_dashes(t: str) -> str:
    return _CAP_DASH.sub(r"\1\3", t)


def scrub_pii(t: str) -> str:
    t = _PNR.sub("[PNR]", t)
    t = _NAME.sub(r"\1 [NAME]", t)
    t = _ADDR.sub("[ADDR]", t)
    return t


TOXIC_LEXICON = ["jävla", "jävlar", "helvete", "fan", "skit", "förbannade"]
_TOX = re.compile(r"\b(?:" + "|".join(TOXIC_LEXICON) + r")\b", re.IGNORECASE)


def scrub_toxicity(t: str) -> str:
    return _TOX.sub("[TOX]", t)


def scrub_all(t: str) -> str:
    return scrub_toxicity(scrub_pii(t))


def repair_and_scrub(raw: str) -> str:
    return scrub_all(fix_capitalized_dashes(join_soft_hyphens(dollar_signs(raw))))


def token_normalize(word: str) -> str:
    out = word.lower()
    out = _WF_PUNCT.sub("", out)
    out = _WF_DIGIT_DASH.sub("", out)
    return out.strip(":")


def tokens(t: str) -> list[str]:
    return [w for w in normalize_ws(t).split(" ") if w != ""]


# --- split-intro join (classify_join_intros.py:27,147-164) -----------
_ALLCAPS = re.compile(r"\b[A-ZÀ-Þ -]{3,}\b")


def allcaps_surname(t: str) -> str:
    m = _ALLCAPS.search(t)
    return m.group(0).strip() if m else ""


def join_intro_texts(t1: str, t2: str) -> str:
    a, b = normalize_ws(t1), normalize_ws(t2)
    if a.endswith("-"):
        return a + b
    if a.endswith(" S:") and b.startswith("T "):
        return a + b
    return a + " " + b


def correct_allcaps(intro: str, correct: str | None) -> str:
    if correct is None:
        return intro
    # replacement-quote: '\' is the only special char in a Python re
    # replacement — escape it so a dictionary value containing '\' or
    # '\g' is inserted literally (mirrors Matcher.quoteReplacement on
    # the Spark side; both engines then emit the same literal text)
    return _ALLCAPS.sub(" " + correct.replace("\\", "\\\\"), intro)


# --- protocol-id surgery ----------------------------------------------
def protocol_id_build(year: str, num) -> str:
    return ("prot-" + year.replace("/", "") + "--" + str(num)).replace("-", "_")


def protocol_id_pad(pid: str) -> str:
    pid = pid.replace("_", "-")
    m = re.search(r"([0-9]+)$", pid)
    num = m.group(1) if m else ""
    return pid[: len(pid) - len(num)] + num.zfill(3)


# --- docDate rewrite (replace_dates.py:41-42) --------------------------
_DOCDATE = re.compile(
    r'<docDate when="[0-9]{4}-[0-9]{2}-[0-9]{2}">[0-9]{4}-[0-9]{2}-[0-9]{2}</docDate>'
)


def docdate_rewrite(xml: str, scraped_date: str) -> str:
    d = scraped_date.split(" ")[0]
    return _DOCDATE.sub(f'<docDate when="{d}">{d}</docDate>', xml)


# --- i-ort splitting (generate_i-ort_testfile.py:15-47) ----------------
def iort_pairs(s: str) -> list[tuple[str, str]]:
    if "senare" in s:
        primary, rest = s.split("senare", 1)
        primary = primary.strip(" ").strip(",")
        if " i " not in primary:
            return []  # malformed head: no separator — skip, don't raise
        surname, ort1 = primary.split(" i ", 1)
        orter = []
        for a in rest.split(","):
            for b in a.split(" o "):
                for c in b.split(" och "):
                    if c.startswith("åter "):
                        c = c[5:]
                    c = c.strip()
                    if c:
                        orter.append(c)
        return [(surname.strip(), ort1.strip())] + [(surname.strip(), o) for o in orter]
    base = s if " i " in s else s.replace(" I ", " i ")
    if " i " not in base:
        return []  # malformed row: no ' i '/' I ' separator — skip
    surname, ort = base.split(" i ", 1)
    return [(surname.strip(), ort.strip())]


# --- metadata kernels (wikidata_query.py:88,92,95) ----------------------
def role_ledamot(t: str) -> str:
    m = re.search("([A-Za-zÀ-ÿ]*ledamot)", t)
    return m.group(1) if m else ""


def role_minister_clean(t: str) -> str:
    return t.replace("Sveriges", "").strip()


def gender_map(t: str) -> str | None:
    return {"kvinna": "woman", "man": "man"}.get(t)


# --- name cleaning -------------------------------------------------------
_FOLD = str.maketrans("åäæöøéèêëüûáàâíìîóòôýÿç", "aaaooeeeeuuaaaiiioooyyc")


def fold_names(t: str) -> str:
    out = t.lower().translate(_FOLD)
    out = re.sub("[^a-z ]", " ", out)
    return normalize_ws(out)
