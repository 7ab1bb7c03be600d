"""Text repair/normalization kernels as pure Spark Column expressions.

Semantics derived from the reference curation scripts (cited per
function); every kernel here must stay byte-identical with the pure
Python oracle in ``scripts_spark.oracle.textoracle`` — that invariant
is the engine's core contract (BASELINE.json input_hint) and is pinned
by tests/test_text_kernel.py.

Everything is JVM-side Column expressions (whole-stage codegen); no
Python UDFs anywhere in this module.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, functions as F


def bind_once(expr: Column, fn: Callable[[Column], Column]) -> Column:
    """Evaluate ``expr`` ONCE per row and hand it to ``fn`` as a bound
    higher-order-function lambda variable.

    Catalyst substitutes a Column expression textually at every
    reference site, so a lambda body like ``t[i], t[i+1], t[i+2]``
    where ``t = filter(split(text))`` re-runs the whole split/filter
    chain three times PER ARRAY ELEMENT (codegen subexpression
    elimination does not reach inside lambda functions). Wrapping the
    expression in a one-element array and transform-ing over it makes
    the value a lambda-bound variable — computed once per row, cheap
    at every reference. Measured on the 50k-doc shingle explode:
    59.7s → 2.4s (guide §1.2 "per-task work").
    """
    return F.get(F.transform(F.array(expr), fn), 0)

# Python str.split() whitespace set (what the reference's
# ``" ".join(t.split())`` normalization splits on), spelled as an
# explicit Java regex class because Java's \s is ASCII-only while
# Python's is Unicode-wide. Soft hyphen U+00AD is deliberately NOT
# whitespace (it is removed by join_soft_hyphens, not here).
_PY_WS = (
    "\\t-\\r \\x1c-\\x1f\\x85\\xa0\\u1680\\u2000-\\u200a"
    "\\u2028\\u2029\\u202f\\u205f\\u3000"
)
WS_RUN = f"[{_PY_WS}]+"

# The same set as ACTUAL CHARACTERS (not a regex class) for
# btrim/trim(chars) parity with Python str.strip() — DuckDB's trim()
# accepts the identical set, so oracles can share it verbatim.
PY_WS_CHARS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0 "
    "           "
    "    　"
)

# Rule versions feed the lineage struct; bump on any semantic change.
KERNEL_VERSIONS = {
    "normalize_ws": "1.0",
    "dollar_signs": "1.0",
    "join_soft_hyphens": "1.0",
    "fix_capitalized_dashes": "1.0",
    "scrub_pii": "1.0",
    "scrub_toxicity": "1.0",
    "token_normalize": "1.0",
    "join_intro_texts": "1.0",
    "protocol_id": "1.0",
    "docdate_rewrite": "1.0",
    "iort_pairs": "1.0",
    # no kernel left behind this entry; it stays because the lineage
    # bytes (and so every output digest) include it
    "fold_names": "1.0",
}


def normalize_ws(col: Column) -> Column:
    """Collapse all whitespace runs to single spaces and trim.

    Parity target: ``" ".join(t.split())`` as used throughout the
    reference (e.g. /root/reference/src/cur-prot/dollar_sign_replace.py:26,
    src/classify_join_intros.py:127).
    """
    return F.trim(F.regexp_replace(col, WS_RUN, " "))


def join_soft_hyphens(col: Column) -> Column:
    """Whitespace-normalize then drop soft hyphens with optional
    surrounding spaces.

    Parity: join_soft_hyphens_p at
    /root/reference/src/cur-prot/dollar_sign_replace.py:44-47
    (``re.sub(' ?\\u00ad ?', '', " ".join(t.split()))``).
    """
    return F.regexp_replace(normalize_ws(col), " ?­ ?", "")


# The three-branch OCR cascade: $ misread for §. Branch order and
# first-match-only (elif) semantics are part of the contract
# (/root/reference/src/cur-prot/dollar_sign_replace.py:27-40; regexes
# compiled at :79-80). Matching runs on the *normalized* text, but
# replacement happens in the *raw* text by literal occurrence — exactly
# like the reference's ``elem.text.replace(m, m_new)``.
_DOLLAR_1 = "^8 [0-9]{1,2}\\."
_DOLLAR_2 = "^[0-9]{1,2} ?\\$"


def dollar_signs(raw: Column) -> Column:
    # norm and the two extracts are bound once per value (bind_once):
    # this runs per PARAGRAPH inside an interpreted transform() lambda,
    # where every reference otherwise re-runs the whole normalize_ws
    # regex — measured ~5 normalizations per paragraph before r7
    def _branches(norm: Column) -> Column:
        def _apply(ms: Column) -> Column:
            m1, m2 = ms[0], ms[1]
            return (
                F.when(norm.startswith("$"), F.replace(raw, F.lit("$"), F.lit("§")))
                .when(
                    m1 != "",
                    F.replace(
                        raw, m1, F.concat(F.lit("§"), F.substring(m1, 2, 2147483647))
                    ),
                )
                .when(m2 != "", F.replace(raw, m2, F.replace(m2, F.lit("$"), F.lit("§"))))
                .otherwise(raw)
            )

        return bind_once(
            F.array(
                F.regexp_extract(norm, _DOLLAR_1, 0),
                F.regexp_extract(norm, _DOLLAR_2, 0),
            ),
            _apply,
        )

    return bind_once(normalize_ws(raw), _branches)


# Split-name OCR repair "PERS- SON" -> "PERSSON".
# Parity: /root/reference/src/fix_capitalized_dashes.py:19,35-38.
# [A-ZÀ-Þ] is the reference's uppercase class incl. Å/Ä/Ö.
_CAP_DASH = "([A-ZÀ-Þ]{2,10})(- )([A-ZÀ-Þ]{2,10})"


def fix_capitalized_dashes(col: Column) -> Column:
    return F.regexp_replace(col, _CAP_DASH, "$1$3")


# --- PII scrub ------------------------------------------------------
# Engine-defined rules (the reference never redacts; these implement
# the north rule's personnummer / titled-name / address scrub using the
# reference's uppercase alphabet from src/fix_capitalized_dashes.py:19).
# Explicit ASCII digit classes + lookarounds keep Java and Python regex
# engines byte-identical.
PNR_PATTERN = "(?<![0-9])[0-9]{6}(?:[0-9]{2})?[-+]?[0-9]{4}(?![0-9])"
NAME_PATTERN = "\\b(Herr|Fru|Fröken|Doktor) ([A-ZÀ-Þ][A-ZÀ-Þa-zà-þ-]*)"
ADDR_PATTERN = (
    "(?<![A-Za-zÀ-þ])[A-ZÀ-Þ][a-zà-þ]+"
    "(?:gatan|vägen|gränd|torget) [0-9]{1,3}(?![0-9])"
)


def scrub_pii(col: Column) -> Column:
    """Ordered redaction chain; order is part of the rule version."""
    out = F.regexp_replace(col, PNR_PATTERN, "[PNR]")
    out = F.regexp_replace(out, NAME_PATTERN, "$1 [NAME]")
    out = F.regexp_replace(out, ADDR_PATTERN, "[ADDR]")
    return out


# Toxicity lexicon (north rule: "regex-based PII/toxicity scrubbing").
# A small in-repo stand-in of mild public Swedish profanity — in
# production this is a broadcast-compiled alternation from the real
# lexicon table; the mechanism (single whole-word case-insensitive
# regexp_replace, (?iU) = Unicode case + Unicode \b to match the
# Python oracle) is what's contractual, not the word list.
TOXIC_LEXICON = ["jävla", "jävlar", "helvete", "fan", "skit", "förbannade"]
TOX_PATTERN = "(?iU)\\b(?:" + "|".join(TOXIC_LEXICON) + ")\\b"


def scrub_toxicity(col: Column) -> Column:
    return F.regexp_replace(col, TOX_PATTERN, "[TOX]")


def scrub_all(col: Column) -> Column:
    """PII then toxicity — the pipeline's full redaction pass; the
    order is part of the rule version."""
    return scrub_toxicity(scrub_pii(col))


# --- word-frequency token normalization -----------------------------
# Parity: /root/reference/src/mk-wf-dict.py:18,28-38 — lower, strip a
# punctuation class, strip digit/dash/slash runs, trim ':'.
WF_PUNCT = "[\\[\\]\\{\\}\\(\\)<>.,!§”$«»'\";]"
WF_DIGIT_DASH = "[0-9\\-–—/]+"
# tokens dropped after normalization (mk-wf-dict.py:38)
WF_DROP = ["", "-", "–", "—"]


def token_normalize(col: Column) -> Column:
    out = F.lower(col)
    out = F.regexp_replace(out, WF_PUNCT, "")
    out = F.regexp_replace(out, WF_DIGIT_DASH, "")
    return F.btrim(out, F.lit(":"))


def tokens(col: Column) -> Column:
    """Whitespace tokens of a (not necessarily normalized) text."""
    return F.filter(F.split(normalize_ws(col), " "), lambda t: t != "")


# --- split-intro join kernels ----------------------------------------
# Parity: /root/reference/src/classify_join_intros.py:27 (the ALLCAPS
# run class incl. Å/Ä/Ö, space and dash) and :147-164 (the three-branch
# join of a split intro pair). (?U) makes Java's \b Unicode-aware like
# Python's re — without it a surname STARTING with Å/Ä/Ö would anchor
# differently than the reference.
ALLCAPS_PATTERN = "(?U)\\b[A-ZÀ-Þ -]{3,}\\b"


def allcaps_surname(col: Column) -> Column:
    """First ALLCAPS run (trimmed) — the hyphen-damaged surname the
    correction dictionary is keyed on (classify_join_intros.py:157,183)."""
    return F.trim(F.regexp_extract(col, ALLCAPS_PATTERN, 0))


def join_intro_texts(t1: Column, t2: Column) -> Column:
    """Hyphen-aware join of a split intro pair, reference branch order
    (classify_join_intros.py:155-163): trailing '-' ⇒ butt-join (the
    hyphen marks a broken surname), the 'S:'+'T ' OCR split of 'S:T'
    (Sankt) ⇒ butt-join, else space-join. Inputs are whitespace-
    normalized first (the reference's strip_whitespace)."""
    a, b = normalize_ws(t1), normalize_ws(t2)
    return (
        F.when(a.endswith("-"), F.concat(a, b))
        .when(a.endswith(" S:") & b.startswith("T "), F.concat(a, b))
        # ' '.join([t1, t2]) semantics: a single space even when one
        # side is empty (reference line 162)
        .otherwise(F.concat(a, F.lit(" "), b))
    )


def _quote_replacement(c: Column) -> Column:
    """Java Matcher.quoteReplacement semantics: escape '\\' and '$' so a
    dictionary value containing them is inserted LITERALLY instead of
    being read as a group reference (or erroring) by regexp_replace."""
    return F.replace(F.replace(c, F.lit("\\"), F.lit("\\\\")), F.lit("$"), F.lit("\\$"))


def correct_allcaps(intro: Column, correct: Column) -> Column:
    """Replace every ALLCAPS run with ' ' + the dictionary correction —
    exactly the reference's re.sub(allcaps, f' {D[m]["correct"]}', intro)
    (classify_join_intros.py:159). ``correct`` is null-safe: null ⇒
    intro unchanged (surname not in the dictionary). The correction is
    replacement-quoted so '$'/'\\' in a dictionary value stay literal."""
    return F.when(
        correct.isNotNull(),
        F.regexp_replace(
            intro,
            F.lit(ALLCAPS_PATTERN),
            F.concat(F.lit(" "), _quote_replacement(correct)),
        ),
    ).otherwise(intro)


# --- protocol-id surgery ---------------------------------------------
def protocol_id_build(year: Column, num: Column) -> Column:
    """'prot-' + year-without-slash + '--' + id, then ALL hyphens → '_'
    (replace_dates.py:20-23: the pandas str.replace chain)."""
    raw = F.concat(
        F.lit("prot-"), F.replace(year, F.lit("/"), F.lit("")), F.lit("--"), num.cast("string")
    )
    return F.replace(raw, F.lit("-"), F.lit("_"))


def protocol_id_pad(col: Column) -> Column:
    """'_' → '-' and zero-pad the trailing protocol number to 3 digits
    (segmentation_accuracy_estimate.py:77-86)."""
    pid = F.replace(col, F.lit("_"), F.lit("-"))
    num = F.regexp_extract(pid, "([0-9]+)$", 1)
    head = F.substr(pid, F.lit(1), F.length(pid) - F.length(num))
    # zfill semantics: pad short numbers, NEVER truncate long ones
    # (F.lpad alone would cut '2306' to '230')
    padded = F.when(F.length(num) >= 3, num).otherwise(F.lpad(num, 3, "0"))
    return F.concat(head, padded)


# --- docDate rewrite --------------------------------------------------
# replace_dates.py:41-42: the '<docDate when="Y-M-D">Y-M-D</docDate>'
# element is rewritten to the scraped date (first space-separated field).
DOCDATE_PATTERN = (
    '<docDate when="[0-9]{4}-[0-9]{2}-[0-9]{2}">'
    "[0-9]{4}-[0-9]{2}-[0-9]{2}</docDate>"
)


def docdate_rewrite(xml: Column, scraped_date: Column) -> Column:
    d = F.split(scraped_date, " ")[0]
    repl = F.concat(F.lit('<docDate when="'), d, F.lit('">'), d, F.lit("</docDate>"))
    return F.regexp_replace(xml, F.lit(DOCDATE_PATTERN), repl)


# --- i-ort splitting ---------------------------------------------------
def iort_pairs(col: Column) -> Column:
    """'Surname i Ort[, senare Ort2, Ort3 och Ort4]' → array of
    (surname, iort) structs (generate_i-ort_testfile.py:15-47): the
    part before 'senare' yields (surname, first ort); the remainder is
    split on ',', ' o ' and ' och ', each piece loses a leading
    'åter ' and is trimmed. Unlike the reference we drop pieces that
    trim to '' (the reference's `if c:` check runs pre-strip, so a
    lone space could slip through as an empty ort — a bug, not a
    semantic). A row whose head has NO ' i '/' I ' separator at all is
    malformed (the reference logs and skips it): it yields an EMPTY
    array — filterable — rather than a silent (whole-string, '')
    record. Mirrored by textoracle.iort_pairs returning []."""
    has_senare = col.contains("senare")
    primary = F.btrim(F.btrim(F.substring_index(col, "senare", 1), F.lit(" ")), F.lit(","))
    base = F.when(has_senare, primary).otherwise(
        # fallback ' I ' separator when lowercase ' i ' is absent
        F.when(col.contains(" i "), col).otherwise(F.replace(col, F.lit(" I "), F.lit(" i ")))
    )
    surname = F.substring_index(base, " i ", 1)
    ort1 = F.substr(base, F.length(surname) + F.lit(4))
    rest = F.substr(col, F.instr(col, "senare") + F.lit(6))
    pieces = F.flatten(F.transform(F.split(rest, ","), lambda a: F.split(a, " o ")))
    pieces = F.flatten(F.transform(pieces, lambda b: F.split(b, " och ")))
    orter = F.filter(
        F.transform(
            pieces,
            lambda c: F.trim(
                F.when(c.startswith("åter "), F.substr(c, F.lit(6))).otherwise(c)
            ),
        ),
        lambda o: o != "",
    )
    extra = F.when(has_senare, orter).otherwise(F.array().cast("array<string>"))
    all_orter = F.concat(F.array(F.trim(ort1)), extra)
    structs = F.transform(
        all_orter,
        lambda o: F.struct(F.trim(surname).alias("surname"), o.alias("iort")),
    )
    empty = F.array().cast("array<struct<surname:string,iort:string>>")
    return F.when(base.contains(" i "), structs).otherwise(empty)


# --- metadata kernels (wikidata_query.py) -----------------------------
def role_ledamot(col: Column) -> Column:
    """Extract the '...ledamot' role word (wikidata_query.py:95)."""
    return F.regexp_extract(col, "([A-Za-zÀ-ÿ]*ledamot)", 1)


def role_minister_clean(col: Column) -> Column:
    """Drop 'Sveriges' and trim (wikidata_query.py:92)."""
    return F.trim(F.replace(col, F.lit("Sveriges"), F.lit("")))


def gender_map(col: Column) -> Column:
    """kvinna→woman, man→man, anything else → null — pandas .map
    semantics (wikidata_query.py:88: unmapped values become NaN)."""
    return (
        F.when(col == "kvinna", F.lit("woman"))
        .when(col == "man", F.lit("man"))
        .otherwise(F.lit(None).cast("string"))
    )
