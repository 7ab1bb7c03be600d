"""Document-order (window) operators over the segments shape
``(url, pos, elem_type, ...)`` — SURVEY.md §2.5 W1–W4, W7, W9–W11
and W13. The run merge (W5), next-element pairing (W6), running
attribution (W8), running page cursor (W12) and top-k per stratum
(W14) are registry queries (merge_runs, lead_pairing,
running_attribution, running_cursor, top_events_per_user).

The reference expresses all of these as mutable Python scans over lxml
trees; here every one is a window function over ``(url, pos)`` —
shuffle once per genuine reordering point, never per document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

def _doc_w():
    return Window.partitionBy("url").orderBy("pos")


def sessionize_sections(segs: DataFrame, is_break: Column) -> DataFrame:
    """W1: running-sum sessionization — a new section starts whenever
    ``is_break`` holds (reference: '§' prefix ⇒ new div,
    /root/reference/src/cur-prot/split_into_sections.py:49-72)."""
    return segs.withColumn(
        "section_id",
        F.sum(is_break.cast("long")).over(_doc_w().rowsBetween(Window.unboundedPreceding, 0)),
    )


def section_break_expr() -> Column:
    """P5: '§' within the first 4 chars of the trimmed text
    (split_into_sections.py:65-68)."""
    return F.substring(F.ltrim(F.col("text")), 1, 4).contains("§")


def type_sections(segs: DataFrame) -> DataFrame:
    """W2: a section is a debateSection iff it contains ≥1 speaker
    note, else commentSection (split_into_sections.py:75-93)."""
    sw = Window.partitionBy("url", "section_id")
    has_speaker = F.max(
        ((F.col("elem_type") == "note") & (F.col("type_attr") == "speaker")).cast("int")
    ).over(sw)
    return segs.withColumn(
        "section_type",
        F.when(has_speaker == 1, F.lit("debateSection")).otherwise(F.lit("commentSection")),
    )


def clean_first_last(segs: DataFrame) -> DataFrame:
    """W3: null-out `prev` on the first u and `next` on the last u of
    each section (split_into_sections.py:28-46)."""
    sw = Window.partitionBy("url", "section_id").orderBy("pos")
    swd = Window.partitionBy("url", "section_id").orderBy(F.desc("pos"))
    return (
        segs.withColumn("_rn_a", F.row_number().over(sw))
        .withColumn("_rn_d", F.row_number().over(swd))
        .withColumn("prev", F.when(F.col("_rn_a") == 1, F.lit(None)).otherwise(F.col("prev")))
        .withColumn("next", F.when(F.col("_rn_d") == 1, F.lit(None)).otherwise(F.col("next")))
        .drop("_rn_a", "_rn_d")
    )


def demote_pre_intro(segs: DataFrame) -> DataFrame:
    """W4: utterances before the first speaker-intro of a section are
    relabelled note (split_into_sections.py:96-108)."""
    sw = Window.partitionBy("url", "section_id")
    first_intro = F.min(
        F.when((F.col("elem_type") == "note") & (F.col("type_attr") == "speaker"), F.col("pos"))
    ).over(sw)
    demote = (F.col("elem_type") == "u") & (
        first_intro.isNull() | (F.col("pos") < first_intro)
    )
    return segs.withColumn(
        "elem_type", F.when(demote, F.lit("note")).otherwise(F.col("elem_type"))
    )


def tag_after_intro(segs: DataFrame, is_intro: Column) -> DataFrame:
    """W7: mark the element immediately following a speaker intro —
    the reference's one-step 'speaker' latch
    (/root/reference/src/classify_join_intros.py:44-52 sets a flag on
    the intro row and consumes it on the very next note/seg)."""
    return segs.withColumn(
        "after_intro",
        F.coalesce(F.lag(is_intro.cast("boolean")).over(_doc_w()), F.lit(False)),
    )


def first_date(segs: DataFrame) -> DataFrame:
    """W9: first docDate per protocol (first_date.py:14-18)."""
    return (
        segs.filter(F.col("elem_type") == "docDate")
        .groupBy("url")
        .agg(F.min_by("when_attr", "pos").alias("first_date"))
    )


def date_range(segs: DataFrame) -> DataFrame:
    """W10: docDate min/max per protocol (date_accuracy_estimate.py:25-34)."""
    return (
        segs.filter(F.col("elem_type") == "docDate")
        .groupBy("url")
        .agg(F.min("when_attr").alias("date_min"), F.max("when_attr").alias("date_max"))
    )


def interval_jaccard(df: DataFrame, s1: str, e1: str, s2: str, e2: str) -> DataFrame:
    """W11: Jaccard of two [start,end] day intervals + perfect/overlap/
    contains flags (date_accuracy_estimate.py:36-50). Inclusive ends,
    measured in days."""
    a, b = F.col(s1).cast("date"), F.col(e1).cast("date")
    c, d = F.col(s2).cast("date"), F.col(e2).cast("date")
    inter = F.datediff(F.least(b, d), F.greatest(a, c)) + 1
    union = F.datediff(F.greatest(b, d), F.least(a, c)) + 1
    j = F.when(inter > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    return (
        df.withColumn("jaccard", j)
        .withColumn("perfect", (a == c) & (b == d))
        .withColumn("overlaps", F.col("jaccard") > 0)
        .withColumn("contains", (a <= c) & (d <= b))
    )


def find_toc(segs: DataFrame) -> DataFrame:
    """W13 ToC extraction
    (/root/reference/src/ToC/delimit-ToC_2014--.py:25-98): the heading
    is the first element whose trimmed, lowercased text equals
    'innehållsförteckning'; the ToC starts at the LAST pb at or before
    the heading and runs to the end of the body (once the heading is
    seen the reference appends every subsequent element and every
    subsequent div into the new ToC div). Per-document status mirrors
    the reference's bookkeeping lists:

      'ok'         — heading found with a preceding pb,
      'missing_pb' — heading found but no pb before it (the FAIL
                     branch that aborts extraction),
      'no_toc'     — no heading in the document.

    Adds (status, in_toc) to the segments frame; both window passes
    share the per-url partitioning, so this costs one shuffle."""
    from scripts_spark.functions.text_kernel import PY_WS_CHARS

    dw = Window.partitionBy("url")
    # Python .strip() parity: trim the FULL whitespace set, not just
    # ASCII space (F.trim) — XML text nodes pad headings with
    # newlines/tabs/nbsp (round-2 advice)
    is_heading = (
        F.lower(F.btrim(F.col("text"), F.lit(PY_WS_CHARS))) == "innehållsförteckning"
    )
    segs = segs.withColumn(
        "_heading_pos", F.min(F.when(is_heading, F.col("pos"))).over(dw)
    )
    segs = segs.withColumn(
        "_pb_pos",
        F.max(
            F.when(
                (F.col("elem_type") == "pb") & (F.col("pos") <= F.col("_heading_pos")),
                F.col("pos"),
            )
        ).over(dw),
    )
    status = (
        F.when(F.col("_heading_pos").isNull(), F.lit("no_toc"))
        .when(F.col("_pb_pos").isNull(), F.lit("missing_pb"))
        .otherwise(F.lit("ok"))
    )
    in_toc = (
        F.col("_heading_pos").isNotNull()
        & F.col("_pb_pos").isNotNull()
        & (F.col("pos") >= F.col("_pb_pos"))
    )
    return (
        segs.withColumn("status", status)
        .withColumn("in_toc", in_toc)
        .drop("_heading_pos", "_pb_pos")
    )
