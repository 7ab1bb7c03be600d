"""Regression pins for the round-6 review findings: shared-state-dir
watermark collision, curate cache hygiene, oracle mode validation."""

from __future__ import annotations

import pytest

from scripts_spark.plans.pipeline import (
    CurateConfig,
    curate,
    drain_curate_persisted,
)
from scripts_spark.sources.pages import pages_df
from scripts_spark.streaming.jobs import stream_curate


def test_stream_curate_rejects_shared_state_dir(spark, tmp_path):
    # both stores keep their watermark at <dir>/COMPACTED_THROUGH; a
    # shared dir would let one stage's compaction mis-scope the other's
    with pytest.raises(ValueError, match="distinct"):
        stream_curate(
            spark,
            str(tmp_path / "in"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            CurateConfig(para_dedup=True),
            boiler_state_dir=str(tmp_path / "state"),
            span_state_dir=str(tmp_path / "state"),
        )


def test_curate_persists_are_drainable(spark):
    # relative to a baseline snapshot: the shared suite session may
    # carry caches owned by OTHER tests, and the whole point of the
    # drain is to release exactly curate's frames and nobody else's
    drain_curate_persisted()  # start with no curate-owned frames
    jsc = spark.sparkContext._jsc.sc()
    baseline = jsc.getPersistentRDDs().size()
    dec = curate(pages_df(spark, 300, partitions=4), CurateConfig(num_buckets=4))
    dec.count()
    assert jsc.getPersistentRDDs().size() > baseline  # curate cached internally
    drain_curate_persisted()
    assert jsc.getPersistentRDDs().size() == baseline  # ... and released them all


def test_oracle_rejects_unknown_near_dedup_mode():
    from scripts_spark.oracle.pipeline_oracle import OracleConfig, curate_rows

    rows = [
        {"url": "https://a.se/1", "warc_ts": 1, "html": None,
         "text": "ett två tre fyra fem sex sju åtta nio tio", "lang": "sv"},
    ]
    with pytest.raises(ValueError, match="near_dedup_mode"):
        curate_rows(rows, OracleConfig(near_dedup=True, near_dedup_mode="neighbour"))


def test_curate_sig_current_equivalence(spark):
    """curate(sig_history=H) and curate(sig_history=H, sig_current=E)
    — E being the batch's own near_dup_sig_evidence, exactly what
    stream_curate now computes once and passes in — must produce the
    same decisions row-for-row: passing the rows is a signing-cost
    optimization, never a semantics change."""
    from scripts_spark.plans.pipeline import (
        boilerplate_sets,
        deduped_docs,
        near_dup_sig_evidence,
    )

    cfg = CurateConfig(num_buckets=4, near_dedup=True,
                       near_dedup_mode="neighbor")
    prev = pages_df(spark, 40, partitions=2, start=0)
    cur = pages_df(spark, 40, partitions=2, start=20)  # 20 docs overlap prev
    pdocs = deduped_docs(prev, cfg)
    hist = near_dup_sig_evidence(pdocs, boilerplate_sets(pdocs, cfg), cfg)

    cdocs = deduped_docs(cur, cfg)
    ev = near_dup_sig_evidence(cdocs, boilerplate_sets(cdocs, cfg), cfg)
    a = curate(cur, cfg, sig_history=hist)
    b = curate(cur, cfg, sig_history=hist, sig_current=ev)
    cols = sorted(a.columns)
    try:
        ra = sorted(map(str, a.select(*cols).collect()))
        rb = sorted(map(str, b.select(*cols).collect()))
    finally:
        drain_curate_persisted()
    assert ra == rb and len(ra) > 0
    # the 20 recrawled urls must be flagged against history (same-url
    # matches count; url-dedup across batches is a separate opt-in)
    flagged = sum("near_dup" in r["filter_reasons"]
                  for r in b.collect())
    drain_curate_persisted()
    assert flagged >= 20


def test_near_dup_losers_reuses_cur_sig_rows(spark):
    """With para_dedup off, _near_dup_losers must take BOTH its
    in-batch candidates and its history query from the caller's
    cur_sig_rows — not re-sign the batch. Pinned with counterfactual
    fake rows: two byte-identical docs whose fake band keys DON'T
    collide produce no in-batch pair (re-signing would have found
    one), while a dissimilar doc whose fake signature equals a fake
    history row's IS dropped against history."""
    from scripts_spark.plans.pipeline import _near_dup_losers

    cfg = CurateConfig(near_dedup=True, near_dedup_mode="neighbor")
    d = spark.createDataFrame(
        [
            ("https://a.se/1", ["samma text i båda dokumenten helt identiskt"]),
            ("https://a.se/2", ["samma text i båda dokumenten helt identiskt"]),
            ("https://a.se/3", ["helt annat innehåll utan motsvarighet alls"]),
        ],
        "url string, kept_paras array<string>",
    )
    sig_match = [7] * 16
    fake = spark.createDataFrame(
        [
            ("https://a.se/1", [1] * 16, [101, 102, 103, 104, 105, 106, 107, 108]),
            ("https://a.se/2", [2] * 16, [201, 202, 203, 204, 205, 206, 207, 208]),
            ("https://a.se/3", sig_match, [301, 302, 303, 304, 305, 306, 307, 308]),
        ],
        "url string, sig array<bigint>, bks array<bigint>",
    )
    hist = spark.createDataFrame(
        [("https://old.se/x", sig_match, [999, 302, 998, 997, 996, 995, 994, 993])],
        "url string, sig array<bigint>, bks array<bigint>",
    )
    losers = {r["url"]: r["near_dup_of"]
              for r in _near_dup_losers(d, cfg, sig_history=hist,
                                        cur_sig_rows=fake).collect()}
    assert losers == {"https://a.se/3": "https://old.se/x"}


def test_near_dup_losers_rejects_unknown_history_layout(spark):
    """Layout dispatch is by exact column set — a history frame that
    merely CONTAINS one shape plus extras must be refused, not
    silently routed to the wrong branch."""
    from scripts_spark.plans.pipeline import _near_dup_losers

    cfg = CurateConfig(near_dedup=True, near_dedup_mode="neighbor")
    d = spark.createDataFrame(
        [("https://a.se/1", ["lite text i ett dokument här"])],
        "url string, kept_paras array<string>",
    )
    bad = spark.createDataFrame(
        [], "url string, sig array<bigint>, bks array<bigint>, band int, "
            "band_key long",
    )
    with pytest.raises(ValueError, match="compact .* or exploded"):
        _near_dup_losers(d, cfg, sig_history=bad)
