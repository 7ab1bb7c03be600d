"""Structured streaming jobs."""

from __future__ import annotations

import os
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from scripts_spark.plans.pipeline import CurateConfig, curate
from scripts_spark.sources import catalog
from scripts_spark.sources.pages import PAGES_SCHEMA, pages_df
from scripts_spark.streaming import jobs as SJ


# -------------------------------------------------------- streaming
@pytest.fixture()
def tmpdirs():
    ds = [tempfile.mkdtemp() for _ in range(4)]
    yield ds
    for d in ds:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_curate_two_drops_no_data_loss(spark, tmpdirs):
    """Two DISJOINT crawl drops arriving as separate micro-batches:
    every document of BOTH batches must be committed (regression test
    for the bucket-keyed manifest silently dropping all of batch 2
    because batch 1 had already committed every bucket id)."""
    in_dir, out_dir, ckpt, _ = tmpdirs
    cfg = CurateConfig(num_buckets=8)
    # drop 1 arrives; process everything available
    d1 = pages_df(spark, 120, partitions=1, start=0)
    d1.write.mode("append").parquet(in_dir)
    q = SJ.stream_curate(spark, in_dir, out_dir, ckpt, cfg)
    q.awaitTermination(120)
    n1 = catalog.read_output(spark, out_dir).count()
    assert n1 == curate(d1, cfg).count() > 0
    # drop 2 (disjoint urls) arrives later; restart the stream on the
    # same checkpoint — only the new file is processed, as a NEW batch
    d2 = pages_df(spark, 120, partitions=1, start=120)
    d2.write.mode("append").parquet(in_dir)
    q = SJ.stream_curate(spark, in_dir, out_dir, ckpt, cfg)
    q.awaitTermination(120)
    out = catalog.read_output(spark, out_dir)
    # per-batch semantics: output == union of batch-curating each drop
    want = {
        (r["url"], r["doc_id"])
        for d in (d1, d2)
        for r in curate(d, cfg).select("url", "doc_id").collect()
    }
    got = {(r["url"], r["doc_id"]) for r in out.select("url", "doc_id").collect()}
    assert got == want
    assert out.count() == len(want)  # no duplicates either


def test_stream_curate_cross_batch_url_dedup(spark, tmpdirs):
    """With dedup_urls_across_batches: a url recrawled in a LATER
    micro-batch is dropped by the watermarked state, so the committed
    output has exactly one row per url."""
    in_dir, out_dir, ckpt, _ = tmpdirs
    cfg = CurateConfig(num_buckets=8)
    d1 = pages_df(spark, 80, partitions=1, start=0)
    d1.write.mode("append").parquet(in_dir)
    q = SJ.stream_curate(spark, in_dir, out_dir, ckpt, cfg,
                         dedup_urls_across_batches=True)
    q.awaitTermination(120)
    n1 = catalog.read_output(spark, out_dir).count()
    # drop 2: 40 new urls + 30 recrawls of drop-1 urls
    new = pages_df(spark, 40, partitions=1, start=80)
    recrawl = pages_df(spark, 30, partitions=1, start=0).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    )
    new.unionByName(recrawl).write.mode("append").parquet(in_dir)
    q = SJ.stream_curate(spark, in_dir, out_dir, ckpt, cfg,
                         dedup_urls_across_batches=True)
    q.awaitTermination(120)
    out = catalog.read_output(spark, out_dir)
    assert out.count() == n1 + curate(new, cfg).count()
    assert out.select("url").distinct().count() == out.count()


# Spark jobs of one url-dedup data trigger on the test session: the
# empty check, the commit's metrics collect (the AQE stages of the
# curate plan) and the data write. The manifest is read and appended on
# the driver.
DATA_TRIGGER_JOBS = 5


def _jobs_per_batch(spark, run_id) -> dict[int, int]:
    """Spark jobs of one streaming run, by micro-batch id (read from
    the batch description each job carries)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    per: dict[int, int] = {}
    for j in sc.statusTracker().getJobIdsForGroup(str(run_id)):
        b = int(re.search(r"batch = (\d+)", str(store.job(j).description())).group(1))
        per[b] = per.get(b, 0) + 1
    return per


def test_url_dedup_trigger_job_counts(spark, tmpdirs):
    """A url-dedup data trigger runs DATA_TRIGGER_JOBS Spark jobs. The
    no-data trigger that follows it (the watermark advance) runs one:
    the empty check, which stays because without it that trigger would
    run the whole curate plan and commit on empty input. It writes
    nothing under the output dir."""
    in_dir, out_dir, ckpt, _ = tmpdirs
    cfg = CurateConfig(num_buckets=8)
    jobs, rows = {}, {}
    for k in range(2):  # the second data trigger has a manifest to read
        pages_df(spark, 80, partitions=1, start=80 * k).write.mode("append").parquet(in_dir)
        q = SJ.stream_curate(spark, in_dir, out_dir, ckpt, cfg,
                             dedup_urls_across_batches=True)
        q.awaitTermination(120)
        jobs.update(_jobs_per_batch(spark, q.runId))
        rows.update((p["batchId"], p["numInputRows"]) for p in q.recentProgress
                    if "addBatch" in p["durationMs"])
    data = sorted(b for b, n in rows.items() if n > 0)
    empty = sorted(b for b, n in rows.items() if n == 0)
    assert data == [0, 2] and 1 in empty
    assert jobs[2] <= DATA_TRIGGER_JOBS
    assert {b: jobs[b] for b in empty} == {b: 1 for b in empty}
    committed = {r["job_id"] for r in catalog.read_manifest(spark, out_dir).collect()}
    assert committed == set(data)
    written = {n for n in os.listdir(os.path.join(out_dir, "data")) if n.startswith("job_id=")}
    assert written == {f"job_id={b}" for b in data}
    manifests = [n for n in os.listdir(catalog.manifest_path(out_dir)) if n.endswith(".parquet")]
    assert len(manifests) == len(data)


def test_stream_curate_cross_batch_boilerplate(spark, tmpdirs):
    """A nav line appearing in 2 docs per micro-batch (threshold: > 2
    docs) is invisible to per-batch boilerplate detection but must be
    stripped once the MERGED evidence crosses the threshold — the
    exact_boilerplate state table makes batch 2 see batch 1's counts."""
    import datetime

    in_dir, out_dir, ckpt, state = tmpdirs
    cfg = CurateConfig(num_buckets=4)
    nav = "hem nyheter kontakt arkiv om oss"

    def batch(i):
        rows = []
        for j in (0, 1):
            body = f"unik brödtext nummer {i}-{j} om riksdagens ärenden och voteringar"
            rows.append(
                (
                    f"https://boil.example.com/p{i}{j}",
                    datetime.datetime(2020, 1, 1 + i),
                    None,
                    nav + "\n" + body,
                    "sv",
                )
            )
        return spark.createDataFrame(rows, PAGES_SCHEMA)

    state_dir = state + "/boiler"
    batch(1).coalesce(1).write.mode("append").parquet(in_dir)
    q = SJ.stream_curate(spark, in_dir, out_dir, ckpt, cfg, boiler_state_dir=state_dir)
    q.awaitTermination(120)
    batch(2).coalesce(1).write.mode("append").parquet(in_dir)
    q = SJ.stream_curate(spark, in_dir, out_dir, ckpt, cfg, boiler_state_dir=state_dir)
    q.awaitTermination(120)

    out = {r["url"]: r["scrubbed_text"] for r in catalog.read_output(spark, out_dir).collect()}
    assert len(out) == 4
    # batch 1 committed before the evidence existed: line still there
    assert all("hem nyheter kontakt" in out[f"https://boil.example.com/p1{j}"] for j in (0, 1))
    # batch 2 sees merged counts (4 docs > 2): line stripped
    assert all(
        "hem nyheter kontakt" not in out[f"https://boil.example.com/p2{j}"] for j in (0, 1)
    ), {k: v for k, v in out.items() if "p2" in k}

    # control: per-batch mode (no state dir) never strips it
    import tempfile as _tf

    out2, ckpt2 = _tf.mkdtemp(), _tf.mkdtemp()
    try:
        # maxFilesPerTrigger=1 keeps the two drops in separate batches
        # (the point: per-batch evidence alone never crosses threshold)
        q = SJ.stream_curate(spark, in_dir, out2, ckpt2, cfg, max_files_per_trigger=1)
        q.awaitTermination(120)
        ctrl = {r["url"]: r["scrubbed_text"] for r in catalog.read_output(spark, out2).collect()}
        assert all("hem nyheter kontakt" in t for t in ctrl.values())
    finally:
        shutil.rmtree(out2, ignore_errors=True)
        shutil.rmtree(ckpt2, ignore_errors=True)


def test_boiler_state_replay_idempotent(spark, tmpdirs):
    """A crash-replayed micro-batch must OVERWRITE its own evidence
    partition, not append next to it — merged counts are identical
    after writing the same batch twice."""
    import datetime

    _, _, _, state = tmpdirs
    state_dir = state + "/reboil"
    rows = [
        (f"https://rep.example.com/p{j}", datetime.datetime(2020, 1, 1), None,
         "samma rad\nunik " + str(j), "sv")
        for j in range(3)
    ]
    batch = spark.createDataFrame(rows, PAGES_SCHEMA)
    cfg = CurateConfig(num_buckets=2)
    from scripts_spark.plans.pipeline import deduped_docs
    from scripts_spark.streaming.jobs import _merged_boiler

    docs = deduped_docs(batch, cfg)
    _merged_boiler(spark, docs, 7, state_dir, cfg)
    state = spark.read.parquet(f"{state_dir}/lines")
    # the state is HASH-KEYED: no paragraph strings on disk, just the
    # (domain, h1, h2, line_docs) key — bounded at ~24 bytes per line
    assert "para" not in state.columns, state.columns
    assert {"domain", "h1", "h2", "line_docs"} <= set(state.columns)

    def merged():
        return {
            (r["domain"], r["h1"], r["h2"]): r["line_docs"]
            for r in spark.read.parquet(f"{state_dir}/lines")
            .groupBy("domain", "h1", "h2").agg(F.sum("line_docs").alias("line_docs"))
            .collect()
        }

    first = merged()
    # replay the SAME batch_id (crash-retry): counts must not double
    _merged_boiler(spark, docs, 7, state_dir, cfg)
    again = merged()
    assert again == first
    h1, h2 = (
        spark.range(1)
        .select(
            F.xxhash64(F.lit("samma rad")),
            F.xxhash64(F.lit("boiler-h2"), F.lit("samma rad")),
        )
        .first()
    )
    assert first[("rep.example.com", h1, h2)] == 3


def test_boiler_state_compaction_bounds_files(spark, tmpdirs):
    """With compact_every=K the state table must stay bounded across
    >= 3K micro-batches — at most K-1 tail ``batch_id=`` partitions plus
    one compacted snapshot — while merged counts stay EXACT (equal to
    the sum over all batches). A replay of the batch that RAN the last
    compaction (the only id <= watermark a healthy stream can replay)
    must be a strict no-op, and a batch id BELOW the watermark — a
    fresh/rewound checkpoint pointed at old state — must fail fast
    instead of silently freezing evidence."""
    import datetime
    import os

    _, _, _, state = tmpdirs
    state_dir = state + "/compboil"
    cfg = CurateConfig(num_buckets=2)
    from scripts_spark.plans.pipeline import deduped_docs
    from scripts_spark.streaming.jobs import _compacted_through, _merged_boiler

    K = 3

    def run(bid):
        rows = [
            (f"https://cmp.example.com/b{bid}p{j}", datetime.datetime(2020, 1, 1),
             None, "gemensam nav-rad\nunik text " + str(bid * 10 + j), "sv")
            for j in range(2)
        ]
        docs = deduped_docs(spark.createDataFrame(rows, PAGES_SCHEMA), cfg)
        _, ld = _merged_boiler(spark, docs, bid, state_dir, cfg, compact_every=K)
        ld.unpersist()

    n_batches = 3 * K + 1
    for bid in range(n_batches):
        run(bid)
        tails = [d for d in os.listdir(f"{state_dir}/lines") if d.startswith("batch_id=")]
        assert len(tails) <= K, (bid, tails)
        snaps = (
            os.listdir(f"{state_dir}/lines_compacted")
            if os.path.isdir(f"{state_dir}/lines_compacted")
            else []
        )
        assert len(snaps) <= 1, (bid, snaps)

    def merged():
        last = n_batches - 1
        return {
            (r["domain"], r["h1"], r["h2"]): r["line_docs"]
            for r in SJ._state_view(
                spark, state_dir, last, last, None, [SJ._LINES],
            )["lines"].groupBy("domain", "h1", "h2").agg(F.sum("line_docs").alias("line_docs"))
            .collect()
        }

    h1, h2 = (
        spark.range(1)
        .select(
            F.xxhash64(F.lit("gemensam nav-rad")),
            F.xxhash64(F.lit("boiler-h2"), F.lit("gemensam nav-rad")),
        )
        .first()
    )
    first = merged()
    # exact: the shared nav line appeared in 2 docs in every batch
    assert first[("cmp.example.com", h1, h2)] == 2 * n_batches
    # replay the batch that ran the last compaction: strict no-op
    W = _compacted_through(state_dir)
    assert W >= 0
    run(W)
    assert merged() == first
    assert _compacted_through(state_dir) == W
    # a batch id BELOW the watermark = checkpoint/state mismatch
    with pytest.raises(ValueError, match="watermark"):
        run(0)
    # a corrupt/torn watermark marker must fail fast, not int()-crash
    # or (worse) silently read as -1 with already-GC'd tail partitions
    with open(f"{state_dir}/COMPACTED_THROUGH", "w") as f:
        f.write("")
    with pytest.raises(RuntimeError, match="corrupt compaction watermark"):
        _compacted_through(state_dir)


def test_boiler_state_legacy_schema_fails_fast(spark, tmpdirs):
    """A state_dir written by the pre-hash-keyed format (string 'para'
    column) must raise a clear error instead of failing inside the
    merge groupBy with missing h1/h2 columns."""
    import datetime

    _, _, _, state = tmpdirs
    state_dir = state + "/legacyboil"
    cfg = CurateConfig(num_buckets=2)
    (
        spark.createDataFrame(
            [("old.example.com", "gammal rad", 3, 0)],
            "domain string, para string, line_docs long, batch_id int",
        )
        .write.partitionBy("batch_id")
        .parquet(f"{state_dir}/lines")
    )
    from scripts_spark.plans.pipeline import deduped_docs
    from scripts_spark.streaming.jobs import _merged_boiler

    rows = [("https://old.example.com/p", datetime.datetime(2020, 1, 1), None,
             "text", "sv")]
    docs = deduped_docs(spark.createDataFrame(rows, PAGES_SCHEMA), cfg)
    with pytest.raises(ValueError, match="state format changed"):
        _merged_boiler(spark, docs, 1, state_dir, cfg)


def test_stream_curate_cross_batch_paragraph_dedup(spark, tmpdirs):
    """Three crawl drops with a paragraph repeated across drops: with
    span_state_dir set, the corpus paragraph-dedup stage drops a
    drop-2 (and drop-3) paragraph already recorded by drop 1 — the
    survivor is the corpus-wide first occurrence even across
    micro-batch commits — while unique content is untouched. With
    compact_every=1 every batch also exercises the snapshot /
    watermark / GC path, so the history drop 3 dedups against lives
    in a compacted snapshot, not raw batch partitions."""
    import datetime
    import os

    in_dir, out_dir, ckpt, state = tmpdirs
    cfg = CurateConfig(num_buckets=4, para_dedup=True)
    span_dir = state + "/spanstate"
    P = "detta stycke upprepas i varje veckas leverans av samma nyhetsbrev"

    def drop(i):
        rows = [
            (
                f"https://d{i}.example.com/doc",
                datetime.datetime(2020, 2, 1 + i),
                None,
                P + "\n" + f"helt eget innehåll nummer {i} om utskottets betänkande",
                "sv",
            ),
            (
                f"https://d{i}.example.com/other",
                datetime.datetime(2020, 2, 1 + i),
                None,
                f"orelaterad sida nummer {i} utan upprepningar alls",
                "sv",
            ),
        ]
        return spark.createDataFrame(rows, PAGES_SCHEMA)

    for i in range(3):
        drop(i).coalesce(1).write.mode("append").parquet(in_dir)
        q = SJ.stream_curate(spark, in_dir, out_dir, ckpt, cfg,
                             span_state_dir=span_dir, compact_every=1)
        q.awaitTermination(120)

    out = {r["url"]: r["scrubbed_text"]
           for r in catalog.read_output(spark, out_dir).collect()}
    assert len(out) == 6
    assert P in out["https://d0.example.com/doc"]  # first occurrence survives
    for i in (1, 2):
        t = out[f"https://d{i}.example.com/doc"]
        assert P not in t, t  # historic duplicate stripped
        assert f"innehåll nummer {i}" in t  # unique tail untouched
    # unrelated docs never lose anything
    for i in range(3):
        assert f"sida nummer {i}" in out[f"https://d{i}.example.com/other"]
    # compaction actually ran each trigger: watermark at batch 1 (the
    # last FOLDED batch), folded partitions and superseded snapshots
    # GC'd — drop 3's history came from the snapshot
    with open(span_dir + "/COMPACTED_THROUGH") as f:
        assert f.read().strip() == "1"
    assert sorted(
        d for d in os.listdir(span_dir + "/spans") if d.startswith("batch_id=")
    ) == ["batch_id=2"]
    assert os.listdir(span_dir + "/spans_compacted") == ["through=1"]


def test_stream_curate_span_state_requires_para_dedup(spark, tmpdirs):
    in_dir, out_dir, ckpt, state = tmpdirs
    with pytest.raises(ValueError, match="para_dedup"):
        SJ.stream_curate(spark, in_dir, out_dir, ckpt, CurateConfig(),
                         span_state_dir=state + "/s")


def test_span_state_replay_sees_history_exclusive_of_itself(spark, tmpdirs):
    """The span-dedup replay invariant: a crash-replayed micro-batch
    whose own spans partition ALREADY EXISTS (written before the
    crash) must get the same history its first attempt saw — if its
    own partition leaked into history, every paragraph of the replayed
    batch would be dropped as 'already seen' and the batch would
    commit empty text. Also pins: no paragraph strings on disk, and
    the foreign-checkpoint fail-fast."""
    import datetime

    import pytest as _pt

    _, _, _, state = tmpdirs
    span_dir = state + "/respan"
    cfg = CurateConfig(num_buckets=2, para_dedup=True)
    from scripts_spark.plans.pipeline import boilerplate_sets, deduped_docs
    from scripts_spark.streaming.jobs import _span_state, _write_span_evidence

    def batch(i, text):
        rows = [(f"https://rs{i}.example.com/p", datetime.datetime(2020, 3, 1),
                 None, text, "sv")]
        return spark.createDataFrame(rows, PAGES_SCHEMA)

    def process(bid, text):
        docs = deduped_docs(batch(bid, text), cfg)
        boiler = boilerplate_sets(docs, cfg)
        hist = {(r["h1"], r["h2"])
                for r in _span_state(spark, span_dir, bid, None).collect()}
        _write_span_evidence(docs, boiler, bid, span_dir)
        return hist

    h0 = process(0, "första raden\nandra raden")
    assert h0 == set()
    h1_first = process(1, "första raden\ntredje raden")
    assert len(h1_first) == 2  # sees batch 0's two spans
    # crash-replay of batch 1: its own partition exists on disk now,
    # but history must be identical to the first attempt
    h1_replay = process(1, "första raden\ntredje raden")
    assert h1_replay == h1_first
    # no strings on disk — only the 16-byte keys + partition column
    st = spark.read.parquet(f"{span_dir}/spans")
    assert set(st.columns) == {"h1", "h2", "batch_id"}
    # double write stayed idempotent: batch 1's partition holds its
    # own distinct spans once
    assert st.filter(F.col("batch_id") == 1).count() == 2
    # a batch id at/below the compaction watermark = foreign checkpoint
    _span_state(spark, span_dir, 5, compact_every=1)  # folds through=4
    with _pt.raises(ValueError, match="watermark"):
        _span_state(spark, span_dir, 4, None)


def test_stream_curate_cross_batch_near_dedup(spark, tmpdirs):
    """Two crawl drops where drop 2 reposts a drop-1 page's content at
    a DIFFERENT url: with sig_state_dir set, the near-dedup stage
    drops the repost against the signature history (url-dedup cannot
    catch it — the url is new; within-batch LSH cannot either — the
    original is in an already-committed batch), while unrelated drop-2
    content is untouched and drop 1 keeps its own decisions. With
    compact_every=1 the history drop 2 reads lives in a compacted
    snapshot, exercising the watermark/GC path for signature rows."""
    import datetime
    import os

    in_dir, out_dir, ckpt, state = tmpdirs
    cfg = CurateConfig(num_buckets=4, near_dedup=True,
                       near_dedup_mode="neighbor")
    sig_dir = state + "/sigstate"
    BODY = ("riksdagen behandlade i dag utskottets omfattande betänkande "
            "om den nya förvaltningslagen\n"
            "beslutet fattades efter en lång debatt där flera ledamöter "
            "yttrade sig om förslagets konsekvenser")

    def drop(i, rows):
        df = spark.createDataFrame(rows, PAGES_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(in_dir)
        q = SJ.stream_curate(spark, in_dir, out_dir, ckpt, cfg,
                             sig_state_dir=sig_dir, compact_every=1)
        q.awaitTermination(180)

    drop(0, [
        ("https://a0.example.com/orig", datetime.datetime(2020, 4, 1),
         None, BODY, "sv"),
        ("https://a0.example.com/other", datetime.datetime(2020, 4, 1),
         None, "helt annat innehåll om en orelaterad fråga i kammaren",
         "sv"),
    ])
    drop(1, [
        ("https://b1.example.com/repost", datetime.datetime(2020, 4, 2),
         None, BODY, "sv"),
        ("https://b1.example.com/fresh", datetime.datetime(2020, 4, 2),
         None, "ytterligare unikt innehåll utan motsvarighet i arkivet",
         "sv"),
    ])

    out = {r["url"]: r["filter_reasons"]
           for r in catalog.read_output(spark, out_dir).collect()}
    assert len(out) == 4
    assert "near_dup" in out["https://b1.example.com/repost"]
    for u in ("https://a0.example.com/orig", "https://a0.example.com/other",
              "https://b1.example.com/fresh"):
        assert "near_dup" not in out[u], (u, out[u])
    # state carries signatures, never text; compaction folded batch 0
    st = spark.read.parquet(f"{sig_dir}/sigs")
    assert set(st.columns) == {"url", "sig", "bks", "batch_id"}
    with open(sig_dir + "/COMPACTED_THROUGH") as f:
        assert f.read().strip() == "0"
    assert os.listdir(sig_dir + "/sigs_compacted") == ["through=0"]


def test_stream_curate_sig_state_requires_near_dedup(spark, tmpdirs):
    in_dir, out_dir, ckpt, state = tmpdirs
    with pytest.raises(ValueError, match="near_dedup"):
        SJ.stream_curate(spark, in_dir, out_dir, ckpt, CurateConfig(),
                         sig_state_dir=state + "/s")


def test_curate_sig_history_requires_near_dedup(spark):
    from scripts_spark.plans.pipeline import curate as _curate

    hist = spark.createDataFrame(
        [], "url string, sig array<bigint>, bks array<bigint>")
    with pytest.raises(ValueError, match="near_dedup"):
        _curate(spark.createDataFrame([], PAGES_SCHEMA), CurateConfig(),
                sig_history=hist)


def test_stream_curate_same_url_recrawl_caught_by_sig_history(spark, tmpdirs):
    """An UNCHANGED recrawl of the same url in a later drop, with
    cross-batch url-dedup OFF (it is an independent opt-in): the
    signature history must still catch it — stale corpus content is
    stale whether it reappears at the same url or a new one.
    Regression pin for the removed url != h_url self-exclusion, whose
    comment wrongly assumed url-dedup was 'watermarked upstream'."""
    import datetime

    in_dir, out_dir, ckpt, state = tmpdirs
    cfg = CurateConfig(num_buckets=4, near_dedup=True,
                       near_dedup_mode="neighbor")
    sig_dir = state + "/sigstate"
    BODY = ("kammaren fortsatte behandlingen av propositionen om "
            "statsbudgetens ramar för det kommande året\n"
            "talmannen konstaterade att ärendet var färdigdebatterat "
            "och att beslut skulle fattas vid voteringen")
    U = "https://recrawl.example.com/page"

    def drop(rows):
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        q = SJ.stream_curate(spark, in_dir, out_dir, ckpt, cfg,
                             sig_state_dir=sig_dir)
        q.awaitTermination(180)

    drop([(U, datetime.datetime(2021, 1, 1), None, BODY, "sv")])
    drop([(U, datetime.datetime(2021, 2, 1), None, BODY, "sv")])

    rows = [
        r["filter_reasons"]
        for r in catalog.read_output(spark, out_dir).collect()
        if r["url"] == U
    ]
    assert len(rows) == 2
    assert sorted("near_dup" in rs for rs in rows) == [False, True]
    # the stream pinned its MinHash parameterization on first use
    with open(sig_dir + "/SIG_PARAMS") as f:
        assert f.read().strip() == "hashes=16 bands=8 shingle_k=3"


def test_sig_state_params_mismatch_fails_fast(spark, tmpdirs):
    """Resuming a sig store under a different MinHash parameterization
    must raise at setup, not silently stop matching: the (url, sig,
    bks) row shape is identical for any (hashes, bands, shingle_k), so
    only the SIG_PARAMS marker can detect the drift."""
    in_dir, out_dir, ckpt, state = tmpdirs
    sig_dir = state + "/sigstate"
    cfg = CurateConfig(near_dedup=True)
    SJ._check_sig_params(sig_dir, cfg)          # first use: pins params
    SJ._check_sig_params(sig_dir, cfg)          # same params: fine
    # a store written under other MinHash params
    with open(sig_dir + "/SIG_PARAMS", "w") as f:
        f.write("hashes=32 bands=8 shingle_k=3\n")
    with pytest.raises(ValueError, match=r"MinHash\s+params"):
        SJ._check_sig_params(sig_dir, cfg)
    # and stream_curate actually routes through the guard
    with pytest.raises(ValueError, match=r"MinHash\s+params"):
        SJ.stream_curate(spark, in_dir, out_dir, ckpt, cfg, sig_state_dir=sig_dir)


def test_stream_curate_repost_caught_despite_para_dedup(spark, tmpdirs):
    """para_dedup AND near_dedup both on, both with cross-batch state:
    drop 2 reposts a drop-1 page (same paragraphs + one new line) at a
    new url. The span history strips the repeated paragraphs BEFORE
    the near-dedup stage rewrites kept_paras — so the history-query
    signature must be built from the PRE-paragraph-dedup text (the
    same form the store signs), or Jaccard vs the stored full-text
    signature collapses to the edited remainder and the repost
    escapes. Regression pin for the sig_current capture in curate()."""
    import datetime

    in_dir, out_dir, ckpt, state = tmpdirs
    cfg = CurateConfig(num_buckets=4, para_dedup=True, near_dedup=True,
                       near_dedup_mode="neighbor")
    span_dir, sig_dir = state + "/spanstate", state + "/sigstate"
    # large shared body + tiny edit: true Jaccard ~0.96, so the
    # 16-component estimate (14/16 on these fixed seeds) clears the
    # >= 13 threshold — while the post-para-dedup remainder alone
    # ("kort avslutande kommentar") matches ~0 components, which is
    # exactly the counterfactual this test discriminates against
    PARAS = [
        "utskottet redovisade sitt omfattande betänkande om den nya "
        "lagstiftningen på arbetsmarknadens område och dess långsiktiga verkan",
        "flera ledamöter från olika partier deltog i den långa "
        "debatten om förslagets ekonomiska konsekvenser för kommunerna",
        "regeringen framhöll att reformen skulle genomföras stegvis "
        "under de kommande tre budgetåren med särskilda övergångsregler",
        "oppositionen invände att finansieringen var otillräcklig och "
        "begärde en fördjupad konsekvensanalys före ikraftträdandet",
        "talmannen ajournerade förhandlingarna till påföljande vecka då "
        "ärendet skulle tas upp till slutligt avgörande i kammaren",
        "betänkandet innehöll även en reservation från två ledamöter som "
        "förordade en alternativ modell för tillsynens organisering",
    ]

    def drop(rows):
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        q = SJ.stream_curate(spark, in_dir, out_dir, ckpt, cfg,
                             span_state_dir=span_dir,
                             sig_state_dir=sig_dir)
        q.awaitTermination(180)

    drop([("https://orig.example.com/a", datetime.datetime(2021, 3, 1),
           None, "\n".join(PARAS), "sv")])
    drop([("https://repost.example.com/b", datetime.datetime(2021, 3, 8),
           None, "\n".join(PARAS + ["kort avslutande kommentar"]), "sv")])

    out = {r["url"]: r["filter_reasons"]
           for r in catalog.read_output(spark, out_dir).collect()}
    assert "near_dup" not in out["https://orig.example.com/a"]
    assert "near_dup" in out["https://repost.example.com/b"], \
        out["https://repost.example.com/b"]


def test_stream_curate_banded_sig_store(spark, tmpdirs):
    """The band-key-PARTITIONED signature store (sig_store_buckets):
    three drops where drops 2 and 3 repost drop-1/drop-2 content at
    new urls. Same detection semantics as the compact layout, but the
    compacted snapshots are partitioned by pmod(band_key, N) and each
    trigger reads only its own buckets — with compact_every=1 the
    history both reposts are caught against lives in a banded
    snapshot, exercising the pruned-read path end-to-end."""
    import datetime
    import os

    in_dir, out_dir, ckpt, state = tmpdirs
    cfg = CurateConfig(num_buckets=4, near_dedup=True,
                       near_dedup_mode="neighbor")
    sig_dir = state + "/sigstate"
    BODY1 = ("utskottet behandlade den omfattande propositionen om "
             "ändrade regler för arbetslöshetsförsäkringen\n"
             "flera reservationer lämnades av ledamöter som ansåg att "
             "beredningen varit alltför forcerad")
    BODY2 = ("kammaren debatterade länge betänkandet om framtidens "
             "energipolitik och kärnkraftens roll i systemet\n"
             "omröstningen slutade med att utskottets förslag bifölls "
             "med bred majoritet över blockgränserna")

    def drop(rows):
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        q = SJ.stream_curate(spark, in_dir, out_dir, ckpt, cfg,
                             sig_state_dir=sig_dir, compact_every=1,
                             sig_store_buckets=16)
        q.awaitTermination(180)

    drop([("https://a.example.com/one", datetime.datetime(2022, 1, 1),
           None, BODY1, "sv")])
    drop([("https://b.example.com/two", datetime.datetime(2022, 1, 8),
           None, BODY2, "sv"),
          ("https://b.example.com/repost1", datetime.datetime(2022, 1, 8),
           None, BODY1, "sv")])
    drop([("https://c.example.com/repost2", datetime.datetime(2022, 1, 15),
           None, BODY2, "sv")])

    out = {r["url"]: r["filter_reasons"]
           for r in catalog.read_output(spark, out_dir).collect()}
    assert len(out) == 4
    assert "near_dup" in out["https://b.example.com/repost1"]
    assert "near_dup" in out["https://c.example.com/repost2"]
    assert "near_dup" not in out["https://a.example.com/one"]
    assert "near_dup" not in out["https://b.example.com/two"]
    # layout on disk: banded snapshot with bucket= partitions, marker
    # pinning the bucket count, GC of superseded snapshots
    snaps = sorted(os.listdir(sig_dir + "/sigs_banded"))
    assert snaps == ["through=1"]
    assert any(d.startswith("bucket=")
               for d in os.listdir(sig_dir + "/sigs_banded/through=1"))
    with open(sig_dir + "/SIG_PARAMS") as f:
        assert f.read().strip() == \
            "hashes=16 bands=8 shingle_k=3 store_buckets=16"


def test_banded_sig_state_prunes_partitions(spark, tmp_path):
    """_sig_state_banded must read only the snapshot buckets the
    current batch can match: the returned frame's scan carries a
    partition filter on bucket, and rows from other buckets never
    come back."""
    from pyspark.sql import functions as F

    state = str(tmp_path / "sig")
    rows = [
        ("u%d" % i, [i] * 16, b, 1000 + i, b)
        for i in range(8)
        for b in (i % 4,)
    ]
    df = spark.createDataFrame(
        rows, "url string, sig array<bigint>, band int, "
              "band_key long, bucket int",
    )
    df.write.partitionBy("bucket").parquet(state + "/sigs_banded/through=0")
    SJ._advance_watermark(state, 0)

    hist = SJ._sig_state_banded(spark, state, batch_id=5,
                                compact_every=None,
                                batch_buckets=[2], store_buckets=4)
    got = {r["url"] for r in hist.collect()}
    assert got == {"u2", "u6"}  # bucket 2 only
    plan = hist._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters", 1)[1][:200]
    # empty bucket set (batch with no signable text) reads nothing
    none = SJ._sig_state_banded(spark, state, batch_id=5,
                                compact_every=None,
                                batch_buckets=[], store_buckets=4)
    assert none.count() == 0


def test_sig_store_layout_drift_fails_fast(spark, tmp_path):
    """A compact store reopened as banded (or with a different bucket
    count) must raise: snapshots live in different layouts and the
    reader would silently see no history."""
    state = str(tmp_path / "sig")
    cfg = CurateConfig(near_dedup=True)
    SJ._check_sig_params(state, cfg)  # pins compact layout
    with pytest.raises(ValueError, match="params"):
        SJ._check_sig_params(state, cfg, store_buckets=16)
    state2 = str(tmp_path / "sig2")
    SJ._check_sig_params(state2, cfg, store_buckets=16)
    SJ._check_sig_params(state2, cfg, store_buckets=16)  # same: fine
    with pytest.raises(ValueError, match="params"):
        SJ._check_sig_params(state2, cfg, store_buckets=32)
    with pytest.raises(ValueError, match="params"):
        SJ._check_sig_params(state2, cfg)
    # and the CLI-level guard: buckets without a state dir
    with pytest.raises(ValueError, match="sig_state_dir"):
        SJ.stream_curate(spark, "/tmp/x", "/tmp/y", "/tmp/z",
                         CurateConfig(near_dedup=True),
                         sig_store_buckets=16)


def test_banded_sig_state_replay_excludes_own_batch(spark, tmp_path):
    """Crash-replay discipline for the banded layout, mirroring
    _span_state's: a batch that crashed AFTER writing its own evidence
    must see exactly the history its first attempt saw (its own
    partition excluded), and a checkpoint rolled back past the
    compaction watermark fails fast instead of silently shrinking
    history."""
    state = str(tmp_path / "sig")

    def rows_b(i):
        return spark.createDataFrame(
            [(f"u{i}", [i] * 16, [i * 10 + j for j in range(8)])],
            "url string, sig array<bigint>, bks array<bigint>",
        )

    SJ._write_sig_evidence(rows_b(0), 0, state)
    SJ._write_sig_evidence(rows_b(1), 1, state)
    # batch 2's read triggers compaction (through=1, tails folded+GC'd)
    h2 = SJ._sig_state_banded(spark, state, 2, 1, list(range(8)), 8)
    assert {r["url"] for r in h2.collect()} == {"u0", "u1"}
    # batch 2 writes its own evidence, then crashes; the replay's
    # history is unchanged — its own partition is excluded by the
    # batch_id bound, not by luck of GC timing
    SJ._write_sig_evidence(rows_b(2), 2, state)
    h2r = SJ._sig_state_banded(spark, state, 2, 1, list(range(8)), 8)
    assert {r["url"] for r in h2r.collect()} == {"u0", "u1"}
    with pytest.raises(ValueError, match="watermark"):
        SJ._sig_state_banded(spark, state, 1, 1, list(range(8)), 8)


def test_empty_history_compaction_never_wedges(spark, tmp_path):
    """A compaction of an all-empty history legitimately writes a
    zero-file snapshot and durably advances the watermark; the
    snapshot read-back must come back as an empty frame (explicit
    schema), not a schema-inference error that permanently wedges the
    state dir every restart thereafter — in both layouts."""
    # compact layout (spans)
    state = str(tmp_path / "spans")
    h = SJ._span_state(spark, state, batch_id=2, compact_every=1)
    assert h.count() == 0
    with open(state + "/COMPACTED_THROUGH") as f:
        assert f.read().strip() == "1"
    # replay and later batches keep working against the empty snapshot
    assert SJ._span_state(spark, state, 2, 1).count() == 0
    assert SJ._span_state(spark, state, 3, 1).count() == 0
    # banded layout (sigs)
    state2 = str(tmp_path / "sigs")
    hb = SJ._sig_state_banded(spark, state2, batch_id=2, compact_every=1,
                              batch_buckets=[0, 1], store_buckets=8)
    assert hb.count() == 0
    assert SJ._sig_state_banded(spark, state2, 3, 1, [0, 1], 8).count() == 0


def test_sig_store_buckets_validation(spark, tmp_path):
    """0 (and negatives) would pin the marker while _process silently
    ran the compact layout — rejected at setup."""
    for bad in (0, -8):
        with pytest.raises(ValueError, match="sig_store_buckets"):
            SJ.stream_curate(
                spark, str(tmp_path / "in"), str(tmp_path / "out"),
                str(tmp_path / "ck"), CurateConfig(near_dedup=True),
                sig_state_dir=str(tmp_path / "sig"),
                sig_store_buckets=bad,
            )


def test_process_failure_releases_caches(spark, tmpdirs):
    """A trigger that fails INSIDE the state machinery (watermark
    mismatch after its docs/signature frames were persisted and
    materialized) must release every frame it pinned: the persists
    happen before the failure point, so the finally has to cover the
    state reads, not only curate + commit."""
    import datetime

    in_dir, out_dir, ckpt, state = tmpdirs
    cfg = CurateConfig(num_buckets=4, near_dedup=True,
                       near_dedup_mode="neighbor")
    sig_dir = state + "/sigstate"
    rows = [("https://x.example.com/a", datetime.datetime(2023, 1, 1),
             None, "helt vanligt innehåll i en enda mening här", "sv")]
    spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    # sabotage: a watermark far ahead of any batch id this stream can
    # reach → _sig_state_banded's guard raises mid-_process
    import os
    os.makedirs(sig_dir, exist_ok=True)
    with open(sig_dir + "/COMPACTED_THROUGH", "w") as f:
        f.write("99")
    jsc = spark.sparkContext._jsc.sc()
    baseline = jsc.getPersistentRDDs().size()
    q = SJ.stream_curate(spark, in_dir, out_dir, ckpt, cfg,
                         sig_state_dir=sig_dir, sig_store_buckets=8)
    with pytest.raises(Exception, match="watermark"):
        q.awaitTermination(180)
        q.processAllAvailable()
    assert jsc.getPersistentRDDs().size() == baseline


def test_state_from_a_later_batch_fails_loudly(spark, tmp_path):
    """Evidence of a batch AFTER the current one is another
    checkpoint's state, not yet compacted — no replay produces it. A
    fresh checkpoint's batch 0 against it must fail before writing
    anything, instead of counting that evidence (boiler) or ignoring
    it (histories)."""
    import datetime
    import os

    from scripts_spark.plans.pipeline import boilerplate_sets, deduped_docs

    cfg = CurateConfig(num_buckets=2, para_dedup=True)
    boil, spans = str(tmp_path / "boil"), str(tmp_path / "spans")

    def docs(bid):
        rows = [
            (f"https://late.example.com/b{bid}p{j}",
             datetime.datetime(2020, 1, 1), None,
             "gemensam nav-rad\nunik text " + str(bid * 10 + j), "sv")
            for j in range(2)
        ]
        return deduped_docs(spark.createDataFrame(rows, PAGES_SCHEMA), cfg)

    for bid in range(4):  # run A: batches 0-3, never compacted
        d = docs(bid)
        _, ld = SJ._merged_boiler(spark, d, bid, boil, cfg)
        ld.unpersist()
        SJ._write_span_evidence(d, boilerplate_sets(d, cfg), bid, spans)
    before = sorted(os.listdir(boil + "/lines/batch_id=0"))
    with pytest.raises(ValueError, match="evidence of micro-batch 3"):
        SJ._merged_boiler(spark, docs(0), 0, boil, cfg)
    assert sorted(os.listdir(boil + "/lines/batch_id=0")) == before
    with pytest.raises(ValueError, match="evidence of micro-batch 3"):
        SJ._span_state(spark, spans, 1, None)


def test_empty_state_views_have_no_python_rdd(spark, tmp_path):
    """A store with no evidence in range reads as an empty
    LocalTableScan, not spark.createDataFrame([], schema)'s pickled
    Python RDD (Scan ExistingRDD)."""
    def check(v):
        plan = v._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan
        assert v.count() == 0

    check(SJ._span_state(spark, str(tmp_path / "spans"), 0, None))
    check(SJ._sig_state_banded(spark, str(tmp_path / "sigs"), 0, None, [], 8))
    for v in SJ._state_view(spark, str(tmp_path / "boil"), 0, 0, None,
                            [SJ._LINES, SJ._DOMAINS]).values():
        check(v)


def test_stream_curate_all_stores_compaction_equivalence(spark, tmp_path):
    """Boiler, span and signature state all on under the one
    compact_every knob: compacting every batch (each view read back
    from snapshots) commits exactly the decisions of never compacting
    (each view read from raw batch partitions), and every state dir
    ends with an advanced marker and one snapshot per table."""
    import datetime
    import os

    cfg = CurateConfig(num_buckets=4, para_dedup=True,
                       near_dedup=True, near_dedup_mode="neighbor")
    NAV = "hem nyheter kontakt arkiv om oss"
    P = "detta stycke upprepas i varje veckas leverans av samma nyhetsbrev"
    BODY = ("riksdagen behandlade i dag utskottets omfattande betänkande "
            "om den nya förvaltningslagen\n"
            "beslutet fattades efter en lång debatt där flera ledamöter "
            "yttrade sig om förslagets konsekvenser")
    TOPICS = ["skolans finansiering", "järnvägens underhåll",
              "vårdens köer", "polisens resurser", "skogens skydd",
              "bostädernas hyror"]
    in_dir = str(tmp_path / "in")
    for i in range(3):
        ts = datetime.datetime(2020, 5, 1 + i)
        rows = [
            (f"https://eq.example.com/nav{i}{j}", ts, None,
             f"{NAV}\nen lång artikel om {TOPICS[2 * i + j]} som "
             f"debatterades i kammaren dag {i}", "sv")
            for j in (0, 1)
        ] + [
            (f"https://eq{i}.example.com/para", ts, None,
             f"{P}\nhelt eget innehåll nummer {i} om utskottets betänkande",
             "sv"),
            (f"https://eq{i}.example.com/repost", ts, None, BODY, "sv"),
        ]
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(in_dir)

    def run(tag, k):
        st = {n: str(tmp_path / f"{tag}_{n}") for n in ("boil", "span", "sig")}
        out = str(tmp_path / f"{tag}_out")
        q = SJ.stream_curate(
            spark, in_dir, out, str(tmp_path / f"{tag}_ck"), cfg,
            max_files_per_trigger=1, boiler_state_dir=st["boil"],
            span_state_dir=st["span"], sig_state_dir=st["sig"],
            compact_every=k,
        )
        q.awaitTermination(600)
        dec = {
            r["url"]: (r["doc_id"], r["keep"], tuple(r["filter_reasons"]),
                       r["scrubbed_text"])
            for r in catalog.read_output(spark, out).collect()
        }
        return dec, st

    got, st = run("k1", 1)
    want, _ = run("none", None)
    assert got == want
    # every store changed a later drop's decisions
    assert NAV in got["https://eq.example.com/nav00"][3]
    assert NAV not in got["https://eq.example.com/nav20"][3]
    assert P in got["https://eq0.example.com/para"][3]
    assert P not in got["https://eq2.example.com/para"][3]
    assert "near_dup" not in got["https://eq0.example.com/repost"][2]
    assert "near_dup" in got["https://eq2.example.com/repost"][2]
    # batch 2 folded its own boiler evidence; the histories fold
    # through the previous batch
    for d, through, tables in ((st["boil"], 2, ("lines", "domains")),
                               (st["span"], 1, ("spans",)),
                               (st["sig"], 1, ("sigs",))):
        with open(d + "/COMPACTED_THROUGH") as f:
            assert int(f.read()) == through
        for t in tables:
            assert os.listdir(f"{d}/{t}_compacted") == [f"through={through}"]
