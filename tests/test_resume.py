"""Checkpoint/resume + metrics: kill-and-rerun must produce output
identical to a single clean run (north rule resumability)."""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import threading

import pytest
from pyspark.sql import functions as F

from scripts_spark.plans.pipeline import CurateConfig, curate
from scripts_spark.sources import catalog
from scripts_spark.sources.pages import pages_df

CFG = CurateConfig(num_buckets=8)


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp()
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _decisions(spark):
    return curate(pages_df(spark, 300, partitions=4), CFG)


def test_resume_after_partial_commit(spark, outdir):
    dec = _decisions(spark)

    # simulate a crashed run: only buckets 0-3 committed
    partial = dec.filter(F.col("bucket") < 4)
    catalog.commit_buckets(partial, outdir)
    assert catalog.completed_buckets(spark, outdir) == {0, 1, 2, 3}

    # resume: recompute, anti-join manifest, commit the rest
    stats = catalog.commit_buckets(_decisions(spark), outdir)
    assert stats["committed_buckets"] == 4  # only the missing buckets

    # full clean run for comparison
    clean = tempfile.mkdtemp()
    try:
        catalog.commit_buckets(_decisions(spark), clean)
        got = {
            (r["url"], r["doc_id"], r["keep"])
            for r in catalog.read_output(spark, outdir).collect()
        }
        want = {
            (r["url"], r["doc_id"], r["keep"])
            for r in catalog.read_output(spark, clean).collect()
        }
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(clean, ignore_errors=True)


def test_mid_commit_crash_leaves_no_duplicates(spark, outdir):
    """Crash BETWEEN the data write and the manifest append: the orphan
    bucket files must be (a) invisible to read_output and (b) replaced,
    not appended to, by the resumed run."""
    dec = _decisions(spark)
    # simulate the torn commit: bucket 2's data written, manifest never
    # appended (exactly what catalog.commit_buckets writes, minus the
    # manifest step)
    (
        dec.filter(F.col("bucket") == 2)
        .withColumn("job_id", F.lit(0).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("job_id", "bucket")
        .parquet(outdir + "/data")
    )
    assert catalog.read_output(spark, outdir).count() == 0  # orphan invisible

    stats = catalog.commit_buckets(_decisions(spark), outdir)
    assert stats["committed_buckets"] == 8  # bucket 2 NOT skipped
    out = catalog.read_output(spark, outdir)
    assert out.count() == dec.count()
    assert out.select("url").distinct().count() == out.count()  # no dups


def _files(base):
    """Every file under ``base``, hidden ones (checksums, temporary
    manifest files) included."""
    return sorted(os.path.join(d, n) for d, _, names in os.walk(base) for n in names)


def test_recommit_is_noop(spark, outdir):
    catalog.commit_buckets(_decisions(spark), outdir)
    before = _files(outdir)
    stats = catalog.commit_buckets(_decisions(spark), outdir)
    assert stats["committed_buckets"] == 0 and stats["rows"] == 0
    assert _files(outdir) == before  # nothing added under data/ or _manifest/


def test_corrupt_manifest_fails_loudly(spark, outdir):
    """A torn manifest must not read as "nothing committed" — that
    would recommit every bucket at commit_seq 0 and lose the log. The
    commit fails on the catalog's error naming the file, before it
    writes anything."""
    catalog.commit_buckets(_decisions(spark).filter(F.col("bucket") < 4), outdir)
    torn = [f for f in _files(os.path.join(outdir, "_manifest")) if f.endswith(".parquet")]
    assert len(torn) == 1
    with open(torn[0], "wb") as fh:
        fh.write(b"not a parquet file")
    before = _files(outdir)
    with pytest.raises(catalog.ManifestError, match=re.escape(torn[0])):
        catalog.commit_buckets(_decisions(spark), outdir)
    assert _files(outdir) == before  # nothing new under data/ or _manifest/


def test_manifest_frames_have_no_python_rdd(spark, outdir, monkeypatch):
    """The manifest reads as a JVM-local frame (LocalTableScan), empty
    or not, never a pickled Python RDD, and its append launches no
    Spark job."""
    sc = spark.sparkContext
    real = catalog._append_manifest

    def in_group(*args):
        sc.setJobGroup("manifest_append", "manifest append")
        try:
            real(*args)
        finally:
            sc._jsc.clearJobGroup()

    monkeypatch.setattr(catalog, "_append_manifest", in_group)
    empty = catalog.read_manifest(spark, outdir)
    catalog.commit_buckets(_decisions(spark), outdir)
    full = catalog.read_manifest(spark, outdir)
    assert empty.count() == 0 and full.count() == 8  # one row per bucket
    assert list(sc.statusTracker().getJobIdsForGroup("manifest_append")) == []
    for df in (empty, full):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_manifest_reads_spark_written_files(spark, outdir):
    """A _manifest/ written by Spark — as earlier versions of the
    catalog wrote it: part files, _SUCCESS and .crc files, one file
    from before the reason counts moved into the manifest — reads back
    with identical rows, NULL for the columns a file lacks, and the
    next commit continues its commit_seq."""
    full = [(0, b, 0, 10 + b, b, *range(len(catalog.METRIC_COLS) - 2))
            for b in range(2)]
    spark.createDataFrame(full, catalog.MANIFEST_SCHEMA).coalesce(1).write.parquet(
        catalog.manifest_path(outdir))
    old = "job_id long, bucket long, n_rows long, n_kept long, commit_seq long"
    spark.createDataFrame([(0, 2, 30, 3, 1)], old).coalesce(1).write.mode(
        "append").parquet(catalog.manifest_path(outdir))
    names = os.listdir(catalog.manifest_path(outdir))
    assert "_SUCCESS" in names and any(n.startswith(".") for n in names)
    want = full + [(0, 2, 1, 30, 3) + (None,) * (len(catalog.METRIC_COLS) - 2)]
    assert sorted(catalog._manifest_rows(outdir)) == sorted(want)
    got = catalog.read_manifest(spark, outdir).collect()
    assert sorted(tuple(r) for r in got) == sorted(want)
    assert catalog.completed_buckets(spark, outdir) == {0, 1, 2}
    catalog.commit_buckets(_decisions(spark).filter(F.col("bucket") == 5), outdir)
    seqs = {r["bucket"]: r["commit_seq"] for r in catalog.read_manifest(spark, outdir).collect()}
    assert seqs == {0: 0, 1: 0, 2: 1, 5: 2}


def _manifest_row(seq):
    """A one-bucket commit's manifest row with distinct metric values."""
    return (seq % 3, seq % 8, seq, *range(seq, seq + len(catalog.METRIC_COLS)))


def _manifest_files(base):
    return sorted(os.listdir(catalog.manifest_path(base)))


def test_manifest_fold_bounds_files(outdir):
    """150 driver-side appends: an append that leaves more than
    FOLD_AFTER data files folds them into one, so the manifest never
    holds more than FOLD_AFTER files between commits, reads the same
    rows as the unfolded sequence, and commit_seq continues."""
    want = []
    for seq in range(150):
        catalog._append_manifest(outdir, [_manifest_row(seq)])
        want.append(_manifest_row(seq))
        assert len(_manifest_files(outdir)) <= catalog.FOLD_AFTER, seq
    names = _manifest_files(outdir)
    assert all(not n.startswith(".") for n in names)  # no temp file left
    assert sum(n.startswith("fold-") for n in names) == 1
    assert sorted(catalog._manifest_rows(outdir)) == sorted(want)
    assert catalog._committed(outdir, 0) == ({b % 8 for b in range(0, 150, 3)}, 150)


def test_manifest_fold_interrupted_before_deletes(outdir, monkeypatch):
    """A fold stopped after its rename but before deleting the files it
    folded leaves every row twice on disk; reads drop the duplicates,
    and the next append finishes the fold."""
    real = catalog._write_renamed

    def crash_after_fold(fs, path, name, rows):
        real(fs, path, name, rows)
        if name.startswith("fold-"):
            raise OSError("killed before the fold's deletes")

    monkeypatch.setattr(catalog, "_write_renamed", crash_after_fold)
    want = [_manifest_row(seq) for seq in range(catalog.FOLD_AFTER + 1)]
    for row in want[:-1]:
        catalog._append_manifest(outdir, [row])
    with pytest.raises(OSError, match="before the fold's deletes"):
        catalog._append_manifest(outdir, [want[-1]])
    names = _manifest_files(outdir)
    assert len(names) == catalog.FOLD_AFTER + 2  # the folded files and the fold
    assert catalog._manifest_rows(outdir) == want
    monkeypatch.undo()
    want.append(_manifest_row(len(want)))
    catalog._append_manifest(outdir, [want[-1]])
    assert [n.split("-")[0] for n in _manifest_files(outdir)] == ["fold"]
    assert catalog._manifest_rows(outdir) == want


# Spark jobs for one lazy curate() plus its commit into an empty base,
# measured on the test session (local[4], 8 buckets) once warm. The
# commit's share is one metrics collect (which runs the curate plan)
# and one data write; the manifest read and append are driver-side.
COMMIT_JOBS_MAX = 9


def test_commit_job_count(spark, outdir):
    # the first curate of a session runs extra one-off jobs; warm up
    catalog.commit_buckets(_decisions(spark), os.path.join(outdir, "warm"))
    base = os.path.join(outdir, "counted")
    sc = spark.sparkContext
    sc.setJobGroup("test_commit_job_count", "curate + commit")
    try:
        catalog.commit_buckets(_decisions(spark), base)
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("test_commit_job_count")
    assert 0 < len(jobs) <= COMMIT_JOBS_MAX
    assert not os.path.exists(os.path.join(base, "_metrics"))


# py4j round trips of one warm curate() on the test session, counted at
# the gateway client: the measured count plus 10%. Every pure Column
# tree is memoized per (config, application) and each stage is a few
# selects, so a warm build sends only the DataFrame operations.
CURATE_ROUND_TRIPS_MAX = 236  # measured: 215


def test_curate_round_trips(spark, monkeypatch):
    pages = pages_df(spark, 300, partitions=4)
    curate(pages, CFG)  # builds the memoized Column trees
    client = spark.sparkContext._gateway._gateway_client
    real, sent, me = client.send_command, [], threading.get_ident()

    def counting(*args, **kwargs):
        # py4j's finalizer thread sends object deletes on its own
        # connection, whenever it runs; count this thread's calls only
        if threading.get_ident() == me:
            sent.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    curate(pages, CFG)
    monkeypatch.undo()
    assert 0 < len(sent) <= CURATE_ROUND_TRIPS_MAX


def test_partition_metrics(spark):
    dec = _decisions(spark)
    m = catalog.partition_metrics(dec).collect()
    assert {r["bucket"] for r in m} <= set(range(8))
    total = sum(r["n_rows"] for r in m)
    assert total == dec.count()
    assert sum(r["n_lang"] for r in m) > 0  # reason metrics populated


def test_metrics_written_at_commit(spark, outdir):
    dec = _decisions(spark)
    catalog.commit_buckets(dec.filter(F.col("bucket") < 4), outdir)
    catalog.commit_buckets(_decisions(spark), outdir)
    # recommit is a no-op and must not duplicate metrics rows
    catalog.commit_buckets(_decisions(spark), outdir)
    m = catalog.metrics_log(spark, outdir)
    rows = m.collect()
    assert len(rows) == 8  # one row per committed (job_id=0, bucket)
    assert sum(r["n_rows"] for r in rows) == dec.count()
    assert sum(r["n_kept"] for r in rows) == dec.filter("keep").count()
    # reason-level columns present and populated
    assert sum(r["n_lang"] for r in rows) > 0
    # time travel applies to metrics too
    assert catalog.metrics_log(spark, outdir, as_of=0).count() == 4
    # the logged metrics are those of the committed rows, every reason
    recount = catalog.partition_metrics(catalog.read_output(spark, outdir))
    want = {r["bucket"]: r.asDict() for r in recount.collect()}
    assert m.columns == ["job_id", "bucket", *recount.columns[1:]]
    assert len(recount.columns) == 1 + 2 + 10
    assert {r["bucket"]: {k: v for k, v in r.asDict().items() if k != "job_id"}
            for r in rows} == want
    assert not os.path.exists(os.path.join(outdir, "_metrics"))


def test_snapshot_time_travel(spark, outdir):
    dec = _decisions(spark)
    catalog.commit_buckets(dec.filter(F.col("bucket") < 4), outdir)
    catalog.commit_buckets(_decisions(spark), outdir)

    snaps = catalog.snapshots(spark, outdir).collect()
    assert [s["commit_seq"] for s in snaps] == [0, 1]

    v0 = catalog.read_output(spark, outdir, as_of=0)
    v1 = catalog.read_output(spark, outdir, as_of=1)
    full = catalog.read_output(spark, outdir)
    assert set(r["bucket"] for r in v0.select("bucket").distinct().collect()) == {0, 1, 2, 3}
    assert v1.count() == full.count() > v0.count()


def test_resume_with_para_dedup_stage(spark, outdir):
    """Resume semantics extend through the corpus paragraph-dedup
    stage: its survivor rule (corpus-wide min (url, pidx)) is a pure
    function of the FULL input, so a resumed run — which recomputes
    globally but commits only the missing buckets — must reproduce
    byte-identical scrubbed text, reasons, and doc ids for every url,
    including docs whose paragraphs were deduped against docs living
    in already-committed buckets."""
    cfg = CurateConfig(num_buckets=8, para_dedup=True)

    def dec():
        df = pages_df(spark, 300, partitions=4)
        # plant cross-bucket duplicate content so dedup decisions span
        # the commit boundary: copy doc texts onto fresh urls
        extra = df.limit(0)
        dup = df.filter(F.xxhash64("url") % 10 == 0).select(
            F.concat(F.lit("https://resume-dup.example.com/"),
                     F.sha1("url")).alias("url"),
            "warc_ts", "html", "text", "lang",
        )
        return curate(df.unionByName(dup).unionByName(extra), cfg)

    partial = dec().filter(F.col("bucket") < 4)
    catalog.commit_buckets(partial, outdir)
    stats = catalog.commit_buckets(dec(), outdir)
    assert stats["committed_buckets"] == 4

    clean = tempfile.mkdtemp()
    try:
        catalog.commit_buckets(dec(), clean)
        cols = ["url", "doc_id", "keep", "scrubbed_text"]
        got = {tuple(r[c] for c in cols)
               for r in catalog.read_output(spark, outdir).select(cols).collect()}
        want = {tuple(r[c] for c in cols)
                for r in catalog.read_output(spark, clean).select(cols).collect()}
        assert got == want and len(got) > 300
        reasons = catalog.read_output(spark, outdir).select(
            F.explode("filter_reasons").alias("r")).distinct().collect()
        assert "para_dup_frac" in {r["r"] for r in reasons}
        # the committed per-partition metrics count the opt-in reason
        logged = catalog.metrics_log(spark, outdir).collect()
        assert sum(r["n_para_dup_frac"] for r in logged) > 0
        assert all(r["n_near_dup"] == 0 for r in logged)
    finally:
        shutil.rmtree(clean, ignore_errors=True)
