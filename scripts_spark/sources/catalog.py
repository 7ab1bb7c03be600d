"""Thin IO/catalog layer: checkpointed, resumable writes.

Iceberg is the production target (snapshot commits, metadata pruning);
this sandbox has no Iceberg jar, so the same contract is implemented
as parquet-per-bucket plus a manifest table (SURVEY.md §7.3 "Iceberg in
sandbox"). The job-facing API is identical in both modes:

    remaining = anti_join(input, manifest)      # resume
    write_bucket(...); append_manifest(bucket)  # commit unit

The commit unit is ``(job_id, bucket)``:

- ``job_id`` scopes the unit to one logical job run — 0 for plain batch
  jobs, the micro-batch id for streaming, so later micro-batches are
  never skipped just because an earlier batch touched the same bucket;
- the data write targets ``data/job_id=J/bucket=B`` with DYNAMIC
  partition overwrite, so a crash between the data write and the
  manifest append leaves orphan files that the retry REPLACES instead
  of appending next to (no duplicate rows on resume);
- the manifest append is the commit point; ``read_output`` returns only
  rows whose (job_id, bucket) has a manifest row, so orphans from a
  mid-commit crash are invisible even before the retry runs.

A killed run resumes from the last committed unit; reruns are
idempotent because outputs are deterministic (content-hash ids, seeded
everything) — proven by tests/test_resume.py including a simulated
mid-commit crash (data written, manifest missing).

The reference's analog is download/convert caching + skip-if-exists
(/root/reference/src/add_modern_pagenumbers.py:57-74) and the
"one year at a time" advice; here it is a first-class engine feature.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from scripts_spark.plans.pipeline import REASONS

MANIFEST_SCHEMA = "job_id long, bucket long, n_rows long, n_kept long, commit_seq long"


def manifest_path(base: str) -> str:
    return os.path.join(base, "_manifest")


def read_manifest(spark: SparkSession, base: str) -> DataFrame:
    p = manifest_path(base)
    try:
        return spark.read.parquet(p)
    except Exception:
        return spark.createDataFrame([], MANIFEST_SCHEMA)


def completed_buckets(spark: SparkSession, base: str, job_id: int = 0) -> set[int]:
    m = read_manifest(spark, base).filter(F.col("job_id") == job_id)
    return {r["bucket"] for r in m.collect()}


def remaining_buckets(decisions: DataFrame, base: str, job_id: int = 0) -> DataFrame:
    """Resume = anti-join against this job's committed-bucket manifest."""
    m = (
        read_manifest(decisions.sparkSession, base)
        .filter(F.col("job_id") == job_id)
        .select("bucket")
    )
    return decisions.join(F.broadcast(m), "bucket", "left_anti")


def commit_buckets(decisions: DataFrame, base: str, job_id: int = 0) -> dict[str, int]:
    """Write all not-yet-committed buckets of ``job_id``: data under
    data/job_id=J/bucket=B via dynamic partition overwrite, then one
    manifest row per bucket with its metrics. The manifest append is
    the commit point; a crash before it leaves orphan partition dirs
    that (a) read_output never surfaces (manifest semi-join) and
    (b) the resumed run overwrites in place (same deterministic rows)."""
    # persist the delta: the data write, per-bucket metrics, and the
    # manifest commit are three actions — without a checkpoint the full
    # upstream plan (repair + boilerplate + langid + ppx) would run 3x
    todo = remaining_buckets(decisions, base, job_id).persist()
    try:
        (
            todo.withColumn("job_id", F.lit(job_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("job_id", "bucket")
            .parquet(os.path.join(base, "data"))
        )
        # persist the per-partition metrics table alongside the data
        # (north rule: per-partition metrics written with the commit);
        # same dynamic-overwrite unit, so a crash-retry replaces rather
        # than duplicates, and the manifest semi-join in metrics_log
        # hides orphans exactly as read_output does for data
        (
            partition_metrics(todo)
            .withColumn("job_id", F.lit(job_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("job_id", "bucket")
            .parquet(os.path.join(base, "_metrics"))
        )
        metrics = todo.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        )
        rows = metrics.collect()
        if rows:
            spark = decisions.sparkSession
            prev = read_manifest(spark, base).agg(F.max("commit_seq")).collect()[0][0]
            seq = (prev if prev is not None else -1) + 1
            stamped = [
                (job_id, r["bucket"], r["n_rows"], r["n_kept"], seq) for r in rows
            ]
            spark.createDataFrame(stamped, MANIFEST_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(manifest_path(base))
        return {"committed_buckets": len(rows), "rows": sum(r["n_rows"] for r in rows)}
    finally:
        todo.unpersist()


def read_output(spark: SparkSession, base: str, as_of: int | None = None) -> DataFrame:
    """Committed rows only: semi-join on the (job_id, bucket) commit
    unit, so orphan files from a mid-commit crash never surface.
    ``as_of`` reads the snapshot as of a commit sequence (Iceberg
    time-travel semantics on the manifest: commit_seq <= as_of)."""
    out = spark.read.parquet(os.path.join(base, "data"))
    m = read_manifest(spark, base)
    if as_of is not None:
        m = m.filter(F.col("commit_seq") <= as_of)
    return out.join(F.broadcast(m.select("job_id", "bucket")), ["job_id", "bucket"], "left_semi")


def snapshots(spark: SparkSession, base: str) -> DataFrame:
    """One row per commit: seq, buckets, rows — the snapshot log."""
    return (
        read_manifest(spark, base)
        .groupBy("commit_seq")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_kept").alias("n_kept"),
        )
        .orderBy("commit_seq")
    )


def metrics_log(spark: SparkSession, base: str, as_of: int | None = None) -> DataFrame:
    """The committed per-partition metrics table: one row per
    (job_id, bucket) with row/keep counts and per-filter-reason counts,
    written at commit time. Same visibility rule as read_output —
    only manifest-committed units appear."""
    m = spark.read.parquet(os.path.join(base, "_metrics"))
    man = read_manifest(spark, base)
    if as_of is not None:
        man = man.filter(F.col("commit_seq") <= as_of)
    return m.join(F.broadcast(man.select("job_id", "bucket")), ["job_id", "bucket"], "left_semi")


def git_stable_sort(df: DataFrame) -> DataFrame:
    """SURVEY O2 (/root/reference/src/wikidata_process.py:14-17): total
    sort by EVERY column in schema order before writing, so the output
    file diffs stably under version control."""
    return df.orderBy(*df.columns)


def partition_metrics(decisions: DataFrame) -> DataFrame:
    """Per-partition (bucket) metrics: row counts, keep counts, and one
    column per filter reason — the per-partition visibility the north
    rule asks for (and the reference's per-year dashboards provide).
    The reason columns follow the pipeline's rule table, opt-in stages
    included, so the schema does not depend on which stages ran."""
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
    ] + [
        F.sum(F.array_contains("filter_reasons", r).cast("long")).alias(f"n_{r}")
        for r in REASONS
    ]
    return decisions.groupBy("bucket").agg(*aggs)
