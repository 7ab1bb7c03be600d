"""Thin IO/catalog layer: checkpointed, resumable writes.

Iceberg is the production target (snapshot commits, metadata pruning);
this sandbox has no Iceberg jar, so the same contract is implemented
as parquet-per-bucket plus a manifest table (SURVEY.md §7.3 "Iceberg in
sandbox"). The job-facing API is identical in both modes:

    commit_buckets(decisions, base, job_id)  # resume + commit
    read_output(spark, base)                  # committed rows only

``commit_buckets`` writes every bucket of the job that the manifest
does not list yet and then commits them; ``completed_buckets`` names
the committed ones.

The commit unit is ``(job_id, bucket)``:

- ``job_id`` scopes the unit to one logical job run — 0 for plain batch
  jobs, the micro-batch id for streaming, so later micro-batches are
  never skipped just because an earlier batch touched the same bucket;
- the data write targets ``data/job_id=J/bucket=B`` with DYNAMIC
  partition overwrite, so a crash between the data write and the
  manifest append leaves orphan files that the retry REPLACES instead
  of appending next to (no duplicate rows on resume);
- the manifest append is the commit point, and the manifest row also
  carries the unit's metrics (row/keep counts and one count per filter
  reason), so metrics exist exactly for committed units; ``read_output``
  returns only rows whose (job_id, bucket) has a manifest row, so
  orphans from a mid-commit crash are invisible even before the retry
  runs.

Commit metadata lives on the driver, the way Iceberg handles table
metadata through its FileIO rather than through engine jobs: the
manifest is a directory of small parquet files that the driver reads
with pyarrow (one reader, ``_manifest_rows``, behind both the commit's
bookkeeping and ``read_manifest``) and appends to by writing one file
under a ``.``-prefixed temporary name and renaming it into place — the
rename is the commit point. Only the data write is a Spark job. The
files stay plain parquet with the ``MANIFEST_SCHEMA`` columns, so
manifests written by Spark (earlier versions of this module) and by the
driver read alike, either way.

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
import uuid

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from scripts_spark.plans.pipeline import REASONS
from scripts_spark.session import local_frame, per_app

METRIC_COLS = ("n_rows", "n_kept") + tuple(f"n_{r}" for r in REASONS)
MANIFEST_COLS = ("job_id", "bucket", "commit_seq") + METRIC_COLS
MANIFEST_SCHEMA = ", ".join(f"{c} long" for c in MANIFEST_COLS)
_MANIFEST_ARROW = pa.schema([(c, pa.int64()) for c in MANIFEST_COLS])
# An append that leaves more manifest data files than this folds them
# all into one file. Every commit reads the whole manifest, so without
# the fold a stream's commits would slow as it ages.
FOLD_AFTER = 64


class ManifestError(RuntimeError):
    """A manifest file that cannot be read (torn or corrupt)."""


def manifest_path(base: str) -> str:
    return os.path.join(base, "_manifest")


def _fs(path: str) -> tuple[pafs.FileSystem, str]:
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), os.path.abspath(path)


def _data_files(fs: pafs.FileSystem, path: str) -> list[str]:
    """The manifest's data files. ``_``/``.``-prefixed files (job
    markers, checksums, uncommitted appends) are skipped as Spark skips
    them."""
    return sorted(
        i.path for i in fs.get_file_info(pafs.FileSelector(path))
        if i.type == pafs.FileType.File and not i.base_name.startswith(("_", "."))
    )


def _read_rows(fs: pafs.FileSystem, files: list[str]) -> list[tuple]:
    """The rows of ``files`` as MANIFEST_COLS tuples, read with the
    explicit schema: files written before the reason counts moved here
    read them as NULL. A torn or corrupt file raises ManifestError
    naming it — it must not pass for "nothing committed" and trigger a
    full recommit. Exact duplicate rows are dropped: a fold stopped
    before its deletes leaves every folded row twice, and a
    (job_id, bucket, commit_seq) row is unique, so this reads the
    same rows."""
    dataset = pads.dataset(files, schema=_MANIFEST_ARROW, format="parquet", filesystem=fs)
    try:
        t = dataset.to_table(use_threads=False)
    except (pa.ArrowException, OSError) as e:
        for frag in dataset.get_fragments():  # find the file to name
            try:
                frag.to_table(schema=_MANIFEST_ARROW)
            except (pa.ArrowException, OSError) as bad:
                raise ManifestError(f"unreadable manifest file {frag.path}: {bad}") from bad
        raise ManifestError(f"unreadable manifest: {e}") from e
    return list(dict.fromkeys(zip(*(t.column(c).to_pylist() for c in MANIFEST_COLS))))


def _manifest_rows(base: str) -> list[tuple]:
    """Every manifest row, read on the driver (see _read_rows); a
    missing manifest has no rows."""
    fs, path = _fs(manifest_path(base))
    if fs.get_file_info(path).type == pafs.FileType.NotFound:
        return []
    return _read_rows(fs, _data_files(fs, path))


def _write_renamed(fs: pafs.FileSystem, path: str, name: str, rows: list[tuple]) -> None:
    """Write ``rows`` as ``path/name``: under a ``.``-prefixed name that
    readers skip, then renamed into place."""
    table = pa.Table.from_pylist([dict(zip(MANIFEST_COLS, r)) for r in rows], _MANIFEST_ARROW)
    with fs.open_output_stream(f"{path}/.{name}.tmp") as out:
        pq.write_table(table, out)
    fs.move(f"{path}/.{name}.tmp", f"{path}/{name}")


def _append_manifest(base: str, rows: list[tuple]) -> None:
    """Commit ``rows`` (MANIFEST_COLS tuples) as one new manifest file;
    its rename is the commit point. When that leaves more than
    FOLD_AFTER data files, fold them: every row goes into one file,
    renamed into place, then the folded files are deleted. A fold
    stopped before its deletes reads the same rows (see _read_rows),
    and the next append folds again."""
    fs, path = _fs(manifest_path(base))
    fs.create_dir(path, recursive=True)
    _write_renamed(fs, path, f"part-{rows[0][2]:05d}-{uuid.uuid4()}.parquet", rows)
    files = _data_files(fs, path)
    if len(files) > FOLD_AFTER:
        folded = _read_rows(fs, files)
        seq = max(r[2] for r in folded)
        _write_renamed(fs, path, f"fold-{seq:05d}-{uuid.uuid4()}.parquet", folded)
        for f in files:
            fs.delete_file(f)


def read_manifest(spark: SparkSession, base: str) -> DataFrame:
    """The manifest as a LocalTableScan over the driver's read of it
    (see _manifest_rows)."""
    return local_frame(spark, _manifest_rows(base), MANIFEST_SCHEMA)


def _committed(base: str, job_id: int) -> tuple[set[int], int]:
    """``job_id``'s committed buckets and the next commit_seq."""
    rows = _manifest_rows(base)
    done = {bucket for j, bucket, *_ in rows if j == job_id}
    return done, max((seq for _, _, seq, *_ in rows), default=-1) + 1


def _uncommitted(decisions: DataFrame, done: set[int]) -> DataFrame:
    return decisions.filter(~F.col("bucket").isin(sorted(done))) if done else decisions


def completed_buckets(spark: SparkSession, base: str, job_id: int = 0) -> set[int]:
    return _committed(base, job_id)[0]


def commit_buckets(decisions: DataFrame, base: str, job_id: int = 0) -> dict[str, int]:
    """Write all not-yet-committed buckets of ``job_id``: one driver-side
    manifest read, one data pass, one driver-side manifest append. The
    per-bucket metrics are collected first (filling the cache of the
    persisted delta), the data goes under data/job_id=J/bucket=B via
    dynamic partition overwrite from that cache, then one manifest file
    with a row per bucket carries the metrics and the commit_seq. The
    manifest append is the commit point; a crash before it leaves
    orphan partition dirs that (a) read_output never surfaces (manifest
    semi-join) and (b) the resumed run overwrites in place (same
    deterministic rows)."""
    done, seq = _committed(base, job_id)
    # persisted so the upstream plan (repair + boilerplate + langid +
    # ppx) runs once for both the metrics collect and the data write
    todo = _uncommitted(decisions, done).persist()
    try:
        metrics = partition_metrics(todo).collect()
        if not metrics:
            return {"committed_buckets": 0, "rows": 0}
        (
            todo.withColumn("job_id", F.lit(job_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("job_id", "bucket")
            .parquet(os.path.join(base, "data"))
        )
        _append_manifest(base, [
            (job_id, r["bucket"], seq, *(r[c] for c in METRIC_COLS)) for r in metrics
        ])
        return {"committed_buckets": len(metrics), "rows": sum(r["n_rows"] for r in metrics)}
    finally:
        todo.unpersist()


def _visible(spark: SparkSession, base: str, as_of: int | None) -> DataFrame:
    """Manifest rows committed as of a commit sequence (Iceberg
    time-travel semantics: commit_seq <= as_of); all when None."""
    m = read_manifest(spark, base)
    return m if as_of is None else m.filter(F.col("commit_seq") <= as_of)


def read_output(spark: SparkSession, base: str, as_of: int | None = None) -> DataFrame:
    """Committed rows only: semi-join on the (job_id, bucket) commit
    unit, so orphan files from a mid-commit crash never surface.
    ``as_of`` reads the snapshot as of a commit sequence."""
    out = spark.read.parquet(os.path.join(base, "data"))
    m = _visible(spark, base, as_of).select("job_id", "bucket")
    return out.join(F.broadcast(m), ["job_id", "bucket"], "left_semi")


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
    """The committed per-partition metrics: one row per (job_id, bucket)
    with row/keep counts and per-filter-reason counts. They are columns
    of the unit's manifest row, so only committed units appear."""
    return _visible(spark, base, as_of).select("job_id", "bucket", *METRIC_COLS)


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
    aggs = per_app(decisions.sparkSession, "catalog.metric_aggs", lambda: [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
    ] + [
        F.sum(F.array_contains("filter_reasons", r).cast("long")).alias(f"n_{r}")
        for r in REASONS
    ])
    return decisions.groupBy("bucket").agg(*aggs)
