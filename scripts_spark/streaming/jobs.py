"""Structured Streaming entry point: incremental ingest of crawl drops.

The reference pipeline is purely batch (SURVEY.md §2.10). Here a
file-source stream over the pages directory runs each micro-batch
through the SAME batch `curate` plan via foreachBatch and commits it
through the manifest catalog (exactly-once per bucket; the micro-batch
is the resume unit). Cross-document statistics are computed within the
micro-batch unless cross-batch state is asked for: url dedup across
batches (a watermarked dropDuplicatesWithinWatermark) and the
boilerplate, paragraph-span and near-dup signature stores, which share
one evidence writer, one watermark guard and one compaction routine
(see stream_curate).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from scripts_spark.plans.pipeline import (
    CurateConfig,
    boiler_kept_col,
    boiler_line_evidence,
    boiler_sets_from_counts,
    boilerplate_sets,
    curate,
    deduped_docs,
    drain_curate_persisted,
    near_dup_sig_evidence,
    span_hash_cols,
)
from scripts_spark.sources import catalog
from scripts_spark.session import local_frame
from scripts_spark.sources.pages import PAGES_SCHEMA


# how far behind the newest warc_ts a url stays in the cross-batch
# url-dedup state
DEDUP_WATERMARK = "30 days"


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    r = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.parquet(input_dir)


def stream_curate(spark: SparkSession, input_dir: str, out_dir: str,
                  checkpoint_dir: str, cfg: CurateConfig | None = None,
                  available_now: bool = True,
                  max_files_per_trigger: int | None = None,
                  dedup_urls_across_batches: bool = False,
                  boiler_state_dir: str | None = None,
                  span_state_dir: str | None = None,
                  sig_state_dir: str | None = None,
                  sig_store_buckets: int | None = None,
                  compact_every: int | None = 16):
    """File-source stream → batch curate per micro-batch → manifest
    commit. Returns the started StreamingQuery.

    ``dedup_urls_across_batches`` upgrades the documented per-batch
    url-dedup approximation to exact cross-batch semantics: a
    watermarked dropDuplicatesWithinWatermark("url") keeps one row per
    url across micro-batches (state bounded by the warc_ts watermark
    DEDUP_WATERMARK, 30 days — a recrawl of the same url more than
    that later is treated as a new document, which is the right call
    for a rolling crawl). State survives restarts via the checkpoint.

    ``boiler_state_dir`` upgrades boilerplate detection the same way:
    each micro-batch appends its (domain, line-hash) counts to a
    parquet state table (partitioned by batch_id with dynamic partition
    overwrite, so a crash-replayed batch overwrites rather than
    double-counts its own evidence), and the strip runs against the
    boiler sets derived from the MERGED counts, confirmed against the
    current batch's strings (see _merged_boiler). A boilerplate line
    whose evidence is split across micro-batches — each batch alone
    below threshold — is therefore stripped from every batch processed
    after the threshold is crossed (evidence grows monotonically;
    already-committed earlier batches are not rewritten).

    ``span_state_dir`` (requires ``cfg.para_dedup``) extends the
    corpus paragraph-dedup stage across micro-batches the same way:
    each batch appends the distinct 128-bit span keys of its
    post-boiler paragraphs, and the dedup stage drops any current
    paragraph whose key a PRIOR batch already recorded — an
    incremental crawl drop therefore dedups against the whole crawl
    history, not just its own batch, with state that is 16 bytes/span
    and compacted/GC'd on the same snapshot+watermark discipline.

    ``sig_state_dir`` (requires ``cfg.near_dedup``) does the same for
    NEAR-duplicate pages: each batch appends the (url, sig, bks)
    MinHash rows of its post-boiler documents (~25 longs/doc, never
    text), and the near-dedup stage additionally drops any current
    document whose signature near-matches a PRIOR batch's — an
    edited repost landing in a later crawl drop is caught against the
    whole crawl history. Cross-batch similarity is estimated from the
    signatures (matching components ≥ num/den of the hashes);
    within-batch pairs keep the exact shingle verify. Same-url history
    matches count (an unchanged recrawl is stale corpus content — it
    is NOT assumed that ``dedup_urls_across_batches`` is also on), and
    a SIG_PARAMS marker in the state dir fails fast if a later run
    changes the MinHash parameterization (see _check_sig_params).

    ``sig_store_buckets`` (requires ``sig_state_dir``) switches the
    signature store's compacted snapshots to the band-key-PARTITIONED
    layout (_sig_state_banded): snapshots are stored partitioned by
    pmod(band_key, N) and each trigger reads only the buckets its own
    band keys can match — O(batch × occupancy) instead of O(store)
    per trigger, the layout you'd run against a 10^12-document crawl
    history. The marker pins the layout too, so a store cannot be
    silently reopened under the other one.

    ``compact_every`` (None: never) bounds every store alike: each
    ``compact_every`` batches a store's tail is folded into one
    snapshot (_state_view). A state dir that belongs to another
    checkpoint fails the trigger (_guard_watermark).

    Each trigger starts with an empty check (one Spark job) and returns
    when the batch has no rows. It stays although the commit would
    write nothing for an empty batch either: with a watermark (url-dedup
    across batches) every data batch is followed by a no-data batch
    that advances it, and without the check that batch builds and runs
    the whole curate plan and the commit's metrics collect on no input —
    measured 1.4–2.2 s instead of 0.23–0.35 s per no-data trigger on a
    4-vCPU host, time the next crawl drop would queue behind."""
    cfg = cfg or CurateConfig()
    if span_state_dir is not None and not cfg.para_dedup:
        raise ValueError("span_state_dir requires CurateConfig.para_dedup=True")
    if sig_state_dir is not None and not cfg.near_dedup:
        raise ValueError("sig_state_dir requires CurateConfig.near_dedup=True")
    if sig_store_buckets is not None and sig_state_dir is None:
        raise ValueError("sig_store_buckets requires sig_state_dir")
    if sig_store_buckets is not None and sig_store_buckets < 1:
        # 0 would pin 'store_buckets=0' in the marker while _process's
        # truthiness check silently ran the compact layout — marker
        # and on-disk layout disagreeing forever
        raise ValueError(
            f"sig_store_buckets must be >= 1, got {sig_store_buckets}"
        )
    named = [
        ("boiler_state_dir", boiler_state_dir),
        ("span_state_dir", span_state_dir),
        ("sig_state_dir", sig_state_dir),
    ]
    seen: dict[str, str] = {}
    for name, p in named:
        if p is None:
            continue
        ap = os.path.abspath(p)
        if ap in seen:
            # every store keeps its compaction watermark at
            # <dir>/COMPACTED_THROUGH — sharing a directory would let
            # one stage's compaction advance (or roll back) another's
            # marker past snapshots its GC already deleted
            raise ValueError(
                f"{seen[ap]} and {name} must be distinct directories "
                f"(both set to {p!r})"
            )
        seen[ap] = name
    if sig_state_dir is not None:
        _check_sig_params(sig_state_dir, cfg, sig_store_buckets)
    stream = read_pages_stream(spark, input_dir, max_files_per_trigger)
    if dedup_urls_across_batches:
        stream = stream.withWatermark("warc_ts", DEDUP_WATERMARK)
        stream = stream.dropDuplicatesWithinWatermark(["url"])

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        boiler, docs, evidence, sig_cur = None, None, None, None
        any_state = (
            boiler_state_dir is not None
            or span_state_dir is not None
            or sig_state_dir is not None
        )
        if any_state:
            # compute + persist the deduped/repaired docs frame ONCE:
            # the evidence writes and the curate pass all read it
            # (without this the scan + url-dedup + repair chain runs 3x
            # per micro-batch)
            docs = deduped_docs(batch_df, cfg).persist()
        # everything that can fail AFTER a persist — state reads incl.
        # their fail-fast watermark guards, the bucket collect, curate,
        # the commit — runs under the one finally that releases every
        # frame this trigger pinned; a watermark ValueError must not
        # leak the materialized docs/signature caches into the shared
        # session
        try:
            if boiler_state_dir is not None:
                boiler, evidence = _merged_boiler(
                    spark, docs, batch_id, boiler_state_dir, cfg,
                    compact_every=compact_every,
                )
            elif any_state:
                # span/sig evidence and the strip must agree on the
                # boiler sets: compute the batch-local sets ONCE here
                # and hand them to curate as the override
                boiler = boilerplate_sets(docs, cfg)
            span_hist = None
            if span_state_dir is not None:
                span_hist = _span_state(
                    spark, span_state_dir, batch_id, compact_every
                )
            sig_hist = None
            if sig_state_dir is not None:
                # fail fast on a mismatched/compacted-ahead store
                # BEFORE paying the dominant per-batch cost below —
                # the state reads re-check this, but by then the whole
                # batch would already be signed and materialized on
                # every doomed restart attempt
                _guard_watermark(sig_state_dir, ["sigs"], batch_id, batch_id - 1)
                # sign the batch ONCE: the same (url, sig, bks) rows
                # serve curate's history comparison (and, with
                # para_dedup off, its in-batch candidates) AND the
                # post-commit store write — signing is the dominant
                # near-dedup cost per batch
                sig_cur = near_dup_sig_evidence(docs, boiler, cfg).persist()
                if sig_store_buckets:
                    # the batch's own bucket set drives snapshot
                    # partition pruning; driver-side collect is bounded
                    # by sig_store_buckets distinct ints, never by
                    # batch size
                    bb = _batch_buckets(sig_cur, sig_store_buckets)
                    sig_hist = _sig_state_banded(
                        spark, sig_state_dir, batch_id, compact_every,
                        bb, sig_store_buckets,
                    )
                else:
                    sig_hist = _sig_state(
                        spark, sig_state_dir, batch_id, compact_every
                    )
            dec = curate(batch_df, cfg, boiler_override=boiler, docs=docs,
                         span_history=span_hist, sig_history=sig_hist,
                         sig_current=sig_cur)
            # the commit unit is (job_id=batch_id, bucket): a replayed
            # micro-batch resumes its own partial commit, while a NEW
            # batch whose documents hash into buckets an earlier batch
            # already committed is still written in full (no
            # cross-batch skipping)
            catalog.commit_buckets(dec, out_dir, job_id=batch_id)
            if span_state_dir is not None:
                # AFTER the commit: a crash in between replays the
                # batch, which resumes the commit and rewrites its own
                # evidence partition (idempotent); history for the
                # replay is still exclusive of this batch (see
                # _span_state)
                _write_span_evidence(docs, boiler, batch_id, span_state_dir)
            if sig_state_dir is not None:
                _write_sig_evidence(sig_cur, batch_id, sig_state_dir)
        finally:
            if sig_cur is not None:
                sig_cur.unpersist()
            if docs is not None:
                docs.unpersist()
            # release exactly the frames curate() cached internally
            # (near-dedup post-boiler frame, its own docs persist when
            # we didn't pass one) — NOT catalog.clearCache(), which
            # would also evict every caller-owned cached frame in the
            # shared session
            drain_curate_persisted()
            if evidence is not None:
                evidence.unpersist()

    w = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _line_hashes(df: DataFrame) -> DataFrame:
    """Two independent 64-bit line hashes — a 128-bit combined key, so
    a cross-batch false merge needs a 2^-128 collision (vs 2^-64 for a
    single xxhash64, which at 10^12 lines has a real birthday risk)."""
    return df.withColumn("h1", F.xxhash64("para")).withColumn(
        "h2", F.xxhash64(F.lit("boiler-h2"), F.col("para"))
    )


# state dirs whose schema this process has already validated
_SCHEMA_CHECKED: set[str] = set()


@dataclass(frozen=True)
class _Store:
    """One cross-batch evidence table: per-batch rows in
    ``<state_dir>/<sub>/batch_id=<b>`` (the tail), folded by ``fold``
    (a sum for counts, a distinct for key sets) into
    ``<state_dir>/<snap>/through=<w>`` snapshots of row shape
    ``schema`` (partitioned by ``partition_by``, if set); ``tail`` maps
    stored tail rows to that shape."""

    sub: str
    snap: str
    schema: str
    fold: Callable[[DataFrame], DataFrame]
    tail: Callable[[DataFrame], DataFrame] = lambda df: df.drop("batch_id")
    partition_by: str | None = None


_LINES = _Store(
    "lines", "lines_compacted",
    "domain string, h1 long, h2 long, line_docs long",
    lambda v: v.groupBy("domain", "h1", "h2").agg(F.sum("line_docs").alias("line_docs")),
)
_DOMAINS = _Store(
    "domains", "domains_compacted", "domain string, domain_docs long",
    lambda v: v.groupBy("domain").agg(F.sum("domain_docs").alias("domain_docs")),
)
_SPANS = _Store("spans", "spans_compacted", "h1 long, h2 long", DataFrame.distinct)
_SIGS = _Store(
    "sigs", "sigs_compacted",
    "url string, sig array<bigint>, bks array<bigint>", DataFrame.distinct,
)


def _banded_sigs(store_buckets: int) -> _Store:
    """The banded layout of the signature store: the same compact
    (url, sig, bks) tail rows, exploded per band on read, and snapshots
    partitioned by ``bucket = pmod(band_key, store_buckets)``."""
    return _Store(
        "sigs", "sigs_banded",
        "url string, sig array<bigint>, band int, band_key long, bucket int",
        DataFrame.distinct,
        tail=lambda df: df.select(
            "url", "sig", F.posexplode("bks").alias("band", "band_key")
        ).withColumn("bucket", sig_bucket_col(F.col("band_key"), store_buckets)),
        partition_by="bucket",
    )


def _compacted_through(state_dir: str) -> int:
    """Compaction watermark: the largest batch_id whose evidence has
    been folded into the compacted snapshot (-1 = no snapshot yet).
    A single marker file updated by atomic rename — the read path
    trusts ONLY this marker, so a crash at any point of a compaction
    leaves stale files that are simply ignored (and GC'd by the next
    compaction), never double-counted."""
    p = f"{state_dir}/COMPACTED_THROUGH"
    if not os.path.exists(p):
        return -1
    with open(p) as f:
        raw = f.read().strip()
    try:
        return int(raw)
    except ValueError:
        # GC has already run against past watermarks, so an unreadable
        # marker can mean folded partitions are gone — silently treating
        # it as -1 would double-count nothing but would SHRINK the
        # merged evidence. Refuse to run on corrupt state.
        raise RuntimeError(
            f"corrupt compaction watermark {p!r} (contents {raw!r}): "
            "state dir needs manual inspection — the marker gates GC of "
            "folded evidence, so it cannot be guessed"
        ) from None


def _check_sig_params(state_dir: str, cfg: CurateConfig,
                      store_buckets: int | None = None) -> None:
    """Fail fast when a sig store is reused under different MinHash
    parameters. The stored rows ('url string, sig array<bigint>, bks
    array<bigint>') are shape-identical for ANY (num_hashes, bands,
    shingle_k), so unlike the boiler state's schema check nothing
    structural detects drift — band keys hashed over different slice
    widths just never match, zip_with null-pads sig vs h_sig, and
    cross-batch near-dedup silently stops catching reposts. A durable
    SIG_PARAMS marker written on first use pins the parameterization
    the way COMPACTED_THROUGH pins the checkpoint lineage. The banded
    store layout (and its bucket count) is pinned the same way: a
    compact store reopened with sig_store_buckets set (or vice versa,
    or with a different bucket count) would look for snapshots in the
    wrong layout entirely."""
    want = (
        f"hashes={cfg.near_dedup_hashes} bands={cfg.near_dedup_bands} "
        f"shingle_k={cfg.near_dedup_shingle_k}"
    )
    if store_buckets is not None:
        want += f" store_buckets={store_buckets}"
    p = f"{state_dir}/SIG_PARAMS"
    if os.path.exists(p):
        with open(p) as f:
            have = f.read().strip()
        if have != want:
            raise ValueError(
                f"sig state dir {state_dir!r} was written with MinHash "
                f"params [{have}] but this run configures [{want}]: "
                "stored signatures and band keys are incomparable "
                "across parameterizations — resume with the engine "
                "version that wrote the store or clear the sig state dir"
            )
        return
    os.makedirs(state_dir, exist_ok=True)
    tmp = f"{p}.tmp"
    with open(tmp, "w") as f:
        f.write(want)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, p)


def _advance_watermark(state_dir: str, batch_id: int) -> None:
    """Advance the marker DURABLY: fsync the tmp file before the
    rename and the directory after it. GC of folded partitions keys
    off this marker, so unlike the evidence writes (whose loss merely
    replays a batch) a torn/unflushed marker after power loss could
    orphan already-GC'd evidence — the one non-idempotent step."""
    tmp = f"{state_dir}/COMPACTED_THROUGH.tmp"
    with open(tmp, "w") as f:
        f.write(str(batch_id))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, f"{state_dir}/COMPACTED_THROUGH")
    dfd = os.open(state_dir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _batch_ids(state_dir: str, sub: str) -> list[int]:
    """The batch ids of the ``batch_id=`` tail partitions on disk."""
    base = f"{state_dir}/{sub}"
    names = os.listdir(base) if os.path.isdir(base) else []
    return [int(d.split("=")[1]) for d in names if d.startswith("batch_id=")]


def _gc_folded(state_dir: str, store: _Store, through: int) -> None:
    """Best-effort removal of evidence partitions already folded into
    the snapshot at ``through`` and of superseded snapshots. Failing
    here is harmless — the read path filters them out by the marker —
    so errors are swallowed (at crawl scale these are object-store
    deletes behind the manifest catalog, same semantics)."""
    for b in _batch_ids(state_dir, store.sub):
        if b <= through:
            shutil.rmtree(f"{state_dir}/{store.sub}/batch_id={b}",
                          ignore_errors=True)
    snaps = f"{state_dir}/{store.snap}"
    if os.path.isdir(snaps):
        for d in os.listdir(snaps):
            if d.startswith("through=") and int(d.split("=")[1]) < through:
                shutil.rmtree(f"{snaps}/{d}", ignore_errors=True)


def _guard_watermark(state_dir: str, subs: list[str], batch_id: int,
                     upto: int) -> int:
    """THE watermark guard of every store: the compaction watermark of
    ``state_dir`` for micro-batch ``batch_id`` reading evidence through
    batch ``upto``. Batch ids only ever grow, so two states mean a
    fresh or rewound checkpoint against another run's state and fail
    fast: ``upto`` behind the watermark (GC already deleted evidence
    the view needs), or a ``batch_id=`` partition of ``subs`` above
    an unfolded ``batch_id`` (another run's later evidence, not yet
    compacted — no replay produces it, and counting it is silently
    wrong). A batch at the watermark reads only the snapshot and
    writes nothing, so no tail partition can reach it."""
    through = _compacted_through(state_dir)
    fix = f"Resume with the original checkpoint_dir, or clear {state_dir!r}."
    if upto < through:
        raise ValueError(
            f"{'/'.join(subs)} state watermark ({through}) is ahead of "
            f"micro-batch id {batch_id}: this state_dir was compacted by "
            f"a different (or further-along) checkpoint. {fix}"
        )
    later = max((b for sub in subs for b in _batch_ids(state_dir, sub)),
                default=-1)
    if through < batch_id < later:
        raise ValueError(
            f"{'/'.join(subs)} state holds evidence of micro-batch {later}, "
            f"after micro-batch id {batch_id}: this state_dir was written "
            f"by a different checkpoint. {fix}"
        )
    return through


def _write_evidence(rows: DataFrame, batch_id: int, state_dir: str,
                    sub: str) -> None:
    """THE evidence writer: ``rows`` become this batch's own
    ``batch_id=`` partition of ``<state_dir>/<sub>``, with per-write
    dynamic overwrite (a writer option, never the session conf) so a
    crash-replayed batch replaces its partition. A batch at or below
    the watermark — the replay of the batch that ran the last
    compaction — is already folded: a strict no-op. The rebalance
    hint sizes files to the advisory target instead of one file per
    cached partition."""
    if batch_id <= _guard_watermark(state_dir, [sub], batch_id, batch_id):
        return
    (
        rows.withColumn("batch_id", F.lit(batch_id))
        .hint("rebalance")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{state_dir}/{sub}")
    )


def _snapshot(spark: SparkSession, state_dir: str, store: _Store,
              through: int) -> DataFrame:
    # explicit schema: an all-empty fold writes a zero-file snapshot,
    # and inference on it would wedge the dir once the marker moved
    return spark.read.schema(store.schema).parquet(
        f"{state_dir}/{store.snap}/through={through}"
    )


def _state_view(spark: SparkSession, state_dir: str, batch_id: int,
                upto: int, compact_every: int | None,
                stores: list[_Store]) -> dict[str, DataFrame]:
    """THE cross-batch state read: per store (keyed by ``sub``), the
    snapshot at the dir's watermark plus the ``batch_id=`` partitions
    in (watermark, upto]. ``upto`` is ``batch_id`` for the boiler
    counts (a batch's own evidence counts towards its strip) and
    ``batch_id - 1`` for the span and signature histories (a replay's
    own partition may exist from its crashed attempt; dedup against it
    would drop the whole batch), so a replay sees exactly what its
    first attempt saw.

    Once ``upto - watermark >= compact_every`` the view is folded into
    ``through=upto`` snapshots; the dir's single marker advances once
    ALL of them are written (a crash before leaves snapshots the
    marker never points to), then folded tails and superseded
    snapshots are GC'd. A trigger thus reads one snapshot plus at most
    ``compact_every`` tail partitions per store."""
    through = _guard_watermark(state_dir, [s.sub for s in stores],
                               batch_id, upto)
    views = {}
    for s in stores:
        if any(through < b <= upto for b in _batch_ids(state_dir, s.sub)):
            tail = s.tail(
                spark.read.parquet(f"{state_dir}/{s.sub}").filter(
                    (F.col("batch_id") > through) & (F.col("batch_id") <= upto)
                )
            )
        else:
            tail = local_frame(spark, [], s.schema)
        views[s.sub] = (
            tail if through < 0
            else tail.unionByName(_snapshot(spark, state_dir, s, through))
        )
    if not compact_every or upto - through < compact_every:
        return views
    for s in stores:
        out = s.fold(views[s.sub])
        w = (
            out.repartition(s.partition_by).write.partitionBy(s.partition_by)
            if s.partition_by else out.hint("rebalance").write
        )
        w.mode("overwrite").parquet(f"{state_dir}/{s.snap}/through={upto}")
    _advance_watermark(state_dir, upto)
    for s in stores:
        _gc_folded(state_dir, s, upto)
    return {s.sub: _snapshot(spark, state_dir, s, upto) for s in stores}


def _span_state(spark: SparkSession, state_dir: str, batch_id: int,
                compact_every: int | None) -> DataFrame:
    """Cross-batch paragraph-dedup history: the (h1, h2) span keys of
    every post-boiler paragraph processed by micro-batches BEFORE this
    one (see _state_view for why the history excludes the current
    batch — for first-occurrence dedup the exclusive read is the
    semantics, not just crash hygiene).

    Scale note: like the signature store, the span join scans the
    whole store per trigger; the same snapshot-bucketing evolution
    applies verbatim (_sig_state_banded is the template — partition
    snapshots by pmod(h1, N), push the batch's h1-bucket set down).
    One difference in when it pays: a batch's spans (~50/doc) cover
    far more buckets than its 8 band keys, so pruning only bites for
    trickle batches or very large N — which is exactly the
    incremental-crawl shape this store serves."""
    return _state_view(
        spark, state_dir, batch_id, batch_id - 1, compact_every, [_SPANS]
    )["spans"]


def _sig_state(spark: SparkSession, state_dir: str, batch_id: int,
               compact_every: int | None) -> DataFrame:
    """Cross-batch near-dup history: the (url, sig, bks) MinHash rows
    of every post-boiler document processed by micro-batches BEFORE
    this one — the span history's read, applied to signature rows.

    Scale note: the candidate join scans the whole store per trigger
    (fine while the store is snapshot + ≤K tail partitions of compact
    rows, and AQE broadcasts the small batch side), but at 10^12
    accumulated documents the per-trigger scan is the bottleneck. The
    production evolution is _sig_state_banded (opt in via
    stream_curate's sig_store_buckets): snapshots partitioned by
    pmod(band_key, N) with the batch's band-key set pushed down as a
    partition filter — O(batch x occupancy) per trigger instead of
    O(store), same marker/GC machinery."""
    return _state_view(
        spark, state_dir, batch_id, batch_id - 1, compact_every, [_SIGS]
    )["sigs"]


def sig_bucket_col(band_key: "F.Column | str", store_buckets: int):
    """THE bucket function of the banded signature store:
    pmod(band_key, N) as int. One definition — the snapshot writer,
    the per-trigger batch-bucket collect, and the bench's seeded
    stores must all bucket identically, or partition pruning silently
    reads the wrong buckets and cross-batch near-dups vanish with no
    error (the drift class SIG_PARAMS exists to catch for the hash
    params; the bucket function is pinned by sharing code instead)."""
    return F.pmod(band_key, F.lit(store_buckets)).cast("int")


def _batch_buckets(sig_rows: DataFrame, store_buckets: int) -> list[int]:
    """The distinct snapshot buckets a batch's (url, sig, bks) rows
    can match — ≤ store_buckets ints, safe to collect driver-side."""
    return [
        r["b"]
        for r in sig_rows.select(
            F.explode(
                F.transform("bks", lambda k: sig_bucket_col(k, store_buckets))
            ).alias("b")
        )
        .distinct()
        .collect()
    ]


def _sig_state_banded(spark: SparkSession, state_dir: str, batch_id: int,
                      compact_every: int | None, batch_buckets: list[int],
                      store_buckets: int) -> DataFrame:
    """The band-key-PARTITIONED evolution of _sig_state — the
    production layout the compact form's scale note describes. History
    rows come back pre-exploded as (url, sig, band, band_key), and the
    compacted snapshot is stored partitioned by
    ``bucket = pmod(band_key, store_buckets)`` so the per-trigger read
    prunes to the buckets the current batch can actually match
    (``batch_buckets``, derived from the batch's own band keys): at a
    10^12-document store a trickle batch touches O(batch × occupancy)
    partitions instead of scanning the whole store. Cost: the snapshot
    duplicates a doc's signature once per band (~8×, still ≈200
    longs/doc) — disk bought back as pruned reads, the standard
    index-table trade.

    Per-batch TAIL partitions stay in the compact (url, sig, bks)
    shape the evidence writer emits — they are ≤ compact_every batches
    and are exploded on the fly. The bucket filter applies to the
    whole view: a row outside the batch's buckets cannot match any of
    the batch's band keys, and on the snapshot it is a partition
    filter."""
    view = _state_view(
        spark, state_dir, batch_id, batch_id - 1, compact_every,
        [_banded_sigs(store_buckets)],
    )["sigs"]
    return view.filter(
        F.col("bucket").isin([int(b) for b in batch_buckets])
    ).select("url", "sig", "band", "band_key")


def _write_span_evidence(docs: DataFrame, boiler: DataFrame, batch_id: int,
                         state_dir: str) -> None:
    """Append this batch's post-boiler span keys (distinct 128-bit
    hashes, ~16 bytes/span — never the paragraph strings) as its own
    ``batch_id=`` partition (see _write_evidence).
    Evidence is the PRE-dedup kept paragraphs: spans this batch
    dropped as duplicates are already in history, so the union of
    histories is unchanged and the write needs no dependency on the
    strip itself (it can run after the bucket commit)."""
    para = docs.join(F.broadcast(boiler), "domain", "left").select(
        F.explode(boiler_kept_col()).alias("para")
    )
    h1, h2 = span_hash_cols(F.col("para"))
    _write_evidence(
        para.select(h1.alias("h1"), h2.alias("h2")).distinct(),
        batch_id, state_dir, "spans",
    )


def _write_sig_evidence(sig_rows: DataFrame, batch_id: int,
                        state_dir: str) -> None:
    """Append this batch's (url, sig, bks) MinHash rows as its own
    ``batch_id=`` partition (see _write_evidence). ``sig_rows`` is the
    near_dup_sig_evidence frame _process computed (and persisted) once
    for the whole trigger; see plans.pipeline.near_dup_sig_evidence
    for what the rows are and why losers are included."""
    _write_evidence(sig_rows, batch_id, state_dir, "sigs")


def _merged_boiler(spark: SparkSession, docs: DataFrame, batch_id: int,
                   state_dir: str, cfg: CurateConfig,
                   compact_every: int | None = None
                   ) -> tuple[DataFrame, DataFrame]:
    """Append this batch's boilerplate evidence to the state table,
    then return boiler sets derived from ALL batches' merged counts.

    The state is HASH-KEYED — (domain, h1, h2, line_docs), ~24 bytes
    per line key instead of the paragraph string — the streaming twin
    of the batch pipeline's hash-then-confirm (plans/pipeline.
    boilerplate_sets). The confirm side needs no historic strings:
    only a line PRESENT in the current batch can be stripped from the
    current batch, so the current batch's own (domain, para) rows are
    joined (strings in hand) against the merged hash counts, with the
    absolute > boiler_min_docs threshold applied hash-side first so
    the join's broadcast side is just the candidate nav/footer lines.

    Idempotent under micro-batch replay: the line and domain counts
    are written through _write_evidence (a replayed batch replaces its
    own partition; the replay of the batch that ran the last
    compaction skips its already-folded write), and the merged counts
    are the sum over the _state_view of batches through this one,
    compacted every ``compact_every`` batches.

    Returns (boiler_sets, persisted_line_docs): line_docs is persisted
    because TWO actions consume it — the state write here, and the
    lazy confirm join when curate runs the strip — and without the
    persist the batch's explode+groupBy aggregation would execute
    twice per micro-batch. The caller unpersists it after commit."""
    # one-time per process: schema inference on the state table costs
    # a listing + footer read per call — pointless on every trigger of
    # a long stream for a migration check whose answer cannot change
    # under this process's own writes
    if state_dir not in _SCHEMA_CHECKED and _batch_ids(state_dir, "lines"):
        legacy = spark.read.parquet(f"{state_dir}/lines")
        if "para" in legacy.columns or "h1" not in legacy.columns:
            raise ValueError(
                "boiler state format changed (found legacy string-keyed "
                f"schema {legacy.columns} in {state_dir}/lines); clear the "
                "state_dir or migrate it to (domain, h1, h2, line_docs)"
            )
        _SCHEMA_CHECKED.add(state_dir)
    # fail before pinning line_docs: only a returned frame is released
    _guard_watermark(state_dir, ["lines", "domains"], batch_id, batch_id)
    line_docs, dom_docs = boiler_line_evidence(docs, cfg)
    line_docs = line_docs.persist()
    _write_evidence(
        _line_hashes(line_docs).select("domain", "h1", "h2", "line_docs"),
        batch_id, state_dir, "lines",
    )
    _write_evidence(dom_docs, batch_id, state_dir, "domains")
    view = _state_view(spark, state_dir, batch_id, batch_id, compact_every,
                       [_LINES, _DOMAINS])
    merged_lines = _LINES.fold(view["lines"])
    merged_doms = _DOMAINS.fold(view["domains"])
    cand = merged_lines.filter(F.col("line_docs") > cfg.boiler_min_docs)
    confirmed = (
        _line_hashes(line_docs.select("domain", "para"))
        .join(F.broadcast(cand), ["domain", "h1", "h2"])
        .select("domain", "para", "line_docs")
    )
    return boiler_sets_from_counts(confirmed, merged_doms, cfg), line_docs
