"""The flagship curation job: one DataFrame lineage from the pages
table to per-document keep/drop decisions.

Re-expresses the reference post-pipeline
(/root/reference/src/cur-prot/post-pipeline.py:135-146 — eleven full
corpus passes, one subprocess each) as a single declarative plan:

    scan → url-dedup (map-side-combined min) → bucket layout by id →
    per-row paragraph repair (array-side, zero shuffle) →
    domain-boilerplate detection (the one genuine cross-doc agg) →
    broadcast boiler-set back → per-row strip + PII scrub +
    token stats + langid + bigram perplexity → decisions → write

Scale design (100 TB / 1000 executors):
- text transforms (OCR repair, boiler strip, PII scrub, char counts)
  are array-side Column math in one whole-stage-codegen pass per row —
  no explode/regroup for anything that is per-document;
- the genuine cross-row work is the (domain, line) boilerplate count:
  one partial-agg'd shuffle whose tiny result broadcasts back;
- model lookups (langid word scores, bigram LM costs) run in one
  Arrow pandas UDF over broadcast model tables with a per-task token
  memo (functions/scoring_udf.py), NOT map literals: Spark map
  lookups are linear scans, so a 1.4k-entry literal costs ~70k string
  compares per doc (measured 135s vs 10s per 200k docs at local[8]).
  functions/scoring_join.py is the pure-SQL reference the scorer is
  checked against (the doc_scoring registry query);
- plus the url-dedup window and the explicit bucket layout
  (north rule): each (bucket, salt-slice) key is placed in its own
  partition by id, so every partition does work. Every shuffle
  partial-aggregates map-side and scales with cores; AQE
  coalesces/splits at runtime;
- all keep/drop thresholds are integer cross-multiplications; langid
  and perplexity sums are exact longs — no float-order
  nondeterminism anywhere.

Every threshold is a constant on CurateConfig, defined once: it
changes only with the code, and changing one is a row-semantics change
that bumps PIPELINE_VERSION, the version the lineage struct records.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import chain
from types import SimpleNamespace
from typing import ClassVar

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from scripts_spark.functions import ids, langid, langmodel, perplexity, scoring_udf, text_kernel
from scripts_spark.functions import html_extract
from scripts_spark.operators import dedup as D
from scripts_spark.session import per_app
from scripts_spark.sources.pages import domain_of

PIPELINE_VERSION = "1.2"  # 1.2: toxicity lexicon scrub after PII
# Only a change of row semantics bumps this, and a change to any rule
# threshold on CurateConfig is one; physical-layout changes
# (such as the bucket layout exchange placing rows by partition id)
# keep every row and digest and do not. The opt-in paragraph-dedup
# and near-dedup stages do NOT bump it either: with them off, row
# semantics and lineage literals are exactly 1.2, and with a stage on,
# the lineage carries its own "para_dedup" / "near_dedup" rule-version
# key.


@dataclass(frozen=True)
class CurateConfig:
    """The settings a caller picks for one curate run. The rule
    thresholds are ClassVar constants, read as ``cfg.<name>`` but not
    settable: changing one changes the code and PIPELINE_VERSION."""

    min_chars: ClassVar[int] = 140
    # repetition: drop when n_distinct / n_tokens < rep_num/rep_den
    rep_num: ClassVar[int] = 3
    rep_den: ClassVar[int] = 10
    rep_min_tokens: ClassVar[int] = 20
    word_len_min: ClassVar[int] = 2  # mean token length bounds
    word_len_max: ClassVar[int] = 14
    digit_num: ClassVar[int] = 3  # digit ratio > 3/10 → drop
    digit_den: ClassVar[int] = 10
    caps_num: ClassVar[int] = 5  # uppercase ratio > 5/10 → drop
    caps_den: ClassVar[int] = 10
    caps_min_letters: ClassVar[int] = 20
    boiler_min_docs: ClassVar[int] = 2  # line boilerplate iff in > this many docs
    boiler_frac_num: ClassVar[int] = 1  # ... and in > 1/10 of the domain's docs
    boiler_frac_den: ClassVar[int] = 10
    boiler_doc_num: ClassVar[int] = 1  # doc reason iff > 1/2 of paragraphs stripped
    boiler_doc_den: ClassVar[int] = 2
    para_dup_num: ClassVar[int] = 3  # see para_dedup
    para_dup_den: ClassVar[int] = 10
    near_dup_num: ClassVar[int] = 4  # Jaccard >= 4/5; see near_dedup
    near_dup_den: ClassVar[int] = 5
    near_dedup_hashes: ClassVar[int] = 16
    near_dedup_bands: ClassVar[int] = 8
    near_dedup_shingle_k: ClassVar[int] = 3

    num_buckets: int = 64
    salt: int = 0
    # physical partitions of the layout exchange (and so the tasks of
    # every stage after url-dedup); None → sized at runtime to
    # max(num_buckets, 4x cores). Independent of num_buckets, which is
    # only the commit/manifest unit: at >= num_buckets partitions each
    # bucket owns its own run of them, at fewer they share.
    target_partitions: int | None = None
    input_snapshot: str = "fixture-v1"
    # "salted" (production): place each (url-hash bucket, intra-bucket
    # salt) key in its own partition by id (_partition_id) — uniform
    # under ANY domain distribution, no partition left empty. "domain":
    # the naive co-locate-by-domain exchange, kept ONLY as the skew
    # bench's control arm (bench.py _skew_block) so the salt's
    # flattening effect on a Zipfian hot-domain input is a measured
    # number, not a design argument. Output is identical either way —
    # the knob changes physical layout only.
    repartition_mode: str = "salted"  # "salted" | "domain"
    # opt-in CORPUS-WIDE paragraph dedup (the C4/Dolma pattern) after
    # boilerplate strip, before the quality rules: a paragraph
    # repeated across documents survives only at its corpus-wide first
    # occurrence (min (url, idx)); the para_dup_frac reason fires when
    # > para_dup_num/para_dup_den of a doc's post-boiler paragraphs
    # were such repeats (Gopher's duplicate-paragraph-fraction rule).
    para_dedup: bool = False
    # opt-in corpus-wide NEAR-dedup (the FineWeb/Lee-et-al fuzzy-dedup
    # pattern) over the post-boiler (and post-paragraph-dedup, if on)
    # kept text: MinHash signatures → banded-LSH candidates → exact
    # shingle-Jaccard verify at threshold near_dup_num/near_dup_den
    # (integer cross-multiplication on the verify counts — no float
    # compare), then one survivor per duplicate cluster. The loser
    # docs gain the "near_dup" filter reason. Two survivor rules:
    # - "component" (default, the published pattern): connected
    #   components over the verified pair graph, survivor = min url
    #   per component. Label propagation is iterative, so with this
    #   mode ON curate() runs Spark jobs at plan-build time (CC
    #   rounds) instead of staying a pure lazy plan builder;
    # - "neighbor": drop a doc iff a verified pair links it to a
    #   strictly-smaller url. Single aggregation, fully lazy, no
    #   transitive chaining (a long a~b~c chain keeps every local
    #   minimum instead of collapsing to one doc) — over-retains
    #   relative to components but never merges unrelated docs.
    # opt-in: derive the text column ON the engine from the raw
    # html:binary payload (functions/html_extract.py fixed spec)
    # instead of trusting the table's crawler-extracted text — the
    # path for inputs whose text column is absent or suspect. A pure
    # narrow projection before the url-dedup shuffle; html is still
    # projected out before any exchange. Applied inside deduped_docs,
    # so callers that precompute docs with the same cfg (streaming)
    # get it too — the lineage record is truthful on every path.
    text_from_html: bool = False
    near_dedup: bool = False
    near_dedup_mode: str = "component"  # "component" | "neighbor"

    def __post_init__(self) -> None:
        # an unknown mode would otherwise silently take the fallback
        # branch (salted layout, neighbor survival) and change the output
        for field, allowed in (
            ("repartition_mode", ("salted", "domain")),
            ("near_dedup_mode", ("component", "neighbor")),
        ):
            if getattr(self, field) not in allowed:
                raise ValueError(
                    f"{field} must be one of {allowed}, got {getattr(self, field)!r}"
                )

    def rule_versions(self) -> dict[str, str]:
        rv = dict(text_kernel.KERNEL_VERSIONS)
        rv["pipeline"] = PIPELINE_VERSION
        rv["thresholds"] = (
            f"len{self.min_chars}-rep{self.rep_num}/{self.rep_den}"
            f"-ppx{langmodel.PPX_THRESHOLD_MILLI}"
        )
        # only recorded when the stage is ON: with it off the lineage
        # literals, and so the plan, carry nothing of it, so bench
        # plan-identity digests vs a control clone that lacks the stage
        # read true
        if self.text_from_html:
            rv["text_from_html"] = f"on-{html_extract.EXTRACT_SPEC_VERSION}"
        if self.para_dedup:
            rv["para_dedup"] = f"on-{self.para_dup_num}/{self.para_dup_den}"
        if self.near_dedup:
            rv["near_dedup"] = (
                f"on-{self.near_dedup_mode}-j{self.near_dup_num}/"
                f"{self.near_dup_den}-mh{self.near_dedup_hashes}"
                f"b{self.near_dedup_bands}k{self.near_dedup_shingle_k}"
            )
        return rv


def _repair_line(line: Column) -> Column:
    """Per-paragraph repair chain in reference pipeline order:
    dollar_signs → join_soft_hyphens → fix_capitalized_dashes."""
    return text_kernel.fix_capitalized_dashes(
        text_kernel.join_soft_hyphens(text_kernel.dollar_signs(line))
    )


def _target_partitions(spark: SparkSession, cfg: CurateConfig) -> int:
    """Partitions of the layout exchange, i.e. the tasks of every
    stage after url-dedup: decoupled from num_buckets (the
    commit/manifest unit), sized to ~4x cores so the stage scales with
    the cluster instead of capping at 64 tasks. _partition_id fills
    each of them."""
    if cfg.target_partitions is not None:
        return cfg.target_partitions
    cores = spark.sparkContext.defaultParallelism
    return max(cfg.num_buckets, 4 * cores)


def _partition_id(url: Column, num_buckets: int, n_parts: int, salt: int) -> Column:
    """The layout exchange's target partition of each row: bucket b
    owns a run of partitions and an intra-bucket salt (a second url
    hash) picks one of them, so one hot bucket (Zipfian domain skew)
    spreads over its whole run instead of serializing a stage.

    Placed by id (``repartitionById``), not hashed: hashing the
    (bucket, salt) pair again collides keys — 64 buckets over 64
    partitions use 42 of them, and 2 buckets over 2 can share one,
    leaving a core idle for every stage after url-dedup. With
    n_parts >= num_buckets every partition holds exactly one
    (bucket, slice) key — the first n_parts % num_buckets buckets own
    one slice more than the rest; with fewer partitions than buckets,
    bucket b goes to partition b mod n_parts, so partitions differ by
    at most one bucket."""
    bucket = F.col("bucket")
    q, r = divmod(n_parts, num_buckets)
    if q == 0:
        return bucket.cast("int")
    slices, start = F.lit(q), bucket * q
    if r:
        slices = slices + (bucket < r).cast("int")
        start = start + F.least(bucket, F.lit(r))
    return (start + F.pmod(F.xxhash64(url, F.lit(salt + 1)), slices)).cast("int")


# Plan building is driver time that every batch job and every stream
# trigger pays again: each Column node is a py4j round trip and each
# DataFrame operation re-analyses the whole plan. So every pure Column
# tree below is built once per (CurateConfig, Spark application)
# (session.per_app), and each stage is one select per shuffle or join
# boundary instead of a withColumn/drop chain.


def _dedup_cols(spark: SparkSession, cfg: CurateConfig) -> SimpleNamespace:
    def build() -> SimpleNamespace:
        url = F.col("url")
        text = (
            html_extract.html_to_text(F.col("html"), from_binary=True)
            if cfg.text_from_html else F.col("text")
        )
        n_parts = _target_partitions(spark, cfg)
        if cfg.repartition_mode == "domain":
            # skew-probe control arm only — a hot domain serializes the
            # whole downstream narrow chain into one task
            domain = F.col("domain")
            layout = lambda df: df.repartition(n_parts, domain)
        else:
            pid = _partition_id(url, cfg.num_buckets, n_parts, cfg.salt)
            layout = lambda df: df.repartitionById(n_parts, pid)
        repaired = F.filter(
            F.transform(F.split(F.col("text"), "\n"), _repair_line), lambda p: p != ""
        )
        return SimpleNamespace(
            url=url,
            wt=F.struct(
                F.col("warc_ts"), F.coalesce(text, F.lit("")).alias("text")
            ).alias("_wt"),
            best=F.min("_wt").alias("_wt"),
            keyed=[
                url,
                F.col("_wt.warc_ts").alias("warc_ts"),
                F.col("_wt.text").alias("text"),
                F.pmod(F.xxhash64(url, F.lit(cfg.salt)), F.lit(cfg.num_buckets)).alias("bucket"),
                domain_of(url).alias("domain"),
            ],
            layout=layout,
            # shed the wide inputs immediately: raw text does not travel
            # past the repair pass
            out=[url, F.col("warc_ts"), F.col("bucket"), F.col("domain"), repaired.alias("paras")],
        )

    return per_app(spark, (cfg, "dedup"), build)


def deduped_docs(pages: DataFrame, cfg: CurateConfig) -> DataFrame:
    """url-dedup (deterministic winner: min (warc_ts, coalesce(text,''))),
    bucket assignment + exact placement by partition id, repaired
    paragraph array.

    Scale notes:
    - the html payload is projected OUT before the dedup shuffle — the
      exchange carries only (url, warc_ts, text), not ~half the corpus
      bytes of html the pipeline never reads;
    - dedup is groupBy(url).min(struct(warc_ts, text)) rather than a
      row_number window: min() partial-aggregates map-side, so each
      input partition ships at most one candidate row per url instead
      of every duplicate crossing the wire;
    - text is coalesced to '' INSIDE the min so null and empty text
      rank identically to the oracle (pipeline_oracle maps None→'');
    - the post-dedup layout exchange (``repartitionById``, Spark >=
      4.1) spreads each bucket over its own run of target_partitions /
      num_buckets partitions, one intra-bucket salt slice each, so one
      hot bucket (Zipfian domain skew) cannot serialize a stage and no
      partition sits empty (see _partition_id).

    cfg.text_from_html applies HERE (not in curate()) so EVERY path
    that builds docs — batch curate, streaming's own deduped_docs
    call — extracts identically; the lineage key rule_versions()
    records is then truthful on all of them."""
    c = _dedup_cols(pages.sparkSession, cfg)
    return (
        pages.select(c.url, c.wt)
        .groupBy(c.url)
        .agg(c.best)
        .select(*c.keyed)
        .transform(c.layout)
        .select(*c.out)
    )


def _boiler_rule(cfg: CurateConfig, line_docs: Column, domain_docs: Column) -> Column:
    """The two-threshold boilerplate rule: a line in > boiler_min_docs
    docs AND in > frac of its domain's docs."""
    return (line_docs > cfg.boiler_min_docs) & (
        line_docs * cfg.boiler_frac_den > domain_docs * cfg.boiler_frac_num
    )


def _boiler_cols(spark: SparkSession, cfg: CurateConfig) -> SimpleNamespace:
    def build() -> SimpleNamespace:
        domain, para, line_docs = F.col("domain"), F.col("para"), F.col("line_docs")
        # one sentinel row (a NULL para) per doc rides along with the
        # doc's distinct lines; xxhash64 skips NULLs, so a sentinel
        # hashes to xxhash64(domain)
        sentinel = F.array(F.lit(None).cast("string"))
        hl = F.xxhash64(domain, para)
        domain_docs = F.max(F.when(para.isNull(), line_docs)).over(Window.partitionBy(domain))
        return SimpleNamespace(
            lines=[domain, F.explode(F.concat(sentinel, F.array_distinct("paras"))).alias("para")],
            hl=hl.alias("hl"),
            hn=F.count(F.lit(1)).alias("hn"),
            # the per-domain fraction threshold can't be applied
            # hash-side without the domain; the absolute >
            # boiler_min_docs bound alone already prunes every
            # unique/rare line, which is the bulk
            cand=(hl == F.col("hl")) & (F.col("hn") > cfg.boiler_min_docs),
            key=[domain, para],
            line_docs=F.count(F.lit(1)).alias("line_docs"),
            counted=[domain, para, line_docs, domain_docs.alias("domain_docs")],
            # the inner join of the line and domain counts drops NULL
            # domains; so does this
            rule=domain.isNotNull() & para.isNotNull()
            & _boiler_rule(cfg, line_docs, F.col("domain_docs")),
            boiler_set=F.collect_set(para).alias("boiler_set"),
        )

    return per_app(spark, (cfg, "boiler"), build)


def boilerplate_sets(docs: DataFrame, cfg: CurateConfig) -> DataFrame:
    """(domain, boiler_set) pairs: lines that appear in >
    boiler_min_docs docs AND in > frac of the domain's docs.

    Two-pass hash-then-confirm, so the BIG shuffle carries 8-byte
    hashes instead of paragraph strings (~25x fewer bytes at corpus
    scale):

    1. count (domain, xxhash64(para)) — partial-agg'd long-only
       shuffle — and keep hashes passing the thresholds as CANDIDATES
       (a hash collision can only ADD a candidate, never drop one);
    2. recount exactly, strings included, for the candidate rows only
       (a near-empty broadcast semi-join of the line stream), and apply
       the thresholds again on the exact counts.

    The domain's doc count comes from the same two passes: each doc
    adds one sentinel row (para NULL) to its exploded lines, so the
    sentinel's count is the domain's doc count — a candidate whenever
    the domain has > boiler_min_docs docs, which any domain with a
    boilerplate line has — and a window over the domain hands it to the
    domain's lines, so the cached docs feed just the two passes.

    The output is therefore byte-identical to a single exact pass; the
    candidate set is tiny (repeated nav/footer lines only) and the
    result broadcasts back to the doc stream."""
    c = _boiler_cols(docs.sparkSession, cfg)
    lines = docs.select(*c.lines)
    hash_counts = lines.groupBy(c.hl).agg(c.hn)
    return (
        lines.join(F.broadcast(hash_counts), c.cand, "left_semi")
        .groupBy(*c.key)
        .agg(c.line_docs)
        .select(*c.counted)
        .filter(c.rule)
        .groupBy(c.key[0])
        .agg(c.boiler_set)
    )


def boiler_line_rows(line_docs: DataFrame, dom_docs: DataFrame,
                     cfg: CurateConfig) -> DataFrame:
    """The two-threshold boilerplate rule as flat rows: lines in >
    boiler_min_docs docs AND > frac of the domain's docs. Shared by the
    set-collect below and the oracle'd `boiler_headers` query."""
    return line_docs.join(dom_docs, "domain").filter(
        _boiler_rule(cfg, F.col("line_docs"), F.col("domain_docs"))
    )


def boiler_sets_from_counts(line_docs: DataFrame, dom_docs: DataFrame,
                            cfg: CurateConfig) -> DataFrame:
    """Threshold + collect step shared by the batch two-pass path and
    the streaming cross-batch merge: (domain, para, line_docs) ×
    (domain, domain_docs) → (domain, boiler_set)."""
    boiler = boiler_line_rows(line_docs, dom_docs, cfg)
    return boiler.groupBy("domain").agg(F.collect_set("para").alias("boiler_set"))


def boiler_kept_col() -> Column:
    """THE boiler-strip expression: the kept paragraphs of a frame
    carrying ``paras`` plus a (possibly-null, from a left join against
    the (domain, boiler_set) table) ``boiler_set`` column. Every
    consumer — curate()'s strip, the streaming span-evidence write,
    and the near-dup signature evidence — must filter through this one
    expression: the stored evidence and the text the pipeline actually
    keeps have to agree on what "post-boiler" means, and three
    hand-synchronized copies of the coalesce+array_contains filter
    were one normalization tweak away from silently desynchronizing
    cross-batch state from the output."""
    bset = F.coalesce(F.col("boiler_set"), F.array().cast("array<string>"))
    return F.filter(F.col("paras"), lambda p: ~F.array_contains(bset, p))


def boiler_line_evidence(docs: DataFrame, cfg: CurateConfig) -> tuple[DataFrame, DataFrame]:
    """EXACT per-input (domain, para, line_docs) + (domain, domain_docs)
    counts — the incremental evidence unit for cross-batch boilerplate
    (streaming/jobs.stream_curate exact_boilerplate mode). Counts are
    additive across disjoint inputs, so per-batch tables merged by SUM
    equal one exact pass over the union.

    A line rare in every single batch but common across batches must
    survive into the merged state, so no per-batch candidate pruning is
    sound here; the stored state itself is hash-keyed by the caller
    (streaming/jobs._merged_boiler strips the strings before writing
    and re-confirms against the current batch's strings at merge
    time — the batch two-pass trick applied to the state table)."""
    lines = docs.select(
        "domain", F.explode(F.array_distinct("paras")).alias("para")
    )
    line_docs = lines.groupBy("domain", "para").agg(
        F.count(F.lit(1)).alias("line_docs")
    )
    dom_docs = docs.groupBy("domain").agg(F.count(F.lit(1)).alias("domain_docs"))
    return line_docs, dom_docs


# the 128-bit span key definition lives with the dedup operators;
# re-exported here because streaming's span state imports it from
# this module
span_hash_cols = D.span_hash_cols


def _corpus_para_dedup(
    d: DataFrame, cfg: CurateConfig, span_history: DataFrame | None = None
) -> DataFrame:
    """Corpus-wide first-occurrence paragraph dedup over the
    boiler-stripped kept_paras: explode to (url, pidx) + a 16-byte
    (xxhash64, confirm-xxhash64) key — the paragraph string never
    crosses the dedup exchange — and let
    operators/dedup.first_occurrence_ordinals (the rule
    paragraph_dedup_hashed runs too) fold each doc's surviving
    ordinals into an int array, which joins back on the uniform url
    key to rebuild kept_paras map-side.

    Deterministic BY CONSTRUCTION for resume: the survivor of a
    repeated paragraph is the corpus-wide lexicographic min
    (url, pidx), a pure function of the full input — so a resumed run
    that recomputes globally but writes only uncommitted buckets
    (catalog.commit_buckets) reproduces exactly the decisions of the
    crashed run (pinned in tests/test_resume.py). A false merge needs
    a 2^-128 double-hash collision between distinct paragraphs.

    ``span_history`` (streaming seam): an (h1, h2) frame of span keys
    seen by EARLIER micro-batches — any current paragraph whose key
    appears there is dropped too, so batch and streaming modes share
    one survivor rule: corpus-wide first occurrence in
    (batch, url, pidx) order.

    Adds ``paras_dup`` (how many of this doc's post-boiler paragraphs
    were dropped as earlier-seen) and rewrites ``kept_paras``."""
    ex = d.select("url", F.posexplode("kept_paras").alias("pidx", "para"))
    h1, h2 = span_hash_cols(F.col("para"))
    hp = ex.select("url", "pidx", h1.alias("_h1"), h2.alias("_h2"))
    per_doc = D.first_occurrence_ordinals(hp, "url", "pidx", history=span_history)
    # left join: a doc whose kept_paras is already empty has no
    # exploded rows, hence no per_doc row — it keeps an empty array
    d = d.join(per_doc, "url", "left")
    kidx = F.coalesce(F.col("_kept_idx"), F.array().cast("array<int>"))
    return (
        d.withColumn("paras_dup", F.size("kept_paras") - F.size(kidx))
        .withColumn(
            "kept_paras",
            F.transform(kidx, lambda i: F.element_at(F.col("kept_paras"), i + 1)),
        )
        .drop("_kept_idx")
    )


def _near_dup_losers(d: DataFrame, cfg: CurateConfig,
                     sig_history: DataFrame | None = None,
                     cur_sig_rows: DataFrame | None = None) -> DataFrame:
    """(url, near_dup_of) for every document that LOSES near-dedup —
    i.e. is a verified near-duplicate whose cluster survivor is some
    other (smaller-url) document. Input is the post-boiler frame with
    ``kept_paras``; detection text is the joined kept paragraphs, so
    boilerplate (and, if on, corpus-duplicated paragraphs) never vote
    on similarity.

    ``sig_history`` ((url, sig, bks) rows from PRIOR micro-batches —
    see near_dup_sig_evidence) additionally drops any current document
    that near-duplicates crawl HISTORY: candidates via (band,
    band_key) equi-join of the current batch's band keys against the
    store, similarity estimated from the signatures alone
    (operators/dedup.signature_history_losers: matching MinHash
    components · den ≥ num · num_hashes — the store carries no
    text to shingle-verify against, which is exactly why it is
    ~25 longs/doc instead of the corpus). History may arrive compact
    ((url, sig, bks) — exploded here) or pre-exploded ((url, sig,
    band, band_key) — the band-key-partitioned store read, already
    bucket-pruned). Within-batch pairs keep the
    exact shingle verify; the estimate applies only across batches.
    A SAME-url history match counts: under the first-occurrence rule
    an unchanged recrawl of url U is stale corpus content exactly like
    the same body at url V, and cross-batch url-dedup is an
    independent opt-in that may be off — such a doc comes back with
    near_dup_of == its own url. Replay safety needs no self-exclusion
    because history is read strictly exclusive of the current batch
    (streaming/jobs._sig_state).

    ``cur_sig_rows`` is the batch's own (url, sig, bks) evidence frame
    (near_dup_sig_evidence — i.e. signatures of the post-boiler,
    PRE-paragraph-dedup text). When given, the history comparison uses
    it directly, guaranteeing query-side and stored signatures are
    built from the SAME text form — without it, a repost whose
    duplicated paragraphs were already stripped by _corpus_para_dedup
    would be signed on the edited remainder only and systematically
    underestimate similarity vs the stored full-text signature. When
    para-dedup is OFF the frame is byte-identical to what this
    function would sign anyway, so in-batch candidates reuse it too
    (one signing per micro-batch, not two).

    Scale shape: signatures are one explode + partial-agg'd groupBy
    (16 longs/doc through the exchange), candidates an equi self-join
    on (band, band_key), verify left-semi-pruned to candidate docs,
    and the threshold an integer cross-multiplication on the verify's
    exact shingle counts (n_common·den >= union·num — never a float
    compare). "component" survival adds O(cluster diameter) label-
    propagation rounds over the verified PAIRS only (near-dup graphs
    are shallow stars); "neighbor" survival is a single groupBy-min
    over the pair list."""
    # with para-dedup off, kept_paras IS the evidence text form — reuse
    # the caller's rows for in-batch candidates instead of re-signing
    own = cur_sig_rows if (cur_sig_rows is not None and not cfg.para_dedup) \
        else _sig_rows_from_kept(d, cfg)
    cand = D.band_candidate_pairs(own, "url")
    ver = D.jaccard_verify(
        _kept_text(d), cand, "url", "_nd_text", cfg.near_dedup_shingle_k,
        threshold=0.0,
    )
    pairs = ver.filter(
        F.col("n_common") * cfg.near_dup_den
        >= (F.col("size_a") + F.col("size_b") - F.col("n_common"))
        * cfg.near_dup_num
    ).select("key_a", "key_b")
    if cfg.near_dedup_mode == "component":
        comp = D.connected_components(pairs)
        _CURATE_CHECKPOINTS.append(comp)
        batch_losers = comp.filter(F.col("node") != F.col("group")).select(
            F.col("node").alias("url"), F.col("group").alias("near_dup_of")
        )
    else:  # "neighbor"
        # pairs always carry key_a < key_b, so "has any strictly-smaller
        # verified neighbor" == "appears on the b side of some pair"
        batch_losers = (
            pairs.groupBy("key_b")
            .agg(F.min("key_a").alias("near_dup_of"))
            .withColumnRenamed("key_b", "url")
        )
    if sig_history is None:
        return batch_losers
    hcols = set(sig_history.columns)
    if hcols == {"url", "sig", "bks"}:
        hb = sig_history.select(
            F.col("url").alias("h_url"),
            F.col("sig").alias("h_sig"),
            F.posexplode("bks").alias("band", "band_key"),
        )
    elif hcols == {"url", "sig", "band", "band_key"}:
        # pre-exploded history — the band-key-partitioned store read
        # (streaming/jobs._sig_state_banded) hands rows back as
        # (url, sig, band, band_key), already pruned to the buckets
        # this batch can match
        hb = sig_history.select(
            F.col("url").alias("h_url"),
            F.col("sig").alias("h_sig"),
            "band", "band_key",
        )
    else:
        # layout dispatch is by EXACT column set: a frame that merely
        # contains one shape plus extras would silently take the wrong
        # branch (double-explode or mis-join) — refuse instead
        raise ValueError(
            "sig_history must be compact (url, sig, bks) or exploded "
            f"(url, sig, band, band_key) rows; got {sorted(hcols)}"
        )
    # no self-url exclusion: history is strictly prior batches, so a
    # same-url hit is a RECRAWL of already-corpus content — stale under
    # the first-occurrence rule whether or not the independent
    # cross-batch url-dedup opt-in is on (see docstring)
    hist_losers = D.signature_history_losers(
        cur_sig_rows if cur_sig_rows is not None else own, hb, "url",
        cfg.near_dup_num, cfg.near_dup_den, cfg.near_dedup_hashes,
    )
    # a url can lose both ways (in-batch AND vs history); the caller
    # left-joins on url, so the union must stay unique per url
    return (
        batch_losers.unionByName(hist_losers)
        .groupBy("url")
        .agg(F.min("near_dup_of").alias("near_dup_of"))
    )


def near_dup_sig_evidence(docs: DataFrame, boiler: DataFrame,
                          cfg: CurateConfig) -> DataFrame:
    """This batch's (url, sig, bks) rows for the cross-batch near-dup
    signature store — EVERY post-boiler document's signature, losers
    included (a future page similar only to a dropped loser still
    near-duplicates corpus content, and including losers keeps the
    write independent of the loser computation, so it can run after
    the bucket commit with the same crash-replay idempotence as
    _write_span_evidence). Detection text is the post-boiler kept
    paragraphs (pre span-dedup when cfg.para_dedup is also on —
    evidence is built the same way for every batch, so the estimate
    is self-consistent across the stream). Strip and signing go
    through boiler_kept_col / _sig_rows_from_kept — the exact
    expressions curate() itself strips and signs with — so stored
    evidence can never drift from what the pipeline keeps."""
    d = docs.join(F.broadcast(boiler), "domain", "left").withColumn(
        "kept_paras", boiler_kept_col()
    )
    return _sig_rows_from_kept(d, cfg)


def _kept_text(d: DataFrame) -> DataFrame:
    """(url, _nd_text): near-dedup's detection text, the joined kept
    paragraphs of every doc that has any."""
    return d.select(
        "url", F.array_join("kept_paras", "\n").alias("_nd_text")
    ).filter(F.length("_nd_text") > 0)


def _sig_rows_from_kept(d: DataFrame, cfg: CurateConfig) -> DataFrame:
    """(url, sig, bks) MinHash rows of a post-boiler frame's
    ``kept_paras`` — the ONE signing path; the signature-store write
    (near_dup_sig_evidence), curate()'s history-query side and the
    in-batch candidates all go through it, so the two sides of the
    cross-batch comparison are guaranteed to sign the same text form
    with the same parameters."""
    sig = D.minhash_signatures(
        _kept_text(d), "url", "_nd_text",
        cfg.near_dedup_hashes, cfg.near_dedup_shingle_k,
    )
    return D.signature_with_bands(
        sig, "url", cfg.near_dedup_hashes, cfg.near_dedup_bands
    )


def _always(cfg: CurateConfig) -> bool:
    return True


# THE rule table: (reason, enabled(cfg), predicate(cfg, cols)), every
# test integer-exact. The reason registry (REASONS), the
# unknown-reasons audit (quality_checks), the per-partition metrics
# columns (catalog.partition_metrics) and its oracle SQL all derive
# from it. Table order is the emission order of the filter_reasons
# array expression — the output array is array_sort'ed, but the plan
# bytes follow this order. A rule whose stage is off adds NO
# expression (not a vacuous lit(False)), so the default plan carries
# nothing of it; the column references of its stage
# (paras_dup, _nd_loser) then stay unresolved and never enter the plan.
RULES = (
    ("min_length", _always, lambda cfg, c: c["n_chars"] < cfg.min_chars),
    (
        "repetition", _always,
        lambda cfg, c: (c["n_tokens"] >= cfg.rep_min_tokens)
        & (c["n_distinct"] * cfg.rep_den < c["n_tokens"] * cfg.rep_num),
    ),
    (
        "word_length", _always,
        lambda cfg, c: (c["n_tokens"] > 0)
        & (
            (c["tok_chars"] < c["n_tokens"] * cfg.word_len_min)
            | (c["tok_chars"] > c["n_tokens"] * cfg.word_len_max)
        ),
    ),
    (
        "digit_ratio", _always,
        lambda cfg, c: (c["n_chars"] > 0)
        & (c["n_digits"] * cfg.digit_den > c["n_chars"] * cfg.digit_num),
    ),
    (
        "caps_ratio", _always,
        lambda cfg, c: (c["n_letters"] > cfg.caps_min_letters)
        & (c["n_upper"] * cfg.caps_den > c["n_letters"] * cfg.caps_num),
    ),
    (
        "boilerplate", _always,
        lambda cfg, c: (c["paras_total"] > 0)
        & (c["paras_boiler"] * cfg.boiler_doc_den > c["paras_total"] * cfg.boiler_doc_num),
    ),
    ("lang", _always, lambda cfg, c: c["lang_pred"] != "sv"),
    ("perplexity", _always, lambda cfg, c: c["ppx_flag"]),
    # measured against the POST-boiler paragraph count (the dedup
    # stage's own input)
    (
        "para_dup_frac", lambda cfg: cfg.para_dedup,
        lambda cfg, c: (c["paras_total"] - c["paras_boiler"] > 0)
        & (
            c["paras_dup"] * cfg.para_dup_den
            > (c["paras_total"] - c["paras_boiler"]) * cfg.para_dup_num
        ),
    ),
    # fires for cluster losers only
    ("near_dup", lambda cfg: cfg.near_dedup, lambda cfg, c: c["_nd_loser"]),
)
REASONS = tuple(name for name, _, _ in RULES)


def _reasons(cfg: CurateConfig, c: dict[str, Column]) -> Column:
    """Ordered reason array of the rules enabled under ``cfg``."""
    arr = F.array(*[
        F.when(pred(cfg, c), F.lit(name))
        for name, enabled, pred in RULES if enabled(cfg)
    ])
    return F.array_sort(F.filter(arr, lambda x: x.isNotNull()))


# Frames curate() persists internally, so long-lived callers (the
# streaming micro-batch loop, multi-query sessions) can release
# exactly these instead of spark.catalog.clearCache() — which evicts
# EVERY cached frame in the shared session, including the caller's own.
_CURATE_PERSISTED: list[DataFrame] = []
# the connected-components labels of component-mode near-dedup: a local
# checkpoint, which unpersist() does not free
_CURATE_CHECKPOINTS: list[DataFrame] = []


def drain_curate_persisted() -> None:
    """Unpersist every frame curate() cached internally since the
    last drain, and free its connected-components checkpoints. Call
    after the decision frame has been fully materialized
    (written/collected); draining earlier is safe for the cached
    frames (the next action recomputes the post-boiler chain) but not
    for a component-mode near-dedup frame, whose labels are gone."""
    while _CURATE_PERSISTED:
        _CURATE_PERSISTED.pop().unpersist()
    while _CURATE_CHECKPOINTS:
        D.release_checkpoint(_CURATE_CHECKPOINTS.pop())


def curate(pages: DataFrame, cfg: CurateConfig | None = None,
           boiler_override: DataFrame | None = None,
           docs: DataFrame | None = None,
           span_history: DataFrame | None = None,
           sig_history: DataFrame | None = None,
           sig_current: DataFrame | None = None) -> DataFrame:
    """Full pipeline → decision frame (SURVEY.md §7.0 output schema +
    bucket column for manifests/metrics).

    ``boiler_override``: a precomputed (domain, boiler_set) frame to use
    instead of this input's own boilerplate_sets — the seam streaming
    uses to strip against evidence merged across micro-batches.
    ``docs``: an already-computed (and typically persisted)
    deduped_docs frame for the same pages, so a caller that needed it
    for evidence extraction doesn't pay the dedup+repair chain twice.
    ``span_history``: earlier-batch span keys for the paragraph-dedup
    stage (see _corpus_para_dedup) — requires ``cfg.para_dedup``.
    ``sig_history``: earlier-batch (url, sig, bks) MinHash rows for
    the near-dedup stage (see near_dup_sig_evidence) — requires
    ``cfg.near_dedup``. ``sig_current``: THIS batch's already-computed
    evidence rows (streaming computes them once for the state write —
    passing them here avoids signing the batch twice); derived
    internally when omitted."""
    cfg = cfg or CurateConfig()
    if span_history is not None and not cfg.para_dedup:
        raise ValueError("span_history requires CurateConfig.para_dedup=True")
    if sig_history is not None and not cfg.near_dedup:
        raise ValueError("sig_history requires CurateConfig.near_dedup=True")
    if sig_current is not None and not cfg.near_dedup:
        raise ValueError("sig_current requires CurateConfig.near_dedup=True")
    if docs is None:
        docs = deduped_docs(pages, cfg)
        # three consumers read this frame (the boilerplate hash and
        # confirm passes, and the main decision branch) — without the
        # persist each would recompute the scan + url-dedup window +
        # repair chain
        if boiler_override is None:
            docs = docs.persist()
            _CURATE_PERSISTED.append(docs)
    boiler = boilerplate_sets(docs, cfg) if boiler_override is None else boiler_override

    c = _curate_cols(pages.sparkSession, cfg)
    d = docs.join(F.broadcast(boiler), "domain", "left").select(*c.strip)
    if cfg.para_dedup or cfg.near_dedup:
        # the stages rewrite kept_paras: count the boiler-stripped
        # paragraphs first
        d = d.select(*c.staged)
    if cfg.near_dedup and sig_history is not None and sig_current is None \
            and cfg.para_dedup:
        # the signature STORE holds pre-paragraph-dedup signatures
        # (near_dup_sig_evidence); the query side must sign the SAME
        # text form, so capture it here — after para-dedup rewrites
        # kept_paras, a repost's duplicated paragraphs would be
        # stripped before signing and Jaccard vs the stored full-text
        # signature would systematically underestimate, defeating
        # exactly the cross-batch repost case the store exists for
        sig_current = _sig_rows_from_kept(d, cfg)
    if cfg.para_dedup:
        d = _corpus_para_dedup(d, cfg, span_history=span_history)
    if cfg.near_dedup:
        # the losers frame re-reads d (self-similarity is cross-doc by
        # nature); persist the post-boiler frame so the repair + strip
        # chain isn't recomputed for the signature/verify branches
        d = d.persist()
        _CURATE_PERSISTED.append(d)
        losers = _near_dup_losers(d, cfg, sig_history=sig_history,
                                  cur_sig_rows=sig_current)
        d = d.join(losers.select("url", F.lit(True).alias("_nd_loser")), "url", "left")
    # langid + perplexity scoring: broadcast model tables inside an
    # Arrow pandas UDF with a per-task token memo — zero shuffle, and
    # ~9x faster than the pure-SQL explode + join form
    # (functions/scoring_join.py, the reference it is checked against)
    # at local[32]. The UDF call sits inside the stats projection
    # (c.stats), so the rest of the plan is one linear pass.
    return d.select(*c.scrub).select(*c.stats).select(*c.reasons).select(*c.final)


# translate char sets spelled to match the regex classes EXACTLY:
# [A-Za-zÀ-þ] is A-Z a-z U+00C0..U+00FE (× and ÷ included — the regex
# class includes them too), [A-ZÀ-Þ] is A-Z U+00C0..U+00DE
_LETTERS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    + "".join(chr(c) for c in range(0xC0, 0xFF))
)
_UPPERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ" + "".join(chr(c) for c in range(0xC0, 0xDF))


def _curate_cols(spark: SparkSession, cfg: CurateConfig) -> SimpleNamespace:
    """curate()'s select lists after the boiler join: strip, scrub,
    stats (with the Arrow scores), reasons and the output schema."""
    def build() -> SimpleNamespace:
        stage = ["paras_dup"] * cfg.para_dedup + ["_nd_loser"] * cfg.near_dedup
        names = ["url", "warc_ts", "bucket", "paras_total", "paras_boiler", *stage,
                 "scrubbed_text", "kept_paras", "n_chars",
                 "n_tokens", "n_distinct", "tok_chars", "n_digits", "n_letters", "n_upper",
                 "lang_pred", "lang_conf", "perplexity", "ppx_flag", "filter_reasons"]
        c = {n: F.col(n) for n in names}
        base = [c["url"], c["warc_ts"], c["bucket"]]
        paras_boiler = (c["paras_total"] - F.size(c["kept_paras"])).alias("paras_boiler")
        stage_in = [c[n] for n in stage]
        if cfg.near_dedup:  # the left-joined loser flag
            stage_in[-1] = F.coalesce(c["_nd_loser"], F.lit(False)).alias("_nd_loser")
        carried = base + [c["paras_total"], c["paras_boiler"], *(c[n] for n in stage),
                          c["scrubbed_text"]]
        lang_score, ppx_sum, n_bigrams = scoring_udf.score_cols(spark)
        # token counts are pure string arithmetic: scrubbed_text is
        # ws-normalized with exactly one ' '/'\n' between tokens, so
        # n_tokens = separators+1 and tok_chars = n_chars - separators —
        # no explode, no shuffle, stays in whole-stage codegen.
        # Counting uses translate() (a char-map pass) instead of
        # regexp_replace over an equivalent explicit character set —
        # same counts (r7: verified exceptAll-equal at 2M docs, parity
        # suite green), measured ~2x cheaper per pass (guide §1.2).
        st = c["scrubbed_text"]
        n_sep = F.length(st) - F.length(F.translate(st, " \n", ""))
        stats = {
            "n_tokens": F.when(F.length(st) == 0, F.lit(0)).otherwise(n_sep + 1).cast("long"),
            "tok_chars": (F.length(st) - n_sep).cast("long"),
            "n_distinct": F.when(F.length(st) == 0, F.lit(0))
            .otherwise(F.size(F.array_distinct(F.split(st, "[ \n]"))))
            .cast("long"),
            "n_chars": F.length(st),
            "n_digits": F.length(st) - F.length(F.translate(st, "0123456789", "")),
            "n_letters": F.length(st) - F.length(F.translate(st, _LETTERS, "")),
            "n_upper": F.length(st) - F.length(F.translate(st, _UPPERS, "")),
            "lang_pred": langid.lang_pred_expr(lang_score),
            "lang_conf": langid.lang_conf_expr(lang_score),
            "perplexity": perplexity.perplexity_expr(ppx_sum, n_bigrams),
            "ppx_flag": perplexity.ppx_reason_expr(ppx_sum, n_bigrams),
        }
        rv = cfg.rule_versions()
        lineage = F.struct(
            c["bucket"].cast("string").alias("source_partition"),
            F.create_map(
                *chain.from_iterable((F.lit(k), F.lit(v)) for k, v in sorted(rv.items()))
            ).alias("rule_versions"),
            F.lit(cfg.input_snapshot).alias("input_snapshot"),
        )
        return SimpleNamespace(
            strip=base + [F.size("paras").alias("paras_total"),
                          boiler_kept_col().alias("kept_paras")],
            staged=base + [c["paras_total"], c["kept_paras"], paras_boiler],
            scrub=base + [
                c["paras_total"], c["paras_boiler"] if stage else paras_boiler, *stage_in,
                text_kernel.scrub_all(F.array_join(c["kept_paras"], "\n")).alias("scrubbed_text"),
            ],
            stats=carried + [e.alias(n) for n, e in stats.items()],
            reasons=base + [st, c["n_tokens"], c["lang_pred"], c["lang_conf"],
                            c["perplexity"], _reasons(cfg, c).alias("filter_reasons")],
            final=[
                c["url"], c["warc_ts"], c["lang_pred"], c["lang_conf"], c["perplexity"],
                (F.size(c["filter_reasons"]) == 0).alias("keep"),
                c["filter_reasons"], st, lineage.alias("lineage"),
                ids.doc_id_expr(c["url"], st).alias("doc_id"), c["bucket"], c["n_tokens"],
            ],
        )

    return per_app(spark, (cfg, "curate"), build)
