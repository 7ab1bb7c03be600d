"""Deduplication operators for the training-data pipeline: exact
paragraph (span) dedup, MinHash+LSH, SimHash, n-gram Jaccard
verification, and connected-components grouping of the detected pairs.

Scale design: every method is explode→agg→self-join-on-small-key; no
driver-side collection, no O(n²) pair enumeration outside LSH buckets.
Hash functions are xxhash64 (JVM, whole-stage codegen) — the portable
md5-string variants used for the DuckDB oracle queries live in
plans/queries.py; these are the fast production forms.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from scripts_spark.functions.text_kernel import bind_once, tokens


def word_shingles(text_col: Column, k: int = 3) -> Column:
    """Array of k-word shingles in document order (empty if < k words).

    The token array is bound ONCE per row (bind_once): the per-element
    slice otherwise re-runs the whole normalize+split tokenizer for
    every shingle (r7 measurement: 20x on the shingle explode)."""
    return bind_once(
        tokens(text_col),
        lambda t: F.when(
            F.size(t) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - k),
                lambda i: F.array_join(F.slice(t, i + 1, k), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def _span_array(t: Column, span: int) -> Column:
    """Consecutive ``span``-token paragraphs of a token array, in
    document order (shared by the exact and hashed dedup forms so the
    paragraph unit cannot drift between them)."""
    # bind t once per row: the per-span slice otherwise re-tokenizes
    # the document for every span (r7, same fix as word_shingles)
    return bind_once(
        t,
        lambda tt: F.transform(
            F.sequence(F.lit(0), F.ceil(F.size(tt) / span).cast("long") - 1),
            lambda i: F.array_join(F.slice(tt, i * span + 1, span), " "),
        ),
    )


def paragraph_dedup(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", span: int = 8) -> DataFrame:
    """Corpus-wide PARAGRAPH-level exact dedup (the C4/Dolma pattern:
    a repeated paragraph survives only at its first occurrence, not
    once per document — document-level dedup misses it entirely).
    Paragraph unit here: consecutive ``span``-token spans of the
    ws-tokenized text (the fixture corpus has no newlines; with real
    newline-delimited pages, split on '\\n' instead — same plan).

    First occurrence = the corpus-wide lexicographic MIN of the
    (id, idx) struct per paragraph; DuckDB's struct min orders
    identically, so the rule is bit-identical in any engine with no
    scalar-encoding overflow (a scalar id*K+idx key would silently
    crown the wrong survivor once a document exceeds K spans).

    Physical form: the per-paragraph min is a whole-partition WINDOW
    over the single paragraph exchange, not groupBy+join-back — the
    join form re-scans and re-explodes the whole corpus for the probe
    side (measured: 2 scans, 2 Generates, 3 exchanges vs 1/1/2 here,
    bit-identical results), and its sort-merge join pays the same
    para-sort the window needs anyway. At crawl scale that halves the
    heaviest cost in the plan (tokenize+explode of every document);
    reassembly is one per-document sort of kept spans. The shuffled
    key here is the paragraph STRING — exact-portable for the value
    oracle but a full-corpus-text exchange at crawl scale; production
    runs use :func:`paragraph_dedup_hashed` (bit-identical output,
    16-byte double-hash keys, equivalence-tested).

    Returns (id, n_paras, n_kept, dedup_text)."""
    t = tokens(F.col(text_col))
    spans = _span_array(t, span)
    p = (
        docs.filter(F.col(text_col).isNotNull() & (F.size(t) > 0))
        .select(F.col(id_col), F.posexplode(spans).alias("idx", "para"))
    )
    occ = F.struct(F.col(id_col).alias("d"), F.col("idx").alias("i"))
    w = Window.partitionBy("para")
    keep = p.withColumn("kept", occ == F.min(occ).over(w))
    return (
        keep.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("kept"), F.struct("idx", "para"))
                        )
                    ),
                    lambda s: s["para"],
                ),
                " ",
            ).alias("dedup_text"),
        )
    )


def span_hash_cols(para: Column) -> tuple[Column, Column]:
    """The 128-bit (xxhash64, confirm-xxhash64) span key — the ONE
    definition shared by :func:`paragraph_dedup_hashed`, the curate
    pipeline's para-dedup stage, and the streaming span state
    (both import it from here via plans.pipeline), so no side can
    silently drift to a different key family."""
    return F.xxhash64(para), F.xxhash64(F.lit("pd2"), para)


def paragraph_dedup_hashed(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", span: int = 8,
                           h1=None) -> DataFrame:
    """PRODUCTION twin of :func:`paragraph_dedup` — identical output
    (same columns, bit-identical values on any realistic corpus), but
    the corpus-wide exchange carries a 16-byte DOUBLE HASH of each
    paragraph instead of the paragraph string:

    1. explode to (id, idx) + h1 = xxhash64(para), h2 = xxhash64
       ('pd2', para) and DROP the string before the shuffle — the
       first-occurrence arg-min (corpus-wide min (id, idx) struct per
       (h1, h2) group) then runs over 32-byte rows where the exact
       form shuffles every span verbatim (~the whole corpus text, with
       Zipf-hot boilerplate spans as skew magnets);
    2. fold the surviving span ordinals into ONE sorted int array per
       document (a ~n_spans·4-byte row keyed by the doc id — uniform,
       never hot); steps 1-2 are :func:`first_occurrence_ordinals`,
       the curate pipeline's para-dedup rule too;
    3. rebuild dedup_text in a second pass: join that kept-ordinal
       array back to the docs table on the id and re-derive the span
       array map-side — text crosses an exchange exactly once, keyed
       by the uniform document id (and not at all when the corpus is
       stored bucketed by id, the deployment layout).

    This is the hash-then-confirm pattern of plans/pipeline.
    boilerplate_sets and the streaming boiler state applied to
    cross-corpus dedup (ref analog: the reference's own physical-form
    swap, src/cur-prot/reclassify.py:40-47): a false survivor needs a
    simultaneous h1 AND h2 collision between distinct spans — 2^-128
    per pair, negligible birthday risk even at 10^12 spans (a single
    64-bit hash would NOT be: ~10^24 pairs). The exact string-keyed
    form stays as the value-oracle anchor; equivalence (including an
    adversarial h1-collision fixture resolved by h2) is pinned in
    tests/test_dedup_similarity.py, and the no-string-shuffle claim in
    tests/test_plans.py.

    ``h1`` is injectable FOR TESTS ONLY (a column function mapping the
    paragraph to a long) so a crafted h1 collision can prove the
    confirm hash carries the decision; production always uses the
    default xxhash64 pair.

    Returns (id, n_paras, n_kept, dedup_text) — same as the exact form.

    PRECONDITION (both forms): ``id_col`` is unique. The exact form
    silently merges duplicate-id rows into one interleaved group (its
    (id, idx) survivor key is ambiguous there), while this twin's
    rebuild join would fan out per input row and mis-index ordinals
    into the wrong row's span array — duplicate ids are a data error
    for BOTH; gate upstream with plans.quality_checks (the
    duplicate_id_audit operator) as the curate pipeline does with its
    url-dedup stage.
    """
    t = tokens(F.col(text_col))
    spans = _span_array(t, span)
    live = docs.filter(F.col(text_col).isNotNull() & (F.size(t) > 0))
    p = live.select(F.col(id_col), F.posexplode(spans).alias("idx", "para"))
    d_h1, d_h2 = span_hash_cols(F.col("para"))
    hp = p.select(
        id_col,
        "idx",
        (h1(F.col("para")) if h1 is not None else d_h1).alias("_h1"),
        d_h2.alias("_h2"),
    )
    rebuilt = live.select(F.col(id_col), spans.alias("_spans")).join(
        first_occurrence_ordinals(hp, id_col, "idx"), id_col
    )
    return rebuilt.select(
        id_col,
        F.size("_spans").cast("long").alias("n_paras"),
        F.size("_kept_idx").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.col("_kept_idx"), lambda i: F.element_at(F.col("_spans"), i + 1)
            ),
            " ",
        ).alias("dedup_text"),
    )


def first_occurrence_ordinals(rows: DataFrame, id_col: str, idx_col: str,
                              history: DataFrame | None = None) -> DataFrame:
    """The first-occurrence rule of the hashed paragraph dedup, shared
    by :func:`paragraph_dedup_hashed` and the curate pipeline's
    para-dedup stage: from (id, idx, _h1, _h2) span rows, keep a span
    only at the corpus-wide min (id, idx) of its 128-bit key — one
    window over the 16-byte key, no string — and fold each document's
    surviving ordinals into one sorted int array. Returns
    (id, _kept_idx); a document whose every span lost has an empty
    array.

    ``history``: an (h1, h2) frame of span keys seen EARLIER (the
    streaming span store). A span whose key appears there is dropped
    too — its first occurrence lives in an already-committed batch —
    so batch and streaming runs share one survivor rule: first
    occurrence in (batch, id, idx) order."""
    occ = F.struct(F.col(id_col).alias("u"), F.col(idx_col).alias("i"))
    flags = rows.withColumn(
        "_kept", occ == F.min(occ).over(Window.partitionBy("_h1", "_h2"))
    )
    if history is not None:
        hist = (
            history.select(F.col("h1").alias("_h1"), F.col("h2").alias("_h2"))
            .distinct()
            .withColumn("_hist", F.lit(True))
        )
        flags = flags.join(hist, ["_h1", "_h2"], "left").withColumn(
            "_kept", F.col("_kept") & F.col("_hist").isNull()
        )
    return flags.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.when(F.col("_kept"), F.col(idx_col)))
        ).alias("_kept_idx")
    )


def minhash_signatures(df: DataFrame, key: str, text_col: str = "text",
                       num_hashes: int = 16, shingle_k: int = 3) -> DataFrame:
    """MinHash signature per doc: num_hashes independent min-hashes of
    the shingle set, each via xxhash64(shingle, seed_i). One explode +
    one partial-agg'd groupBy — cost O(distinct shingles per doc):
    MinHash is set-semantics, so the per-doc array_distinct changes
    nothing in the result and sheds hash work on repetitive text.

    Measured note (round 3): an all-array-side "zero-shuffle"
    formulation (array_min over per-shingle hashes of token-hash
    windows) was built and REJECTED — 27.8s vs 8.9s at sf0.1, because
    CollapseProject re-inlines the token-hash array into all 16
    signature columns (16x recompute) and higher-order lambdas run
    interpreted. The explode + partial-agg'd min stays in whole-stage
    codegen and ships only 16 longs per doc per input partition — same
    conclusion as the ngram_jaccard ReusedExchange analysis in
    BENCH.md."""
    sh = df.select(
        F.col(key),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), shingle_k))).alias("shingle"),
    )
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(key).agg(*aggs)


def signature_with_bands(sig: DataFrame, key: str, num_hashes: int = 16,
                         bands: int = 8) -> DataFrame:
    """(key, sig: array<long>, bks: array<long>) — the compact row a
    cross-corpus signature STORE keeps per document: the full MinHash
    signature plus one precomputed band key per band (same
    xxhash64-of-band-columns family lsh_candidate_pairs uses). At
    ~(num_hashes + bands + 1) longs per document this is what rides a
    state table or an inter-job handoff; candidates against the store
    are a posexplode of ``bks`` on both sides and an equi-join on
    (band, band_key), and similarity is estimated from the signatures
    alone (matching components / num_hashes) — no document text ever
    enters the store."""
    rpb = num_hashes // bands
    sig_arr = F.array(*[F.col(f"mh{i}") for i in range(num_hashes)])
    bks = F.array(
        *[
            F.xxhash64(*[F.col(f"mh{b * rpb + r}") for r in range(rpb)])
            for b in range(bands)
        ]
    )
    return sig.select(F.col(key), sig_arr.alias("sig"), bks.alias("bks"))


def lsh_candidate_pairs(sig: DataFrame, key: str, num_hashes: int = 16,
                        bands: int = 8) -> DataFrame:
    """Band the signatures and self-join on (band, band_hash):
    candidate pairs that agree on ≥1 band. Returns (key_a, key_b).

    Banding goes through signature_with_bands — the SAME band-key
    construction a cross-batch signature store uses — so in-batch
    candidate generation and stored-state matching can never diverge
    on band layout (one implementation, not two copies of the
    rpb-slice + xxhash64 formula)."""
    return band_candidate_pairs(
        signature_with_bands(sig, key, num_hashes, bands), key
    )


def band_candidate_pairs(rows: DataFrame, key: str) -> DataFrame:
    """(key_a, key_b) candidates from (key, sig, bks) banded rows (the
    signature_with_bands / signature-store shape): posexplode the band
    keys and equi-self-join on (band, band_key). key_a < key_b, one
    row per pair regardless of how many bands collide."""
    banded = rows.select(
        F.col(key), F.posexplode("bks").alias("band", "band_key")
    )
    a, b_ = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .select(F.col(f"a.{key}").alias("key_a"), F.col(f"b.{key}").alias("key_b"))
        .distinct()
    )


def signature_history_losers(cur: DataFrame, hist: DataFrame, key: str,
                             num: int, den: int, num_hashes: int) -> DataFrame:
    """(key, near_dup_of) for every ``cur`` row whose MinHash signature
    matches some ``hist`` row's on >= num/den of its ``num_hashes``
    components — the cross-batch near-dup estimate against a signature
    store, which holds no text to shingle-verify against.

    ``cur`` is (key, sig, bks) rows (signature_with_bands' shape),
    ``hist`` is (h_<key>, h_sig, band, band_key) rows. Candidates come
    from an equi-join on (band, band_key); the threshold is an integer
    cross-multiplication on the matching-component count (never a
    float compare); near_dup_of is the smallest matching h_<key>. A
    same-key match counts. Signature values are only compared for
    equality, so any hash family works."""
    h_key = f"h_{key}"
    cand = (
        cur.select(key, "sig", F.posexplode("bks").alias("band", "band_key"))
        .join(hist, ["band", "band_key"])
        .select(key, "sig", h_key, "h_sig")
        .distinct()
    )
    m = F.size(
        F.filter(
            F.zip_with(F.col("sig"), F.col("h_sig"), lambda a, b: a == b),
            lambda x: x,
        )
    )
    return (
        cand.withColumn("_m", m)
        .filter(F.col("_m") * den >= F.lit(num * num_hashes))
        .groupBy(key)
        .agg(F.min(h_key).alias("near_dup_of"))
    )


def jaccard_verify(df: DataFrame, pairs: DataFrame, key: str,
                   text_col: str = "text", shingle_k: int = 3,
                   threshold: float = 0.8) -> DataFrame:
    """Verify candidate pairs by true shingle-set Jaccard (the
    verification stage after LSH). Returns pairs with jaccard ≥ threshold.

    Scale note (round-3): shingles are materialized ONLY for documents
    that appear in a candidate pair (left-semi prune before the
    explode) — the verify stage's cost tracks the candidate set, not
    the corpus."""
    cand_keys = (
        pairs.select(F.col("key_a").alias(key))
        .unionByName(pairs.select(F.col("key_b").alias(key)))
        .distinct()
    )
    df = df.join(cand_keys, key, "left_semi")
    sh = df.select(
        F.col(key).alias("k"),
        F.explode_outer(
            F.array_distinct(word_shingles(F.col(text_col), shingle_k))
        ).alias("shingle"),
    )
    sizes = sh.groupBy("k").agg(
        F.count(F.col("shingle")).alias("sz")
    )
    # intersection size: pair ⋈ shingles(a) ⋈ shingles(b) with the
    # shingle equality inside the join keys (equi-join, no blow-up)
    sh_a = sh.withColumnRenamed("k", "key_a")
    sh_b = sh.withColumnRenamed("k", "key_b")
    common = (
        pairs.join(sh_a, "key_a")
        .join(sh_b, ["key_b", "shingle"])
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        common.join(sizes.withColumnRenamed("k", "key_a").withColumnRenamed("sz", "size_a"), "key_a")
        .join(sizes.withColumnRenamed("k", "key_b").withColumnRenamed("sz", "size_b"), "key_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "key_a", "key_b", "jaccard", "n_common", "size_a", "size_b"
    )


def minhash_dedup(df: DataFrame, key: str, text_col: str = "text",
                  num_hashes: int = 16, bands: int = 8,
                  threshold: float = 0.8) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → Jaccard
    verify. Returns verified (key_a, key_b, jaccard) pairs."""
    sig = minhash_signatures(df, key, text_col, num_hashes)
    cand = lsh_candidate_pairs(sig, key, num_hashes, bands)
    return jaccard_verify(df, cand, key, text_col, threshold=threshold)


def simhash(df: DataFrame, key: str, text_col: str = "text", bits: int = 32,
            hash_fn=None, token_expr: Column | None = None) -> DataFrame:
    """SimHash fingerprint: per token, xxhash64 → take `bits` bits;
    weighted bit-vote via token counts; fingerprint bit i = sign of the
    vote. Pure aggregation — one shuffle on (key, token) then one on key.

    ``hash_fn``/``token_expr`` let the driver-oracle query swap in the
    engine-portable md5 hash family and a plain space tokenizer
    (plans/queries.simhash_pairs); the defaults are the fast
    production forms."""
    hash_fn = hash_fn or F.xxhash64
    tok_arr = token_expr if token_expr is not None else tokens(F.col(text_col))
    tok = (
        df.select(F.col(key), F.explode(tok_arr).alias("token"))
        .groupBy(key, "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", hash_fn(F.col("token")))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.col("cnt"))
            .otherwise(-F.col("cnt"))
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    v = tok.groupBy(key).agg(*votes)
    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp + F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return v.select(F.col(key), fp.alias("simhash"))


def simhash_near_pairs(fp: DataFrame, key: str, max_hamming: int = 3,
                       bits: int = 32, blocks: int = 4) -> DataFrame:
    """Near-dup pairs by SimHash: block the fingerprint into `blocks`
    bit-ranges (pigeonhole: ≤ max_hamming diffs ⇒ ≥1 identical block
    when blocks > max_hamming), join per block, verify with bit_count."""
    width = bits // blocks
    parts = []
    for b in range(blocks):
        parts.append(
            fp.select(
                F.col(key),
                F.col("simhash"),
                F.lit(b).alias("blk"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("blk_key"),
            )
        )
    banded = parts[0]
    for p in parts[1:]:
        banded = banded.unionByName(p)
    a, b_ = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_key") == F.col("b.blk_key"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .select(
            F.col(f"a.{key}").alias("key_a"),
            F.col(f"b.{key}").alias("key_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash")).bitwiseAND(
                    F.lit((1 << bits) - 1)
                )
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks behind a localCheckpoint()ed frame now rather
    than at whatever JVM GC lets Spark's cleaner find it unreachable.
    The frame cannot be read afterwards."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def connected_components(pairs: DataFrame, key_a: str = "key_a",
                         key_b: str = "key_b", max_iter: int = 25) -> DataFrame:
    """Near-dup GROUPS from pair output: connected components by
    min-label propagation. Each node starts labeled with itself; every
    iteration each node takes the min label among itself and its
    neighbors; converges in O(component diameter) rounds — near-dup
    clusters are shallow (stars/chains of a few hops), so a handful of
    iterations suffices at any corpus size.

    Scale notes: per round this is one equi-join + one partial-agg'd
    groupBy min (both shuffle on the node key and reuse the same
    partitioning); localCheckpoint truncates the iterative lineage so
    the plan does not grow with rounds; convergence is detected with an
    exact count of changed labels. For pathological diameters the
    large-star/small-star CC algorithm halves rounds, but near-dup
    graphs never get there. Returns (node, group) with group = min key
    in the component; only keys that appear in ``pairs`` are returned.
    The returned frame is a local checkpoint, the only one of the
    function's checkpoints left; release_checkpoint frees it once the
    caller is done with it."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    edges = pairs.select(F.col(key_a).alias("a"), F.col(key_b).alias("b"))
    # materialize the symmetric edge set ONCE: pairs is typically the
    # whole near-dup detection pipeline (minhash/simhash), and leaving
    # it lazy would re-execute that pipeline inside EVERY propagation
    # round's join
    edges = (
        edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = old = None
    try:
        labels = (
            edges.select(F.col("a").alias("node")).distinct()
            .withColumn("group", F.col("node"))
            .localCheckpoint()
        )
        for _ in range(max_iter):
            prop = (
                edges.join(labels, edges["a"] == labels["node"])
                .select(F.col("b").alias("node"), "group")
            )
            old, labels = labels, (
                labels.unionByName(prop)
                .groupBy("node")
                .agg(F.min("group").alias("group"))
                .localCheckpoint()
            )
            changed = (
                labels.alias("n")
                .join(old.alias("o"), "node")
                .filter(F.col("n.group") != F.col("o.group"))
                .count()
            )
            release_checkpoint(old)
            old = None
            if changed == 0:
                return labels
        # exhausting max_iter with labels still moving would silently
        # SPLIT a real component into several group ids — refuse loudly
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — the "
            "component diameter exceeds it"
        )
    except BaseException:
        for held in (old, labels):
            if held is not None:
                release_checkpoint(held)
        raise
    finally:
        release_checkpoint(edges)
