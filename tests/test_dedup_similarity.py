"""Dedup (exact/MinHash-LSH/SimHash/Jaccard) and ANN similarity
operators on fixtures with planted duplicates."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from scripts_spark.operators import dedup, joins, sampling, similarity

WORDS = ["spark", "data", "query", "join", "table", "scan", "filter", "agg",
         "window", "batch", "row", "column", "hash", "sort", "merge", "scale"]


def _doc(rnd, n=60):
    return " ".join(rnd.choice(WORDS) for _ in range(n))


@pytest.fixture(scope="module")
def docs(spark):
    rnd = random.Random(7)
    rows = []
    for i in range(40):
        rows.append((i, _doc(rnd)))
    # planted: 100/101 exact dup; 102/103 near-dup (1-word edit);
    # 104/105 near-dup (5% edits)
    base = _doc(rnd, 80)
    rows.append((100, base))
    rows.append((101, base))
    toks = base.split()
    toks[40] = "XXX"
    rows.append((102, base))
    rows.append((103, " ".join(toks)))
    toks2 = _doc(rnd, 100).split()
    near = list(toks2)
    for j in (10, 50, 90):
        near[j] = "YYY"
    rows.append((104, " ".join(toks2)))
    rows.append((105, " ".join(near)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_planted_pairs(spark, docs):
    pairs = dedup.minhash_dedup(docs, "doc_id", threshold=0.5)
    got = {(r["key_a"], r["key_b"]) for r in pairs.collect()}
    assert (100, 101) in got or (100, 102) in got  # exact dups certain
    assert (104, 105) in got, got  # 3/100 token edit → high jaccard
    jac = {(r["key_a"], r["key_b"]): r["jaccard"] for r in pairs.collect()}
    for (a, b), j in jac.items():
        assert 0.5 <= j <= 1.0


def test_jaccard_exact_values(spark, docs):
    sig = dedup.minhash_signatures(docs, "doc_id")
    cand = dedup.lsh_candidate_pairs(sig, "doc_id")
    ver = dedup.jaccard_verify(docs, cand, "doc_id", threshold=0.0)
    row = {(r["key_a"], r["key_b"]): r for r in ver.collect()}.get((100, 101))
    assert row is not None and row["jaccard"] == 1.0


def test_simhash_near_pairs(spark, docs):
    fp = dedup.simhash(docs, "doc_id")
    assert fp.count() == docs.count()
    pairs = dedup.simhash_near_pairs(fp, "doc_id", max_hamming=0)
    got = {(r["key_a"], r["key_b"]) for r in pairs.collect()}
    assert (100, 101) in got or (100, 102) in got
    # identical docs → identical fingerprints → hamming 0
    vals = {r["doc_id"]: r["simhash"] for r in fp.collect()}
    assert vals[100] == vals[101] == vals[102]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_ivf_assign_is_total_partition(spark, emb):
    # the assignment is a total partition of the data
    cents = similarity.ivf_centroids(emb, 8)
    assign = similarity.ivf_assign(emb, cents)
    assert assign.count() == emb.count()
    assert assign.select("vec_id").distinct().count() == emb.count()
    # determinism: same centroids on rerun
    again = {r["centroid_id"] for r in similarity.ivf_centroids(emb, 8).collect()}
    assert again == {r["centroid_id"] for r in cents.collect()}


def test_planes_for_bounds_bucket_occupancy():
    # planes auto-derived from corpus size: bounded bucket occupancy
    assert similarity.planes_for(10) == 4
    assert similarity.planes_for(1024, target_bucket_rows=32) == 5
    assert similarity.planes_for(10**12, target_bucket_rows=32) == 30


def test_fuzzy_cascade(spark):
    facts = spark.createDataFrame(
        [(1, "andersson"), (2, "anderson"), (3, "qqqq")], "fid long, name string"
    )
    dim = spark.createDataFrame([("andersson", "A1")], "dname string, mp_id string")
    stages = [
        ("exact", F.col("name") == F.col("dname")),
        ("lev1", F.levenshtein(F.col("name"), F.col("dname")) <= 1),
    ]
    out = joins.fuzzy_match_cascade(facts, dim, "fid", stages)
    got = {r["fid"]: r["match_stage"] for r in out.collect()}
    assert got == {1: "exact", 2: "lev1", 3: None}


def test_containment_join(spark):
    sents = spark.createDataFrame([("unika meningen",), ("vanlig text",)], "sentence string")
    pages = spark.createDataFrame(
        [(1, "här står unika meningen mitt i"), (2, "vanlig text a"), (3, "vanlig text b")],
        "page long, page_text string",
    )
    out = joins.containment_join_unique_page(sents, pages)
    got = {r["sentence"]: r["page"] for r in out.collect()}
    assert got == {"unika meningen": 1}  # ambiguous sentence dropped


def test_stratified_sampling(spark, docs):
    d = docs.withColumn("stratum", (F.col("doc_id") % 3).cast("int"))
    s1 = sampling.stratified_fixed_n(d, ["stratum"], 4, "doc_id")
    assert all(r["count"] <= 4 for r in s1.groupBy("stratum").count().collect())
    # determinism
    s2 = sampling.stratified_fixed_n(d, ["stratum"], 4, "doc_id")
    assert {r["doc_id"] for r in s1.collect()} == {r["doc_id"] for r in s2.collect()}


def test_connected_components_groups(spark):
    # two components: a chain 1-2-3-4 (diameter 3 — needs propagation,
    # not just one hop) and a pair 10-11; singleton edges only
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "key_a long, key_b long"
    )
    got = {r["node"]: r["group"] for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # determinism
    again = {r["node"]: r["group"] for r in dedup.connected_components(pairs).collect()}
    assert again == got


def test_connected_components_no_converge_releases_checkpoints(spark):
    """A chain deeper than max_iter raises, and the edge set and label
    checkpoints it took are released rather than left to the session."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "key_a long, key_b long"
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1)
    assert jsc.getPersistentRDDs().size() == before


def test_asof_join_semantics(spark):
    # right rows at EQUAL ts are visible (<= semantics); later rights
    # are not; keys without any prior right carry null
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "k long, t long, tag string"
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (1, 25, 250.0)], "k long, t long, v double"
    )
    out = {
        (r["k"], r["t"]): r["v_asof"]
        for r in joins.asof_join(left, right, key="k", ts="t", value_cols=["v"]).collect()
    }
    assert out == {(1, 10): 100.0, (1, 20): 150.0, (2, 5): None}


def test_asof_join_atomic_row_carry(spark):
    """Multi-column carry is ATOMIC: with right rows tied on (key, ts)
    — (1, 7) and (2, NULL) — the carried tuple must be one of the two
    actual rows (the struct-max (2, NULL)), never a per-column mix like
    (2, 7) that exists in neither row."""
    left = spark.createDataFrame([(1, 20)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 10, 1, 7), (1, 10, 2, None)], "k long, t long, a long, b long"
    )
    r = joins.asof_join(left, right, key="k", ts="t", value_cols=["a", "b"]).first()
    assert (r["a_asof"], r["b_asof"]) == (2, None), r


def test_banded_near_pairs_subset_of_bruteforce(spark):
    """LSH candidate generation can only LOSE pairs, never invent
    them: every banded pair must also pass the brute-force threshold
    join, with identical dot/norm values, and the testdata's known
    near-pairs must be substantially recovered (6 of 7 at sf0.001
    with 8x3 planes — deterministic, pinned)."""
    from scripts_spark.plans import queries as Q

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    got = {
        (r["key_a"], r["key_b"]): (r["dot"], r["n2_a"], r["n2_b"])
        for r in similarity.banded_near_pairs(emb, dim=64).collect()
    }
    brute = {
        (r["vec_a"], r["vec_b"]): (r["dot"], r["n2_a"], r["n2_b"])
        for r in Q.REGISTRY["embedding_near_pairs"](spark, sf).collect()
    }
    assert set(got) <= set(brute)
    assert all(brute[k] == v for k, v in got.items())
    assert len(got) == 6 and len(brute) == 7, (len(got), len(brute))
    # empty / all-null inputs: empty result with the right schema, not
    # a first()-crash or a silent dim=-1 nothing-matches filter
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.banded_near_pairs(empty).count() == 0
    nulls = spark.createDataFrame([(1, None)], "vec_id long, embedding array<float>")
    assert similarity.banded_near_pairs(nulls).count() == 0


def test_containment_join_edge_cases(spark):
    """Multi-page drops, absent sentences, short sentences, unicode
    tokens and a sentence that is a whole page."""
    pages = spark.createDataFrame(
        [
            ("p1", "inledning här talmannen öppnade sammanträdet idag"),
            ("p2", "en annan sida där talmannen öppnade sammanträdet idag igen"),
            ("p3", "kort sida om vårbudgeten"),
            ("p4", "slutet nämner ordet unikum精 precis en gång"),
        ],
        "page string, page_text string",
    )
    sents = spark.createDataFrame(
        [
            ("s1", "talmannen öppnade sammanträdet"),   # on p1 AND p2 → dropped
            ("s2", "om vårbudgeten"),                    # 2 tokens; p3 only
            ("s3", "ordet unikum精 precis"),             # internal unicode token; p4
            ("s4", "finns ej någonstans alls"),          # absent → dropped
            ("s5", "kort sida om vårbudgeten"),          # whole page p3
        ],
        "sid string, sentence string",
    )
    got = sorted(tuple(r) for r in joins.containment_join_unique_page(sents, pages).collect())
    assert got == [
        ("kort sida om vårbudgeten", "p3"),
        ("om vårbudgeten", "p3"),
        ("ordet unikum精 precis", "p4"),
    ], got


def test_banded_candidates_grow_linearly(spark):
    """The occupancy-sizing claim as a measured curve, not a docstring:
    with band_planes=None (auto planes_for sizing) a 10x larger corpus
    of deterministic pseudo-random vectors must produce ~10x the
    candidate pairs — NOT ~100x, which is what a fixed plane count
    degrades to (n²/2^p with p frozen). Bound at 30x to absorb the
    ceil() steps in planes_for and collision variance."""
    import numpy as np

    rnd = np.random.RandomState(7)
    dim, bands = 16, 4

    def mk(n):
        vs = rnd.randn(n, dim)
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vs)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def cand_count(n):
        t_cand = similarity.banded_candidates(
            mk(n), bands=bands, band_planes=None, dim=dim, target_bucket_rows=32
        )
        assert t_cand is not None
        return t_cand[1].count()

    c1, c10 = cand_count(300), cand_count(3000)
    assert c1 > 0
    assert c10 < 30 * max(c1, 1), (c1, c10)
    # and the auto-sizing actually moved: 3000 rows need more planes
    # than 300 at the same occupancy target
    assert similarity.planes_for(3000, 32) > similarity.planes_for(300, 32)


def test_paragraph_dedup_hashed_equivalence(spark, docs):
    """The hash-keyed production twin must be BIT-identical to the
    exact string-keyed form — on the planted-duplicate fixture, on the
    real testdata table, and under adversarial h1 collisions:
    (a) h1 = span length (massive collisions) and (b) h1 = constant 0
    (EVERY distinct span collides) must both still match exactly,
    proving the confirm hash alone carries the survivor decision."""
    td = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for frame in (docs, td):
        exact = sorted(tuple(r) for r in dedup.paragraph_dedup(frame).collect())
        fast = sorted(
            tuple(r) for r in dedup.paragraph_dedup_hashed(frame).collect()
        )
        assert exact == fast
    exact = sorted(tuple(r) for r in dedup.paragraph_dedup(td).collect())
    for crafted in (
        lambda c: F.length(c).cast("long"),
        lambda c: F.lit(0).cast("long"),
    ):
        got = sorted(
            tuple(r)
            for r in dedup.paragraph_dedup_hashed(td, h1=crafted).collect()
        )
        assert got == exact


def test_first_occurrence_ordinals_with_history(spark):
    """A span survives only at the min (id, idx) of its key, and not at
    all when its key is in the history; a doc whose every span is in
    the history comes back with an empty ordinal array, not no row."""
    rows = spark.createDataFrame(
        [("x", 0, 1, 1), ("x", 1, 2, 2), ("y", 0, 1, 1), ("y", 1, 3, 3),
         ("z", 0, 4, 4), ("z", 1, 5, 5)],
        "doc_id string, idx int, _h1 long, _h2 long",
    )
    hist = spark.createDataFrame([(4, 4), (5, 5), (9, 9)], "h1 long, h2 long")

    def kept(history):
        out = dedup.first_occurrence_ordinals(rows, "doc_id", "idx", history)
        return {r["doc_id"]: list(r["_kept_idx"]) for r in out.collect()}

    assert kept(None) == {"x": [0, 1], "y": [1], "z": [0, 1]}
    assert kept(hist) == {"x": [0, 1], "y": [1], "z": []}


def test_signature_history_losers_threshold_and_survivor(spark):
    """The history estimate at 4/5 over 5 hashes: 4 matching components
    (m·den == num·hashes) lose, 3 stay; a same-key hit names the doc
    itself; of two matching history rows the smaller key wins."""
    cur = spark.createDataFrame(
        [("a", [1, 2, 3, 4, 9], [10, 11]),
         ("b", [1, 2, 3, 8, 9], [20, 21]),
         ("c", [6, 6, 6, 6, 6], [30, 31]),
         ("d", [7, 7, 7, 7, 7], [40, 41])],
        "doc_id string, sig array<bigint>, bks array<bigint>",
    )
    hist = spark.createDataFrame(
        [("h1", [1, 2, 3, 4, 5], 0, 10),
         ("h2", [1, 2, 3, 4, 5], 0, 20),
         ("c", [6, 6, 6, 6, 6], 1, 31),
         ("h4", [7, 7, 7, 7, 7], 0, 40),
         ("h3", [7, 7, 7, 7, 7], 1, 41)],
        "h_doc_id string, h_sig array<bigint>, band int, band_key bigint",
    )
    got = dedup.signature_history_losers(cur, hist, "doc_id", 4, 5, 5)
    assert {r["doc_id"]: r["near_dup_of"] for r in got.collect()} == {
        "a": "h1", "c": "c", "d": "h3"
    }
