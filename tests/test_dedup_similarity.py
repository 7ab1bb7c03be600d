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


def test_exact_duplicates(spark, docs):
    out = dedup.exact_duplicates(docs, "doc_id")
    groups = out.groupBy("group_key").count().filter("count > 1").count()
    assert groups == 1  # {100, 101, 102} share the same text
    canon = {r["doc_id"] for r in out.filter("is_canonical").collect()}
    assert 100 in canon and 101 not in canon


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


def test_brute_force_topk(spark, emb):
    qv = emb.filter("vec_id = 0").first()["embedding"]
    top = similarity.brute_force_topk(emb, [float(x) for x in qv], k=5).collect()
    assert top[0]["vec_id"] == 0 and abs(top[0]["cosine"] - 1.0) < 1e-9
    sims = [r["cosine"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ann_lsh_recall(spark, emb):
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    exact = {r["vec_id"] for r in similarity.brute_force_topk(emb, qv, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in similarity.ann_topk_lsh(emb, qv, k=10, planes=4, probe_hamming=1).collect()
    }
    # multi-probe (hamming ≤1 of 4 planes) scans ~5/16 of vectors;
    # require the query itself plus decent recall of the true top-10
    assert 0 in approx
    assert len(exact & approx) >= 5, (exact, approx)


def test_ann_ivf_recall_and_partition(spark, emb):
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    exact = {r["vec_id"] for r in similarity.brute_force_topk(emb, qv, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in similarity.ann_topk_ivf(emb, qv, k=10, n_lists=8, n_probe=4).collect()
    }
    # probing half the lists must find the query itself + decent recall
    assert 0 in approx
    assert len(exact & approx) >= 5, (exact, approx)
    # the assignment is a total partition of the data
    cents = similarity.ivf_centroids(emb, 8)
    assign = similarity.ivf_assign(emb, cents)
    assert assign.count() == emb.count()
    assert assign.select("vec_id").distinct().count() == emb.count()
    # determinism: same centroids on rerun
    again = {r["centroid_id"] for r in similarity.ivf_centroids(emb, 8).collect()}
    assert again == {r["centroid_id"] for r in cents.collect()}


def test_ivf_lloyd_refinement(spark, emb):
    """One Lloyd pass must be deterministic, keep the assignment a
    total partition, and not worsen the clustering objective
    (mean cosine of each vector to its assigned centroid)."""
    import math

    def objective(cents):
        assign = {r["vec_id"]: r["centroid_id"]
                  for r in similarity.ivf_assign(emb, cents).collect()}
        cvecs = {r["centroid_id"]: r["centroid_vec"] for r in cents.collect()}
        vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
        total = 0.0
        for vid, cid in assign.items():
            v, c = vecs[vid], cvecs[cid]
            dot = sum(float(a) * float(b) for a, b in zip(v, c))
            nv = math.sqrt(sum(float(a) ** 2 for a in v)) or 1.0
            nc = math.sqrt(sum(float(b) ** 2 for b in c)) or 1.0
            total += dot / (nv * nc)
        return total / len(assign), assign

    seed = similarity.ivf_centroids(emb, 8)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    lloyd = similarity.ivf_centroids_lloyd(emb, 8, iters=1)
    # the refined table is a literal frame: nothing left in the block
    # manager for a later GC to reclaim
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= persisted
    obj0, _ = objective(seed)
    obj1, assign1 = objective(lloyd)
    assert obj1 >= obj0 - 1e-9, (obj0, obj1)
    assert len(assign1) == emb.count()  # still a total partition
    # deterministic: rerun bit-identical
    again = {
        (r["centroid_id"], tuple(r["centroid_vec"]))
        for r in similarity.ivf_centroids_lloyd(emb, 8, iters=1).collect()
    }
    assert again == {
        (r["centroid_id"], tuple(r["centroid_vec"])) for r in lloyd.collect()
    }
    # the refined index still answers queries with decent recall
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    exact = {r["vec_id"] for r in similarity.brute_force_topk(emb, qv, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in similarity.ann_topk_ivf(
            emb, qv, k=10, n_lists=8, n_probe=4, centroids=lloyd
        ).collect()
    }
    assert 0 in approx and len(exact & approx) >= 5, (exact, approx)


def test_pairwise_topk_scale_shape(spark, emb):
    # planes auto-derived from corpus size: bounded bucket occupancy
    assert similarity.planes_for(10) == 4
    assert similarity.planes_for(1024, target_bucket_rows=32) == 5
    assert similarity.planes_for(10**12, target_bucket_rows=32) == 30
    pairs = similarity.pairwise_topk(emb, k=3)
    rows = pairs.collect()
    assert rows, "bucketed self-join found no candidate pairs"
    assert all(r["key_a"] < r["key_b"] for r in rows)
    assert all(-1.0001 <= r["cosine"] <= 1.0001 for r in rows)
    # quantized-integer cosine tracks the exact float cosine closely:
    # spot-check one pair against cosine_cols on the raw embeddings
    r0 = rows[0]
    va = emb.filter(F.col("vec_id") == r0["key_a"]).first()["embedding"]
    vb = emb.filter(F.col("vec_id") == r0["key_b"]).first()["embedding"]
    import math

    dot = sum(float(x) * float(y) for x, y in zip(va, vb))
    na = math.sqrt(sum(float(x) ** 2 for x in va))
    nb = math.sqrt(sum(float(x) ** 2 for x in vb))
    assert abs(r0["cosine"] - dot / (na * nb)) < 5e-3


def test_interval_join(spark):
    facts = spark.createDataFrame([(1, 1995), (2, 2001), (3, 2010)], "id long, year long")
    dim = spark.createDataFrame(
        [("old", 1990, 2000), ("new", 2000, 2020)], "era string, start long, end long"
    )
    out = joins.interval_join(
        facts, dim, F.col("year"), F.col("start"), F.col("end")
    ).select("id", "era")
    assert {(r["id"], r["era"]) for r in out.collect()} == {(1, "old"), (2, "new"), (3, "new")}


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


def test_lookup_arbitration(spark):
    facts = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    dim = spark.createDataFrame(
        [(1, "1900"), (2, "1900"), (2, "1910")], "k long, dob string"
    )
    out = joins.lookup_with_arbitration(facts, dim, "k", "dob")
    got = {r["k"]: r["dob"] for r in out.collect()}
    assert got == {1: "1900", 2: "Multival", 3: None}


def test_containment_join(spark):
    sents = spark.createDataFrame([("unika meningen",), ("vanlig text",)], "sentence string")
    pages = spark.createDataFrame(
        [(1, "här står unika meningen mitt i"), (2, "vanlig text a"), (3, "vanlig text b")],
        "page long, page_text string",
    )
    out = joins.containment_join_unique_page(sents, pages)
    got = {r["sentence"]: r["page"] for r in out.collect()}
    assert got == {"unika meningen": 1}  # ambiguous sentence dropped


def test_stratified_and_weighted_sampling(spark, docs):
    d = docs.withColumn("stratum", (F.col("doc_id") % 3).cast("int")).withColumn(
        "w", (F.col("doc_id") + 1).cast("double")
    )
    s1 = sampling.stratified_fixed_n(d, ["stratum"], 4, "doc_id")
    assert all(r["count"] <= 4 for r in s1.groupBy("stratum").count().collect())
    # determinism
    s2 = sampling.stratified_fixed_n(d, ["stratum"], 4, "doc_id")
    assert {r["doc_id"] for r in s1.collect()} == {r["doc_id"] for r in s2.collect()}
    ws = sampling.weighted_stratum_sample(d, "stratum", "w", "doc_id", 3)
    assert all(r["count"] <= 3 for r in ws.groupBy("stratum").count().collect())
    ws2 = sampling.weighted_stratum_sample(d, "stratum", "w", "doc_id", 3)
    assert {r["doc_id"] for r in ws.collect()} == {r["doc_id"] for r in ws2.collect()}


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


def test_lsh_bucket_skips_null_and_ragged_vectors(spark):
    """A NULL or wrong-length embedding must get no bucket (like the
    old posexplode form) — not crash the numpy matmul batch."""
    rows = [
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, None),
        (3, [1.0, 2.0]),           # ragged: wrong dim
        (4, [0.5, -1.0, 2.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"] for r in similarity.lsh_bucket(emb, dim=4, planes=4).collect()}
    assert got == {1, 4}


def test_containment_indexed_matches_bnlj(spark):
    """The equi-join-blocked containment form must return exactly the
    BNLJ form's answer, including multi-page drops, absent sentences,
    short-sentence fallback, and sentences at page edges."""
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
            ("s2", "om vårbudgeten"),                    # 2 tokens → fallback; p3 only
            ("s3", "ordet unikum精 precis"),             # internal unicode token; p4
            ("s4", "finns ej någonstans alls"),          # absent → dropped
            ("s5", "kort sida om vårbudgeten"),          # whole page p3
        ],
        "sid string, sentence string",
    )
    a = joins.containment_join_unique_page(sents, pages)
    b = joins.containment_join_unique_page_indexed(sents, pages)
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb and len(ra) == 3, (ra, rb)
    # main-path plan check: the plan may contain EXACTLY ONE
    # nested-loop join — the short-sentence tail fallback — so a
    # regression that routed the main candidate path through a BNLJ
    # shows up as a second NestedLoopJoin node (merely asserting "some
    # equi-join exists" would still pass in that case)
    plan = b._jdf.queryExecution().executedPlan().toString()
    # AQE prints the tree twice (Final + Initial) — count in final only
    plan = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("NestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan, plan


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
