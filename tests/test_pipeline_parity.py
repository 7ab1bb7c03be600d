"""Full-pipeline parity: Spark curate() vs the pure-Python oracle on a
600-page deterministic fixture. Asserts the BASELINE.json contract:
keep/drop F1 ≥ 0.99 (expected 1.0) and byte-identical scrubbed_text
per url, plus exact doubles (integer-derived) and id determinism."""

from __future__ import annotations

import math

import pytest

from scripts_spark.oracle import pipeline_oracle
from scripts_spark.plans import pipeline
from scripts_spark.sources import pages

N = 600


@pytest.fixture(scope="module")
def fixture_rows():
    return pages.gen_rows(range(N))


@pytest.fixture(scope="module")
def spark_result(spark, fixture_rows):
    df = pages.pages_df(spark, N, partitions=6)
    out = pipeline.curate(df, pipeline.CurateConfig(num_buckets=8))
    return {r["url"]: r.asDict() for r in out.collect()}


@pytest.fixture(scope="module")
def oracle_result(fixture_rows):
    return pipeline_oracle.curate_rows(fixture_rows)


def test_same_urls(spark_result, oracle_result):
    assert set(spark_result) == set(oracle_result)
    # dup-url planted row collapses to one output row
    assert len(spark_result) < N


def test_keep_f1(spark_result, oracle_result):
    tp = fp = fn = 0
    for url, o in oracle_result.items():
        s = spark_result[url]
        if s["keep"] and o["keep"]:
            tp += 1
        elif s["keep"] and not o["keep"]:
            fp += 1
        elif not s["keep"] and o["keep"]:
            fn += 1
    f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    assert f1 >= 0.99, f"keep/drop F1 {f1} (fp={fp}, fn={fn})"
    assert fp == 0 and fn == 0, "decision arithmetic is exact; expected F1=1.0"


def test_reasons_match(spark_result, oracle_result):
    for url, o in oracle_result.items():
        assert list(spark_result[url]["filter_reasons"]) == o["filter_reasons"], url


def test_scrubbed_text_byte_identical(spark_result, oracle_result):
    for url, o in oracle_result.items():
        assert spark_result[url]["scrubbed_text"] == o["scrubbed_text"], url


def test_lang_and_doubles(spark_result, oracle_result):
    for url, o in oracle_result.items():
        s = spark_result[url]
        assert s["lang_pred"] == o["lang_pred"], url
        assert math.isclose(s["lang_conf"], o["lang_conf"], rel_tol=0, abs_tol=0), url
        assert math.isclose(s["perplexity"], o["perplexity"], rel_tol=0, abs_tol=0), url


def test_doc_ids(spark_result, oracle_result):
    for url, o in oracle_result.items():
        assert spark_result[url]["doc_id"] == o["doc_id"], url
    ids = [s["doc_id"] for s in spark_result.values()]
    assert len(ids) == len(set(ids)), "lineage ids must be unique (A8 invariant)"


def test_mixture_is_nontrivial(oracle_result):
    kept = sum(1 for o in oracle_result.values() if o["keep"])
    assert 0 < kept < len(oracle_result)
    reasons = {r for o in oracle_result.values() for r in o["filter_reasons"]}
    assert {"lang", "min_length"} <= reasons, reasons


def test_lineage_struct(spark_result):
    s = next(iter(spark_result.values()))
    lin = s["lineage"].asDict()
    assert set(lin) == {"source_partition", "rule_versions", "input_snapshot"}
    assert "pipeline" in lin["rule_versions"]


def test_join_scorer_equals_arrow(spark):
    """curate's Arrow scorer and the pure-SQL reference scorer
    (functions/scoring_join, the doc_scoring registry query's form)
    must give identical scores on curate()'s own scrubbed_text. The
    join form has no row for a zero-token doc; that counts as
    (0, 0, 0)."""
    from scripts_spark.functions import scoring_join, scoring_udf
    from scripts_spark.plans.pipeline import CurateConfig, curate, drain_curate_persisted
    from scripts_spark.sources import pages as P

    df = P.pages_df(spark, 150, partitions=3)
    txt = curate(df, CurateConfig(num_buckets=4)).select("url", "scrubbed_text")
    cols = scoring_udf.SCORE_COLS
    arrow = {r["url"]: tuple(r[c] for c in cols)
             for r in scoring_udf.with_scores(txt).collect()}
    join = {r["url"]: tuple(r[c] for c in cols)
            for r in scoring_join.doc_scores(txt).collect()}
    assert any(v != (0, 0, 0) for v in arrow.values())
    assert set(join) <= set(arrow)
    assert arrow == {u: join.get(u, (0, 0, 0)) for u in arrow}
    drain_curate_persisted()


def test_repartition_mode_is_physical_only(spark):
    """The skew-bench control arm (repartition_mode='domain') must
    change ONLY the exchange key, never the output — same decisions,
    same scrubbed text, same doc ids."""
    from scripts_spark.plans.pipeline import CurateConfig, curate
    from scripts_spark.sources import pages as P

    df = P.pages_df(spark, 150, partitions=3)
    a = curate(df, CurateConfig(num_buckets=4))
    b = curate(df, CurateConfig(num_buckets=4, repartition_mode="domain"))
    cols = ["url", "keep", "scrubbed_text", "doc_id"]
    ra = sorted(tuple(r[c] for c in cols) for r in a.select(cols).collect())
    rb = sorted(tuple(r[c] for c in cols) for r in b.select(cols).collect())
    assert ra == rb


def test_para_dedup_stage_parity_and_reasons(spark):
    """The opt-in corpus paragraph-dedup stage (CurateConfig.
    para_dedup): Spark's hash-keyed two-pass must match the oracle's
    seen-set recomputation EXACTLY — keep decision, sorted reasons,
    byte-identical scrubbed_text and doc_id per url — on a fixture
    with planted full-copy and half-copy documents; the para_dup_frac
    reason must actually fire; and the stage must be off by default
    (paras_dup literal 0, output unchanged)."""
    from scripts_spark.sources import pages as P

    base = P.gen_rows(range(250))
    planted = []
    for k in range(20):  # full copies: every paragraph already seen
        planted.append(
            dict(base[k], url=f"https://dupfarm.example.com/copy{k}")
        )
    for k in range(10):  # half copies: dup head + unique tail
        src_lines = (base[30 + k]["text"] or "").split("\n")
        planted.append(
            dict(
                base[30 + k],
                url=f"https://mix.example.com/m{k}",
                text="\n".join(
                    src_lines + [f"helt unik rad nummer {k} aldrig sedd förr"]
                ),
            )
        )
    rows = base + planted
    df = spark.createDataFrame(rows, P.PAGES_SCHEMA)
    out = {
        r["url"]: r.asDict()
        for r in pipeline.curate(
            df, pipeline.CurateConfig(num_buckets=8, para_dedup=True)
        ).collect()
    }
    ora = pipeline_oracle.curate_rows(
        rows, pipeline_oracle.OracleConfig(para_dedup=True)
    )
    assert set(out) == set(ora)
    for url, o in ora.items():
        s = out[url]
        assert s["keep"] == o["keep"], url
        assert list(s["filter_reasons"]) == o["filter_reasons"], url
        assert s["scrubbed_text"] == o["scrubbed_text"], url
        assert s["doc_id"] == o["doc_id"], url
    fired = [u for u, o in ora.items() if "para_dup_frac" in o["filter_reasons"]]
    assert len(fired) >= 20, len(fired)  # every full copy must trip it
    # default path unchanged: stage off → different scrub for planted docs
    off = pipeline_oracle.curate_rows(rows)
    assert any(off[u]["scrubbed_text"] != ora[u]["scrubbed_text"] for u in ora)
    assert all("para_dup_frac" not in off[u]["filter_reasons"] for u in off)


def _near_dup_fixture():
    """150 generated pages + planted near-duplicates:
    - six long docs copied onto fresh single-doc domains with one
      token swapped (pairwise Jaccard >= 0.8 vs the original);
    - a D < E < F triangle where F is near both D and E but D and E
      are NOT near each other — the case where component survival
      (keep D only) and neighbor survival (keep D and E) differ."""
    from scripts_spark.sources import pages as P

    base = P.gen_rows(range(150))
    long_idx = [i for i, r in enumerate(base)
                if len((r["text"] or "").split()) >= 120][:7]
    assert len(long_idx) == 7
    planted = []
    copy_pairs = []
    for j, i in enumerate(long_idx[:6]):
        toks = base[i]["text"].split(" ")
        toks[7] = f"ersattord{chr(97 + j)}"
        copy_url = f"https://ndcopy{chr(97 + j)}.example.com/sida"
        copy_pairs.append((base[i]["url"], copy_url))
        planted.append(dict(base[i], url=copy_url, text=" ".join(toks)))
    # the triangle uses the SEVENTH long doc — not one of the six copy
    # bases — and drops the original row entirely, so the D/E/F
    # cluster shares no text with any other fixture doc
    tri_base = base.pop(long_idx[6])
    f_toks = tri_base["text"].split(" ")
    # the generated text is REPETITIVE (repeated sentences), so a
    # replaced token's old shingles usually survive via other copies
    # and each change only ADDS ~3 new distinct shingles. Size the
    # change count c from the distinct-shingle count S so that
    # j(D,F) = j(E,F) ≈ S/(S+3c) lands ≈ 0.86 (over threshold) while
    # j(D,E) ≈ S/(S+6c) ≈ 0.75 (under it); spacing changes 4 apart
    # keeps their new shingles disjoint
    def _shset(toks):
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    def _jac(a, b):
        sa, sb = _shset(a), _shset(b)
        return len(sa & sb) / len(sa | sb)

    def _variants(c):
        slots = [p for p in range(5, len(f_toks) - 3) if "\n" not in f_toks[p]]
        d_pos, e_pos = slots[0:4 * c:4], slots[4 * c + 4:8 * c + 4:4]
        assert len(d_pos) == c and len(e_pos) == c, (c, len(slots))
        d, e = list(f_toks), list(f_toks)
        for n, p in enumerate(d_pos):
            d[p] = f"bytesord{chr(97 + n % 26)}{chr(97 + n // 26)}"
        for n, p in enumerate(e_pos):
            e[p] = f"annatord{chr(97 + n % 26)}{chr(97 + n // 26)}"
        return d, e

    # deterministic calibration: shrink the change count until both
    # D-F and E-F sit comfortably OVER the 0.8 threshold while D-E
    # (disjoint change positions, roughly double the distance) stays
    # comfortably under — margins absorb the repair kernels' drift
    S = len(_shset(f_toks))
    c = max(3, S // 18)
    d_toks, e_toks = _variants(c)
    while c > 2 and _jac(d_toks, f_toks) < 0.83:
        c = max(2, int(c * 0.7))
        d_toks, e_toks = _variants(c)
    assert _jac(d_toks, f_toks) >= 0.83, (c, _jac(d_toks, f_toks))
    assert _jac(e_toks, f_toks) >= 0.83, (c, _jac(e_toks, f_toks))
    assert _jac(d_toks, e_toks) <= 0.78, (c, _jac(d_toks, e_toks))
    planted += [
        dict(tri_base, url="https://tri-a.example.com/x",
             text=" ".join(d_toks)),
        dict(tri_base, url="https://tri-b.example.com/x",
             text=" ".join(e_toks)),
        dict(tri_base, url="https://tri-c.example.com/x",
             text=" ".join(f_toks)),
    ]
    return base + planted, copy_pairs


@pytest.mark.parametrize("mode", ["component", "neighbor"])
def test_near_dedup_stage_parity_and_reasons(spark, mode):
    """Opt-in MinHash near-dedup (CurateConfig.near_dedup): the
    LSH-candidate + exact-Jaccard-verify + survival pipeline must
    match the oracle's exact all-pairs recomputation EXACTLY (keep,
    sorted reasons, byte-identical scrubbed_text) — which also proves
    LSH recall is total on the fixture — in BOTH survival modes; the
    triangle pins their semantic difference; and the stage must be
    off (no near_dup reason anywhere) by default."""
    rows, copy_pairs = _near_dup_fixture()
    df = spark.createDataFrame(rows, pages.PAGES_SCHEMA)
    out = {
        r["url"]: r.asDict()
        for r in pipeline.curate(
            df,
            pipeline.CurateConfig(
                num_buckets=8, near_dedup=True, near_dedup_mode=mode
            ),
        ).collect()
    }
    # component mode leaves its labels checkpointed until drained
    pipeline.drain_curate_persisted()
    ora = pipeline_oracle.curate_rows(
        rows,
        pipeline_oracle.OracleConfig(near_dedup=True, near_dedup_mode=mode),
    )
    assert set(out) == set(ora)
    for url, o in ora.items():
        s = out[url]
        assert s["keep"] == o["keep"], url
        assert list(s["filter_reasons"]) == o["filter_reasons"], url
        assert s["scrubbed_text"] == o["scrubbed_text"], url
    fired = {u for u, o in ora.items() if "near_dup" in o["filter_reasons"]}
    # each planted (original, one-token copy) pair drops exactly its
    # lexicographically LARGER member — the min-url survivor rule
    for orig, copy in copy_pairs:
        loser, survivor = max(orig, copy), min(orig, copy)
        assert loser in fired, (orig, copy, sorted(fired))
        assert survivor not in fired, (orig, copy, sorted(fired))
    # the triangle: component drops E and F; neighbor drops only F
    # (E's sole neighbor F is larger, so E survives); D survives in
    # both modes (it is each component's min url)
    D = "https://tri-a.example.com/x"
    E, FF = "https://tri-b.example.com/x", "https://tri-c.example.com/x"
    assert D not in fired
    assert FF in fired
    if mode == "component":
        assert E in fired
    else:
        assert E not in fired
    # default path: no near_dup reason exists anywhere
    off = pipeline_oracle.curate_rows(rows)
    assert all("near_dup" not in o["filter_reasons"] for o in off.values())
    # the stage's internal persist must not outlive the test in the
    # shared session
    spark.catalog.clearCache()


def test_near_dedup_neighbor_mode_is_lazy(spark):
    """The 'neighbor' survivor rule must keep curate() a pure plan
    builder: constructing the plan runs ZERO Spark jobs (component
    mode is allowed to run its label-propagation jobs eagerly — that
    is its documented trade-off)."""
    df = pages.pages_df(spark, 50, partitions=2)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    out = pipeline.curate(
        df,
        pipeline.CurateConfig(
            num_buckets=4, near_dedup=True, near_dedup_mode="neighbor"
        ),
    )
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before), "neighbor-mode plan build ran jobs"
    assert out.columns[0] == "url"  # plan is intact and analyzable
    spark.catalog.clearCache()


def test_curate_stripped_seam_matches_batch_path(spark):
    """curate(stripped=) with the post-boiler frame a stateful stream
    trigger builds once (strip_boiler over the pages' own boilerplate
    sets) decides exactly as curate's own strip, with both opt-in
    stages on (component survival)."""
    rows, _ = _near_dup_fixture()
    df = spark.createDataFrame(rows, pages.PAGES_SCHEMA)
    cfg = pipeline.CurateConfig(num_buckets=8, para_dedup=True, near_dedup=True)
    docs = pipeline.deduped_docs(df, cfg)
    stripped = pipeline.strip_boiler(docs, pipeline.boilerplate_sets(docs, cfg))
    try:
        want = {r["url"]: r.asDict(recursive=True)
                for r in pipeline.curate(df, cfg).collect()}
        got = {r["url"]: r.asDict(recursive=True)
               for r in pipeline.curate(None, cfg, stripped=stripped).collect()}
    finally:
        pipeline.drain_curate_persisted()
    assert got == want
    for pg, st in ((df, stripped), (None, None)):  # exactly one input
        with pytest.raises(ValueError, match="exactly one"):
            pipeline.curate(pg, cfg, stripped=st)
    assert any("boilerplate" in r["filter_reasons"] for r in want.values())

