"""Plan-quality regression tests: the physical plan IS a deliverable
at 100 TB. These assert the optimizations we rely on actually appear
in the plan, so a refactor that silently loses a pushdown or turns a
broadcast join into a shuffle join fails CI."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scripts_spark.functions import scoring_join
from scripts_spark.plans import queries as Q
from scripts_spark.plans.pipeline import (
    CurateConfig,
    boiler_line_evidence,
    boiler_sets_from_counts,
    boilerplate_sets,
    curate,
    deduped_docs,
)
from scripts_spark.sources.pages import pages_df

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_parquet(spark):
    df = Q.REGISTRY["predicate_filters"](spark, SF)
    plan = _formatted(df)
    assert "PushedFilters" in plan
    # the doc_id NOT IN + text IS NOT NULL predicates reach the scan
    assert "IsNotNull" in plan


def test_column_pruning(spark):
    df = Q.REGISTRY["wordfreq"](spark, SF)
    plan = _formatted(df)
    # scan must read only the text column, not the whole documents row
    rs = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert rs and "text" in rs[0] and "n_chars" not in rs[0]


def test_broadcast_joins_chosen(spark):
    plan = _plan(Q.REGISTRY["revenue_by_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_and_anti_joins(spark):
    assert "LeftSemi" in _plan(Q.REGISTRY["parts_semi"](spark, SF))
    assert "LeftAnti" in _plan(Q.REGISTRY["customers_no_orders"](spark, SF))


def test_curate_shuffle_budget(spark):
    """The pipeline's shuffle count is a scale budget: url-dedup
    groupBy (map-side combined), salted repartition, boilerplate
    hash-pass agg (domain doc counts ride along as sentinel rows) +
    candidate recount + per-domain window + broadcasts, and the final
    decision join against the doc frame. Alert on growth.

    Note the budget counts EXCHANGES, not bytes: the boilerplate
    two-pass deliberately trades one wide (domain, paragraph-string)
    exchange for a long-only hash exchange plus a near-empty candidate
    recount — more exchanges, ~25x fewer shuffled bytes at corpus
    scale."""
    dec = curate(pages_df(spark, 50, partitions=2), CurateConfig(num_buckets=4))
    plan = _plan(dec)
    # count DISTINCT exchanges (a cached subtree's exchange prints once
    # per consuming branch but executes once)
    import re

    ids = set(re.findall(r"Exchange [^\n]*plan_id=(\d+)", plan))
    assert len(ids) <= 9, f"shuffle count regressed: {sorted(ids)}\n{plan[:2000]}"
    assert plan.count("InMemoryTableScan") >= 3  # repair runs once
    # model scoring must reach the data as a pandas UDF, not a join
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan
    # the url-dedup agg must partial-aggregate map-side (one candidate
    # per url per input partition crosses the wire, not every dup row)
    assert "partial_min" in plan.lower() or "HashAggregate" in plan


def test_curate_prunes_html_at_scan(spark, tmp_path):
    """The html binary (~half the corpus bytes) must never leave the
    scan: the dedup shuffle carries only (url, warc_ts, text)."""
    p = str(tmp_path / "pages")
    pages_df(spark, 60, partitions=2).write.parquet(p)
    dec = curate(spark.read.parquet(p), CurateConfig(num_buckets=4))
    plan = _formatted(dec)
    rs = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert rs, "no parquet scan in plan"
    assert all("html:" not in l for l in rs), rs
    # and no plan node anywhere carries an html column ("html:binary")
    assert "html:" not in _plan(dec)


def test_deduped_docs_exact_placement(spark):
    """The layout exchange places each (bucket, salt-slice) key in its
    own partition by id. With target_partitions >= num_buckets every
    partition is used and holds exactly one bucket, and the buckets'
    slice counts differ by at most one; with fewer partitions than
    buckets, the buckets per partition differ by at most one. Physical
    parallelism stays decoupled from the commit unit: 4 buckets still
    fan the scoring stage out to 16 tasks."""
    pages = pages_df(spark, 600, partitions=4)
    for n_buckets, target in ((2, 2), (8, 8), (4, 16), (4, 10), (8, 4)):
        d = deduped_docs(pages, CurateConfig(num_buckets=n_buckets, target_partitions=target))
        assert "shufflepartitionidpassthrough" in _plan(d)
        assert d.rdd.getNumPartitions() == target
        rows = (
            d.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.collect_set("bucket").alias("buckets"))
            .collect()
        )
        where = {r["pid"]: set(r["buckets"]) for r in rows}
        assert set().union(*where.values()) == set(range(n_buckets)), where
        if target >= n_buckets:
            assert sorted(where) == list(range(target)), where
            assert all(len(b) == 1 for b in where.values()), where
            slices = [sum(b in bs for bs in where.values()) for b in range(n_buckets)]
            assert max(slices) - min(slices) <= 1, slices
        else:
            keys = [len(b) for b in where.values()]
            assert len(where) == target and max(keys) - min(keys) <= 1, where
    dec = curate(pages, CurateConfig(num_buckets=4, target_partitions=16))
    assert dec.rdd.getNumPartitions() >= 16


def test_curate_boiler_broadcast(spark):
    dec = curate(pages_df(spark, 50, partitions=2), CurateConfig(num_buckets=4))
    assert "BroadcastHashJoin" in _plan(dec)


def _aggregations_over_cache(plan: str) -> int:
    """Partial aggregations fed by an InMemoryTableScan within one
    stage (no exchange in between) — i.e. passes over a cached frame
    that end in an aggregation."""
    nodes = [l for l in plan.splitlines() if "+- " in l]
    depth = [l.index("+- ") for l in nodes]
    n = 0
    for i, l in enumerate(nodes):
        if "InMemoryTableScan" not in l:
            continue
        d = depth[i]
        for j in range(i - 1, -1, -1):
            if depth[j] >= d:
                continue
            d = depth[j]
            if "Exchange" in nodes[j]:
                break
            if "partial_" in nodes[j]:
                n += 1
                break
    return n


def test_boilerplate_two_passes_over_docs(spark):
    """The boilerplate stage reads the cached docs in two aggregations:
    the hash pass, whose per-doc sentinel rows also count each domain's
    docs, and the candidate recount — no separate domain-count pass. Its
    sets equal the unfused exact counts' (boiler_line_evidence, the
    streaming evidence path)."""
    cfg = CurateConfig(num_buckets=4)
    docs = deduped_docs(pages_df(spark, 200, partitions=2), cfg).persist()
    try:
        got = boilerplate_sets(docs, cfg)
        assert _aggregations_over_cache(_plan(got)) == 2
        want = boiler_sets_from_counts(*boiler_line_evidence(docs, cfg), cfg)

        def sets(df):
            return {r["domain"]: frozenset(r["boiler_set"]) for r in df.collect()}

        assert sets(got) == sets(want) and sets(want)
    finally:
        docs.unpersist()


def test_join_scorer_model_tables_are_local(spark):
    """The reference join scorer's model tables are LocalTableScans (no
    pickled Python RDD to scan per slice), one per Spark application."""
    docs = spark.range(1).select(
        F.lit("https://a.se/1").alias("url"), F.lit("det är en text").alias("scrubbed_text")
    )
    plan = _plan(scoring_join.doc_scores(docs))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    other = spark.newSession()
    assert scoring_join.stop_score_df(other) is scoring_join.stop_score_df(spark)


def test_minhash_no_vocab_broadcast(spark):
    """Neither the registry minhash query nor the production dedup path
    may broadcast a shingle-derived table: a distinct-shingle vocab is
    unbounded at web scale. The signature agg must be a partial-agg'd
    groupBy over inline hashes (no join before the signature)."""
    plan = _plan(Q.REGISTRY["minhash_lsh_pairs"](spark, SF))
    # exactly one join in the whole plan: the band-bucket self-join
    n_joins = sum(plan.count(j) for j in ["SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"])
    assert n_joins == 1, plan[:3000]

    from scripts_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    prod = _plan(D.minhash_signatures(docs, "doc_id"))
    assert "Join" not in prod, prod[:2000]
    assert "partial_min" in prod or "HashAggregate" in prod


def test_ivf_centroid_selection_is_top_k(spark):
    """Centroid selection must compile to TakeOrderedAndProject
    (per-partition top-K), not a single-task global-window sort."""
    from scripts_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(S.ivf_centroids(emb, 8))
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_kwic_window_excludes_text(spark):
    """kwic_occurrences' running-offset window must carry lengths only:
    a doc with k matches must not ship k copies of its text (or the
    split-segments array) through the window exchange."""
    df = Q.REGISTRY["kwic_occurrences"](spark, SF)
    plan = _formatted(df)
    lines = plan.splitlines()
    win_inputs = []
    for i, l in enumerate(lines):
        if ") Window" in l:
            for j in range(i + 1, min(i + 4, len(lines))):
                if lines[j].startswith("Input"):
                    win_inputs.append(lines[j])
    assert win_inputs, plan[:2000]
    assert all("text" not in l and "bs" not in l for l in win_inputs), win_inputs


def test_simhash_pairs_no_cartesian(spark):
    """The SimHash pair query must join blocks on (blk, blk_key) —
    never enumerate the cross product of fingerprints."""
    plan = _plan(Q.REGISTRY["simhash_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_fuzzy_cascade_broadcasts_dim(spark):
    """Every cascade stage joins the fact table against a BROADCAST
    dimension — no shuffle of the fact side per stage — and stage k+1's
    input is the LEFT-ANTI residue of earlier stages, not the full fact
    table (the reference short-circuits per row; the set-at-a-time form
    must short-circuit per stage, so the expensive levenshtein stage
    scans only the unmatched tail)."""
    plan = _plan(Q.REGISTRY["fuzzy_cascade"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # 3 stages → stage 2 and 3 each fed through a residue anti-join,
    # plus the final unmatched-facts anti-join
    assert plan.count("LeftAnti") >= 2, plan


def test_interval_join_is_broadcast_nlj(spark):
    plan = _plan(Q.REGISTRY["interval_tier_join"](spark, SF))
    # non-equi join against broadcast dim → BroadcastNestedLoopJoin,
    # NOT a cartesian product
    assert "BroadcastNestedLoop" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """The 100TB co-location story: two tables bucketBy'd on the join
    key join WITHOUT any Exchange — at petabyte scale this is the
    difference between a shuffle of both fact tables and none."""
    import uuid

    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    n1, n2 = f"b_orders_{uuid.uuid4().hex[:8]}", f"b_cust_{uuid.uuid4().hex[:8]}"
    try:
        (o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", str(tmp_path / "o")).saveAsTable(n1))
        (c.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", str(tmp_path / "c")).saveAsTable(n2))
        bo, bc = spark.table(n1), spark.table(n2)
        j = bo.join(
            bc, bo["o_custkey"] == bc["c_custkey"]
        ).select("o_orderkey", "c_name")
        # disable broadcast so the bucketed SMJ path is what's planned
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan[:3000]
        assert j.count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {n1}")
        spark.sql(f"DROP TABLE IF EXISTS {n2}")


def test_partition_pruning_on_write(spark, tmp_path):
    """partitionBy'd output + a partition predicate → the scan lists
    only the matching directory (PartitionFilters, not a full read)."""
    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "etype", F.col("event_type")
    )
    p = str(tmp_path / "ev")
    ev.write.partitionBy("etype").parquet(p)
    back = spark.read.parquet(p).filter(F.col("etype") == "click")
    plan = _formatted(back)
    assert "PartitionFilters" in plan
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "etype" in pf, pf
    assert back.count() == ev.filter("event_type = 'click'").count()


def test_approx_count_distinct_tolerance(spark):
    """HLL++ sketch within its advertised error of the exact count —
    the cardinality path used when exact count-distinct's shuffle is
    unaffordable."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact = ev.select("user_id").distinct().count()
    approx = ev.agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("a")
    ).collect()[0]["a"]
    assert abs(approx - exact) <= max(2, int(0.15 * exact)), (approx, exact)


def test_approx_percentile_tolerance(spark):
    """approx_percentile boundaries within tolerance of the exact
    quantiles — the broadcastable-boundaries path for fact-scale
    decile/percentile assignment (exact global sort is unaffordable
    at 10^12 rows)."""
    c = spark.read.parquet(f"{SF}/customer.parquet")
    exact = c.selectExpr(
        "percentile(c_acctbal, array(0.25, 0.5, 0.75)) AS q"
    ).collect()[0]["q"]
    approx = c.selectExpr(
        "approx_percentile(c_acctbal, array(0.25, 0.5, 0.75), 1000) AS q"
    ).collect()[0]["q"]
    spread = max(exact) - min(exact) or 1.0
    for e, a in zip(exact, approx):
        assert abs(e - a) <= 0.1 * spread, (exact, approx)


def test_bucketed_near_pairs_no_unbounded_pair_join(spark):
    """The oracle'd scale path for embedding near-dup pairs must
    enumerate pairs ONLY through the band-bucket equi self-join — no
    nested-loop / cartesian anywhere in the plan (the brute-force
    embedding_near_pairs baseline is exactly such a theta join; this
    query exists so the driver-checked plan is the bounded one)."""
    df = Q.REGISTRY["bucketed_near_pairs"](spark, SF)
    plan = _plan(df)
    assert "NestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    # and the bucket computation itself is pure JVM expression work:
    # no Python workers anywhere in this query
    assert "Python" not in plan, plan


def test_paragraph_dedup_single_pass(spark):
    """The corpus-wide paragraph arg-min must be a WINDOW over one
    paragraph exchange — the groupBy+join-back form re-scans and
    re-explodes the whole corpus for the probe side (the heaviest
    work in the plan, twice). Pin: one scan, one explode."""
    df = Q.REGISTRY["paragraph_dedup"](spark, SF)
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Generate") == 1, plan


def test_paragraph_dedup_hashed_no_string_shuffle(spark):
    """The production twin's exchanges must carry NO paragraph string:
    the arg-min window partitions on the 16-byte (_h1, _h2) double
    hash (the span string is projected away BEFORE the exchange), and
    every hashpartitioning key in the plan is hash/id-valued. The
    rebuild side must not re-explode either — kept ordinals project
    spans map-side (one Generate total)."""
    import re

    df = Q.REGISTRY["paragraph_dedup_fast"](spark, SF)
    plan = _plan(df).split("== Initial Plan ==")[0]
    # window runs over the double hash, never the string
    assert re.search(r"windowspecdefinition\(_h1#\d+L, _h2#\d+L", plan), plan
    for m in re.finditer(r"hashpartitioning\([^)]*\)", plan):
        assert "para#" not in m.group(0), m.group(0)
    # the exchange feeding the window outputs only (id, idx, h1, h2,
    # occ-struct): its child Project consumes para INSIDE xxhash64 but
    # must not pass the string through as a column (a bare `para#N`
    # list item, as the exact form's exchange has)
    m = re.search(
        r"Exchange hashpartitioning\(_h1#\d+L[^\n]*\n\s*\+- Project \[([^\n]*)\]",
        plan,
    )
    assert m, plan
    items, depth, cur = [], 0, ""
    for ch in m.group(1):
        if ch == "," and depth == 0:
            items.append(cur.strip())
            cur = ""
        else:
            depth += ch == "("
            depth -= ch == ")"
            cur += ch
    items.append(cur.strip())
    assert not any(re.fullmatch(r"para#\d+", it) for it in items), items
    assert plan.count("Generate") == 1, plan


def test_contamination_broadcasts_eval_side(spark):
    """The decontamination join must broadcast the tiny eval-gram side —
    the corpus-sized gram stream must never cross an exchange before
    the match filter."""
    plan = _plan(Q.REGISTRY["benchmark_contamination"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_new_scan_queries_are_single_pass(spark):
    """gopher_rules / url_canonical / chunk_windows / langid_calibration
    are one-scan column pipelines: no joins, and only calibration's
    final tiny aggregation may exchange."""
    for name, max_exchanges in [
        ("gopher_rules", 0), ("url_canonical", 0),
        ("chunk_windows", 0), ("langid_calibration", 1),
    ]:
        plan = _plan(Q.REGISTRY[name](spark, SF))
        assert "Join" not in plan, (name, plan)
        n_ex = plan.count("Exchange") - plan.count("ReusedExchange")
        assert n_ex <= max_exchanges, (name, n_ex)


def test_term_lift_single_scan_no_cache(spark):
    """term_lift's three marginals + the corpus total must all derive
    from the ONE (source, token) count table — a single corpus scan —
    and the query must leave no cached RDD behind: a registry query
    never owns an action, so a .persist() it takes can never be
    released into the shared multi-query session (round-5 verdict)."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    df = Q.REGISTRY["term_lift"](spark, SF)
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 1, plan
    assert "InMemoryTableScan" not in plan, plan
    assert len(df.collect()) > 0
    assert jsc.getPersistentRDDs().size() == before


def test_value_quantiles_approx_within_rank_tolerance(spark):
    """The percentile_approx production twin must return, per (group,
    percentile), an actual element of the group whose RANK is within
    max(1, ceil(n/accuracy)) of the exact nearest-rank anchor — the
    bounded-divergence contract that justifies swapping the exact
    per-group sort for a sketch at corpus scale. Also pin the plan:
    partial-aggregable HashAggregate, no Window/global sort."""
    import math

    exact = {
        (r["event_type"], r["p_milli"]): r["value_cents"]
        for r in Q.REGISTRY["value_quantiles"](spark, SF).collect()
    }
    approx_df = Q.value_quantiles_approx(spark, SF, accuracy=10000)
    plan = _plan(approx_df).split("== Initial Plan ==")[0]
    assert "Window" not in plan, plan
    assert "partial_percentile" in plan or "HashAggregate" in plan, plan
    approx = approx_df.collect()
    assert len(approx) == len(exact)
    # group values, sorted, for rank lookup
    ev = spark.read.parquet(f"{SF}/events.parquet").filter("value is not null")
    vals = {}
    for r in ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).collect():
        vals.setdefault(r["event_type"], []).append(r["cents"])
    for v in vals.values():
        v.sort()
    for r in approx:
        g, p, n, got = r["event_type"], r["p_milli"], r["n"], r["value_cents"]
        s = vals[g]
        assert n == len(s)
        target = max(1, -(-n * p // 1000))  # ceil(n*p/1000), rank 1-based
        tol = max(1, math.ceil(n / 10000))
        lo, hi = max(1, target - tol), min(n, target + tol)
        allowed = set(s[lo - 1 : hi])
        assert got in allowed, (g, p, got, s[lo - 1 : hi], exact[(g, p)])


def test_curate_para_dedup_hash_keyed_exchange(spark):
    """The pipeline's paragraph-dedup stage must shuffle 16-byte hash
    keys like the standalone production twin — the window partitions
    on (_h1, _h2), never the paragraph string."""
    import re

    dec = curate(
        pages_df(spark, 60, partitions=2),
        CurateConfig(num_buckets=4, para_dedup=True),
    )
    plan = _plan(dec).split("== Initial Plan ==")[0]
    assert re.search(r"windowspecdefinition\(_h1#\d+L, _h2#\d+L", plan), plan
    # the only paragraph-string exchange allowed in the whole plan is
    # boilerplate's (domain, para) candidate RECOUNT — a near-empty
    # semi-joined stream by design; the corpus-sized dedup explode
    # must never shuffle on para
    for m in re.finditer(r"hashpartitioning\([^)]*\)", plan):
        if "para#" in m.group(0):
            assert m.group(0).startswith("hashpartitioning(domain#"), m.group(0)
    assert not re.search(r"hashpartitioning\(para#", plan), plan


def test_term_lift_wide_matches_narrow_at_fixture_scale(spark):
    """The DECIMAL(38) width (term_lift_wide) must be bit-identical to
    the BIGINT width wherever the latter is defined — same rows, same
    lift_milli, same top-5 selection."""
    cols = ["source", "token", "n", "lift_milli"]
    narrow = sorted(
        tuple(r[c] for c in cols)
        for r in Q.REGISTRY["term_lift"](spark, SF).collect()
    )
    wide = sorted(
        tuple(r[c] for c in cols)
        for r in Q.REGISTRY["term_lift_wide"](spark, SF).collect()
    )
    assert narrow == wide and len(narrow) > 0


def test_term_lift_wide_survives_bigint_overflow(spark):
    """The overflow the docstring warns about, triggered: at counts a
    10^12-token corpus actually produces, n*t_tot alone exceeds
    BIGINT — the narrow width must fail loudly (ANSI) or wrap, never
    silently agree; the wide width must return the exact quotient."""
    row = spark.createDataFrame(
        [(10**10, 10**9, 10**6, 10**6)],
        "n long, t_tot long, g_tot long, s_tot long",
    )
    wide = row.select(Q.lift_milli_expr(True).alias("v")).collect()[0]["v"]
    # exact: (1e10 * 1e9 * 1000) div (1e6 * 1e6) = 1e10
    assert wide == 10**10
    try:
        narrow = row.select(Q.lift_milli_expr(False).alias("v")).collect()[0]["v"]
    except Exception:
        narrow = None  # ANSI mode: long multiply overflow raises
    assert narrow != 10**10


def test_approx_distinct_sketch_merges_map_side(spark):
    """The HLL arm of approx_distinct_tolerance must aggregate keyed by
    the GROUP only: partial sketch per input partition, one
    O(groups x sketch) exchange, merge. The tempting one-agg form
    (count_distinct + approx_count_distinct together) makes Catalyst
    expand to (group, user) distinct rows and drag the ~1.6k-long HLL
    buffer on every one of them through that exchange — sketch x
    distincts, worse than exact alone."""
    import re

    df = Q.REGISTRY["approx_distinct_tolerance"](spark, SF)
    plan = _plan(df).split("== Initial Plan ==")[0]
    group_only = re.findall(
        r"HashAggregate\(keys=\[event_type#\d+\],"
        r" functions=\[partial_approx_count_distinct", plan
    )
    dragged = re.findall(
        r"keys=\[event_type#\d+, user_id#\d+L?\],"
        r" functions=\[[^\]]*approx_count_distinct", plan
    )
    assert len(group_only) == 1, plan
    assert not dragged, plan


def _scans_with_pushed_mod3(plan: str) -> tuple[int, int]:
    """(n_scans, n_scans_with_% 3_filter_below_any_aggregate): walk UP
    from each Scan line in the toString tree — ancestors print
    directly above their child — and require a Filter carrying the
    doc_id % 3 split to appear BEFORE any HashAggregate/Window. Scan
    count alone cannot pin the pushdown (it is invariant to filter
    placement); this walk is the actual sign-each-doc-once claim."""
    lines = plan.splitlines()
    scans = [i for i, ln in enumerate(lines) if "Scan parquet" in ln]
    pushed = 0
    for si in scans:
        for j in range(si - 1, -1, -1):
            ln = lines[j]
            if "HashAggregate" in ln or "Window" in ln:
                break
            if "Filter" in ln and "% 3)" in ln:
                pushed += 1
                break
    return len(scans), pushed


def test_history_near_losers_signs_each_doc_once(spark):
    """The history-estimate query must not recompute the signature
    aggregation per consumer: the doc_id % 3 split pushes below each
    side's aggregate, so the two agg subtrees sign DISJOINT halves of
    the corpus (total signing work = one pass). The first-cut
    union-of-bands + double sig re-join shape planned 10 parquet scans
    — i.e., signed the corpus ten times."""
    df = Q.REGISTRY["history_near_losers"](spark, SF)
    n, pushed = _scans_with_pushed_mod3(_plan(df))
    assert n <= 4, n
    assert pushed == n, (n, pushed)


def test_history_span_dedup_tokenizes_each_doc_once(spark):
    """Span-store history twin: the %3 split pushes below each side's
    subtree — ONE scan+explode for the store side (reduced to distinct
    hashes), one for the batch side. No span is tokenized twice."""
    df = Q.REGISTRY["history_span_dedup"](spark, SF)
    n, pushed = _scans_with_pushed_mod3(_plan(df))
    assert n <= 2, n
    assert pushed == n, (n, pushed)


def test_lexical_topk_single_corpus_scan(spark):
    """Retrieval must broadcast-prune the token stream by the query
    terms BEFORE any aggregation and derive df from the pruned frame:
    exactly one documents scan in the plan. The first cut aggregated
    the full vocabulary twice (tf and df subtrees) — two corpus
    passes."""
    df = Q.REGISTRY["lexical_topk"](spark, SF)
    plan = _plan(df)
    import re

    scans = [
        ln for ln in plan.splitlines()
        if "Scan parquet" in ln and "documents" in ln
    ]
    assert len(scans) == 1, plan
    assert "BroadcastHashJoin" in plan
