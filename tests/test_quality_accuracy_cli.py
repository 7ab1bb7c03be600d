"""Quality-check jobs, accuracy/F1 scorer with Beta CI, and the CLI
entry point driven end-to-end."""

from __future__ import annotations

import dataclasses
import json
import math
import shutil
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from scripts_spark.plans import accuracy, quality_checks
from scripts_spark.plans.pipeline import CurateConfig, curate
from scripts_spark.sources.pages import pages_df

CFG = CurateConfig(num_buckets=8)


@pytest.fixture(scope="module")
def decisions(spark):
    return curate(pages_df(spark, 300, partitions=4), CFG).persist()


def test_quality_checks_pass(spark, decisions):
    result = quality_checks.run_all(decisions)
    assert result == {
        "duplicate_ids": 0,
        "unknown_reasons": 0,
        "keep_consistency": 0,
    }


def test_quality_checks_catch_violations(spark):
    bad = spark.createDataFrame(
        [
            ("u1", "d1", True, []),
            ("u2", "d1", False, ["lang"]),  # dup id
            ("u3", "d3", True, ["bogus_reason"]),  # unknown + inconsistent
        ],
        "url string, doc_id string, keep boolean, filter_reasons array<string>",
    )
    assert quality_checks.duplicate_ids(bad).count() == 1
    assert quality_checks.unknown_reasons(bad).count() == 1
    assert quality_checks.keep_consistency(bad).count() == 1


def test_beta_ppf_sanity():
    # symmetric case: Beta(2,2) median = 0.5
    assert abs(accuracy.beta_ppf(0.5, 2, 2) - 0.5) < 1e-6
    # uniform: quantiles are identity
    assert abs(accuracy.beta_ppf(0.3, 1, 1) - 0.3) < 1e-6
    lo, hi = accuracy.beta_ppf(0.05, 91, 11), accuracy.beta_ppf(0.95, 91, 11)
    assert 0.8 < lo < hi < 0.95


def test_score_against_gold_and_f1(spark, decisions):
    # gold = the engine's own decisions with 10% deterministic flips
    gold = decisions.select(
        "doc_id",
        F.when(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0, ~F.col("keep"))
        .otherwise(F.col("keep"))
        .alias("gold_keep"),
    )
    rows = accuracy.score_against_gold(decisions, gold, stratum_col="lang_pred")
    assert rows and all(0 <= r["ci_low"] <= r["accuracy"] + 0.2 for r in rows)
    total = sum(r["n_total"] for r in rows)
    correct = sum(r["n_correct"] for r in rows)
    assert 0.8 < correct / total < 0.95  # ≈0.9 by construction

    f1 = accuracy.keep_f1(decisions, gold)
    assert 0 < f1["f1"] <= 1.0
    # perfect gold → F1 = 1
    perfect = decisions.select("doc_id", F.col("keep").alias("gold_keep"))
    assert accuracy.keep_f1(decisions, perfect)["f1"] == 1.0


def test_emit_qc_sample(spark, decisions):
    s = accuracy.emit_qc_sample(decisions, per_stratum=5)
    counts = s.groupBy("lang_pred").count().collect()
    assert counts and all(r["count"] <= 5 for r in counts)
    assert set(s.columns) == {
        "doc_id", "url", "lang_pred", "keep", "filter_reasons", "text_preview"
    }


def test_cli_end_to_end():
    work = tempfile.mkdtemp()
    try:
        def run(*args):
            import os

            r = subprocess.run(
                [sys.executable, "run_job.py", *args],
                capture_output=True, text=True, timeout=400,
                env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
            )
            assert r.returncode == 0, r.stderr[-2000:]
            return r.stdout.strip().splitlines()[-1]

        out = run("gen-pages", "--output", f"{work}/pages", "--rows", "200")
        assert json.loads(out)["written"] == 200
        out = run("curate", "--input", f"{work}/pages", "--output", f"{work}/dec",
                  "--buckets", "8")
        assert json.loads(out)["committed_buckets"] == 8
        # resume is a no-op second time
        out = run("curate", "--input", f"{work}/pages", "--output", f"{work}/dec",
                  "--buckets", "8")
        assert json.loads(out)["committed_buckets"] == 0
        out = run("check", "--decisions", f"{work}/dec")
        assert json.loads(out) == {
            "duplicate_ids": 0, "unknown_reasons": 0, "keep_consistency": 0
        }
        run("qc-sample", "--decisions", f"{work}/dec", "--output", f"{work}/qc")

        # --- the §3.3 loop closed: "annotate" the sample (agree with
        # the engine except on 2 rows), then score the gold back
        import duckdb

        con = duckdb.connect()
        con.execute(
            f"""
            COPY (
              SELECT doc_id,
                     CASE WHEN row_number() OVER (ORDER BY doc_id) <= 2
                          THEN NOT keep ELSE keep END AS gold_keep
              FROM read_parquet('{work}/qc/*.parquet')
            ) TO '{work}/gold.parquet' (FORMAT PARQUET)
            """
        )
        n_sample = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{work}/qc/*.parquet')"
        ).fetchone()[0]
        con.close()
        out = run("qc-score", "--decisions", f"{work}/dec", "--gold", f"{work}/gold.parquet")
        scored = json.loads(out)
        assert set(scored) == {"f1", "strata", "confusion"}
        n_scored = sum(s["n_total"] for s in scored["strata"])
        n_correct = sum(s["n_correct"] for s in scored["strata"])
        assert n_scored == n_sample and n_correct == n_sample - 2
        assert 0 < scored["f1"]["f1"] <= 1.0
        assert sum(c["n"] for c in scored["confusion"]) == n_sample
        for s in scored["strata"]:
            assert s["ci_low"] <= s["accuracy"] <= s["ci_high"]

        # trend: single commit → one snapshot row with null deltas
        out = run("trend", "--decisions", f"{work}/dec")
        t = json.loads(out)
        assert t["commit_seq"] == 0 and t["delta_n_rows"] is None

        # dedup-groups: synthetic pages contain template-near-dup texts;
        # the output is (doc_id, group_id) with group ⊆ paired docs
        out = run(
            "dedup-groups", "--decisions", f"{work}/dec",
            "--output", f"{work}/groups", "--threshold", "0.5",
        )
        g = json.loads(out)
        assert g["grouped_docs"] >= 0 and "path" in g
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_cli_check_accepts_opt_in_reasons(spark, tmp_path):
    """`check` audits reasons against the pipeline's own rule table, so
    output curated with an opt-in stage passes it."""
    import os

    from scripts_spark.sources import catalog, pages

    pages.write_pages(spark, str(tmp_path / "pages"), 200, 42)
    for args in (
        ["curate", "--input", str(tmp_path / "pages"),
         "--output", str(tmp_path / "dec"), "--buckets", "4", "--para-dedup"],
        ["check", "--decisions", str(tmp_path / "dec")],
    ):
        r = subprocess.run(
            [sys.executable, "run_job.py", *args],
            capture_output=True, text=True, timeout=400,
            env=dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="2g"),
        )
        assert r.returncode == 0, (args[0], r.stdout[-500:], r.stderr[-2000:])
    assert json.loads(r.stdout.strip().splitlines()[-1]) == {
        "duplicate_ids": 0, "unknown_reasons": 0, "keep_consistency": 0
    }
    reasons = catalog.read_output(spark, str(tmp_path / "dec")).select(
        F.explode("filter_reasons").alias("r")).distinct().collect()
    assert "para_dup_frac" in {row["r"] for row in reasons}


def test_curate_config_rejects_unknown_modes():
    for kwargs in ({"repartition_mode": "domian"}, {"near_dedup_mode": "neighbour"}):
        with pytest.raises(ValueError, match=next(iter(kwargs))):
            CurateConfig(**kwargs)
    # the settings a caller picks are the only fields; a rule threshold
    # is a constant and cannot be passed
    assert {f.name for f in dataclasses.fields(CurateConfig)} == {
        "num_buckets", "salt", "target_partitions", "input_snapshot",
        "repartition_mode", "para_dedup", "text_from_html", "near_dedup",
        "near_dedup_mode",
    }
    with pytest.raises(TypeError, match="caps_num"):
        CurateConfig(caps_num=6)


def test_make_pyfiles():
    subprocess.run([sys.executable, "make_pyfiles.py"], check=True, capture_output=True)
    import zipfile

    with zipfile.ZipFile("dist/scripts_spark.zip") as z:
        names = z.namelist()
    assert "scripts_spark/plans/pipeline.py" in names
    assert all(n.endswith(".py") for n in names)
