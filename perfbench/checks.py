"""Output checks run on every timed job or trigger.

- ``plans.quality_checks.run_all`` finds no violations;
- the committed row count equals the distinct input urls;
- an order-independent digest of (url, keep, filter_reasons,
  scrubbed_text, doc_id) — equal across jobs and runs of one seed;
- a seed-derived slice matches ``oracle.pipeline_oracle.curate_rows``
  (keep F1 = 1.0, byte-identical scrubbed_text).
"""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from scripts_spark.functions import html_extract
from scripts_spark.oracle import pipeline_oracle
from scripts_spark.plans import quality_checks
from scripts_spark.sources import catalog

DIGEST_COLS = ["url", "keep", "filter_reasons", "scrubbed_text", "doc_id"]


def digest(df) -> str:
    """XOR and modular sum of a 64-bit hash per row: independent of row
    order and partitioning, and overflow-free under ANSI mode."""
    h = F.xxhash64(
        "url", F.col("keep").cast("string"),
        F.array_join("filter_reasons", ","), "scrubbed_text", "doc_id",
    )
    r = df.agg(
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(1 << 31))).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return f"{(r['x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}-{r['s'] or 0:x}-{r['n']}"


def opt_in_reasons(cfg) -> list[str]:
    """Reasons emitted only by opt-in stages. ``quality_checks``'s
    registry predates them, so they are removed from the reason arrays
    before its unknown-reasons audit (and only for stages that are on)."""
    return (["para_dup_frac"] if cfg.para_dedup else []) + (
        ["near_dup"] if cfg.near_dedup else [])


def output_checks(spark, out_dir: str, expected_rows: int, cfg) -> dict:
    out = catalog.read_output(spark, out_dir).select(*DIGEST_COLS).persist()
    try:
        violations = quality_checks.run_all(out)
        extra = opt_in_reasons(cfg)
        if extra:
            violations["unknown_reasons"] = quality_checks.unknown_reasons(
                out.withColumn("filter_reasons", F.array_except(
                    "filter_reasons", F.array(*[F.lit(r) for r in extra])))
            ).count()
        dig = digest(out)
    finally:
        out.unpersist()
    n = int(dig.rsplit("-", 1)[1])
    problems = [f"{k}={v}" for k, v in violations.items() if v]
    if n != expected_rows:
        problems.append(f"rows={n} expected={expected_rows}")
    return {"ok": not problems, "problems": problems, "digest": dig, "rows": n}


def html_text(html: bytes | None) -> str | None:
    """The html_extract spec evaluated in Python (the oracle has no html
    path): same step tables, Python ``re`` in place of Java regex."""
    if html is None:
        return None
    s = html.decode("utf-8")
    for pat, rep in html_extract.HTML_REGEX_STEPS:
        s = re.sub(pat, rep, s)
    for lit, rep in html_extract.HTML_ENTITY_STEPS:
        s = s.replace(lit, rep)
    for pat, rep in html_extract.HTML_WS_STEPS:
        s = re.sub(pat, rep, s)
    return s.strip(" \n")


def oracle_check(spark, out_dir: str, rows: list[dict],
                 ocfg: pipeline_oracle.OracleConfig, job_id: int | None = None) -> dict:
    """Compare the committed decisions for the urls of ``rows`` with the
    oracle run over exactly those rows. The slice must be closed under
    whatever the decisions depend on (whole domains for per-domain
    boilerplate, a whole batch for corpus-wide dedup)."""
    want = pipeline_oracle.curate_rows(rows, ocfg)
    got_df = catalog.read_output(spark, out_dir)
    if job_id is not None:
        got_df = got_df.filter(F.col("job_id") == job_id)
    urls = spark.createDataFrame([(u,) for u in want], "url string")
    got = {
        r["url"]: r.asDict()
        for r in got_df.join(F.broadcast(urls), "url", "left_semi")
        .select("url", "keep", "scrubbed_text").collect()
    }
    tp = sum(1 for u, w in want.items() if w["keep"] and got.get(u, {}).get("keep"))
    fp = sum(1 for u, g in got.items() if g["keep"] and not want[u]["keep"])
    fn = sum(1 for u, w in want.items() if w["keep"] and not (u in got and got[u]["keep"]))
    f1 = 1.0 if tp + fp + fn == 0 else 2 * tp / (2 * tp + fp + fn)
    text_diff = sum(
        1 for u, w in want.items()
        if u not in got or got[u]["scrubbed_text"] != w["scrubbed_text"]
    )
    problems = []
    if f1 != 1.0:
        problems.append(f"keep_f1={f1:.4f}")
    if text_diff:
        problems.append(f"scrubbed_text_mismatch={text_diff}/{len(want)}")
    return {"ok": not problems, "problems": problems, "slice_rows": len(want),
            "slice_kept": tp}


def domain_slice(rows: list[dict], seed: int, n_domains: int = 3) -> list[dict]:
    """Every row of a few seed-chosen domains (not the hot one): the
    boilerplate rule is per domain, so the oracle over this slice
    computes the same decisions the full run does for these urls."""
    doms = sorted({pipeline_oracle.domain_of(r["url"]) for r in rows} - {"hot.example.se"})
    pick = set(random.Random(seed).sample(doms, min(n_domains, len(doms))))
    return [r for r in rows if pipeline_oracle.domain_of(r["url"]) in pick]
