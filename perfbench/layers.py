"""Traced run: each layer's public function called on its own, its
result persisted and forced to the ``noop`` sink under a Spark job
group named after the span, so status-store counters attribute to the
layer that caused them."""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql import functions as F

from scripts_spark.functions import html_extract, scoring_udf, text_kernel
from scripts_spark.operators import dedup as D
from scripts_spark.plans.pipeline import (
    boiler_kept_col,
    boiler_line_evidence,
    boilerplate_sets,
    curate,
    deduped_docs,
    drain_curate_persisted,
)
from scripts_spark.sources import catalog
from scripts_spark.sources.pages import PAGES_SCHEMA

from measure import Tracer, stage_counters


def dir_stats(path: str) -> tuple[int, float]:
    """(data files, MB) under ``path``, ignoring checksum/marker files."""
    files, size = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_SUCCESS"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size / 1e6


class _Layers:
    def __init__(self, spark, tracer: Tracer):
        self.tracer = tracer
        self.sc = spark.sparkContext
        self.keep = []

    def force(self, name: str, df):
        """Persist ``df`` and materialise it under the span ``name``."""
        with self.tracer.span(name):
            self.sc.setJobGroup(name, name)
            df = df.persist()
            df.write.format("noop").mode("overwrite").save()
        self.keep.append(df)
        return df

    def jobs(self, name: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(name))

    def count(self, df) -> int:
        self.sc.setJobGroup("bench.counts", "bench.counts")
        return df.count()

    def total(self, df, col) -> int:
        self.sc.setJobGroup("bench.counts", "bench.counts")
        return df.agg(F.sum(col)).collect()[0][0] or 0

    def release(self):
        for df in self.keep:
            df.unpersist()
        self.keep.clear()
        drain_curate_persisted()


def trace_layers(spark, pages_path: str, cfg, out_dir: str, tracer: Tracer,
                 dedup_cfg=None) -> dict:
    """Run the pipeline layer by layer over ``pages_path``; return the
    per-layer metrics named in the benchmark's README. The dedup chain
    is decomposed with ``dedup_cfg`` when given, else with ``cfg`` if
    that turns dedup on; its wall time is returned as
    ``trace.dedup_wall_s``."""
    L = _Layers(spark, tracer)
    m: dict[str, float] = {}
    try:
        with tracer.span("trace"):
            pages = L.force("catalog.scan", spark.read.schema(PAGES_SCHEMA).parquet(pages_path))
            m["catalog.scan_s"] = tracer.self_s("catalog.scan")
            n_pages = L.count(pages)
            if cfg.text_from_html:
                pages = L.force("html_extract", pages.withColumn(
                    "text", html_extract.html_to_text(F.col("html"), from_binary=True)))
                m["html_extract.s"] = tracer.self_s("html_extract")
                m["html_extract.mb_in"] = L.total(pages, F.octet_length("html")) / 1e6
            else:
                m["html_extract.s"] = 0.0
                m["html_extract.mb_in"] = 0.0
            # extraction already happened above; deduped_docs must not redo it
            dcfg = dataclasses.replace(cfg, text_from_html=False)

            docs = L.force("pipeline.dedup", deduped_docs(pages, dcfg))
            ex = stage_counters(spark, L.jobs("pipeline.dedup"))
            m["pipeline.dedup_s"] = tracer.self_s("pipeline.dedup")
            m["pipeline.dedup_rows_in"] = n_pages
            m["pipeline.dedup_rows_out"] = L.count(docs)
            m["pipeline.dedup_shuffle_mb"] = ex["shuffle_write_mb"]
            m["pipeline.dedup_task_skew"] = ex["skew_after_exchange"]

            boiler = L.force("pipeline.boiler", boilerplate_sets(docs, cfg))
            m["pipeline.boiler_s"] = tracer.self_s("pipeline.boiler")
            line_docs, _ = boiler_line_evidence(docs, cfg)
            cands = L.count(line_docs.filter(F.col("line_docs") > cfg.boiler_min_docs))
            lines = L.total(boiler, F.size("boiler_set"))
            m["pipeline.boiler_candidates"] = cands
            m["pipeline.boiler_lines"] = lines
            m["pipeline.boiler_yield"] = lines / cands if cands else 0.0

            kept = L.force("pipeline.strip", docs.join(F.broadcast(boiler), "domain", "left")
                           .select("url", boiler_kept_col().alias("kept_paras")))
            txt = kept.select("url", F.array_join("kept_paras", "\n").alias("t"))

            chain_cfg = dedup_cfg or cfg
            if chain_cfg.para_dedup or chain_cfg.near_dedup:
                with tracer.span("dedup"):
                    _trace_dedup(L, m, txt.filter(F.length("t") > 0), chain_cfg)
            else:
                for k in ("para_s", "para_dropped", "minhash_s", "lsh_candidates",
                          "verify_s", "verified_pairs", "verify_yield", "cc_s", "cc_jobs"):
                    m[f"dedup.{k}"] = 0.0

            scrubbed = L.force("text_kernel.scrub", txt.select(
                "url", text_kernel.scrub_all(F.col("t")).alias("scrubbed_text")))
            m["text_kernel.scrub_s"] = tracer.self_s("text_kernel.scrub")
            L.force("scoring_udf", scoring_udf.with_scores(scrubbed))
            m["scoring_udf.s"] = tracer.self_s("scoring_udf")
            m["scoring_udf.text_mb"] = L.total(scrubbed, F.octet_length("scrubbed_text")) / 1e6

            with tracer.span("pipeline.plan"):
                L.sc.setJobGroup("pipeline.plan", "pipeline.plan")
                dec = curate(spark.read.schema(PAGES_SCHEMA).parquet(pages_path), cfg)
            m["pipeline.plan_s"] = tracer.self_s("pipeline.plan")
            with tracer.span("catalog.commit"):
                L.sc.setJobGroup("catalog.commit", "catalog.commit")
                catalog.commit_buckets(dec, out_dir)
            m["catalog.commit_s"] = tracer.self_s("catalog.commit")
            files, mb = dir_stats(out_dir)
            m["catalog.commit_files"] = files
            m["catalog.commit_mb"] = mb
        m["trace.wall_s"] = next(s.dur for s in tracer.spans if s.name == "trace")
        m["trace.dedup_wall_s"] = sum(s.dur for s in tracer.spans if s.name == "dedup")
    finally:
        L.sc.setJobGroup("bench", "bench")
        L.release()
    return m


def _trace_dedup(L: _Layers, m: dict, txt, cfg) -> None:
    t = L.tracer
    txt = L.force("dedup.input", txt)
    para = L.force("dedup.para", D.paragraph_dedup_hashed(txt, "url", "t"))
    m["dedup.para_s"] = t.self_s("dedup.para")
    m["dedup.para_dropped"] = L.total(para, F.col("n_paras") - F.col("n_kept"))
    sig = L.force("dedup.minhash", D.minhash_signatures(
        txt, "url", "t", cfg.near_dedup_hashes, cfg.near_dedup_shingle_k))
    m["dedup.minhash_s"] = t.self_s("dedup.minhash")
    cand = L.force("dedup.lsh", D.lsh_candidate_pairs(
        sig, "url", cfg.near_dedup_hashes, cfg.near_dedup_bands))
    n_cand = L.count(cand)
    m["dedup.lsh_candidates"] = n_cand
    ver = L.force("dedup.verify", D.jaccard_verify(
        txt, cand, "url", "t", cfg.near_dedup_shingle_k, threshold=0.0).filter(
        F.col("n_common") * cfg.near_dup_den
        >= (F.col("size_a") + F.col("size_b") - F.col("n_common")) * cfg.near_dup_num
    ).select("key_a", "key_b"))
    m["dedup.verify_s"] = t.self_s("dedup.verify")
    n_ver = L.count(ver)
    m["dedup.verified_pairs"] = n_ver
    m["dedup.verify_yield"] = n_ver / n_cand if n_cand else 0.0
    with t.span("dedup.cc"):
        L.sc.setJobGroup("dedup.cc", "dedup.cc")
        comp = D.connected_components(ver)
        comp.write.format("noop").mode("overwrite").save()
    m["dedup.cc_s"] = t.self_s("dedup.cc")
    m["dedup.cc_jobs"] = len(L.jobs("dedup.cc"))
