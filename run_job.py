#!/usr/bin/env python
"""spark-submit entry point for the curation engine.

Cluster usage (the north rule's ship shape):

    python make_pyfiles.py   # builds dist/scripts_spark.zip
    spark-submit --py-files dist/scripts_spark.zip run_job.py \
        curate --input /data/pages --output /data/decisions

Local sandbox usage is identical minus spark-submit:

    python run_job.py curate --input ... --output ...

Subcommands:
    gen-pages   write a deterministic synthetic pages table
    curate      run the pipeline and commit buckets (resumable: rerun
                the same command after a crash and only the buckets
                missing from the manifest are recomputed/written)
    check       data-quality audit of a decisions output (A8 etc.)
    qc-sample   emit a stratified annotation sample
    qc-score    score annotated gold labels back against the decisions
                (F1 + per-stratum Beta CIs + confusion matrix) — the
                reference's §3.3 annotate→estimate loop end-to-end
    metrics     print per-bucket metrics from a decisions output
    snapshots   print the snapshot log: one row per commit (seq, buckets,
                rows, kept)
    trend       the snapshot log with deltas between consecutive commits
    dedup-groups  near-dup group ids (doc_id, group_id) over a
                decisions output: MinHash-LSH pairs closed into
                connected components
    stream-curate  incremental ingest: stream new crawl drops through
                the same curate plan with exactly-once bucket commits
                (optional cross-batch url dedup + compacted
                boilerplate, paragraph-span and signature state)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F

from scripts_spark.plans import accuracy
from scripts_spark.plans.accuracy import emit_qc_sample
from scripts_spark.plans.pipeline import CurateConfig, curate
from scripts_spark.plans import quality_checks
from scripts_spark.sources import catalog, pages
from scripts_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="scripts-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen-pages")
    g.add_argument("--output", required=True)
    g.add_argument("--rows", type=int, default=10000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--start", type=int, default=0,
                   help="global row-index offset: disjoint [start, "
                   "start+rows) ranges give disjoint url sets "
                   "(incremental crawl drops)")

    c = sub.add_parser("curate")
    c.add_argument("--input", required=True)
    c.add_argument("--output", required=True)
    c.add_argument("--buckets", type=int, default=256)
    c.add_argument("--salt", type=int, default=0)
    c.add_argument("--snapshot", default="cli")
    c.add_argument("--text-from-html", action="store_true",
                   help="derive the text column on-engine from the raw "
                        "html:binary payload (fixed extraction spec) "
                        "instead of trusting the table's text column")
    c.add_argument("--para-dedup", action="store_true",
                   help="corpus-wide paragraph dedup stage (post-boiler, "
                        "pre-rules; adds the para_dup_frac reason)")
    c.add_argument("--near-dedup", action="store_true",
                   help="corpus-wide MinHash near-dedup stage (post-boiler; "
                        "adds the near_dup reason to cluster losers)")
    c.add_argument("--near-dedup-mode", choices=["component", "neighbor"],
                   default="component",
                   help="survivor rule: one per connected component "
                        "(published pattern, iterative) or drop-if-any-"
                        "smaller-neighbor (single-pass, lazy)")

    k = sub.add_parser("check")
    k.add_argument("--decisions", required=True)

    q = sub.add_parser("qc-sample")
    q.add_argument("--decisions", required=True)
    q.add_argument("--output", required=True)
    q.add_argument("--per-stratum", type=int, default=30)

    m = sub.add_parser("metrics")
    m.add_argument("--decisions", required=True)
    m.add_argument("--as-of", type=int, default=None,
                   help="read the snapshot as of this commit_seq")
    m.add_argument("--from-log", action="store_true",
                   help="read the per-bucket metrics stored in the "
                        "manifest at commit time instead of recomputing")

    sn = sub.add_parser("snapshots")
    sn.add_argument("--decisions", required=True)

    tr = sub.add_parser(
        "trend",
        help="version-over-version dashboard: the snapshot log with "
        "deltas between consecutive commits (stats.snapshot_trend)",
    )
    tr.add_argument("--decisions", required=True)

    dg = sub.add_parser(
        "dedup-groups",
        help="near-dup group ids over a committed decisions output: "
        "MinHash-LSH pairs (Jaccard-verified) closed into connected "
        "components; writes (doc_id, group_id) parquet",
    )
    dg.add_argument("--decisions", required=True)
    dg.add_argument("--output", required=True)
    dg.add_argument("--threshold", type=float, default=0.8)
    dg.add_argument("--max-iter", type=int, default=None,
                    help="label-propagation rounds (default: the "
                         "operator's); raise for near-dup chains deeper "
                         "than the default (the job fails loudly rather "
                         "than split a component)")

    s = sub.add_parser(
        "qc-score",
        help="close the QC loop: join annotated gold labels (parquet "
        "with doc_id + gold_keep) back to the decisions and print "
        "keep-F1, per-stratum accuracy with Beta CIs, and the "
        "confusion matrix (SURVEY §3.3).",
    )
    s.add_argument("--decisions", required=True)
    s.add_argument("--gold", required=True)
    s.add_argument("--stratum", default="lang_pred")

    st = sub.add_parser(
        "stream-curate",
        help="incremental ingest: file-source stream over the pages "
        "directory, each micro-batch curated and manifest-committed; "
        "rerun the same command as new crawl drops land (availableNow "
        "catch-up). Optional cross-batch url dedup and cross-batch "
        "boilerplate, paragraph-span and signature state, each "
        "compacted into a snapshot every --compact-every batches.",
    )
    st.add_argument("--input", required=True)
    st.add_argument("--output", required=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--buckets", type=int, default=256)
    st.add_argument("--snapshot", default="cli-stream")
    st.add_argument("--dedup-urls", action="store_true",
                    help="exact cross-batch url dedup (watermarked state)")
    st.add_argument("--boiler-state", default=None,
                    help="state dir for cross-batch boilerplate evidence")
    st.add_argument("--compact-every", type=int, default=16,
                    help="fold every cross-batch state store (boiler, span, signature) "
                         "into a snapshot every K >= 1 batches (the CLI has no 'never')")
    st.add_argument("--para-dedup", action="store_true",
                    help="corpus paragraph-dedup stage per micro-batch")
    st.add_argument("--span-state", default=None,
                    help="state dir for cross-batch paragraph-dedup span "
                         "hashes (implies --para-dedup semantics across "
                         "the whole crawl history; requires --para-dedup)")
    st.add_argument("--near-dedup", action="store_true",
                    help="MinHash near-dedup stage per micro-batch")
    st.add_argument("--near-dedup-mode", default="component",
                    choices=["component", "neighbor"])
    st.add_argument("--sig-state", default=None,
                    help="state dir for cross-batch near-dedup MinHash "
                         "signatures (drops documents near-duplicating "
                         "any PRIOR drop; requires --near-dedup)")
    st.add_argument("--sig-store-buckets", type=int, default=None,
                    help="band-key-partition the signature snapshots "
                         "into N buckets and prune reads to the "
                         "current batch's buckets (the at-scale "
                         "layout; requires --sig-state)")
    st.add_argument("--max-files-per-trigger", type=int, default=None)

    a = p.parse_args(argv)
    # local mode hosts every task thread inside the driver JVM: the
    # 1g JVM default OOMs multi-stage jobs (near-dedup at local[32]
    # died in an executor thread at 1g). On a real cluster this knob
    # is spark-submit's --driver-memory / --executor-memory instead.
    spark = get_spark(
        app_name=f"scripts-spark-{a.cmd}",
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        },
    )
    spark.sparkContext.setLogLevel("WARN")

    if a.cmd == "gen-pages":
        pages.write_pages(spark, a.output, a.rows, a.seed, start=a.start)
        print(json.dumps({"written": a.rows, "path": a.output}))
    elif a.cmd == "curate":
        df = spark.read.parquet(a.input)
        cfg = CurateConfig(
            num_buckets=a.buckets, salt=a.salt, input_snapshot=a.snapshot,
            para_dedup=a.para_dedup,
            near_dedup=a.near_dedup, near_dedup_mode=a.near_dedup_mode,
            text_from_html=a.text_from_html,
        )
        dec = curate(df, cfg)
        stats = catalog.commit_buckets(dec, a.output)
        print(json.dumps(stats))
    elif a.cmd == "stream-curate":
        from scripts_spark.streaming.jobs import stream_curate

        cfg = CurateConfig(num_buckets=a.buckets, input_snapshot=a.snapshot,
                           para_dedup=a.para_dedup,
                           near_dedup=a.near_dedup,
                           near_dedup_mode=a.near_dedup_mode)
        q = stream_curate(
            spark, a.input, a.output, a.checkpoint, cfg,
            max_files_per_trigger=a.max_files_per_trigger,
            dedup_urls_across_batches=a.dedup_urls,
            boiler_state_dir=a.boiler_state,
            span_state_dir=a.span_state,
            sig_state_dir=a.sig_state,
            sig_store_buckets=a.sig_store_buckets,
            compact_every=a.compact_every,
        )
        q.awaitTermination()
        # a valid run over an empty input commits zero batches and never
        # creates <output>/data — report 0 rows instead of crashing on
        # the nonexistent path
        n = (
            catalog.read_output(spark, a.output).count()
            if os.path.isdir(f"{a.output}/data")
            else 0
        )
        print(json.dumps({"output_rows": n, "path": a.output}))
    elif a.cmd == "check":
        dec = catalog.read_output(spark, a.decisions)
        result = quality_checks.run_all(dec)
        print(json.dumps(result))
        return 0 if not any(result.values()) else 1
    elif a.cmd == "qc-sample":
        dec = catalog.read_output(spark, a.decisions)
        emit_qc_sample(dec, a.per_stratum).write.mode("overwrite").parquet(a.output)
        print(json.dumps({"path": a.output}))
    elif a.cmd == "metrics":
        if a.from_log:
            rows = (
                catalog.metrics_log(spark, a.decisions, as_of=a.as_of)
                .orderBy("job_id", "bucket")
                .collect()
            )
        else:
            dec = catalog.read_output(spark, a.decisions, as_of=a.as_of)
            rows = catalog.partition_metrics(dec).orderBy("bucket").collect()
        for r in rows:
            print(json.dumps(r.asDict()))
    elif a.cmd == "snapshots":
        for r in catalog.snapshots(spark, a.decisions).collect():
            print(json.dumps(r.asDict()))
    elif a.cmd == "trend":
        from scripts_spark.plans.stats import snapshot_trend

        for r in snapshot_trend(spark, a.decisions).collect():
            print(json.dumps(r.asDict()))
    elif a.cmd == "dedup-groups":
        from scripts_spark.operators import dedup

        dec = catalog.read_output(spark, a.decisions)
        pairs = dedup.minhash_dedup(
            dec.select("doc_id", "scrubbed_text"), "doc_id",
            text_col="scrubbed_text", threshold=a.threshold,
        )
        cc_kwargs = {} if a.max_iter is None else {"max_iter": a.max_iter}
        groups = dedup.connected_components(pairs, **cc_kwargs).select(
            F.col("node").alias("doc_id"), F.col("group").alias("group_id")
        )
        groups.write.mode("overwrite").parquet(a.output)
        n = spark.read.parquet(a.output).count()
        print(json.dumps({"grouped_docs": n, "path": a.output}))
    elif a.cmd == "qc-score":
        dec = catalog.read_output(spark, a.decisions)
        gold = spark.read.parquet(a.gold)
        result = {
            "f1": accuracy.keep_f1(dec, gold),
            "strata": accuracy.score_against_gold(dec, gold, stratum_col=a.stratum),
            "confusion": [
                r.asDict()
                for r in accuracy.confusion_matrix(
                    dec.join(gold, "doc_id").select(
                        F.col("gold_keep").cast("string").alias("gold"),
                        F.col("keep").cast("string").alias("pred"),
                    )
                )
                .orderBy("gold", "pred")
                .collect()
            ],
        }
        print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
