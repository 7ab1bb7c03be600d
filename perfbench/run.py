"""Benchmark entry point.

    python3 perfbench/run.py --workload curate-batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints human-readable lines, then, as
the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (see README.md). All scratch files live under ``.bench_work/``
in the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent

# Pinned so runs are comparable: cores, shuffle partitions, driver heap
# and the commit layout (num_buckets = target_partitions = cores). The
# heap is committed and touched up front, so peak memory does not
# depend on when the JVM chose to grow it.
CORES = 2  # of the 4 vCPUs: leaves room for the JIT, GC and the sampler
SPARK_CONF = {
    "spark.driver.memory": "2g",
    "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
    "spark.sql.shuffle.partitions": str(CORES),
}
BATCH_PAGES = 800
MIN_SAMPLES = 2  # timed jobs or drops per run, at the least
DROP_PAGES = 100  # fresh pages per drop, before recrawls and reposts
DROP_INTERVAL_S = 10.0  # closed-loop capacity on 2 cores: one drop per ~4-7 s
WORKLOADS = ("curate-batch", "stream-drops")


def log(msg: str) -> None:
    print(msg, flush=True)


def setup_env(work: Path) -> None:
    """Make the program importable here and in Spark's Python workers,
    and keep every temporary file inside the checkout."""
    sys.path[:0] = [str(ROOT), str(HERE)]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    SPARK_CONF["spark.local.dir"] = str(work / "spark-local")
    SPARK_CONF["spark.sql.warehouse.dir"] = str(work / "warehouse")
    os.chdir(work)  # derby.log, metastore_db and the like land here


def start_spark():
    from scripts_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES, extra_conf=SPARK_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for every child."""
    from measure import descendants

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


# --- curate-batch -------------------------------------------------------

def batch_cfg():
    from scripts_spark.plans.pipeline import CurateConfig

    return CurateConfig(num_buckets=CORES, target_partitions=CORES)


def batch_job(spark, inp: str, out: str, cfg) -> float:
    """One closed-loop job: scan → curate → commit; returns wall seconds
    from the scan to ``commit_buckets`` returning."""
    from scripts_spark.plans.pipeline import curate, drain_curate_persisted
    from scripts_spark.sources import catalog
    from scripts_spark.sources.pages import PAGES_SCHEMA

    t0 = time.perf_counter()
    dec = curate(spark.read.schema(PAGES_SCHEMA).parquet(inp), cfg)
    catalog.commit_buckets(dec, out)
    el = time.perf_counter() - t0
    drain_curate_persisted()
    return el


def run_batch(args, work: Path) -> dict:
    import gen
    from checks import digest, domain_slice, oracle_check, output_checks
    from scripts_spark.sources import catalog
    from measure import RssSampler, stage_counters, timing_summary
    from scripts_spark.oracle.pipeline_oracle import OracleConfig

    t_setup = time.perf_counter()
    spark = start_spark()
    rows = gen.batch_pages(args.seed, BATCH_PAGES)
    inp = str(work / "pages" / "part-0.parquet")
    gen.write_parquet(rows, inp)
    n_urls = len({r["url"] for r in rows})
    cfg = batch_cfg()
    # two warm-up jobs over the timed job's exact input: after only one,
    # the first timed job still ran ~20% slower than the second, and by
    # how much varied from run to run
    for k in range(2):
        batch_job(spark, inp, str(work / f"warmup-{k}"), cfg)
    setup_s = time.perf_counter() - t_setup
    sc = spark.sparkContext
    res: dict = {"setup_s": setup_s}
    try:
        lat, outs, failed = [], [], 0
        t0 = time.perf_counter()
        with RssSampler() as rss:
            while len(outs) < MIN_SAMPLES or time.perf_counter() - t0 < args.seconds:
                k = len(outs)
                out = str(work / f"out-{k}")
                outs.append(out)
                sc.setJobGroup(f"timed-{k}", "timed job")
                try:
                    lat.append(batch_job(spark, inp, out, cfg))
                except Exception:
                    traceback.print_exc()
                    failed += 1
                if args.trace:
                    break  # one untraced job: the tracing-overhead baseline
        sc.setJobGroup("bench", "bench")
        # full checks on the first output; every other job must reproduce
        # its digest, which covers the same rows, reasons and texts
        done = [o for o in outs if os.path.isdir(o)]
        if not done:
            raise RuntimeError("no timed job committed its output")
        c = output_checks(spark, done[0], n_urls, cfg)
        if not c["ok"]:
            log(f"check failed {done[0]}: {c['problems']}")
            failed += 1
        digests = {c["digest"]}
        for out in done[1:]:
            d = digest(catalog.read_output(spark, out))
            digests.add(d)
            if d != c["digest"]:
                log(f"digest differs {out}: {d}")
                failed += 1
        ora = oracle_check(spark, done[0], domain_slice(rows, args.seed), OracleConfig())
        log(f"oracle slice: {ora}")
        correct = ora["ok"] and len(digests) == 1 and failed == 0
        log(f"digest: {sorted(digests)}")
        res.update(attempted=len(outs), failed=failed, correct=correct)
        s = timing_summary(lat) if lat else None
        if s:
            log(f"jobs: n={s['n']} latency_s={[round(x, 3) for x in lat]} tail={s['tail_pct']}")
            res.update(
                docs_per_s=statistics.median(n_urls / x for x in lat),
                drop_latency_p50_s=s["p50"], drop_latency_tail_s=s["tail"],
            )
        res["peak_rss_mb"] = rss.peak / 1e6
        if args.trace:
            eng = stage_counters(spark, list(sc.statusTracker().getJobIdsForGroup("timed-0")))
            res["layers"] = engine_metrics(eng, lat[0], 1)
            res["layers"].update(traced(args, spark, inp, cfg, work))
            # the streaming layer does no work in a batch workload
            res["layers"].update(
                {k: 0.0 for k in declared_units("per_layer") if k.startswith("streaming.")})
    finally:
        stop_spark(spark)
    return res


def traced(args, spark, inp: str, cfg, work: Path, dcfg=None) -> dict:
    """Per-layer metrics from the traced decomposition, with the spans
    written to .bench_work/traces/. Tracing overhead compares the docs/s
    of the layer-by-layer pass with the untraced curate + commit job the
    trace ends with, over the same input."""
    from layers import trace_layers
    from measure import Tracer

    tracer = Tracer(f"{args.workload}-{args.seed}")
    lm = trace_layers(spark, inp, cfg, str(work / "traced"), tracer, dcfg)
    tracer.dump(str(ROOT / ".bench_work" / "traces" / f"{tracer.run_id}.jsonl"))
    layered_s = (lm.pop("trace.wall_s") - lm.pop("trace.dedup_wall_s")
                 - lm["pipeline.plan_s"] - lm["catalog.commit_s"])
    untraced_s = lm["pipeline.plan_s"] + lm["catalog.commit_s"]
    lm["trace.overhead_frac"] = 1.0 - untraced_s / layered_s
    return lm


def engine_metrics(eng: dict, wall_s: float, n_units: int) -> dict:
    return {
        "engine.cpu_s": eng["cpu_s"] / n_units,
        "engine.cpu_util": eng["cpu_s"] / (wall_s * CORES),
        "engine.gc_s": eng["gc_s"] / n_units,
        "engine.shuffle_write_mb": eng["shuffle_write_mb"] / n_units,
        "engine.spill_mb": eng["spill_mb"] / n_units,
        "engine.tasks": eng["tasks"] / n_units,
        "engine.failed_tasks": eng["failed_tasks"],
    }


# --- stream-drops -------------------------------------------------------

def stream_cfg():
    from scripts_spark.plans.pipeline import CurateConfig

    return CurateConfig(num_buckets=CORES, target_partitions=CORES, text_from_html=True)


def dedup_cfg(cfg):
    """The stream's config with paragraph and near-dup dedup on: the
    traced run decomposes the dedup chain over the drops with it (the
    timed stream leaves it off, see README.md)."""
    import dataclasses

    return dataclasses.replace(cfg, para_dedup=True, near_dedup=True)


def _progress_end(p: dict) -> float:
    """Wall-clock end of a trigger from its progress report."""
    from datetime import datetime, timezone

    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return ts.timestamp() + p["durationMs"]["triggerExecution"] / 1e3


def _data_triggers(q) -> list[dict]:
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def run_stream(args, work: Path) -> dict:
    import gen
    from checks import html_text, oracle_check, output_checks
    from layers import dir_stats
    from measure import (RssSampler, backlog, open_loop_latencies, percentile,
                         stage_counters, timing_summary)
    from pyspark.sql import functions as F
    from scripts_spark.oracle.pipeline_oracle import OracleConfig
    from scripts_spark.sources import catalog
    from scripts_spark.streaming.jobs import stream_curate

    # the schedule spans --seconds: drops are due at 0, I, 2I, ... up to it
    n_timed = max(MIN_SAMPLES, 1 + math.ceil(args.seconds / DROP_INTERVAL_S))
    t_setup = time.perf_counter()
    spark = start_spark()
    drops = gen.stream_drops(args.seed, 1 + n_timed, DROP_PAGES)
    files = []
    for k, d in enumerate(drops):
        f = str(work / "staged" / f"drop-{k:04d}.parquet")
        gen.write_parquet(gen.html_only(d["rows"]), f)
        files.append(f)
    inp, out = work / "drops", str(work / "out")
    inp.mkdir(parents=True)
    cfg = stream_cfg()
    q = stream_curate(
        spark, str(inp), out, str(work / "ck"), cfg,
        available_now=False, max_files_per_trigger=1,
        dedup_urls_across_batches=True,
    )
    sc = spark.sparkContext
    res: dict = {}
    try:
        # warm-up: drop 0 goes through one untimed trigger
        os.replace(files[0], inp / os.path.basename(files[0]))
        deadline = time.time() + 170
        while not _data_triggers(q) and time.time() < deadline:
            if q.exception():
                raise RuntimeError(str(q.exception()))
            time.sleep(0.05)
        if not _data_triggers(q):
            raise RuntimeError("warm-up drop was not committed")
        res["setup_s"] = time.perf_counter() - t_setup
        group = str(q.runId)
        jobs_before = set(sc.statusTracker().getJobIdsForGroup(group))

        due = [time.time() + 0.5 + k * DROP_INTERVAL_S for k in range(n_timed)]
        landed: list[float | None] = [None] * n_timed

        def generator():
            for k in range(n_timed):
                time.sleep(max(0.0, due[k] - time.time()))
                f = files[k + 1]
                os.replace(f, inp / os.path.basename(f))
                landed[k] = time.time()

        gen_t = threading.Thread(target=generator, name="drop-generator")
        schedule_end = due[-1] + DROP_INTERVAL_S
        with RssSampler() as rss:
            gen_t.start()
            while time.time() < schedule_end + 120 and not q.exception():
                if len(_data_triggers(q)) >= 1 + n_timed:
                    break
                time.sleep(0.1)
            gen_t.join(timeout=120)
        trig = _data_triggers(q)[1:]
        done: list[float | None] = [_progress_end(p) for p in trig] + [None] * (n_timed - len(trig))
        # let a trailing no-data trigger (watermark advance) finish first
        idle_by = time.time() + 15
        while q.status["isTriggerActive"] and time.time() < idle_by:
            time.sleep(0.05)
        q.stop()
        lat = open_loop_latencies(due, done)
        late = [l - d for l, d in zip(landed, due) if l is not None]
        n_backlog = backlog(landed, done, schedule_end)
        failed = sum(1 for d in done if d is None)
        log(f"drops: n={n_timed} interval_s={DROP_INTERVAL_S} latency_s={[round(x, 3) for x in lat]} "
            f"gen_late_max_s={max(late, default=0):.4f} backlog_at_end={n_backlog}")

        # checks over the whole committed output
        all_rows = [r for d in drops for r in d["rows"]]
        n_urls = len({r["url"] for r in all_rows})
        c = output_checks(spark, out, n_urls, cfg)
        log(f"output: {c}")
        if not c["ok"]:
            failed = n_timed
        warm_rows = [dict(r, text=html_text(r["html"])) for r in drops[0]["rows"]]
        warm_batch = _data_triggers(q)[0]["batchId"]
        ora = oracle_check(spark, out, warm_rows, OracleConfig(), job_id=warm_batch)
        log(f"oracle slice (first drop, html via the extraction spec): {ora}")
        man = catalog.read_manifest(spark, out).filter(F.col("job_id") != warm_batch)
        timed_docs = man.agg(F.sum("n_rows")).collect()[0][0] or 0
        res.update(attempted=n_timed, failed=failed, correct=ora["ok"] and failed == 0)
        if lat:
            s = timing_summary(lat)
            first_due = due[0]
            last_done = max(d for d in done if d is not None)
            res.update(
                docs_per_s=timed_docs / (last_done - first_due),
                drop_latency_p50_s=s["p50"], drop_latency_tail_s=s["tail"],
            )
            log(f"latency tail percentile: {s['tail_pct']}")
        res["peak_rss_mb"] = rss.peak / 1e6
        if args.trace:
            new_jobs = [j for j in sc.statusTracker().getJobIdsForGroup(group) if j not in jobs_before]
            eng = stage_counters(spark, new_jobs)
            wall = (max(d for d in done if d is not None) - due[0]) if lat else 1.0
            L = engine_metrics(eng, wall, max(1, len(trig)))
            trig_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in trig]
            add_s = [p["durationMs"].get("addBatch", 0) / 1e3 for p in trig]
            fifth = max(1, len(trig_s) // 5)
            st_files, st_mb = dir_stats(str(work / "ck"))
            L.update({
                "streaming.trigger_s_p50": statistics.median(trig_s),
                "streaming.add_batch_s_p50": statistics.median(add_s),
                "streaming.overhead_s_p50": statistics.median(t - a for t, a in zip(trig_s, add_s)),
                "streaming.jobs_per_trigger": len(new_jobs) / max(1, len(trig)),
                "streaming.state_files": st_files,
                "streaming.state_mb": st_mb,
                "streaming.latency_trend": statistics.mean(trig_s[-fifth:]) / statistics.mean(trig_s[:fifth]),
                "streaming.gen_late_s": percentile(late, 100) if late else 0.0,
                "streaming.backlog_drops": n_backlog,
            })
            # the per-layer decomposition runs over all drops at once, so
            # the planted reposts give the near-dup chain pairs to verify
            union = str(work / "union" / "part-0.parquet")
            gen.write_parquet(gen.html_only(all_rows), union)
            L.update(traced(args, spark, union, cfg, work, dedup_cfg(cfg)))
            res["layers"] = L
    finally:
        if q.isActive:
            q.stop()
        stop_spark(spark)
    return res


# --- metrics ------------------------------------------------------------

def declared_units(kind: str) -> dict[str, str]:
    """Metric name → unit for ``end_to_end`` or ``per_layer``, as
    BENCHMARK.json declares them."""
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_start = time.perf_counter()
    if not (ROOT / "scripts_spark" / "plans" / "pipeline.py").is_file():
        print(f"perfbench: no scripts_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    setup_env(work)
    try:
        res = (run_batch if args.workload == "curate-batch" else run_stream)(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    values = res["layers"] if args.trace else res
    units = declared_units("per_layer" if args.trace else "end_to_end")
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    for k, m in metrics.items():
        log(f"{k:32s} {m['value']:.6g} {m['unit']}")
    fail_frac = res["failed"] / res["attempted"]
    log(f"fail_frac {fail_frac:.4g} ({res['failed']}/{res['attempted']})")
    log(f"run wall time {time.perf_counter() - t_start:.1f} s")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
