#!/usr/bin/env python3
"""CDC ingest benchmark: sha-verified drain throughput, batch visibility and
silver-read latency of the engine at local[nproc] with its shipped defaults.

    python3 perfbench/run.py --workload scheduled_read --seed 1 \\
        --seconds 5 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones. The line before it is the full report:
the run record, every end-to-end metric with unit and sample count, and
the tails and fold figures that only some workloads have. Spans and the
read-latency-against-L0-depth samples go to ``.bench_work/out/``.

Everything the benchmark writes stays under ``.bench_work/`` in the
checkout: the staged feeds (cached per seed), the tables, Spark's local
directories and the JVM's temporary files.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
NPROC = len(os.sched_getaffinity(0))
WARM_PASSES = 4
# the set-up passes run on a feed of this fixed seed with one epoch per
# pass: set-up does the same work whatever --seed is, and that feed is
# staged once per checkout
WARM_SEED = 0
# engine settings read from the environment; cleared so the shipped defaults
# hold whatever the caller's shell exports
ENGINE_ENV = ("SPARK_MASTER", "SPARK_EXTRA_CONF", "SPARK_DRIVER_MEMORY",
              "SPARK_SHUFFLE_PARTITIONS", "LAKE_CHECKPOINT_INTERVAL",
              "LAKE_DIST_HARVEST_THRESHOLD", "PYSPARK_SUBMIT_ARGS")

# the metric names and units the result line must carry
BENCH = os.path.join(ROOT, "BENCHMARK.json")


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measure whole cycles until this much time is "
                         "measured (at least one cycle)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def deployment_env() -> dict[str, str]:
    """Where Spark and the JVM may write, and the core count: the only
    settings the benchmark passes. Applied before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {"SPARK_GRAFT_CPUS": str(NPROC),
           "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
           "TMPDIR": tmp,
           # hsperfdata would go to /tmp; java.io.tmpdir keeps Spark's and
           # the launcher's temporary files in the checkout
           "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    for k in ENGINE_ENV:
        os.environ.pop(k, None)
    os.environ.update(env)
    return env


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return sum(v), v[7]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def run_record(spark, env: dict[str, str], load1: float) -> dict:
    import workloads as W

    sc = spark.sparkContext
    return {
        "nproc": NPROC, "master": sc.master, "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(), "load1_at_start": load1,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "non_default": {
            **env,
            "max_files_per_trigger": W.FILES_PER_TRIGGER,
        },
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def spark_counts(sc, first_job: int) -> dict[str, int]:
    """Jobs, stages and tasks since ``first_job`` from the status tracker,
    leaving out the benchmark's own checks."""
    from workloads import CHECK_GROUP

    st = sc.statusTracker()
    checks = set(st.getJobIdsForGroup(CHECK_GROUP))
    jobs = [j for j in st.getJobIdsForGroup(None)
            if j >= first_job and j not in checks]
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
            failed += info.numFailedTasks
    return {"spark.jobs": len(jobs), "spark.stages": len(stages),
            "spark.tasks": tasks, "spark.tasks_failed": failed}


def next_job_id(sc) -> int:
    ids = sc.statusTracker().getJobIdsForGroup(None)
    return max(ids) + 1 if ids else 0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ------------------------------------------------------------ per-layer

def layer_metrics(rec, tracer, spark, first_job: int) -> dict[str, float]:
    from etl_api_bigquery_spark.lake.table import _DATA_DIR, _LOG_DIR

    fg = "foreground"
    prog = rec.progress
    dur = lambda p, k: float(p["durationMs"].get(k, 0)) / 1000.0  # noqa: E731
    trig = [dur(p, "triggerExecution") for p in prog]
    m: dict[str, float] = {
        "streaming.runner.triggers": len(prog),
        "streaming.runner.trigger_s_p50": statistics.median(trig) if trig else 0.0,
        "streaming.runner.wrapper_s": sum(
            dur(p, "triggerExecution") - dur(p, "addBatch") for p in prog),
    }
    for k in ("latestOffset", "getBatch", "queryPlanning", "walCommit",
              "commitOffsets"):
        m[f"streaming.runner.{k}_s"] = sum(dur(p, k) for p in prog)
    waits = ("lake.table.join_pending_commit", "lake.table.join_maintenance",
             "streaming.runner.repair_fence_gap")
    q_start = 0.0
    for s in tracer.named("streaming.runner.run_available_now"):
        inner = sum(c.end - c.start for c in tracer.children(s)
                    if c.name in waits)
        q_start += (s.end - s.start) - inner
    m["streaming.runner.query_start_s"] = q_start - sum(trig)
    m["streaming.runner.repair_fence_gap_s"] = tracer.total(
        "streaming.runner.repair_fence_gap")

    merges = tracer.named("lake.merge.merge_cdc_batch", fg)
    mdur = [s.end - s.start for s in merges]
    m["lake.merge.batch_s_p50"] = statistics.median(mdur) if mdur else 0.0
    m["lake.merge.self_s"] = sum(tracer.self_time(s) for s in merges)
    m["lake.merge.events"] = sum(x.keys for x in rec.merges)
    m["lake.merge.deletes"] = sum(x.deletes for x in rec.merges)
    m["lake.merge.fence_skips"] = sum(x.skipped_fence for x in rec.merges)

    m["lake.table.append_deltas_s"] = tracer.total("lake.table.append_deltas")
    m["lake.table.commit_rewrite_s"] = tracer.total("lake.table.commit_rewrite")
    m["lake.table.commit_wait_s"] = tracer.total(
        "lake.table.join_pending_commit", fg)
    m["lake.table.snapshot_s"] = tracer.total("lake.table.snapshot")
    m["lake.table.snapshot_calls"] = len(tracer.named("lake.table.snapshot"))
    m["lake.table.last_txn_s"] = tracer.total("lake.table.last_txn")
    m["lake.table.fold_busy_s"] = tracer.total("lake.table.compact_deltas",
                                               "lake-maint")
    m["lake.table.fold_wait_s"] = tracer.total("lake.table.join_maintenance",
                                               fg)
    with tracer.suspended():
        commits = compactions = log_b = live_b = data_b = 0
        for t in rec.tables:
            hist = t.history()
            commits += len(hist)
            compactions += sum(h["action"] == "compact_deltas" for h in hist)
            log_b += dir_bytes(os.path.join(t.location, _LOG_DIR))
            data_b += dir_bytes(os.path.join(t.location, _DATA_DIR))
            live_b += sum(e.bytes for e in t.snapshot().files.values())
    m["lake.table.commits"] = commits
    m["lake.table.compactions"] = compactions
    m["lake.table.log_bytes"] = log_b
    m["lake.table.live_bytes"] = live_b
    m["lake.table.write_amp"] = data_b / rec.feed_bytes if rec.feed_bytes else 0.0
    reads = [r for r in rec.reads if not r.compacted]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    m["lake.table.read_s"] = med([r.seconds for r in reads])
    m["lake.table.read_amp_max"] = med([r.amp_max for r in reads])
    m["lake.table.read_amp_p50"] = med([r.amp_p50 for r in reads])
    m["lake.table.l0_files"] = med([r.l0_files for r in reads])
    m.update(spark_counts(spark.sparkContext, first_job))
    return m


def contract_metrics(values: dict[str, float], kind: str) -> dict:
    """``{name: {value, unit}}`` for every metric BENCHMARK.json lists
    under ``kind``; a metric the run did not produce raises KeyError."""
    with open(BENCH) as fh:
        listed = json.load(fh)[kind]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in listed}


# ---------------------------------------------------------------- main

def main(argv: list[str]) -> int:
    t_proc = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_api_bigquery_spark")):
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    load1 = os.getloadavg()[0]
    ticks0 = cpu_ticks()
    env = deployment_env()

    import feed as feed_mod
    import workloads as W
    from spans import Tracer

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        from etl_api_bigquery_spark.session import get_spark
        spark = get_spark(app_name="perfbench")
        start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        feeds = os.path.join(WORK, "feeds")
        t = time.perf_counter()
        warm_feed = feed_mod.stage(
            spark, feeds, WARM_SEED, epochs=WARM_PASSES,
            events=feed_mod.EPOCH_EVENTS * WARM_PASSES)
        stage_s = time.perf_counter() - t
        record = run_record(spark, env, load1)
        plog = W.ProgressLog(spark)

        ctx = W.Ctx(spark, warm_feed, run_dir, plog)
        passes = W.warm_passes(ctx, args.workload, WARM_PASSES)
        # the measured feed is staged after set-up, on a warm JVM
        t = time.perf_counter()
        ctx.feed = feed_mod.stage(spark, feeds, args.seed)
        stage_s += time.perf_counter() - t
        setup = {"session.start_s": start_s, "session.warmup_s": sum(passes),
                 "setup_s": start_s + statistics.median(passes)}

        cycle = W.WORKLOADS[args.workload]
        recs, traced, measured, error = [], None, 0.0, None
        try:
            while measured < args.seconds or not recs:
                rec = W.Recorder()
                recs.append(rec)
                t = time.perf_counter()
                cycle(ctx, rec)
                measured += time.perf_counter() - t
                _cleanup(rec)
            if args.trace:
                # untraced, traced, untraced: the traced cycle's ingest_eps
                # against the mean of its neighbours is the tracing
                # overhead, with the run's warm-up trend cancelled
                tracer = Tracer()
                ctx.tracer = tracer
                first_job = next_job_id(spark.sparkContext)
                traced = W.Recorder()
                tracer.install()
                try:
                    cycle(ctx, traced)
                finally:
                    tracer.uninstall()
                    ctx.tracer = None
                after = W.Recorder()
                recs.append(after)
                cycle(ctx, after)
                _cleanup(after)
        except Exception as e:  # a failed operation: report it, time nothing
            traceback.print_exc(file=sys.stderr)
            error = repr(e)
        plog.close()

        attempted = sum(r.attempted for r in recs)
        failed = sum(r.failed for r in recs)
        if traced is not None:
            attempted += traced.attempted
            failed += traced.failed
        report = e2e_report(recs, setup, spark)
        report["record"] = record
        report["workload"], report["seed"] = args.workload, args.seed
        report["cycles"] = len(recs)
        report["measured_s"] = measured
        report["staging_s"] = stage_s
        report["warm_passes_s"] = passes
        report["at_report_s"] = time.perf_counter() - t_proc
        report["error"] = error
        ticks1 = cpu_ticks()
        report["record"]["cpu_steal_pct"] = 100.0 * (
            (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]))
        metrics: dict[str, dict] = {}
        tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        write_read_curve(recs, os.path.join(out_dir, f"{tag}-reads.jsonl"))
        if traced is not None and error is None:
            lm = layer_metrics(traced, tracer, spark, first_job)
            lm["session.start_s"] = setup["session.start_s"]
            lm["session.warmup_s"] = setup["session.warmup_s"]
            untr = (recs[-2].ingest_eps + recs[-1].ingest_eps) / 2
            lm["trace.ingest_eps_untraced"] = untr
            lm["trace.ingest_eps_traced"] = traced.ingest_eps
            lm["trace.overhead_pct"] = (untr / traced.ingest_eps - 1) * 100
            tracer.dump(os.path.join(out_dir, f"{tag}-spans.jsonl"))
            _cleanup(traced)
            metrics = contract_metrics(lm, "per_layer")
            report["per_layer"] = metrics
        elif error is None:
            metrics = contract_metrics(
                {k: v["value"] for k, v in report["metrics"].items()},
                "end_to_end")
        with open(os.path.join(out_dir, f"{tag}-report.json"), "w") as fh:
            json.dump(report, fh, indent=1)
        print(json.dumps(report))
        correct = error is None and failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _cleanup(rec) -> None:
    for t in rec.tables:
        shutil.rmtree(os.path.dirname(t.location), ignore_errors=True)


def e2e_report(recs, setup: dict, spark) -> dict:
    """Every end-to-end metric with its unit and sample count. Timings also
    get their highest supported tail percentile, or a refusal."""
    import stats

    samples = {
        "batch_visible_s": [v for r in recs for v in r.visible],
        "read_s": [x.seconds for r in recs for x in r.reads
                   if not x.compacted],
        "read_compacted_s": [x.seconds for r in recs for x in r.reads
                             if x.compacted],
        "fold_s": [f for r in recs for f in r.folds],
    }
    eps = [r.ingest_eps for r in recs if r.ingest_eps]
    attempted = sum(r.attempted for r in recs)
    failed = sum(r.failed for r in recs)
    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    py_mb, jvm_mb = vm_hwm_mb("self"), vm_hwm_mb(jvm)
    metrics = {
        "setup_s": {"value": setup["setup_s"], "unit": "s",
                    "n": WARM_PASSES},
        "ingest_eps": {"value": statistics.median(eps) if eps else None,
                       "unit": "1/s", "n": len(eps)},
        "peak_rss_mb": {"value": py_mb + jvm_mb, "unit": "MB", "n": 1,
                        "python_mb": py_mb, "jvm_mb": jvm_mb},
        "failed_frac": {"value": failed / attempted if attempted else None,
                        "unit": "ratio", "n": attempted},
    }
    tails = {}
    for name, xs in samples.items():
        if xs:
            key = name if name == "fold_s" else f"{name}_p50"
            metrics[key] = {"value": statistics.median(xs), "unit": "s",
                            "n": len(xs)}
            tails[name] = stats.summarize(xs, "s")
    return {"metrics": metrics, "tails": tails}


def write_read_curve(recs, path: str) -> None:
    """The (read amplification, read latency) sample per read: latency
    against L0 depth."""
    with open(path, "w") as fh:
        for r in recs:
            for x in r.reads:
                fh.write(json.dumps(x.__dict__) + "\n")


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main(sys.argv[1:]))
