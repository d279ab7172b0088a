#!/usr/bin/env python3
"""kgbench: the product job of scripts/run_pipeline.py, timed end to end.

    python3 kgbench/run.py --workload bench_mix --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One run starts its own local-mode Spark
session, generates the workload's corpus from --seed with
`synth_corpus_rows`, stages it to parquet, and then runs the product job
closed loop, one job at a time, until --seconds have passed (at least one
job). With --seconds shorter than a job, a run times exactly one job, the
first in a fresh JVM, as a spark-submit of run_pipeline.py pays it.
Every job's committed triples table is checked against refsim outside
the timed region. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics: setup_s, cpu_s (CPU seconds
the job took in the Spark JVM, its Python workers and the driver) and
peak_rss_mb. Wall time (job_s, triples_per_s) is printed with each job
but is not an end-to-end metric: on a shared VM it follows the CPU time
the hypervisor gives other guests (steal), which CPU seconds leave out.
--trace 1 runs one traced job and reports the per-layer metrics: spans
around the harness's calls into each layer, py4j round trips, and Spark
task metrics from an event log the run writes. The traced bench_mix job
also validates and writes Turtle, and the traced giant_doc job writes
Turtle shards and then makes a resumable pass; the untraced job leaves
these out so that a run ends in the time a run may take.
Everything the run writes goes under .kgbench_work/ in the checkout and
is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# corpus stagings per run; setup_s is the session start plus their median
STAGINGS = 3

# Harness-owned session, the same for every workload. Driver memory is
# fixed (local mode runs every task in the driver JVM) rather than taken
# from run_pipeline.py (which sets none, so 1g) or bench.py (>= 12g).
DRIVER_MEMORY = "2g"


def session_conf(work: str, trace: bool) -> dict:
    nproc = len(os.sched_getaffinity(0))
    conf = {
        "spark.master": f"local[{nproc}]",
        "spark.app.name": "kgbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.shuffle.partitions": str(max(8, 2 * nproc)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # bench.py's file packing: one staged corpus file per partition
        "spark.sql.files.maxPartitionBytes": "4m",
        "spark.sql.files.openCostInBytes": "4m",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed heap and young generation under the parallel collector
        # (G1 resizes both from pause times) make the touched heap, and
        # so peak_rss_mb, repeat from run to run.
        "spark.driver.extraJavaOptions": " ".join([
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-XX:+UseParallelGC", f"-Xms{DRIVER_MEMORY}", "-Xmn512m",
            "-XX:-UseAdaptiveSizePolicy",
        ]),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(conf: dict):
    from pyspark.sql import SparkSession

    for key in ("spark.local.dir", "spark.sql.warehouse.dir"):
        os.makedirs(conf[key], exist_ok=True)
    if "spark.eventLog.dir" in conf:
        os.makedirs(conf["spark.eventLog.dir"][len("file://"):], exist_ok=True)
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and end the JVM it launched. SparkSession.stop
    leaves the gateway JVM running until this process exits; the JVM
    exits when its stdin closes, so close it and wait. The Python
    workers the JVM forked are not its to wait for, and may outlive it
    for a moment; wait until they have ended too."""
    import probes
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    forked = probes.tree_pids(proc.pid)[1:] if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while any(map(probes.running, forked)) and time.monotonic() < deadline:
        time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def spawn(func: str, *args) -> subprocess.Popen:
    """Start `jobs.<func>(*args)` in a child Python that prints its result
    as JSON. A plain child, not a multiprocessing pool, whose semaphores
    start a resource tracker that outlives the harness."""
    code = ("import json, sys, jobs; "
            f"json.dump(jobs.{func}(*json.loads(sys.argv[1])), sys.stdout)")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join((HERE, os.environ["PYTHONPATH"])))
    return subprocess.Popen([sys.executable, "-c", code, json.dumps(args)], cwd=ROOT,
                            env=env, stdout=subprocess.PIPE, text=True)


def child_result(child: subprocess.Popen):
    out, _ = child.communicate()
    if child.returncode != 0:
        raise RuntimeError(f"child process exited with code {child.returncode}")
    return json.loads(out)


def record(kind: str, **fields) -> None:
    print(json.dumps({"record": kind, **fields}, default=str), flush=True)


def bench(args, work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep Spark, its Python workers and the package zip inside the checkout
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)

    import jobs
    import probes

    trace = bool(args.trace)
    # The corpus draw and refsim (which draws the same corpus again) run
    # in child processes while the session starts and the corpus is
    # staged; the timed job starts after all three.
    drawn = spawn("corpus_rows", args.workload, args.seed)
    expected = spawn("expected", args.workload, args.seed)
    try:
        t0 = time.perf_counter()
        conf = session_conf(work, trace)
        spark = start_session(conf)
        from rdf_generator_spark.queries import ensure_workers_can_import
        from rdf_generator_spark.sources.corpus import corpus_parquet_df

        ensure_workers_can_import(spark)
        session_s = time.perf_counter() - t0
        synth_seed, rows = child_result(drawn)
        rows = [tuple(r) for r in rows]
        stage_s = []
        for i in range(STAGINGS):
            t = time.perf_counter()
            corpus = corpus_parquet_df(spark, rows, os.path.join(work, f"corpus{i}"))
            stage_s.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(stage_s)
        path = jobs.check_gates(args.workload, rows)
        path["synth_seed"] = synth_seed
        want = child_result(expected)
    finally:
        for child in (drawn, expected):
            if child.poll() is None:  # setup raised before its result was read
                child.kill()
            child.wait()
            child.stdout.close()
    record("settings", conf=conf)
    record("setup", session_s=session_s, stage_s=stage_s)

    tracer = probes.Tracer(spark, enabled=trace)
    job_s, cpu_s, rate, rss, failed, first = [], [], [], [], 0, None
    extra = {}
    t_run = time.perf_counter()
    while not job_s or (not trace and time.perf_counter() - t_run < args.seconds):
        out = os.path.join(work, f"out{len(job_s)}")
        stats, errors = {}, []
        jvm = probes.jvm_pid(spark)
        sampler = probes.RssSampler(jvm)
        cpu0 = probes.tree_cpu_s(jvm) + time.thread_time()
        t = time.perf_counter()
        window = (t, t)
        try:
            with sampler:
                try:
                    stats = jobs.product_job(args.workload, spark, corpus, out,
                                             tracer.span, sinks=trace)
                finally:
                    window = (t, time.perf_counter())
                    cpu = probes.tree_cpu_s(jvm) + time.thread_time() - cpu0
            errors = jobs.check_triples(spark, out, stats, want)
            if trace:
                errors += jobs.check_sinks(args.workload, spark, out, stats, want)
            if first is None:
                from rdf_generator_spark.plans.pipeline import resolve_counter_buckets

                width = resolve_counter_buckets(corpus, "auto")
                record("path", workload=args.workload, **path, counter_width=width,
                       turtle_mode=stats.get("ttl_mode"), stats=stats)
                if width != jobs.WORKLOADS[args.workload]["counter_width"]:
                    errors.append(f"counter width {width}")
                if stats["triples"] * jobs.GATE_MARGIN > jobs.TURTLE_SHARD_TRIPLES:
                    errors.append(f"{stats['triples']} triples near the Turtle gate")
                first = stats
            elif stats != first:
                errors.append(f"stats {stats} differ from the first job's {first}")
            if trace:
                extra = trace_steps(args.workload, spark, corpus, out, work, tracer, want)
        except Exception:  # a failed job is counted, not fatal
            errors.append(traceback.format_exc())
        elapsed = window[1] - window[0]
        record("job", i=len(job_s), job_s=elapsed, cpu_s=cpu, peak_rss_mb=sampler.peak_mb,
               triples_per_s=stats.get("triples", 0) / elapsed, stats=stats, errors=errors)
        failed += bool(errors)
        job_s.append(elapsed)
        cpu_s.append(cpu)
        rss.append(sampler.peak_mb)
        rate.append(stats.get("triples", 0) / elapsed)
        shutil.rmtree(out, ignore_errors=True)

    if trace:
        capacity = probes.capacity_sha1_s(spark)
        record("capacity", capacity_sha1_s=capacity, job_s=statistics.median(job_s))
    tracer.close()
    stop_session(spark)

    attempted = len(job_s)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "cpu_s": (statistics.median(cpu_s), "s"),
        "peak_rss_mb": (statistics.median(rss), "MiB"),
    }
    correct = failed == 0
    if trace:
        record("end_to_end", **{k: v for k, (v, _) in end_to_end.items()},
               job_s=statistics.median(job_s), triples_per_s=statistics.median(rate))
        groups = probes.read_event_log(os.path.join(work, "eventlog"))
        metrics = layer_metrics(tracer, groups, first or {}, extra)
        t0, t1 = window
        in_job = sum(s["s"] for s in tracer.spans if t0 <= s["start"] and s["end"] <= t1)
        metrics["trace.span_coverage"] = (in_job / max(t1 - t0, 1e-9), "ratio")
        metrics["box.capacity_sha1_s"] = (capacity, "s")
        metrics["trace.job_s"] = (statistics.median(job_s), "s")
        metrics["trace.triples_per_s"] = (statistics.median(rate), "1/s")
        metrics["fail_rate"] = (failed / attempted, "ratio")
        record("spans", spans=tracer.spans, groups=groups)
        shares = {name: tracer.total(name, "s") / (t1 - t0) for name in
                  ("pipeline", "final", "validation", "turtle")}
        record("layer_shares", workload=args.workload, **shares)
    else:
        metrics = end_to_end
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def trace_steps(workload: str, spark, corpus, out: str, work: str, tracer,
                want: dict) -> dict:
    """Traced steps after the job, outside trace.job_s: the four parsers
    alone, and for giant_doc the resumable path on a fresh output (its
    output checked like the job's), the resume anti-join alone, and an
    immediate second resumable run, which must find no pending document."""
    import jobs
    import probes
    from rdf_generator_spark.sources import parsers as P

    extra = {"ttl": probes.dir_stats(os.path.join(out, "ttl"), ".ttl")}
    with tracer.span("parsers"):
        extra["parser_rows"] = sum(
            parse(corpus).count()
            for parse in (P.parse_char_docs, P.parse_nexus_docs,
                          P.parse_species_docs, P.parse_metadata_docs)
        )
    if workload != "giant_doc":
        return extra
    from rdf_generator_spark.streaming.lineage import pending_corpus, run_resumable

    resumed = os.path.join(work, "resumed")
    stats = jobs.resume_job(spark, corpus, resumed, tracer.span)
    errors = jobs.check_triples(spark, resumed, stats, want)
    errors += jobs.check_lineage(spark, resumed, want)
    extra["lineage_docs"] = stats["docs"]
    extra["staging_mb"] = probes.dir_stats(os.path.join(resumed, "_staging"))[1]
    lineage = spark.read.parquet(os.path.join(resumed, "lineage"))
    with tracer.span("resume.pending"):
        pending = pending_corpus(corpus, lineage).select("repo", "commit").distinct().count()
    with tracer.span("resume.again"):
        again = run_resumable(spark, corpus, resumed)
    if pending or again["docs"]:
        errors.append(f"resume after a full run found {pending} pending "
                      f"documents and rebuilt {again['docs']}")
    if errors:
        raise RuntimeError("; ".join(errors))
    return extra


def layer_metrics(tracer, groups: dict, stats: dict, extra: dict) -> dict:
    import probes

    def span(name, key="s"):
        return tracer.total(name, key)

    def ev(name):
        return probes.merged(groups, name)

    par, pipe, fin = ev("parsers"), ev("pipeline"), ev("final.write")
    val, ttl, lin = ev("validation"), ev("turtle"), ev("lineage")
    n_ttl, ttl_mb = extra.get("ttl", (0, 0.0))
    return {
        "parsers.s": (span("parsers"), "s"),
        "parsers.rows_out": (extra.get("parser_rows", 0), "count"),
        "parsers.max_task_s": (par["max_task_s"], "s"),
        "pipeline.s": (span("pipeline"), "s"),
        "pipeline.driver_cpu_s": (span("pipeline", "driver_cpu_s"), "s"),
        "pipeline.py4j_calls": (span("pipeline", "py4j_calls"), "count"),
        "pipeline.jobs": (pipe["jobs"], "count"),
        "pipeline.task_s": (pipe["task_s"], "s"),
        "pipeline.max_task_s": (pipe["max_task_s"], "s"),
        "pipeline.shuffle_write_mb": (pipe["shuffle_write_mb"], "MiB"),
        "pipeline.spill_mb": (pipe["spill_mb"], "MiB"),
        "final.write_s": (span("final.write"), "s"),
        "final.task_s": (fin["task_s"], "s"),
        "final.shuffle_write_mb": (fin["shuffle_write_mb"], "MiB"),
        "final.rows_out": (fin["rows_out"], "count"),
        "final.recount_s": (span("final.recount"), "s"),
        "validation.report_s": (span("validation.report"), "s"),
        "validation.write_s": (span("validation.write"), "s"),
        "validation.jobs": (val["jobs"], "count"),
        "validation.task_s": (val["task_s"], "s"),
        "validation.shuffle_write_mb": (val["shuffle_write_mb"], "MiB"),
        "validation.spill_mb": (val["spill_mb"], "MiB"),
        "validation.scopes": (stats.get("scopes", 0), "count"),
        "validation.violations": (stats.get("violations", 0), "count"),
        "turtle.s": (span("turtle"), "s"),
        "turtle.driver_cpu_s": (span("turtle", "driver_cpu_s"), "s"),
        "turtle.task_s": (ttl["task_s"], "s"),
        "turtle.mb_out": (ttl_mb, "MiB"),
        "turtle.files": (n_ttl, "count"),
        "lineage.s": (span("lineage"), "s"),
        "lineage.pending_s": (span("resume.pending"), "s"),
        "lineage.docs": (extra.get("lineage_docs", 0), "count"),
        "lineage.jobs": (lin["jobs"], "count"),
        "lineage.task_s": (lin["task_s"], "s"),
        "lineage.staging_mb": (extra.get("staging_mb", 0.0), "MiB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["bench_mix", "giant_doc"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    for need in ("rdf_generator_spark/plans/pipeline.py", "tests/oracle/refsim.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"kgbench: {need} not found under {ROOT}; run from a full "
                  "checkout of the repository", file=sys.stderr)
            return 2
    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = bench(args, work)
    finally:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:  # bench() raised with the session up
            stop_session(active)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
