#!/usr/bin/env python3
"""One-off check that kgbench's traced jobs are the CLI's product jobs.

    python3 kgbench/crosscheck.py --workload bench_mix --seed 1

Stages the workload's corpus, runs `scripts/run_pipeline.py` on it as a
subprocess (its `main()` stops the session, so it cannot share one) with
the flags each traced job mirrors, runs the harness's job on the same
corpus, and exits non-zero unless the stats both print agree. Writes only
under .kgbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys

import run

# flags of each job the traced run makes: the product job, and for
# giant_doc the resumable pass after it
CLI_FLAGS = {
    "bench_mix": [["--ttl", "--validate"]],
    "giant_doc": [["--ttl", "--ttl-layout", "shards"], ["--resume"]],
}


def harness_job(workload: str, flags: list, spark, corpus, out: str) -> dict:
    import jobs

    def span(name):
        return contextlib.nullcontext()

    if flags == ["--resume"]:
        return jobs.resume_job(spark, corpus, out, span)
    return jobs.product_job(workload, spark, corpus, out, span, sinks=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(CLI_FLAGS))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    work = os.path.join(run.ROOT, ".kgbench_work", f"crosscheck-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    pairs = []
    try:
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["PYTHONPATH"] = run.ROOT
        sys.path.insert(0, run.ROOT)
        import jobs

        _, rows = jobs.corpus_rows(args.workload, args.seed)
        spark = run.start_session(run.session_conf(work, trace=False))
        from rdf_generator_spark.queries import ensure_workers_can_import
        from rdf_generator_spark.sources.corpus import corpus_parquet_df

        ensure_workers_can_import(spark)
        corpus = corpus_parquet_df(spark, rows, os.path.join(work, "corpus"))
        for i, flags in enumerate(CLI_FLAGS[args.workload]):
            cli = subprocess.run(
                [sys.executable, os.path.join(run.ROOT, "scripts", "run_pipeline.py"),
                 "--corpus", os.path.join(work, "corpus"),
                 "--out", os.path.join(work, f"cli{i}"), *flags],
                cwd=run.ROOT, stdout=subprocess.PIPE, text=True, check=True,
            )
            cli_stats = json.loads(cli.stdout.strip().splitlines()[-1])
            cli_stats.pop("wall_sec")
            ours = harness_job(args.workload, flags, spark, corpus,
                               os.path.join(work, f"harness{i}"))
            pairs.append({"flags": flags, "run_pipeline": cli_stats, "kgbench": ours})
        run.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(pairs))
    return 0 if all(p["run_pipeline"] == p["kgbench"] for p in pairs) else 1


if __name__ == "__main__":
    raise SystemExit(main())
