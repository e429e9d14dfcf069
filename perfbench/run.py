#!/usr/bin/env python3
"""Layered webindex benchmark.

    python3 perfbench/run.py --workload serve|stream --seed N --seconds S --trace 0|1

Run from the repository root. Inputs come from perfbench/gen.py and the
seed; the engine (webindex/) only sees the generated parquet. The run prints
a table of its numbers, then as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the run wraps the public engine calls in
spans, tags each with a Spark job group and reports per-layer numbers read
back from the JVM status store; spans and jobs are written to
.perfbench/spans-<workload>-<seed>.json. Workload parameters, metric
definitions, the layer map and the baseline: perfbench/workloads.json.

Everything the run writes stays under .perfbench/ in the repository root;
the per-run directory is removed at the end, generated inputs are kept,
keyed by (workload, seed, parameters).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "build_docs_per_s": "1/s",
    "write_visible_s": "s",
    "query_p50_s": "s",
    "batch_qps": "1/s",
    "peak_rss_mb": "MB",
    "index_bytes_per_text_byte": "ratio",
}


def _session(work: str, cpus: int):
    from webindex import session
    from webindex.session import get_spark

    local = f"{work}/spark-local"
    os.makedirs(local, exist_ok=True)
    # keep shuffle/spill files inside the checkout instead of /dev/shm
    session._local_dir = lambda: local
    return get_spark(
        app="perfbench",
        master=f"local[{cpus}]",
        driver_mem="2g",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            # the status store must keep every job of the run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def install_wrappers(tracer) -> None:
    """Spans around the public engine calls each layer starts with."""
    from webindex import build, io, query, streaming
    from webindex.streaming import IncrementalIndexer

    tracer.wrap(build, "build_index", "build.index")
    tracer.wrap(build, "load_index", "build.load_index")
    tracer.wrap(build, "build_runs", "build.tokenize", marker=True)
    tracer.wrap(streaming, "build_runs", "build.tokenize", marker=True)
    tracer.wrap(build, "vocab_and_corpus_agg", "build.vocab")
    tracer.wrap(build, "resolve_term_hashes", "build.hash_resolve")
    tracer.wrap(build, "build_postings", "build.postings", marker=True)
    tracer.wrap(streaming, "build_postings", "build.postings", marker=True)
    tracer.wrap(io, "write_table", name_fn=lambda a, kw: "io.write_table."
                + a[1].rstrip("/").rsplit("/", 1)[-1])
    tracer.wrap(io, "write_driver_table", "io.write_driver_table")
    tracer.wrap(io, "append_driver_rows", "io.append_driver_rows")
    for fn in ("topk_wand", "topk_match", "topk_bool"):
        tracer.wrap(query, fn, "query.probe")
    tracer.wrap(query, "topk_batch", "query.batch_probe")
    tracer.wrap(IncrementalIndexer, "upsert", "streaming.ingest")
    tracer.wrap(IncrementalIndexer, "delete", "streaming.delete")
    tracer.wrap(IncrementalIndexer, "live_index", "streaming.live_index")
    tracer.wrap(IncrementalIndexer, "compact", name_fn=lambda a, kw: (
        "streaming.compact_full" if kw.get("full") else "streaming.compact_incr"))


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None, params: dict | None = None) -> int:
    """params overrides workload parameters of workloads.json (the
    self-test's tiny runs call main directly with it)."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import webindex.build  # noqa: F401 - the engine must be importable
    except ImportError as e:
        print(f"perfbench: cannot import the webindex engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    from layers import COMMON, compute
    from tracing import RssSampler, Tracer, read_status_store
    from workloads import WORKLOADS, Run

    with open(os.path.join(HERE, "workloads.json")) as f:
        params = {**json.load(f)["params"][args.workload], **(params or {})}

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.makedirs(f"{base}/inputs", exist_ok=True)
    os.environ.update(
        TMPDIR=f"{work}/tmp",
        # every JVM the run starts (spark-submit's launcher, the driver)
        # keeps its temp files in the checkout and writes no hsperfdata
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        PYTHONPATH=os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    )
    cpus = len(os.sched_getaffinity(0))

    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = _session(work, cpus)
            start_s = time.perf_counter() - t0
            tracer = Tracer(spark) if args.trace else None
            if tracer:
                install_wrappers(tracer)
            run = Run(spark, work, params, args.seed, args.seconds, tracer)
            WORKLOADS[args.workload](run)
        run.e2e["peak_rss_mb"] = rss.peak_kb / 1024.0
        run.report["peak_rss_largest_process_mb"] = rss.largest_at_peak_kb / 1024.0
        if tracer:
            tracer.finish()
            t0 = time.perf_counter()
            jobs, stages = read_status_store(spark)
            metrics, extra = compute(run, tracer.spans, jobs, stages, start_s)
            extra["trace.read_store_s"] = time.perf_counter() - t0
            # the end-to-end numbers of a traced run, for the tracing overhead
            extra.update({f"traced.{k}": v for k, v in run.e2e.items()})
            with open(f"{base}/spans-{args.workload}-{args.seed}.json", "w") as f:
                json.dump({"spans": tracer.spans, "jobs": jobs}, f)
            units = COMMON
        else:
            metrics, extra, units = run.e2e, {}, E2E_UNITS
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = run.failed == 0
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={cpus} session_start_s={start_s:.3f}")
    for k, v in sorted(metrics.items()):
        print(f"  {k:<40} {_fmt(v):>14} {units[k]}")
    for k, v in sorted({**run.report, **extra}.items()):
        print(f"  {k:<40} {_fmt(v):>14}")
    print(f"  failed_op_share {run.failed}/{run.attempted}  "
          f"verdict: {'CORRECT' if correct else 'WRONG'}")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
