#!/usr/bin/env python3
"""Benchmark of the lmw_tree_spark dedup+cluster pipeline.

    python3 perfbench/run.py --workload checkpointed --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, one ``local[nproc]`` session.
Set-up starts the session and writes the seed's image corpus as parquet. The
timed job then runs in that fresh session, so like a ``spark-submit`` batch run
it pays JIT and code-generation warm-up:

    run_pipeline(checkpoint_dir=fresh)              -> images_per_s
    invalidate dup_groups, tree, assignments, cluster_stats
    run_pipeline(checkpoint_dir=same)               -> checked, not gated

Both runs' outputs are checked against the generator's truth, and the resume
must reproduce the build exactly. The first job's figures are the run's; if it
ends before ``--seconds`` have passed, further jobs run until then and are
checked, not timed. With ``--trace 1`` the Spark event log is on, and after the
timed job one untraced and one traced job run: the traced job wraps every layer
in a span, and the per-layer metrics are printed instead of the end-to-end ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Work files live under ``.perfbench_work/`` in the repository root and are
removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = {
    # natural generator structure: 3/7 of rows in near-dup groups of 3
    "checkpointed": {"images": 2800, "reposts": False},
    # plus exact Zipf reposts of 12 rows: ~430 rows, largest group 140 copies
    "skewed_dups": {"images": 1400, "reposts": True},
}
RESUME_STAGES = ("dup_groups", "tree", "assignments", "cluster_stats")
LAYERS = (
    "pipeline", "signature_stage", "lsh.buckets", "lsh.edges", "lsh.verify",
    "ccomp", "emtree.fit", "emtree.assign", "checkpoint",
)


def pipeline_config():
    from lmw_tree_spark.config import PipelineConfig

    # reference-width (4096-bit) signatures, order-10 depth-3 tree, 2 EM iterations
    return PipelineConfig(
        sig_bits=4096, tree_order=10, tree_depth=3, em_iters=2,
        tsvq_sample=4000, tsvq_maxiters=1,
    )


def prepare_env(work: str) -> None:
    """Keep every file the run writes (Spark scratch, temp files) under ``work``
    and let Python workers import the library."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # JVMs write /tmp/hsperfdata_<user>/<pid> unless perf data is off
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str, nproc: int, event_log: str | None):
    from lmw_tree_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{nproc}]",
        shuffle_partitions=nproc, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers under it) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _timed_pipeline(spark, corpus: str, cfg, ck_dir: str):
    """``run_pipeline`` over the corpus parquet; returns (seconds, assignments as
    pandas, EM metrics). The timer stops once the outputs are written."""
    from lmw_tree_spark.plans.pipeline import run_pipeline

    t0 = time.perf_counter()
    res = run_pipeline(spark, spark.read.parquet(corpus), cfg, checkpoint_dir=ck_dir)
    seconds = time.perf_counter() - t0
    out = res.assignments.select("image_id", "dup_group", "cluster_id").toPandas()
    return seconds, out.sort_values("image_id").reset_index(drop=True), res.metrics


def run_job(spark, corpus: str, truth, ck_dir: str, cfg) -> dict:
    """A checkpointed build, then a resume after invalidating the stages after
    verify. Both runs' outputs are checked, and the resume must reproduce the
    build's assignments and EM rmse exactly."""
    from lmw_tree_spark.plans.checkpoint import Checkpointer

    from perfbench.checks import check_run

    shutil.rmtree(ck_dir, ignore_errors=True)
    build_s, first, fit = _timed_pipeline(spark, corpus, cfg, ck_dir)
    quality, failures = check_run(first, truth, fit)

    ck = Checkpointer(spark, ck_dir)
    for stage in RESUME_STAGES:
        ck.invalidate(stage)
    resume_s, again, refit = _timed_pipeline(spark, corpus, cfg, ck_dir)
    resumed, resume_failures = check_run(again, truth, refit)
    failures += [f"resume: {f}" for f in resume_failures]
    if resumed["rmse"] != quality["rmse"]:
        failures.append(f"resume: EM rmse {resumed['rmse']} != build's {quality['rmse']}")
    if not first.equals(again):
        failures.append("resume: assignments differ from the build's")
    spark.catalog.clearCache()
    print(f"perfbench: job {build_s:.2f} + {resume_s:.2f} s", file=sys.stderr)
    return {"build_s": build_s, "resume_s": resume_s, "failures": failures, **quality}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def checkpoint_write_s(ck_dir: str) -> float:
    total = 0.0
    for d, _, files in os.walk(ck_dir):
        if "_metrics.json" in files:
            with open(os.path.join(d, "_metrics.json")) as f:
                total += json.load(f)["write_seconds"]
    return total


def layer_metrics(spans, groups, nproc: int) -> dict[str, tuple[float, str]]:
    """The per-layer rollup: spans give wall and self time, the event log's job
    groups give executor time, bytes, GC, skew and job counts."""
    from perfbench.eventlog import GroupStats
    from perfbench.trace import self_times

    selfs = self_times(spans)
    out = {}
    for layer in LAYERS:
        idx = [i for i, s in enumerate(spans) if s.name == layer]
        wall = sum(spans[i].wall_s for i in idx)
        g = groups.get(layer, GroupStats())
        mb = 1e6
        out.update({
            f"{layer}.wall_s": (wall, "s"),
            f"{layer}.self_s": (sum(selfs[i] for i in idx), "s"),
            f"{layer}.exec_run_s": (g.exec_run_s, "s"),
            f"{layer}.exec_cpu_s": (g.exec_cpu_s, "s"),
            f"{layer}.busy_frac": (g.exec_run_s / (wall * nproc) if wall else 0.0, "ratio"),
            f"{layer}.shuffle_write_mb": (g.shuffle_write_bytes / mb, "MB"),
            f"{layer}.shuffle_read_mb": (g.shuffle_read_bytes / mb, "MB"),
            f"{layer}.spill_mb": (g.spill_bytes / mb, "MB"),
            f"{layer}.gc_s": (g.gc_s, "s"),
            f"{layer}.task_skew": (g.task_skew, "ratio"),
            f"{layer}.jobs": (g.jobs, "count"),
            f"{layer}.rows_out": (sum(spans[i].rows for i in idx), "count"),
        })
    by = lambda name: [s for s in spans if s.name == name]  # noqa: E731
    edges = sum(s.rows for s in by("lsh.edges"))
    verified = sum(s.extra["verified"] for s in by("lsh.verify"))
    fit = by("emtree.fit")
    fit_group = groups.get("emtree.fit", GroupStats())
    out.update({
        "lsh.verify.yield": (verified / edges if edges else 0.0, "ratio"),
        "ccomp.groups": (sum(s.extra["groups"] for s in by("ccomp")), "count"),
        "emtree.fit.driver_s": (
            sum(s.wall_s - fit_group.job_busy_s(s.start * 1e3, s.end * 1e3) for s in fit), "s"
        ),
        "emtree.fit.leaves": (fit[-1].extra["leaves"] if fit else 0, "count"),
    })
    pipe_wall = out["pipeline.wall_s"][0]
    out["pipeline.attributed_frac"] = (
        1.0 - out["pipeline.self_s"][0] / pipe_wall if pipe_wall else 0.0, "ratio"
    )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        prepare_env(work)
        try:
            import lmw_tree_spark  # noqa: F401
            import pyspark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
            return 2
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it


def run(args, work: str) -> int:
    from perfbench.inputs import build_corpus
    from perfbench.rss import PeakRSS

    spec = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    cfg = pipeline_config()
    corpus = os.path.join(work, "corpus")
    ck_dir = os.path.join(work, "ck")
    event_log = os.path.join(work, "eventlog") if args.trace else None

    with PeakRSS() as rss:
        t0 = time.perf_counter()
        spark = start_session(work, nproc, event_log)
        start_s = time.perf_counter() - t0
        try:
            t1 = time.perf_counter()
            truth = build_corpus(spark, args.seed, spec["images"], spec["reposts"], corpus, nproc)
            gen_s = time.perf_counter() - t1
            setup_s = time.perf_counter() - t0

            rss.active.set()
            deadline = time.perf_counter() + args.seconds
            jobs = [run_job(spark, corpus, truth, ck_dir, cfg)]
            while time.perf_counter() < deadline:
                jobs.append(run_job(spark, corpus, truth, ck_dir, cfg))
            rss.active.clear()
            if args.trace:
                from perfbench.trace import Tracer, installed

                untraced = run_job(spark, corpus, truth, ck_dir, cfg)
                tracer = Tracer(spark.sparkContext)
                with installed(tracer):
                    traced = run_job(spark, corpus, truth, ck_dir, cfg)
                jobs += [untraced, traced]
        finally:
            stop_session(spark)

    failed = [j for j in jobs if j["failures"]]
    for j in failed:
        print(f"perfbench: failed checks: {j['failures']}", file=sys.stderr)
    timed = jobs[0]
    if args.trace:
        from perfbench import eventlog

        op_s = lambda j: j["build_s"] + j["resume_s"]  # noqa: E731
        groups = eventlog.rollup(eventlog.read_events(eventlog.find_log(event_log)))
        metrics = layer_metrics(tracer.spans, groups, nproc)
        metrics["checkpoint.write_s"] = (checkpoint_write_s(ck_dir), "s")
        metrics["checkpoint.bytes"] = (dir_bytes(ck_dir), "bytes")
        metrics["pipeline.trace_overhead_s"] = (op_s(traced) - op_s(untraced), "s")
        metrics["pipeline.resume_s"] = (untraced["resume_s"], "s")
        metrics["sources.gen_s"] = (gen_s, "s")
        metrics["session.start_s"] = (start_s, "s")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "images_per_s": (len(truth) / timed["build_s"], "1/s"),
            "dup_recall": (timed["recall"], "ratio"),
            "dup_precision": (timed["precision"], "ratio"),
            "em_rmse": (timed["rmse"], "bits"),
            "peak_rss_mb": (rss.peak_bytes / 1e6, "MB"),
        }
    print(json.dumps({
        "correct": not failed,
        "attempted": len(jobs),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
