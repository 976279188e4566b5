"""Benchmark of the raster pipeline, the spatial joins and the sf0.1 queries.

    python3 perfbench/run.py --workload raster_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. One process per run: it generates the
workload's inputs from ``--seed``, starts a fresh Spark session with the
program's own defaults (``session.get_spark``), runs two untimed warm-up
repetitions, then timed
repetitions for ``--seconds``, checks the outputs against computations made
apart from the program, stops Spark and prints one JSON line. With
``--trace 1`` it also records spans and Spark's event log and prints the
per-layer metrics instead; the spans go to ``.perfbench_out/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import signal
import sys
import tempfile
import time

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"raster_pipeline": "wl_raster", "sf01_queries": "wl_sf01"}
# the cold repetition and the one after it; later ones fall a few percent
# each for about 40 s more (README, warm-up curve), more than a run can pay
WARMUP_REPS = 2
# a run's metrics are medians over at least this many timed repetitions
MIN_TIMED_REPS = 2

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}
SPARK_TOTALS = {"executor_cpu_s": "s", "executor_run_s": "s", "gc_s": "s",
                "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
                "peak_execution_mb": "MB", "tasks": "count", "jobs": "count"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit. A workload reports 0 for the
    layers it does not exercise."""
    # peak RSS is reported here, not end to end: the JVM's share of it
    # follows G1's adaptive heap growth and varies by a quarter between
    # runs of the same work (README)
    u = {"peak_rss_mb": "MB", "session.get_spark_s": "s", "spark.warmup_s": "s"}
    u.update({f"spark.{k}": v for k, v in SPARK_TOTALS.items()})
    u.update({"pixels_per_s": "px/s", "sink_mb": "MB"})
    u.update({f"functions.codecs.decode_ms.{f}": "ms" for f in ("raw", "png", "q8")})
    u.update({"functions.codecs.psnr_roundtrip_ms": "ms", "functions.focal_kernels.horn_ms": "ms",
              "operators.focal.partials_pass_s": "s", "operators.focal.products_pass_s": "s",
              "operators.focal.python_s": "s", "operators.focal.to_python_mb": "MB",
              "operators.focal.from_python_mb": "MB"})
    u.update({f"plans.pipeline.{a}_s": "s" for a in (
        "tile_sink", "bucket_list", "lineage_stats", "manifest_append", "zonal_write")})
    u.update({"sources.catalog.files_written": "count", "sources.catalog.mb_written": "MB",
              "streaming.manifest.completed_s": "s", "plans.pipeline.resume_noop_s": "s",
              "operators.zonal.from_partials_s": "s",
              "operators.spatial.zonal_pip_candidates": "count",
              "operators.spatial.zonal_pip_hit_ratio": "ratio"})
    import wl_sf01

    u.update({"lsh_docs_per_s": "docs/s", "sql_s": "s"})
    u.update({f"spark_entry.{q}_s": "s" for q in wl_sf01.QUERIES})
    u.update({"operators.dedup.with_minhash_s": "s", "operators.dedup.candidate_pairs": "count",
              "operators.dedup.verify_hit_ratio": "ratio",
              "operators.dedup.attach_shuffle_mb": "MB"})
    return u


def stop_spark(spark, tree, timeout: float = 60.0) -> list[int]:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until no process of the tree is left. Returns the pids that had
    to be killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway:
        gateway.shutdown()
    if proc:
        proc.stdin.close()
        proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while tree.descendants() and time.time() < deadline:
        time.sleep(0.2)
    left = tree.descendants()
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return left


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(1, ROOT)
    started = harness.process_start_epoch()
    try:
        importlib.import_module("pycuda_raster_spark.session")
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    # Python workers import the package too; Spark's scratch space and
    # every output live in a per-run directory inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.makedirs(os.path.join(ROOT, ".perfbench_runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_runs"))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None

    tracer = harness.Tracer(bool(args.trace))
    tree = harness.ProcTree()
    wl = importlib.import_module(WORKLOADS[args.workload]).Workload(run_dir, args.seed, tracer)
    spark = sampler = None
    left: list[int] = []
    try:
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0

        import eventlog
        from pycuda_raster_spark.session import get_spark

        log_dir = os.path.join(run_dir, "eventlog")
        extra = None
        if args.trace:
            os.makedirs(log_dir)
            extra = eventlog.conf(log_dir)
        with tracer.span("session.get_spark"):
            spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra)
        tracer.sc = spark.sparkContext
        wl.register(spark)
        setup_s = time.time() - started - gen_s
        if args.trace:
            wl.install_trace()

        sampler = harness.RssSampler(tree)
        sampler.start()
        loop = harness.Loop(tree, sampler, tracer, after=wl.after_rep)
        warm = loop.warmup(wl.rep, WARMUP_REPS)
        reps = loop.timed(wl.rep, args.seconds, MIN_TIMED_REPS)
        checks = wl.check()

        per_layer = None
        if args.trace:
            probes = wl.probes()
            sampler.stop()
            left = stop_spark(spark, tree)
            spark = None
            per_layer = trace_metrics(wl, tracer, eventlog.EventLog(log_dir), reps, warm)
            per_layer.update(probes)
            write_trace(args, tracer, per_layer, reps, warm, setup_s, checks)
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            left = stop_spark(spark, tree)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(run_dir))
    if left:
        print(f"perfbench: killed processes left after spark.stop(): {left}", file=sys.stderr)

    # each output check is one operation; a check that fails because of a
    # known fault of the program counts as failed but leaves correct true
    failed = [name for name, ok, _ in checks if not ok]
    for name, ok, detail in checks:
        print(f"perfbench: check {name}: {'ok' if ok else 'FAILED'} ({detail})", file=sys.stderr)
    print(f"perfbench: warm-up {[round(t, 3) for t in warm]}, "
          f"timed {[round(r['wall_s'], 3) for r in reps]}, "
          f"peak RSS {[round(r['peak_rss_mb']) for r in reps]} MB", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in per_layer_units().items()}
    else:
        values = {"setup_s": setup_s,
                  **{k: harness.median(r[k] for r in reps) for k in ("wall_s", "cpu_s")}}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": set(failed) <= set(wl.KNOWN_FAULTS), "attempted": len(checks),
                      "failed": len(failed), "metrics": metrics}))
    return 0


def trace_metrics(wl, tracer, log, reps, warm) -> dict:
    m = dict.fromkeys(per_layer_units(), 0.0)
    m["session.get_spark_s"] = next(
        s["end"] - s["start"] for s in tracer.spans if s["name"] == "session.get_spark")
    m["spark.warmup_s"] = sum(warm)
    m["peak_rss_mb"] = harness.median(r["peak_rss_mb"] for r in reps)
    rep_spans: dict[str, set[int]] = {}
    for s in tracer.spans:
        if str(s["rep"]).startswith("timed"):
            rep_spans.setdefault(s["rep"], set()).add(s["id"])
    totals = {k: [] for k in SPARK_TOTALS}
    for ids in rep_spans.values():
        jobs = log.jobs_in(ids)
        t = log.task_totals(jobs)
        t["jobs"] = len(jobs)
        for k in SPARK_TOTALS:
            totals[k].append(t[k])
    for k, v in totals.items():
        m[f"spark.{k}"] = harness.median(v) if v else 0.0
    m.update(wl.layer_metrics(log, reps))
    return m


def write_trace(args, tracer, per_layer, reps, warm, setup_s, checks) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    self_s = tracer.self_times()
    spans = [{**s, "self_s": self_s[s["id"]]} for s in tracer.spans]
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "setup_s": setup_s,
                   "warmup_s": warm, "reps": reps, "checks": checks,
                   "per_layer": per_layer, "spans": spans}, f, indent=1, default=str)
    print(f"perfbench: trace written to {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
