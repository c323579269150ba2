"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload serve_churn --seed 1 --seconds 12 --trace 0

Run from the repository root. Prints a human-readable report, then as
the last stdout line one JSON object {correct, attempted, failed,
metrics}: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (which also writes the spans under
``perfbench/.work/traces/``). Exits non-zero, with the reason on
stderr, when any call fails or a result is wrong. Everything the run
writes stays under ``perfbench/.work/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # "process start" for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "quake_vector_search_spark"

WORKLOADS = ("serve_churn", "pipeline")
E2E_UNITS = {
    "setup_s": "s",
    "call_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "result_quality": "ratio",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "setup.cold_prep_s": "s",
    "workload.datagen_s": "s",
    "ivf.build_s": "s",
    "ivf.calibrate_s": "s",
    "pipeline.input_s": "s",
    "ivf.search.self_ms": "ms",
    "ivf.read_corpus_ms": "ms",
    "ivf.read_corpus.calls": "count",
    "ivf.search.jobs": "count",
    "ivf.search.tasks": "count",
    "ivf.partition_scores_ms": "ms",
    "ivf.search.exec_ms": "ms",
    "ivf.avg_nprobe": "count",
    "ivf.scanned_frac": "ratio",
    "ivf.scanned_per_result": "count",
    "ivf.calibrated.search_ms": "ms",
    "ivf.calibrated.avg_nprobe": "count",
    "ivf.calibrated.scanned_frac": "ratio",
    "ivf.calibrated.recall": "ratio",
    "ivf.insert_ms": "ms",
    "ivf.insert.jobs": "count",
    "ivf.delete_ms": "ms",
    "ivf.delete.jobs": "count",
    "maintenance.maintain_ms": "ms",
    "maintenance.maintain.jobs": "count",
    "maintenance.splits": "count",
    "maintenance.merges": "count",
    "maintenance.dirs_rewritten": "count",
    "maintenance.dirs_linked": "count",
    "maintenance.bytes_rewritten_per_user_byte": "ratio",
    "ivf.files_per_partition": "count",
    "storage_amplification": "ratio",
    "pipeline.curate_ms": "ms",
    "pipeline.minhash_ms": "ms",
    "pipeline.quality_ms": "ms",
    "pipeline.tfidf_ms": "ms",
    "pipeline.relational_ms": "ms",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "proc.cpu_ms_per_call": "ms",
    "proc.peak_rss_mb": "MB",
    "spark.failed_tasks": "count",
    "trace.call_p50_ms": "ms",
}


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _prepare_env(trace: bool) -> dict:
    """Point every scratch location into WORK and make the package
    importable here and in Spark's Python workers. Returns the
    get_spark() keyword arguments."""

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    from perfbench.trace import RETAINED

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
    }
    if trace:   # job counts are read from the status store at the end
        conf["spark.ui.retainedJobs"] = str(RETAINED)
        conf["spark.ui.retainedStages"] = str(RETAINED)
    return {"app_name": "perfbench", "extra_conf": conf}


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the
    run started (the JVM and its Python workers) to end."""
    from perfbench.trace import is_running, process_tree

    me = os.getpid()
    tree = [p for p in process_tree() if p != me]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()     # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    alive = tree
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if is_running(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _metric_block(values: dict, units: dict) -> dict:
    missing = [k for k in units if k not in values]
    if missing:
        raise KeyError(f"metrics not produced: {missing}")
    return {k: {"value": float(values[k]), "unit": u}
            for k, u in units.items()}


def _print_report(args, ctx, report, attempted, failed) -> None:
    from perfbench.metrics import error_rate

    print(f"workload {args.workload}  seed {args.seed}  "
          f"window {args.seconds}s  trace {args.trace}")
    print("context " + json.dumps(ctx, sort_keys=True))
    for k in E2E_UNITS:
        if k in report:
            print(f"  {k:<24} {report[k]:.6g} {E2E_UNITS[k]}")
    for op, s in report.get("latency", {}).items():
        tail = (f"  p{s['tail']['p']:g} {s['tail']['value']:.1f} ms"
                if s["tail"] else "  (too few samples for a tail)")
        print(f"  {op + '_p50_ms':<24} {s['p50']:.1f} ms  n={s['n']}{tail}")
    print(f"  {'peak_rss_mb':<24} {report['peak_rss_mb']:.0f} MB")
    if "storage_amplification" in report:
        print(f"  {'storage_amplification':<24} "
              f"{report['storage_amplification']:.4g}")
    print(f"  {'error_rate':<24} {error_rate(attempted, failed):.4g}  "
          f"({failed}/{attempted} calls)")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: the {PACKAGE} package is not next to perfbench/ "
              f"(looked in {ROOT}); run from a full checkout",
              file=sys.stderr)
        return 2
    session_kwargs = _prepare_env(bool(args.trace))

    from perfbench import pipeline, serve_churn
    from perfbench.harness import CallFailed, Harness
    from perfbench.trace import RssSampler, cpu_ticks

    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}"
                                 f"-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ctx = {"nproc": os.cpu_count(),
           "cpus_allowed": len(os.sched_getaffinity(0)),
           "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
           "seed": args.seed, "workload": args.workload,
           "trace": args.trace, "seconds": args.seconds,
           "git_commit": _git_commit(),
           "loadavg_1m_start": os.getloadavg()[0]}
    ticks0 = cpu_ticks()
    h = Harness(bool(args.trace), T0, run_dir, session_kwargs)
    module = {"serve_churn": serve_churn, "pipeline": pipeline}[
        args.workload]
    report, fatal = None, None
    with RssSampler() as rss:
        try:
            report = module.run(h, args.seed, args.seconds)
        except CallFailed as e:
            fatal = str(e)
        finally:
            h.tracer.unpatch()
            if h.spark is not None:
                _stop_spark(h.spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    h.log("stopped")
    ctx["loadavg_1m_end"] = os.getloadavg()[0]
    ticks = {k: v - ticks0[k] for k, v in cpu_ticks().items()}
    ctx["cpu_steal_frac"] = ticks["steal"] / max(1, sum(ticks.values()))

    attempted = len(h.calls)
    failed = sum(1 for c in h.calls if not c["ok"])
    problems = [fatal] if fatal else report["problems"]
    if failed and not fatal:
        problems.append(f"{failed} of {attempted} calls failed")
    if problems or attempted == 0:
        problems = problems or ["no calls were attempted"]
        for p in problems[:10]:
            print(f"FAILED: {p}", file=sys.stderr)
        if len(problems) > 10:
            print(f"FAILED: ... and {len(problems) - 10} more",
                  file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        return 1

    report["peak_rss_mb"] = rss.peak / 2 ** 20
    if args.trace:
        unknown = set(report["layers"]) - set(LAYER_UNITS)
        if unknown:
            raise KeyError(f"layer metrics missing from LAYER_UNITS: "
                           f"{sorted(unknown)}")
        # the other workload's layers read 0
        layers = dict.fromkeys(LAYER_UNITS, 0.0)
        layers.update(report["layers"])
        layers["proc.peak_rss_mb"] = report["peak_rss_mb"]
        layers["trace.call_p50_ms"] = report["call_p50_ms"]
        metrics = _metric_block(layers, LAYER_UNITS)
        trace_path = os.path.join(
            WORK, "traces", f"{args.workload}-s{args.seed}.jsonl")
        h.tracer.dump(trace_path)
        print(f"spans written to {os.path.relpath(trace_path, ROOT)}")
    else:
        metrics = _metric_block(report, E2E_UNITS)
    _print_report(args, ctx, report, attempted, failed)
    result = {"correct": True, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}"
                           ".json"), "w") as fh:
        json.dump({"context": ctx, **result, "preps_s": report["preps_s"],
                   "calls": [[c["op"], c["phase"], round(c["ms"], 1),
                              c.get("jobs"), c.get("tasks")]
                             for c in h.calls]}, fh)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
