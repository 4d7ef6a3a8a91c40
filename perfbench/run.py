"""Build / serve / append benchmark for the learned cardinality estimators.

    python3 perfbench/run.py --workload jl-cin --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  Each run reads the fixed TPC-H tables
under ``perfbench/data/``, works in a fresh directory under
``.perfbench_work/``, sets up Spark several times, builds the workload's
estimators (``--seed`` picks jl-cin's held-out slice and the serving
order), serves its query suite until ``--seconds`` have been measured, checks
every output against DuckDB, and prints one JSON line of host context
and, last, one JSON line of results:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of the traced run (see README.md).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# noise controls: numeric libraries on one thread, a driver heap sized
# for a small box
BLAS_THREADS = "1"
BLAS_ENV = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
            "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS")
DRIVER_MEM = "2g"
DATA_SCALES = ("0.01", "0.001")   # directories under perfbench/data


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["jl-cin", "jm-ur"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=DATA_SCALES, default=DATA_SCALES[0],
                    help="TPC-H scale factor of the tables")
    ap.add_argument("--inject", choices=["scale4", "joinsize"],
                    help="corrupt one output before the checks (the "
                         "benchmark's own negative tests)")
    return ap.parse_args(argv)


def prepare_work_dir(workload: str, seed: int) -> str:
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    return work


def inject(run, kind: str) -> None:
    if kind == "scale4":
        run.final = {n: 4.0 * e for n, e in run.final.items()}
    elif run.workload == "jl-cin":
        sizes = run.facts["cin_join_sizes"]
        sizes[next(iter(sizes))] += 1
    else:
        run.facts["jm_join_size"] += 1


def stop_spark(spark):
    """Stop Spark and close the JVM's stdin (it exits on EOF); returns the
    JVM process, to be waited for with ``wait_exit``."""
    if spark is None:
        return None
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
    return proc


def wait_exit(proc) -> None:
    if proc is None:
        return
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "scardina_spark")):
        print("perfbench: scardina_spark package not found next to "
              f"{HERE}; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    # before numpy loads (harness imports it)
    for v in BLAS_ENV:
        os.environ[v] = BLAS_THREADS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM

    work = prepare_work_dir(args.workload, args.seed)
    data_dir = os.path.join(HERE, "data", f"sf{args.scale}")
    run = jvm = None
    try:
        import harness
        import workloads
        from tracing import Tracer
        # the whole library surface, before tracing rebinds it
        import scardina_spark.benchmarks  # noqa: F401
        import scardina_spark.estimators.cin  # noqa: F401
        import scardina_spark.jobm  # noqa: F401
        import scardina_spark.model.join_bridge  # noqa: F401
        import scardina_spark.operators.incremental  # noqa: F401
        import checks

        tracer = Tracer(bool(args.trace))
        tracer.install(extra_modules=[workloads])
        steal0 = harness.cpu_jiffies()
        copy0 = harness.copy_gbps()
        run = workloads.Run(args.workload, args.seed, args.seconds,
                            data_dir, work, tracer)
        run.t_window = time.perf_counter()
        workloads.WORKLOADS[args.workload](run)
        window_s = time.perf_counter() - run.t_window
        run.rss_peak_mb = harness.rss_peak_mb()
        tracer.harvest()
        copy1 = harness.copy_gbps()
        steal1 = harness.cpu_jiffies()
        master = run.spark.sparkContext.master

        traced_check = []
        if tracer.enabled:
            # the wrappers must not change a single estimate: serve the
            # final estimator once more with every wrapper removed
            tracer.uninstall()
            plain = {n: float(run.final_estimate(run.final_queries[n]))
                     for n in run.final}
            traced_check.append((
                "traced_estimates_equal_untraced", plain == run.final,
                f"{len(plain)} final-pass estimates compared"))
            metrics = tracer.layer_metrics()
        # the checks need no Spark: let the JVM exit meanwhile
        jvm, run.spark = stop_spark(run.spark), None
        if args.inject:
            inject(run, args.inject)
        qerrs, results = checks.run_checks(run)
        results += traced_check
        correct = all(ok for _, ok, _ in results) and bool(qerrs)

        digest = hashlib.sha256(json.dumps(
            sorted(run.final.items())).encode()).hexdigest()[:16]
        figures = workloads.summarize(run)
        figures["qerror_p50"] = harness.percentile(qerrs, 50)
        units = {"setup_s": "s", "build_s": "s", "est_ms_p50": "ms",
                 "qerror_p50": "ratio", "driver_rss_peak_mb": "MB",
                 "model_kb": "KB"}
        context = {
            "workload": args.workload, "seed": args.seed,
            "model_seed": workloads.MODEL_SEED,
            "trace": args.trace, "scale": args.scale,
            "nproc": harness.nproc(),
            "spark_master": master,
            "spark_driver_memory": DRIVER_MEM,
            "blas_threads": {v: os.environ.get(v) for v in BLAS_ENV},
            "build_paths": "library default, sequential (no parallel= or "
                           "fit_processes=)",
            "inputs": f"fixed tables perfbench/data/sf{args.scale}; "
                      "work files in a fresh directory, nothing reused "
                      "from an earlier run",
            "cpu_steal_pct_run": round(harness.steal_pct(steal0, steal1), 3),
            "copy_gbps_one_way_start": round(copy0, 3),
            "copy_gbps_one_way_end": round(copy1, 3),
            "window_s": round(window_s, 3),
            "setup_cold_s": round(run.setup_cold_s, 3),
            "setup_warm_s": [round(x, 3) for x in run.setup_times],
            "cold_build_s": round(run.cold_build_s, 3),
            "refresh_s": round(run.refresh_s, 3),
            "estimates_timed": len(run.est_ms),
            "final_estimates_sha256": digest,
            "end_to_end": {k: round(v, 4) for k, v in figures.items()},
            # the tails are reported, not gated: over <= 82 queries they
            # are a handful of queries whose q-error moves up to 2x and
            # whose latency moves 25% between seeds
            "qerror_p90": round(harness.percentile(qerrs, 90), 4),
            "qerror_gmean": round(harness.gmean(qerrs), 4),
            "checks": [{"name": n, "ok": ok, "detail": d}
                       for n, ok, d in results],
            "errors": run.errors[:5],
        }
        if tracer.enabled:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.json"))
            metrics = {k: harness.metric(v, u)
                       for k, (v, u) in metrics.items()}
        else:
            metrics = {k: harness.metric(figures[k], units[k])
                       for k in units}
        print(json.dumps({"context": context}))
        print(json.dumps({"correct": correct, "attempted": run.attempted,
                          "failed": run.failed, "metrics": metrics}))
        return 0
    finally:
        if run is not None:
            jvm = stop_spark(run.spark) or jvm
        wait_exit(jvm)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
