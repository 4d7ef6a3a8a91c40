"""The benchmark's workloads: build, serve and append for the learned
estimators of ``scardina_spark``.

``jl-cin``  the paper's headline configuration.  Five CIN subschema
            samples and models (``build_cin_estimator``) over lineitem
            minus a seeded held-out slice; the held-out rows are then
            appended to the lineitem subschema in one step
            (``append_refresh_tree_sample`` + a one-epoch
            ``fine_tune_join_estimator``), and the JOB-light queries are
            served on the full table through ``NarCinEstimator.estimate``.
``jm-ur``   the job-m schema with the derived ``shipments`` table: one
            shipments-rooted weighted sample over the first parallel-FK
            alternative, one UR model on it, and the job-m queries whose
            joins that alternative holds.

``--seed`` picks ``jl-cin``'s held-out slice and the order in which
both workloads serve their suite; the tables are fixed, and every sample
draw and model fit uses the fixed ``MODEL_SEED``, so that build time
and q-error compare code rather than draws (README).

Each workload returns what it measured and the facts the checks need;
the checks themselves live in ``checks.py`` and compare against DuckDB.
"""

from __future__ import annotations

import math
import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field

from harness import nproc, percentile

# -- configuration ----------------------------------------------------------

SETUP_REPS = 2            # warm set-ups after the cold one; setup_s = median
HOLD_PERMILLE = 100       # lineitem rows held out of the jl-cin build
MIN_TIMED = 100           # estimates timed per run, at least
MIN_FINAL_PASSES = 2      # serving passes over the final estimator
FIT_MAX_ROWS = 10_000     # training-matrix row cap for every model
JM_SAMPLE_ROWS = 10_000   # rows of the weighted jm sample
MODEL_SEED = 1            # every sample draw, fit, append and fine-tune

# held-out split as SQL both Spark and DuckDB evaluate identically
# (integer arithmetic on non-negative keys).  The seed's term enters
# already reduced mod 1000, so any integer seed gives a small literal
# (``seed * 97`` itself overflows a 32-bit INT past ~22 million).
HOLD_EXPR = ("(l_orderkey * 2654435761 + l_linenumber * 40503 + {salt})"
             " % 1000")


def hold_expr(seed: int) -> str:
    return HOLD_EXPR.format(salt=seed * 97 % 1000)


def held_sql(seed: int) -> str:
    return f"{hold_expr(seed)} < {HOLD_PERMILLE}"


@dataclass
class Run:
    """State of one benchmark run."""

    workload: str
    seed: int
    seconds: float
    data_dir: str
    work_dir: str
    tracer: object
    spark: object = None
    t_window: float = 0.0
    setup_times: list = field(default_factory=list)
    setup_cold_s: float = 0.0
    cold_build_s: float = 0.0
    refresh_s: float = 0.0
    est_ms: list = field(default_factory=list)
    query_ms: dict = field(default_factory=dict)  # query -> ms per pass
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    final: dict = field(default_factory=dict)     # query -> estimate
    passes: list = field(default_factory=list)    # estimates per pass
    facts: dict = field(default_factory=dict)     # inputs to the checks
    models: list = field(default_factory=list)
    rss_peak_mb: float = 0.0
    final_queries: dict = field(default_factory=dict)
    final_estimate: object = None

    @property
    def build_s(self) -> float:
        return self.cold_build_s + self.refresh_s

    def spark_conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work_dir, "tmp")
        return {
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # keep every job/stage of a run readable for the traced ledger
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }


def _new_session(run: Run):
    from scardina_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{nproc()}]",
                      extra_conf=run.spark_conf())
    run.tracer.attach(spark)
    return spark


def _set_up(run: Run, derive):
    """One cold set-up, then SETUP_REPS warm ones on fresh sessions in
    the same JVM; the last one's outputs are kept.  ``derive(run, spark,
    rep)`` loads the tables and derives the workload's inputs."""
    out = None
    for rep in range(SETUP_REPS + 1):
        if run.spark is not None:
            run.tracer.harvest()
            run.spark.stop()
            run.tracer.sc = None
        with run.tracer.phase("setup"):
            t = time.perf_counter()
            run.spark = _new_session(run)
            out = derive(run, run.spark, rep)
            dt = time.perf_counter() - t
        if rep == 0:
            run.setup_cold_s = dt
        else:
            run.setup_times.append(dt)
    return out


def _serve_pass(run: Run, queries: dict[str, str], estimate) -> dict:
    """Time one estimate per query; a raised error counts as failed."""
    out: dict[str, float] = {}
    for name, sql in queries.items():
        run.attempted += 1
        t = time.perf_counter()
        try:
            e = estimate(sql)
        except Exception as ex:   # noqa: BLE001 - every failure counts
            run.failed += 1
            run.errors.append(f"{name}: {type(ex).__name__}: {ex}")
            continue
        ms = (time.perf_counter() - t) * 1000.0
        run.est_ms.append(ms)
        run.query_ms.setdefault(name, []).append(ms)
        out[name] = float(e)
    run.passes.append(out)
    return out


def _final_passes(run: Run, queries, estimate) -> None:
    """Serve the final estimator in whole passes, in a seeded query order,
    until ``run.seconds`` of serving have been measured, and at least
    MIN_FINAL_PASSES passes and MIN_TIMED estimates: host noise comes and
    goes over seconds, so the latency figures cover the same stretch of
    time in every run."""
    order = random.Random(run.seed).sample(sorted(queries), len(queries))
    queries = {n: queries[n] for n in order}
    run.final_queries, run.final_estimate = queries, estimate
    min_passes = max(MIN_FINAL_PASSES, math.ceil(MIN_TIMED / len(queries)))
    n, served = 0, 0.0
    while n < min_passes or served < run.seconds:
        t = time.perf_counter()
        with run.tracer.phase("serve"):
            run.final = _serve_pass(run, queries, estimate)
        served += time.perf_counter() - t
        n += 1


def model_bytes(est) -> int:
    """Parameter bytes of one trained NarMLP (optimizer state excluded)."""
    m = est.model
    arrays = [m.W1, m.b1, m.W2, m.b2, *m.emb, *m.P]
    return int(sum(a.nbytes for a in arrays))


# -- jl-cin -------------------------------------------------------------------

def _derive_jl(run: Run, spark, rep: int):
    from pyspark.sql import functions as F

    from scardina_spark.catalog import load_tables

    tables = load_tables(spark, run.data_dir)
    full = tables["lineitem"]
    base = full.where(~F.expr(held_sql(run.seed))).persist()
    held = full.where(F.expr(held_sql(run.seed))).persist()
    run.facts["base_rows"] = base.count()
    held.count()
    tables["lineitem"] = base
    return tables, held


def _jl_configs(seed: int):
    from scardina_spark.model import TrainConfig

    big = TrainConfig(epochs=2, d_word=16, d_ff=64, batch_size=1024,
                      seed=seed)
    small = TrainConfig(epochs=3, d_word=12, d_ff=48, batch_size=1024,
                        seed=seed)
    return lambda center: big if center == "lineitem" else small


def run_jl_cin(run: Run) -> None:
    from scardina_spark.benchmarks import CIN_MODEL_COLUMNS, job_light_suite
    from scardina_spark.catalog import build_tpch_schema
    from scardina_spark.estimators import cin as cin_mod
    from scardina_spark.model import join_bridge
    from scardina_spark.operators import incremental

    tables, held = _set_up(run, _derive_jl)
    suite = job_light_suite()

    with run.tracer.phase("build"):
        t = time.perf_counter()
        est = cin_mod.build_cin_estimator(
            build_tpch_schema(), tables, CIN_MODEL_COLUMNS,
            _jl_configs(MODEL_SEED), sample_size=1000,
            max_rows=FIT_MAX_ROWS, fact_threshold=8, seed=MODEL_SEED,
            localize=True)
        run.cold_build_s = time.perf_counter() - t
    run.attempted += 1
    run.facts["cin_join_sizes"] = {m.ts.root: int(m.ts.join_size)
                                   for m in est.models}
    run.models = list(est.models)

    li = next(m for m in est.models if m.ts.root == "lineitem")
    n_sample = int(li.ts.n_sample)
    run.facts["lineitem_n_sample"] = n_sample
    run.attempted += 1
    with run.tracer.phase("refresh"):
        t = time.perf_counter()
        ts = incremental.append_refresh_tree_sample(
            li.ts, tables, held, n_min=n_sample, n_max=n_sample,
            seed=MODEL_SEED + 1)
        join_bridge.fine_tune_join_estimator(
            li, ts, epochs=1, max_rows=FIT_MAX_ROWS, seed=MODEL_SEED + 2)
        ts.localize()
        run.refresh_s = time.perf_counter() - t
    run.facts["refreshed_join_size"] = int(li.ts.join_size)
    run.facts["refreshed_n_sample"] = int(li.ts.n_sample)
    run.facts["refreshed_local_rows"] = int(len(li.ts.local))

    # resolve the method at call time, so a pass with tracing removed
    # calls the bare library method
    _final_passes(run, suite, lambda sql: est.estimate(sql))


# -- jm-ur --------------------------------------------------------------------

def _derive_jm(run: Run, spark, rep: int):
    from scardina_spark.catalog import load_tables
    from scardina_spark import jobm

    out_dir = os.path.join(run.work_dir, f"shipments-{rep}")
    shutil.rmtree(out_dir, ignore_errors=True)
    tables = load_tables(spark, run.data_dir)
    path = jobm.derive_shipments(spark, run.data_dir, out_dir=out_dir)
    tables["shipments"] = spark.read.parquet(path)
    tables["shipments"].count()
    run.facts["shipments_path"] = path
    return tables


def jm_queries(tree) -> dict[str, str]:
    """The job-m queries whose every join edge lies in ``tree``."""
    from scardina_spark import jobm

    cols = {c for r in tree.rels for c in (r.pk_col, r.fk_col)}

    def supported(sql: str) -> bool:
        joins = re.findall(r"\w+\.(\w+) = \w+\.(\w+)", sql)
        return all(a in cols and b in cols for a, b in joins)

    return {n: q for n, q in jobm.job_m_suite().items() if supported(q)}


def run_jm_ur(run: Run) -> None:
    from scardina_spark import jobm
    from scardina_spark.estimators import sample
    from scardina_spark.model import TrainConfig
    from scardina_spark.model import join_bridge

    tables = _set_up(run, _derive_jm)
    cfg = TrainConfig(epochs=3, d_word=16, d_ff=64, batch_size=1024,
                      seed=MODEL_SEED)
    tree = jobm.jm_sample_trees()[0]
    suite = jm_queries(tree)

    with run.tracer.phase("build"):
        t = time.perf_counter()
        ts = sample.prepare_tree_sample(tree, tables, "shipments",
                                        n_min=JM_SAMPLE_ROWS,
                                        n_max=JM_SAMPLE_ROWS, seed=MODEL_SEED)
        model = join_bridge.train_join_estimator(
            ts, jobm.JM_UR_MODEL_COLUMNS, cfg, sample_size=500,
            max_rows=FIT_MAX_ROWS, fact_threshold=8)
        run.cold_build_s = time.perf_counter() - t
    run.attempted += 1
    run.models = [model]
    run.facts["jm_join_size"] = int(model.ts.join_size)
    run.facts["jm_tree"] = tree

    # resolve the method at call time, as in jl-cin
    _final_passes(run, suite, lambda sql: model.estimate(sql))


WORKLOADS = {"jl-cin": run_jl_cin, "jm-ur": run_jm_ur}


def summarize(run: Run) -> dict[str, float]:
    """The run's end-to-end figures except q-error (computed by the
    checks against DuckDB)."""
    return {
        "setup_s": percentile(run.setup_times, 50),
        "build_s": run.build_s,
        # per query the median over the passes, then the median over the
        # suite: a stretch of host contention that slows fewer than half
        # of a query's passes does not move it
        "est_ms_p50": percentile([percentile(v, 50)
                                  for v in run.query_ms.values()], 50),
        "est_ms_p90": percentile(run.est_ms, 90),
        "driver_rss_peak_mb": run.rss_peak_mb,
        "model_kb": sum(model_bytes(m) for m in run.models) / 1024.0,
    }
