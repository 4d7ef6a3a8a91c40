"""Per-layer tracing for ``--trace 1`` runs.

The tracer wraps the public calls of each layer (the table in README.md)
from outside the package: it rebinds the function or method in every
loaded ``scardina_spark`` module and in the workload module, so calls made
from inside the library are timed too.  Each call becomes a span (layer,
start, end, parent) kept in memory and written out at the end.

Spans of layers that run Spark work set their own Spark job group, and
restore the enclosing one on exit, so every job is attributed to the
innermost traced span.  After the measured window the tracer reads jobs,
stages, tasks, executor run time, shuffle and spill per group from
Spark's status tracker and status store (``harvest``).  Phases (setup /
build / serve / refresh) also take driver and JVM CPU seconds from /proc
and the bytes Spark holds cached at the phase's end.

With tracing off ``Tracer.phase`` is a bare context manager and no
library function is rebound.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

from harness import proc_cpu_s

PHASES = ("setup", "build", "serve", "refresh")
SPARK_LAYERS = {"catalog", "prep", "encode", "localize", "resample",
                "finetune"}
MB = 1024.0 * 1024.0


def _targets():
    """(layer, owner, attribute) for every wrapped public call."""
    from scardina_spark import catalog, jobm
    from scardina_spark.estimators import cin, sample
    from scardina_spark.model import bridge, join_bridge, nar
    from scardina_spark.operators import incremental
    from scardina_spark.plans import parse

    return [
        ("catalog", catalog, "load_tables"),
        ("catalog", jobm, "derive_shipments"),
        ("prep", sample, "prepare_tree_sample"),
        ("encode", bridge, "training_matrix"),
        ("fit", nar.NarMLP, "fit"),
        ("step", nar.NarMLP, "train_step"),
        ("localize", sample.TreeSample, "localize"),
        ("progressive", join_bridge.NarJoinEstimator, "estimate"),
        ("cin", cin.NarCinEstimator, "estimate"),
        ("ht", sample.SampleEstimator, "estimate"),
        ("ht", sample.SampleEstimator, "estimate_with_stderr"),
        ("ht", sample.SampleEstimator, "estimate_many"),
        ("parse", parse, "parse_query"),
        ("resample", incremental, "append_refresh_tree_sample"),
        ("finetune", join_bridge, "fine_tune_join_estimator"),
    ]


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str | None] = [None]
        self._restore: list[tuple] = []
        self.sc = None          # current SparkContext (set per session)
        self.jvm_pid: int | None = None
        self.phase_stats: dict[str, dict[str, float]] = {
            p: defaultdict(float) for p in PHASES}
        self.steps = 0
        self.ledger: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self._harvested = 0

    # -- span bookkeeping ---------------------------------------------------

    def _open(self, layer: str, spark: bool) -> int:
        sid = len(self.spans)
        group = f"pb-{layer}-{sid}" if spark else None
        self.spans.append({"layer": layer, "start": time.perf_counter(),
                           "end": None,
                           "parent": self._stack[-1] if self._stack else None,
                           "group": group})
        self._stack.append(sid)
        if group is not None:
            self._groups.append(group)
            self._apply_group()
        return sid

    def _close(self, sid: int) -> None:
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        self._stack.pop()
        if span["group"] is not None:
            self._groups.pop()
            self._apply_group()

    def _apply_group(self) -> None:
        """Tag this thread's next Spark jobs with the innermost group."""
        if self.sc is None:
            return
        group = self._groups[-1]
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def phase(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._open(name, spark=True)
        cpu0 = proc_cpu_s()
        jvm0 = proc_cpu_s(self.jvm_pid) if self.jvm_pid else 0.0
        try:
            yield
        finally:
            st = self.phase_stats[name]
            st["driver_cpu_s"] += proc_cpu_s() - cpu0
            if self.jvm_pid:
                st["jvm_cpu_s"] += proc_cpu_s(self.jvm_pid) - jvm0
            st["cached_mb"] = self._cached_mb()
            self._close(sid)

    def attach(self, spark) -> None:
        """Point the tracer at a (new) Spark session."""
        self.sc = spark.sparkContext
        if self.enabled and self.jvm_pid is None:
            self.jvm_pid = int(
                self.sc._jvm.java.lang.ProcessHandle.current().pid())
        if self.enabled:
            self._apply_group()

    def _cached_mb(self) -> float:
        if self.sc is None:
            return 0.0
        try:
            infos = self.sc._jsc.sc().getRDDStorageInfo()
        except Exception:   # session stopped between set-ups
            return 0.0
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    # -- wrapping -------------------------------------------------------------

    def _wrap(self, layer: str, fn):
        spark = layer in SPARK_LAYERS
        tracer = self

        if layer == "step":
            @functools.wraps(fn)
            def counted(*a, **k):
                tracer.steps += 1
                return fn(*a, **k)
            return counted

        @functools.wraps(fn)
        def traced(*a, **k):
            sid = tracer._open(layer, spark)
            steps0 = tracer.steps
            try:
                out = fn(*a, **k)
            finally:
                tracer._close(sid)
            span = tracer.spans[sid]
            if layer in ("fit", "finetune"):
                span["steps"] = tracer.steps - steps0
            elif layer == "encode":
                span["rows"] = int(out[0].shape[0])
            elif layer == "localize":
                span["rows"] = int(len(a[0].local))
            return out
        return traced

    def install(self, extra_modules=()) -> None:
        if not self.enabled:
            return
        mods = [m for n, m in sys.modules.items()
                if n.startswith("scardina_spark") and m is not None]
        mods += list(extra_modules)
        for layer, owner, attr in _targets():
            orig = owner.__dict__[attr]
            wrapped = self._wrap(layer, orig)
            if isinstance(owner, type):
                setattr(owner, attr, wrapped)
                self._restore.append((owner, attr, orig))
                continue
            # module function: rebind every module-level alias of it
            for m in mods:
                for name, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, name, wrapped)
                        self._restore.append((m, name, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- read-out ---------------------------------------------------------------

    def _stage_table(self) -> dict[int, dict]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = self.sc._jvm
        empty = jvm.java.util.ArrayList()
        seq = jsc.statusStore().stageList(
            empty, False, False, self.sc._gateway.new_array(jvm.double, 0),
            empty)
        out: dict[int, dict] = {}
        it = seq.iterator()
        while it.hasNext():
            s = it.next()
            if s.status().toString() == "SKIPPED":
                continue
            row = out.setdefault(int(s.stageId()), defaultdict(float))
            row["tasks"] += s.numTasks()
            row["executor_s"] += s.executorRunTime() / 1000.0
            row["shuffle_mb"] += (s.shuffleReadBytes()
                                  + s.shuffleWriteBytes()) / MB
            row["spill_mb"] += (s.memoryBytesSpilled()
                                + s.diskBytesSpilled()) / MB
        return out

    def harvest(self) -> None:
        """Fold the Spark work of every span not yet read into the
        per-layer ledger.  Call before a session stops (its status store
        goes with it) and once after the measured window."""
        if not self.enabled or self.sc is None:
            return
        stages = self._stage_table()
        st = self.sc.statusTracker()
        for span in self.spans[self._harvested:]:
            if span["group"] is None:
                continue
            row = self.ledger[span["layer"]]
            for j in st.getJobIdsForGroup(span["group"]):
                info = st.getJobInfo(j)
                row["spark_jobs"] += 1
                for sid in (info.stageIds if info else []):
                    if sid in stages:
                        row["spark_stages"] += 1
                        for k, v in stages[sid].items():
                            row["spark_" + k if k == "tasks" else k] += v
        self._harvested = len(self.spans)

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        """Every per-layer metric, 0 where its layer did not run."""
        by_layer: dict[str, list[dict]] = defaultdict(list)
        for s in self.spans:
            by_layer[s["layer"]].append(s)

        def wall(layer):
            return sum(s["end"] - s["start"] for s in by_layer[layer])

        def ms(layer):
            return [(s["end"] - s["start"]) * 1000 for s in by_layer[layer]]

        def pct(xs, q):
            return float(np.percentile(xs, q)) if xs else 0.0

        def total(layer, key):
            return float(sum(s.get(key, 0) for s in by_layer[layer]))

        def sp(layer, key):
            return float(self.ledger.get(layer, {}).get(key, 0.0))

        fit_steps = total("fit", "steps")
        m: dict[str, tuple[float, str]] = {
            "catalog.s": (wall("catalog"), "s"),
            "catalog.spark_jobs": (sp("catalog", "spark_jobs"), "count"),
            "prep.s": (wall("prep"), "s"),
            "prep.calls": (len(by_layer["prep"]), "count"),
            "prep.spark_jobs": (sp("prep", "spark_jobs"), "count"),
            "prep.spark_stages": (sp("prep", "spark_stages"), "count"),
            "prep.spark_tasks": (sp("prep", "spark_tasks"), "count"),
            "prep.executor_s": (sp("prep", "executor_s"), "s"),
            "prep.shuffle_mb": (sp("prep", "shuffle_mb"), "MB"),
            "prep.spill_mb": (sp("prep", "spill_mb"), "MB"),
            "encode.s": (wall("encode"), "s"),
            "encode.calls": (len(by_layer["encode"]), "count"),
            "encode.spark_jobs": (sp("encode", "spark_jobs"), "count"),
            "encode.rows": (total("encode", "rows"), "count"),
            "fit.s": (wall("fit"), "s"),
            "fit.calls": (len(by_layer["fit"]), "count"),
            "fit.steps": (fit_steps, "count"),
            "fit.ms_per_step": (wall("fit") * 1000 / fit_steps
                                if fit_steps else 0.0, "ms"),
            "localize.s": (wall("localize"), "s"),
            "localize.rows": (total("localize", "rows"), "count"),
            "progressive.calls": (len(by_layer["progressive"]), "count"),
            "progressive.ms_p50": (pct(ms("progressive"), 50), "ms"),
            "progressive.ms_p90": (pct(ms("progressive"), 90), "ms"),
            "cin.calls": (len(by_layer["cin"]), "count"),
            "cin.ms_p50": (pct(ms("cin"), 50), "ms"),
            "cin.ms_p90": (pct(ms("cin"), 90), "ms"),
            "ht.calls": (len(by_layer["ht"]), "count"),
            "ht.ms_p50": (pct(ms("ht"), 50), "ms"),
            "parse.calls": (len(by_layer["parse"]), "count"),
            "parse.ms_total": (sum(ms("parse")), "ms"),
            "resample.s": (wall("resample"), "s"),
            "resample.spark_jobs": (sp("resample", "spark_jobs"), "count"),
            "resample.spark_stages": (sp("resample", "spark_stages"),
                                      "count"),
            "resample.spark_tasks": (sp("resample", "spark_tasks"), "count"),
            "resample.shuffle_mb": (sp("resample", "shuffle_mb"), "MB"),
            "finetune.s": (wall("finetune"), "s"),
            "finetune.steps": (total("finetune", "steps"), "count"),
        }
        for p in PHASES:
            st = self.phase_stats[p]
            m[f"{p}.driver_cpu_s"] = (st["driver_cpu_s"], "s")
            m[f"{p}.jvm_cpu_s"] = (st["jvm_cpu_s"], "s")
            m[f"{p}.cached_mb"] = (st["cached_mb"], "MB")
        return m

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump([{**s, "start": s["start"] - t0,
                        "end": (s["end"] or t0) - t0} for s in self.spans],
                      f)
