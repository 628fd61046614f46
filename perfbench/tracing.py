"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own process: ``install`` wraps
the engine's public layer functions (every module-level binding of the
same function object inside ``oxi_diel_db_spark``) and the DataFrame
barrier methods, and ``uninstall`` restores them.  Spans carry name,
start, end, parent and the id of the op they belong to; they are kept
in memory and written once, at the end of the run.

Spark-side counts come from the JVM after each op, outside its timed
interval: jobs are numbered consecutively, so the jobs an op started
are the ids between the scheduler's job count before and after it
(streaming micro-batch jobs included, which run under their own job
group).  Each job's stages are read from the status store, which is
kept with ``spark.ui.enabled=false``; Catalyst phase times come from the
returned DataFrame's ``queryExecution().tracker()``.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PKG = "oxi_diel_db_spark"

#: span name -> (module, function) wrapped while tracing
HOOKS = {
    "tables.load": ("oxi_diel_db_spark.tables", "load"),
    "tables.small_scan": ("oxi_diel_db_spark.tables", "small_scan"),
    "tables.fanout": ("oxi_diel_db_spark.tables", "fanout"),
    "sources.materials": ("oxi_diel_db_spark.sources.materials", "materials"),
    "ml.load_or_train": ("oxi_diel_db_spark.ml.comp_model", "load_or_train"),
    "ml.predict": ("oxi_diel_db_spark.ml.comp_model", "predict_log10_eps"),
    "streaming.run": ("oxi_diel_db_spark.streaming.ops", "run_stream_to_memory"),
}
BARRIERS = ("localCheckpoint", "persist", "checkpoint")

#: per-layer metric -> (unit, better); the keys of the traced result
LAYER_METRICS = {
    "session.get_spark_s": ("s", "lower"),
    "queries.load_registry_s": ("s", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "exec.collect_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.executor_run_s": ("s", "lower"),
    "exec.parallelism": ("ratio", "higher"),
    "exec.shuffle_mb": ("MB", "lower"),
    "exec.driver_gap_s": ("s", "lower"),
    "catalyst.plan_ms": ("ms", "lower"),
    "tables.load_calls": ("count", "lower"),
    "tables.load_s": ("s", "lower"),
    "tables.load_jobs": ("count", "lower"),
    "tables.small_scan_s": ("s", "lower"),
    "tables.fanout_calls": ("count", "lower"),
    "barrier.calls": ("count", "lower"),
    "barrier.s": ("s", "lower"),
    "sources.materials_s": ("s", "lower"),
    "ml.load_or_train_s": ("s", "lower"),
    "ml.predict_s": ("s", "lower"),
    "streaming.run_s": ("s", "lower"),
    "io.write_mb": ("MB", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "jvm.peak_rss_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def _union(intervals, lo, hi) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = sc._jvm
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self.jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._next_id = 0
        self._op_id: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- JVM probes ------------------------------------------------------
    def _jobs(self) -> int:
        return self._dag.numTotalJobs()

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def _proc(self, name: str, key: str) -> int:
        try:
            with open(f"/proc/{self.jvm_pid}/{name}") as fh:
                for line in fh:
                    if line.startswith(key):
                        return int(line.split()[1])
        except (OSError, ValueError, IndexError):
            pass
        return 0

    def peak_rss_mb(self) -> float:
        return self._proc("status", "VmHWM:") / 1024.0

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        self._next_id += 1
        rec = {
            "id": self._next_id,
            "op": self._op_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
        }
        j0 = self._jobs()
        self._stack.append(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            rec["jobs"] = self._jobs() - j0
            self.spans.append(rec)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        for name, (mod_name, attr) in HOOKS.items():
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = self._wrap(name, orig)
            for mname, mod in list(sys.modules.items()):
                if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
                    continue
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        self._patches.append((mod, k, orig))
                        setattr(mod, k, wrapped)
        for meth in BARRIERS:
            orig = DataFrame.__dict__[meth]
            self._patches.append((DataFrame, meth, orig))
            setattr(DataFrame, meth, self._wrap(f"barrier.{meth}", orig))

    def uninstall(self) -> None:
        while self._patches:
            obj, k, orig = self._patches.pop()
            setattr(obj, k, orig)

    # -- one op --------------------------------------------------------------
    def run_op(self, label: str, build, collect):
        """Run build + collect under spans; return (result, wall_s)."""
        self._op_id = len(self.ops)
        gc0, io0 = self._gc_ms(), self._proc("io", "write_bytes:")
        j0 = self._jobs()
        t0 = time.perf_counter()
        with self.span("op") as root:
            with self.span("queries.build"):
                built = build()
            with self.span("exec.collect"):
                result = collect(built)
        wall = time.perf_counter() - t0
        j1 = self._jobs()
        self._bus.waitUntilEmpty()
        row = {"op": label, "wall_s": wall}
        row.update(self._job_metrics(j0, j1, root["start"] * 1e3, root["end"] * 1e3))
        row["plan_ms"] = self._plan_ms(built)
        row["gc_s"] = (self._gc_ms() - gc0) / 1e3
        row["write_mb"] = (self._proc("io", "write_bytes:") - io0) / 1e6
        self.ops.append(row)
        self._op_id = None
        return result, wall

    def _job_metrics(self, j0: int, j1: int, lo_ms: float, hi_ms: float) -> dict:
        stages = tasks = 0
        run_ms = shuffle = 0
        intervals = []
        for jid in range(j0, j1):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # job no longer retained by the store
                continue
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime(), comp.get().getTime()))
            it = job.stageIds().iterator()
            while it.hasNext():
                try:
                    st = self._store.lastStageAttempt(it.next())
                except Py4JJavaError:  # stage no longer retained by the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += st.numTasks()
                run_ms += st.executorRunTime()
                shuffle += st.shuffleWriteBytes()
        wall_ms = hi_ms - lo_ms
        return {
            "jobs": j1 - j0,
            "stages": stages,
            "tasks": tasks,
            "executor_run_s": run_ms / 1e3,
            "shuffle_mb": shuffle / 1e6,
            "driver_gap_s": (wall_ms - _union(intervals, lo_ms, hi_ms)) / 1e3,
        }

    @staticmethod
    def _plan_ms(built) -> float:
        jdf = getattr(built, "_jdf", None)
        if jdf is None:
            return 0.0
        it = jdf.queryExecution().tracker().phases().iterator()
        total = 0.0
        while it.hasNext():
            total += it.next()._2().durationMs()
        return float(total)

    # -- roll-up -----------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per span name: total self time (duration minus the part of it
        its child spans cover) per traced op, in seconds."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        totals: dict[str, float] = {}
        for s in self.spans:
            kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            own = (s["end"] - s["start"]) - _union(kids, s["start"], s["end"])
            totals[s["name"]] = totals.get(s["name"], 0.0) + own
        n = max(1, len(self.ops))
        return {k: round(v / n, 6) for k, v in sorted(totals.items())}

    def layer_metrics(self, setup: dict, untraced_walls: list[float]) -> dict:
        n = max(1, len(self.ops))
        op_spans = [s for s in self.spans if s["op"] is not None]

        def matching(prefix):
            return [s for s in op_spans if s["name"] == prefix or s["name"].startswith(prefix + ".")]

        def span_s(prefix):
            return sum(s["end"] - s["start"] for s in matching(prefix)) / n

        def span_jobs(prefix):
            return sum(s["jobs"] for s in matching(prefix)) / n

        def span_count(prefix):
            return len(matching(prefix)) / n

        def per_op(key):
            return sum(r[key] for r in self.ops) / n

        walls = [r["wall_s"] for r in self.ops]
        traced_mean = sum(walls) / n
        untraced_mean = (
            sum(untraced_walls) / len(untraced_walls) if untraced_walls else traced_mean
        )
        m = {
            "session.get_spark_s": setup["session.get_spark"],
            "queries.load_registry_s": setup["queries.load_registry"],
            "queries.build_s": span_s("queries.build"),
            "queries.build_jobs": span_jobs("queries.build"),
            "exec.collect_s": span_s("exec.collect"),
            "exec.jobs": per_op("jobs"),
            "exec.stages": per_op("stages"),
            "exec.tasks": per_op("tasks"),
            "exec.executor_run_s": per_op("executor_run_s"),
            "exec.parallelism": sum(r["executor_run_s"] for r in self.ops) / max(1e-9, sum(walls)),
            "exec.shuffle_mb": per_op("shuffle_mb"),
            "exec.driver_gap_s": per_op("driver_gap_s"),
            "catalyst.plan_ms": per_op("plan_ms"),
            "tables.load_calls": span_count("tables.load"),
            "tables.load_s": span_s("tables.load"),
            "tables.load_jobs": span_jobs("tables.load"),
            "tables.small_scan_s": span_s("tables.small_scan"),
            "tables.fanout_calls": span_count("tables.fanout"),
            "barrier.calls": span_count("barrier"),
            "barrier.s": span_s("barrier"),
            "sources.materials_s": span_s("sources.materials"),
            "ml.load_or_train_s": span_s("ml.load_or_train"),
            "ml.predict_s": span_s("ml.predict"),
            "streaming.run_s": span_s("streaming.run"),
            "io.write_mb": per_op("write_mb"),
            "jvm.gc_s": per_op("gc_s"),
            "jvm.peak_rss_mb": self.peak_rss_mb(),
            "trace.overhead_s": traced_mean - untraced_mean,
        }
        return {k: round(float(v), 6) for k, v in m.items()}

    def write(self, path, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    **extra,
                    "ops": self.ops,
                    "self_s_per_op": self.self_times(),
                    "spans": self.spans,
                },
                fh,
            )
