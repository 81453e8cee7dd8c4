"""Layer trace, run from outside the package.

The program is not instrumented.  During a traced run this module wraps,
from the benchmark's side, the public functions of the package modules a
workload calls and the Spark actions (count/collect/write) made outside
them.  Each wrapper records a span (name, start, end, parent) in memory
and tags the Spark jobs it starts with a local property.  When the run
ends, the Spark event log -- which Spark writes anyway once
``spark.eventLog.enabled`` is on -- is rolled up by those tags: jobs,
stages, tasks, executor CPU, GC, shuffle writes, spills and the rows and
bytes that crossed the Arrow boundary.  Codegen compile time is read from
Spark's own ``CodeGenerator.compileTime`` counter at pass boundaries.
"""

from __future__ import annotations

import ast
import functools
import glob
import json
import os
import re
import sys
import time

SPAN_PROP = "perfbench.span"

# module -> public functions the workloads reach (directly or through the
# job/plan that composes them)
TRACED = {
    "plans.validate": ("validate", "run_checks"),
    "operators.stats": ("derive_row_features", "light_features",
                        "partition_stats", "distribution_counts_all"),
    "operators.referential": ("build_bloom", "with_membership"),
    "operators.extraction_check": ("mismatch_violations",),
    "operators.drift": ("drift_violations",),
    "operators.verdict": ("combine_violations", "assemble_verdicts"),
    "operators.dedup": ("jaccard_edges_guarded", "near_dup_members_guarded"),
    "operators.components": ("keep_one",),
    "functions.url_norm": ("canonical_url_col",),
    "functions.text_stats": ("quality_features", "quality_score_col",
                             "repetition_features", "lang_id_col"),
    "functions.bpe": ("train_bpe", "bpe_token_counts"),
    "operators.mixing": ("budget_mix",),
}
# pandas-UDF bodies whose Arrow-boundary rows count toward a module other
# than the one that defines them (the extraction check reaches Python
# through functions.extract)
PYTHON_ROWS_ALSO = {"functions.extract": "operators.extraction_check"}
DEDUP_SURFACES = {"jaccard_edges_guarded": "edges",
                  "near_dup_members_guarded": "members"}
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "ArrowWindowPython", "WindowInPandas", "FlatMapGroupsInArrow")
ROW_METRICS = ("number of output rows", "shuffle records written")

# the metrics a trace prints, by workload (module metrics of modules a
# workload never calls read 0)
COMMON = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.codegen_compile_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
    "spark.spill_mb", "python.rows_in", "python.rows_out", "python.bytes_in",
    "python.worker_s", "retained_cache_mb", "session.jvm_start_s",
    "trace.cold_s", "trace.wall_s",
    "plans.validate.jobs", "plans.validate.stages", "plans.validate.write_s",
    "operators.stats.wall_s", "operators.referential.wall_s",
    "operators.referential.python_rows", "operators.extraction_check.wall_s",
    "operators.extraction_check.python_rows", "operators.drift.wall_s",
    "operators.verdict.wall_s",
) + tuple(f"operators.dedup.members.{m}" for m in (
    "wall_s", "jobs", "stages", "executor_cpu_s", "shuffle_write_mb",
    "python_rows", "collision_rows", "yield", "output_rows",
    "retained_cache_mb"))
CORPUS_PREP = (
    "jobs.corpus_prep.jobs", "jobs.corpus_prep.stages",
    "jobs.corpus_prep.count_s", "jobs.corpus_prep.write_s",
    "jobs.corpus_prep.retained_cache_mb", "functions.url_norm.wall_s",
    "operators.dedup.edges.wall_s", "operators.dedup.edges.collision_rows",
    "operators.dedup.edges.output_rows", "operators.dedup.edges.yield",
    "operators.components.wall_s", "functions.text_stats.wall_s",
    "functions.bpe.wall_s", "operators.mixing.wall_s",
)
UNITS = {"_s": "s", "_mb": "MB", "bytes_in": "bytes", "yield": "ratio"}


def _unit(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)),
                "count")


class Span:
    __slots__ = ("id", "name", "detail", "parent", "start", "end", "extra")

    def __init__(self, sid, name, detail, parent):
        self.id, self.name, self.detail, self.parent = sid, name, detail, parent
        self.start, self.end, self.extra = time.time(), None, {}


class Tracer:
    def __init__(self, run_dir: str, spans_path: str):
        self.events_dir = os.path.join(run_dir, "events")
        os.makedirs(self.events_dir, exist_ok=True)
        self.spans_path = spans_path
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.passes: dict[str, Span] = {}
        self.codegen_s: dict[str, float] = {}
        self.sc = None

    def spark_conf(self) -> dict:
        return {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.events_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}

    # ----------------------------------------------------------- spans

    def _enter(self, name: str, detail: str = "") -> Span:
        parent = self.stack[-1].id if self.stack else None
        span = Span(len(self.spans), name, detail, parent)
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setLocalProperty(SPAN_PROP, str(span.id))
        return span

    def _exit(self, span: Span) -> None:
        span.end = time.time()
        self.stack.pop()
        self.sc.setLocalProperty(
            SPAN_PROP, str(self.stack[-1].id) if self.stack else None)

    def _wrap(self, fn, name: str, detail: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = self._enter(name, detail)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._exit(span)
            if name == "operators.dedup":
                span.extra["retained_mb"] = _held_mb(self.sc)
            return out

        return wrapper

    def _wrap_action(self, fn, kind: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.stack and tracer.stack[-1].name.startswith("action."):
                return fn(*args, **kwargs)  # an action inside an action
            span = tracer._enter(f"action.{kind}")
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._exit(span)
            if kind == "count":
                span.extra["rows"] = out
            return out

        return wrapper

    def install(self, spark, root: str) -> None:
        """Wrap the TRACED functions wherever the package bound them, and
        the DataFrame actions."""
        import importlib

        self.sc = spark.sparkContext
        pkg = "audio_quality_checker_spark"
        for mod_name, fns in TRACED.items():
            mod = importlib.import_module(f"{pkg}.{mod_name}")
            for fn_name in fns:
                orig = getattr(mod, fn_name)
                wrapped = self._wrap(orig, mod_name, fn_name)
                for m in list(sys.modules.values()):
                    if (getattr(m, "__name__", "").startswith(pkg)
                            and getattr(m, fn_name, None) is orig):
                        setattr(m, fn_name, wrapped)
        # the concrete (classic) classes: they override the base methods
        frame_cls = type(spark.range(1))
        writer_cls = type(spark.range(1).write)
        for cls, kind, meth in ((frame_cls, "count", "count"),
                                (frame_cls, "collect", "collect"),
                                (writer_cls, "write", "parquet"),
                                (writer_cls, "write", "save")):
            setattr(cls, meth, self._wrap_action(getattr(cls, meth), kind))
        self.udf_module = _udf_modules(os.path.join(root, pkg))

    def begin_pass(self, spark, label: str) -> None:
        self.sc = spark.sparkContext
        self.codegen_s[label] = -_compile_s(spark)
        self.passes[label] = self._enter(f"pass.{label}")

    def end_pass(self, spark, label: str) -> None:
        self._exit(self.passes[label])
        self.codegen_s[label] += _compile_s(spark)

    # ---------------------------------------------------------- roll-up

    def metrics(self, workload: str, jvm_start_s: float,
                retained_mb: list[float]) -> dict:
        """Roll the event log up by span and write the spans out (JSON
        lines: id, name, detail, parent, start, end, jobs); call after the
        session stopped."""
        log = _read_event_log(self.events_dir, self.udf_module)
        log.resolve(self.spans)
        jobs: dict = {}
        for sid in log.job_span.values():
            jobs[sid] = jobs.get(sid, 0) + 1
        os.makedirs(os.path.dirname(self.spans_path), exist_ok=True)
        with open(self.spans_path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "detail": s.detail,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "jobs": jobs.get(str(s.id), 0)}) + "\n")
        warm = max((k for k in self.passes if k != "cold"),
                   key=lambda k: int(k[4:]))
        children: dict = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s.id)

        def subtree(sid):
            out, todo = set(), [sid]
            while todo:
                x = todo.pop()
                out.add(x)
                todo.extend(children.get(x, []))
            return out

        def within(pass_label, pred):
            """Top-level spans matching pred inside the pass (a matching
            span nested in another matching span is not counted again)."""
            ids = subtree(self.passes[pass_label].id)
            out = []
            for s in self.spans:
                if s.id in ids and pred(s):
                    p, nested = s.parent, False
                    while p is not None:
                        if pred(self.spans[p]):
                            nested = True
                            break
                        p = self.spans[p].parent
                    if not nested:
                        out.append(s)
            return out

        def agg(spans):
            ids = set()
            for s in spans:
                ids |= subtree(s.id)
            return log.rollup(ids)

        def wall(spans):
            return sum(s.end - s.start for s in spans)

        w = self.passes[warm]
        tot = agg([w])
        m = {
            "spark.jobs": tot["jobs"], "spark.stages": tot["stages"],
            "spark.tasks": tot["tasks"],
            "spark.codegen_compile_s": self.codegen_s["cold"],
            "spark.executor_cpu_s": tot["cpu_s"], "spark.gc_s": tot["gc_s"],
            "spark.shuffle_write_mb": tot["shuffle_write_mb"],
            "spark.spill_mb": tot["spill_mb"],
            "python.rows_in": tot["py_rows_in"],
            "python.rows_out": tot["py_rows_out"],
            "python.bytes_in": tot["py_bytes_in"],
            "python.worker_s": tot["py_worker_s"],
            "retained_cache_mb": retained_mb[-1],
            "session.jvm_start_s": jvm_start_s,
            "trace.cold_s": wall([self.passes["cold"]]),
            "trace.wall_s": wall([w]),
        }

        def mod(name):
            return within(warm, lambda s: s.name == name)

        pv = agg(mod("plans.validate"))
        m["plans.validate.jobs"] = pv["jobs"]
        m["plans.validate.stages"] = pv["stages"]
        m["plans.validate.write_s"] = wall(within(
            warm, lambda s: s.name == "action.write" and any(
                self.spans[a].name == "plans.validate"
                for a in self._ancestors(s))))
        for name in ("operators.stats", "operators.referential",
                     "operators.extraction_check", "operators.drift",
                     "operators.verdict", "functions.url_norm",
                     "operators.components", "functions.text_stats",
                     "functions.bpe", "operators.mixing"):
            m[f"{name}.wall_s"] = wall(mod(name))
        for name in ("operators.referential", "operators.extraction_check"):
            m[f"{name}.python_rows"] = tot["py_rows_by_module"].get(name, 0)

        for fn, surface in DEDUP_SURFACES.items():
            spans = within(warm, lambda s, fn=fn: s.name == "operators.dedup"
                           and s.detail == fn)
            d = agg(spans)
            p = f"operators.dedup.{surface}"
            m[f"{p}.wall_s"] = wall(spans)
            m[f"{p}.jobs"] = d["jobs"]
            m[f"{p}.stages"] = d["stages"]
            m[f"{p}.executor_cpu_s"] = d["cpu_s"]
            m[f"{p}.shuffle_write_mb"] = d["shuffle_write_mb"]
            m[f"{p}.python_rows"] = d["py_rows_in"]
            m[f"{p}.collision_rows"] = d["band_join_rows"]
            # rows emitted: the count that materializes each call's output
            rows = sum(next((self.spans[c].extra["rows"]
                             for c in reversed(children.get(s.id, []))
                             if "rows" in self.spans[c].extra), 0)
                       for s in spans)
            m[f"{p}.output_rows"] = rows
            m[f"{p}.yield"] = (rows / d["band_join_rows"]
                               if d["band_join_rows"] else 0.0)
            m[f"{p}.retained_cache_mb"] = sum(
                s.extra.get("retained_mb", 0.0) for s in spans)

        top = [s for s in self.spans if s.parent == w.id]
        cp = agg(top)
        m["jobs.corpus_prep.jobs"] = cp["jobs"]
        m["jobs.corpus_prep.stages"] = cp["stages"]
        m["jobs.corpus_prep.count_s"] = wall(
            [s for s in top if s.name == "action.count"])
        m["jobs.corpus_prep.write_s"] = wall(
            [s for s in top if s.name == "action.write"])
        m["jobs.corpus_prep.retained_cache_mb"] = retained_mb[-1]

        names = COMMON + (CORPUS_PREP if workload == "corpus_prep" else ())
        return {k: (float(m[k]), _unit(k)) for k in names}

    def _ancestors(self, span):
        p = span.parent
        while p is not None:
            yield p
            p = self.spans[p].parent


# ------------------------------------------------------------- helpers

def _held_mb(sc) -> float:
    return sum(i.memSize() + i.diskSize()
               for i in sc._jsc.sc().getRDDStorageInfo()) / 1e6


def _compile_s(spark) -> float:
    gen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    return gen.CodeGenerator.compileTime() / 1e9


def _udf_modules(pkg_dir: str) -> dict:
    """function name -> package modules defining a function of that name
    (pandas-UDF bodies are nested functions; Spark's plan shows their
    names)."""
    out: dict = {}
    for path in glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, pkg_dir)[:-3].replace(os.sep, ".")
        mod = PYTHON_ROWS_ALSO.get(rel, rel)
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out.setdefault(node.name, set()).add(mod)
    return out


def _num(x) -> float:
    try:
        return float(x)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """The parts of a Spark event log the roll-up needs."""

    def __init__(self):
        self.job_span: dict = {}       # job id -> span id
        self.job_time: dict = {}       # job id -> submission (s)
        self.job_stages: dict = {}     # job id -> stage ids
        self.stage_span: dict = {}     # stage id -> span id
        self.stage_done: set = set()
        self.tasks: dict = {}          # stage id -> [count, cpu, gc, sw, spill]
        self.acc: dict = {}            # acc id -> (kind, module set)
        self.scale: dict = {}          # timing acc id -> units per second
        self.acc_updates: dict = {}    # stage id -> {acc id: sum of updates}

    def _plan(self, info, parent_python=None):
        name = info.get("nodeName", "")
        text = info.get("simpleString", "")
        metrics = {m["name"]: m["accumulatorId"]
                   for m in info.get("metrics", [])}
        scale = {m["accumulatorId"]: {"timing": 1e3, "nsTiming": 1e9}.get(
            m.get("metricType"), 1.0) for m in info.get("metrics", [])}
        is_py = name in PYTHON_NODES
        if parent_python is not None:
            rows = next((metrics[k] for k in ROW_METRICS if k in metrics),
                        None)
            if rows is not None:
                self.acc[rows] = ("py_rows_in", parent_python)
                parent_python = None
        if is_py:
            mods = set()
            for fn in re.findall(r"([A-Za-z_][A-Za-z0-9_]*)\(", text):
                mods |= self.udf_modules.get(fn, set())
            for k, kind in (("number of output rows", "py_rows_out"),
                            ("data sent to Python workers", "py_bytes_in"),
                            ("time to run Python workers", "py_worker")):
                if k in metrics:
                    self.acc[metrics[k]] = (kind, mods)
                    self.scale[metrics[k]] = scale[metrics[k]]
            parent_python = mods
        elif "Join" in name and "band_hash" in text:
            if "number of output rows" in metrics:
                self.acc[metrics["number of output rows"]] = ("band", None)
        for child in info.get("children", []):
            self._plan(child, parent_python)

    def read(self, path: str, udf_modules: dict) -> "EventLog":
        self.udf_modules = udf_modules
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event", "")
                if ev == "SparkListenerJobStart":
                    sid = (e.get("Properties") or {}).get(SPAN_PROP)
                    self.job_span[e["Job ID"]] = sid
                    self.job_time[e["Job ID"]] = e["Submission Time"] / 1e3
                    self.job_stages[e["Job ID"]] = e.get("Stage IDs", [])
                elif ev == "SparkListenerStageSubmitted":
                    sid = (e.get("Properties") or {}).get(SPAN_PROP)
                    self.stage_span[e["Stage Info"]["Stage ID"]] = sid
                elif ev == "SparkListenerStageCompleted":
                    self.stage_done.add(e["Stage Info"]["Stage ID"])
                elif ev == "SparkListenerTaskEnd":
                    st = e["Stage ID"]
                    tm = e.get("Task Metrics") or {}
                    t = self.tasks.setdefault(st, [0, 0.0, 0.0, 0.0, 0.0])
                    t[0] += 1
                    t[1] += tm.get("Executor CPU Time", 0) / 1e9
                    t[2] += tm.get("JVM GC Time", 0) / 1e3
                    t[3] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 1e6
                    t[4] += tm.get("Disk Bytes Spilled", 0) / 1e6
                    upd = self.acc_updates.setdefault(st, {})
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        upd[a["ID"]] = upd.get(a["ID"], 0.0) + _num(a.get("Update"))
                elif ev.endswith("SparkListenerSQLExecutionStart") or \
                        ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    self._plan(e["sparkPlanInfo"])
        return self

    def resolve(self, spans: list) -> None:
        """Give every job and stage a span: its tag, else (jobs started
        from a helper thread carry no local properties) the innermost
        span open when the job was submitted; an untagged stage takes
        its job's span."""
        for job, sid in self.job_span.items():
            if sid is None:
                t = self.job_time[job]
                best = None
                for s in spans:
                    if s.start <= t <= (s.end or t):
                        best = s  # later spans nest inside earlier ones
                self.job_span[job] = None if best is None else str(best.id)
        for job, stages in self.job_stages.items():
            for st in stages:
                if self.stage_span.get(st) is None:
                    self.stage_span[st] = self.job_span[job]

    def rollup(self, span_ids: set) -> dict:
        keys = {str(s) for s in span_ids}
        jobs = [j for j, s in self.job_span.items() if s in keys]
        stages = [st for st in self.stage_done
                  if self.stage_span.get(st) in keys]
        r = {"jobs": len(jobs), "stages": len(stages), "tasks": 0,
             "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
             "spill_mb": 0.0, "py_rows_in": 0.0, "py_rows_out": 0.0,
             "py_bytes_in": 0.0, "py_worker_s": 0.0, "band_join_rows": 0.0,
             "py_rows_by_module": {}}
        for st in self.stage_span:
            if self.stage_span[st] not in keys:
                continue
            t = self.tasks.get(st)
            if t:
                r["tasks"] += t[0]
                r["cpu_s"] += t[1]
                r["gc_s"] += t[2]
                r["shuffle_write_mb"] += t[3]
                r["spill_mb"] += t[4]
            for acc, v in self.acc_updates.get(st, {}).items():
                kind, mods = self.acc.get(acc, (None, None))
                if kind == "py_rows_out":
                    r["py_rows_out"] += v
                elif kind == "py_rows_in":
                    r["py_rows_in"] += v
                    for mname in mods:
                        r["py_rows_by_module"][mname] = (
                            r["py_rows_by_module"].get(mname, 0.0) + v)
                elif kind == "py_bytes_in":
                    r["py_bytes_in"] += v
                elif kind == "py_worker":
                    r["py_worker_s"] += v / self.scale.get(acc, 1e3)
                elif kind == "band":
                    r["band_join_rows"] += v
        return r


def _read_event_log(events_dir: str, udf_modules: dict) -> EventLog:
    files = [f for f in glob.glob(os.path.join(events_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}: {files}")
    return EventLog().read(files[0], udf_modules)
