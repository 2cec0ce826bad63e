"""Layer tracing for the benchmark's traced runs.

Python-side spans come from wrapping the function objects the query
modules reach: every public function of ``minarrow_spark.operators.*`` and
``minarrow_spark.streaming.*`` and ``catalog.load_table``, both in their
defining module (query code imports many of them inside the query
function) and wherever a ``minarrow_spark.queries.*`` module bound them at
import. The batch callbacks returned by the streaming ``*_writer``
factories are wrapped too, and so is PySpark's read of collected rows.
``minarrow_spark.functions.*`` calls are only counted, as are py4j
round-trips (``GatewayClient.send_command``).

Spark-side spans are built after the run from Spark's status stores: each
job becomes a child of the deepest span open at its submission time, and
the final DataFrame's Catalyst phases become children the same way. Jobs
are attributed by time window rather than job group because queries
submit jobs from ``ThreadPoolExecutor`` threads, which do not inherit the
group.

A wrapper pickles as the function it wraps, so UDF bodies that reference
a wrapped function still ship the original to Python workers.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import operator
import pkgutil
import re
import threading
import time
from collections import defaultdict

LAYER_OF_KIND = {
    "query": "unattributed",
    "run": "unattributed",
    "build": "queries",
}


class _Traced:
    """A span-recording stand-in for one function."""

    def __init__(self, tracer: "Tracer", fn, name: str, layer: str, on_result=None,
                 before=None):
        functools.update_wrapper(self, fn)
        self._fn, self._tr, self._name, self._layer = fn, tracer, name, layer
        self._on_result, self._before = on_result, before

    def __reduce__(self):
        return operator.itemgetter(0), ((self._fn,),)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __call__(self, *args, **kwargs):
        tr = self._tr
        if not tr.on:
            return self._fn(*args, **kwargs)
        c0 = time.perf_counter()
        stack = tr.stack()
        parent = stack[-1] if stack else tr.phase_id
        sid = tr.new_id()
        stack.append(sid)
        state = self._before(*args, **kwargs) if self._before is not None else None
        t0 = time.time()
        tr.add_bookkeeping(time.perf_counter() - c0)
        try:
            out = self._fn(*args, **kwargs)
        finally:
            t1 = time.time()
            c1 = time.perf_counter()
            stack.pop()
            span = {"id": sid, "parent": parent, "name": self._name,
                    "layer": self._layer, "t0": t0, "t1": t1, "q": tr.q}
            tr.spans.append(span)
            tr.add_bookkeeping(time.perf_counter() - c1)
        if self._on_result is not None:
            out = self._on_result(out, span, state)
        return out


class _Counted:
    """A call-counting stand-in for one function."""

    def __init__(self, tracer: "Tracer", fn, key: str):
        functools.update_wrapper(self, fn)
        self._fn, self._tr, self._key = fn, tracer, key

    def __reduce__(self):
        return operator.itemgetter(0), ((self._fn,),)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __call__(self, *args, **kwargs):
        if self._tr.on:
            self._tr.count(self._key)
        return self._fn(*args, **kwargs)


class Tracer:
    """Span and counter store for one traced run, kept in memory."""

    def __init__(self):
        self.on = False
        self.spans: list[dict] = []
        self.counts: dict[int, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        self.q = -1
        self.phase_id = 0
        self.phase = ""
        self.bookkeeping_s = 0.0
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- bookkeeping --------------------------------------------------------
    def stack(self) -> list[int]:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def new_id(self) -> int:
        with self._lock:
            return next(self._ids)

    def add_bookkeeping(self, dt: float) -> None:
        with self._lock:
            self.bookkeeping_s += dt

    def count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.counts[self.q][key] += n

    # -- installation -------------------------------------------------------
    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        """Wrap the layer functions and py4j's command send. Call after the
        query registry is imported."""
        from py4j.java_gateway import GatewayClient

        originals: dict[int, object] = {}
        for pkg, layer in (("functions", "functions"), ("operators", "operators"),
                           ("streaming", "streaming")):
            mod = importlib.import_module(f"minarrow_spark.{pkg}")
            for info in pkgutil.iter_modules(mod.__path__):
                sub = importlib.import_module(f"minarrow_spark.{pkg}.{info.name}")
                for name, fn in list(vars(sub).items()):
                    if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != sub.__name__:
                        continue
                    w = self._wrapper(fn, layer, f"{pkg}.{info.name}.{name}")
                    originals[id(fn)] = w
                    self._set(sub, name, w)
        from minarrow_spark.sources import catalog

        w = _Traced(self, catalog.load_table, "sources.load_table", "sources",
                    self._on_load, self._cached_plans)
        originals[id(catalog.load_table)] = w
        self._set(catalog, "load_table", w)

        qpkg = importlib.import_module("minarrow_spark.queries")
        for info in pkgutil.iter_modules(qpkg.__path__):
            qmod = importlib.import_module(f"minarrow_spark.queries.{info.name}")
            for name, obj in list(vars(qmod).items()):
                if id(obj) in originals and inspect.isfunction(obj):
                    self._set(qmod, name, originals[id(obj)])

        # collect() reads its rows lazily from a socket after the SQL
        # execution ends; materialize them inside a span of their own.
        from pyspark.sql.classic import dataframe as classic_df

        load = classic_df._load_from_socket

        def fetch_rows(*args, **kwargs):
            return list(load(*args, **kwargs))

        self._set(classic_df, "_load_from_socket",
                  _Traced(self, fetch_rows, "spark.fetch_rows", "spark"))

        send = GatewayClient.send_command
        tracer = self

        def send_command(client, *args, **kwargs):
            if tracer.on:
                tracer.count(f"py4j.{tracer.phase or 'other'}")
            return send(client, *args, **kwargs)

        self._set(GatewayClient, "send_command", send_command)

    def uninstall(self) -> None:
        for owner, attr, value in reversed(self._patched):
            setattr(owner, attr, value)
        self._patched.clear()

    def _wrapper(self, fn, layer: str, name: str):
        if layer == "functions":
            return _Counted(self, fn, "functions.calls")
        short = name.rsplit(".", 1)[-1]
        if layer == "streaming" and short.endswith("_writer"):
            def wrap_batch(cb, span, state):
                return _Traced(self, cb, "streaming.batch", "streaming")
            return _Traced(self, fn, name, layer, wrap_batch)
        if layer == "streaming" and short.startswith("compact"):
            return _Traced(self, fn, "streaming.compact", layer)
        return _Traced(self, fn, name, layer)

    @staticmethod
    def _cached_plans(spark, *args, **kwargs) -> set[int]:
        """Identities of the DataFrames the catalog's plan cache holds for
        ``spark`` before a load: a load that returns one of them hit."""
        from minarrow_spark.sources import catalog

        return {id(df) for df in catalog._PLAN_CACHE.get(spark, {}).values()}

    def _on_load(self, df, span, cached):
        span["hit"] = id(df) in cached
        return df

    # -- query phases -------------------------------------------------------
    def begin(self, q: int, name: str) -> None:
        self.q = q
        self._query = {"id": self.new_id(), "parent": None, "name": name,
                       "layer": "query", "t0": time.time(), "q": q}
        self.phase_id = self._query["id"]

    def enter(self, phase: str) -> None:
        self.phase = phase
        self._phase = {"id": self.new_id(), "parent": self._query["id"], "name": phase,
                       "layer": phase, "t0": time.time(), "q": self.q}
        self.phase_id = self._phase["id"]

    def leave(self) -> None:
        self._phase["t1"] = time.time()
        self.spans.append(self._phase)
        self.phase, self.phase_id = "", self._query["id"]

    def end(self, catalyst: dict[str, tuple[int, int]] | None = None) -> None:
        self._query["t1"] = time.time()
        self.spans.append(self._query)
        for phase, (a, b) in (catalyst or {}).items():
            self.spans.append({"id": self.new_id(), "parent": None, "name": f"catalyst.{phase}",
                               "layer": "catalyst", "t0": a / 1000, "t1": b / 1000, "q": self.q})
        self.q, self.phase_id = -1, 0


# -- Spark status stores -----------------------------------------------------

def _mapper(spark):
    jvm = spark.sparkContext._jvm
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    return jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
        scala.__getattr__("MODULE$"))


def spark_status(spark) -> dict:
    """Every retained job, stage and SQL execution, as plain JSON values."""
    sc = spark.sparkContext
    om, jvm = _mapper(spark), sc._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    stages = store.stageList(empty, False, False, sc._gateway.new_array(jvm.double, 0), empty)
    sql = spark._jsparkSession.sharedState().statusStore()
    return {
        "jobs": json.loads(om.writeValueAsString(store.jobsList(None))),
        "stages": json.loads(om.writeValueAsString(stages)),
        "executions": json.loads(om.writeValueAsString(sql.executionsList())),
    }


def catalyst_phases(df) -> dict[str, tuple[int, int]]:
    """Catalyst phase windows (epoch ms) of ``df``'s own QueryExecution."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = (kv._2().startTimeMs(), kv._2().endTimeMs())
    return out


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0, "ns": 1e-9}
_PY_METRICS = {
    "time to start Python workers": "pyworker.boot_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.run_s",
}


def _seconds(text: str) -> float:
    """Total of a formatted SQL timing metric: ``"2.1 s"`` or, for several
    tasks, ``"total (min, med, max ...)\\n2.1 s (...)"``."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9.,]+)\s*([a-z]+)", line)
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 0.0) if m else 0.0


# -- attribution -------------------------------------------------------------

def _depths(spans: list[dict]) -> dict[int, int]:
    by_id = {s["id"]: s for s in spans}
    depth: dict[int, int] = {}

    def d(sid: int) -> int:
        if sid not in depth:
            p = by_id[sid]["parent"]
            depth[sid] = 0 if p is None or p not in by_id else d(p) + 1
        return depth[sid]

    for s in spans:
        d(s["id"])
    return depth


def _adopt(spans: list[dict], orphans: list[dict]) -> None:
    """Make each orphan, taken by start time, the child of the deepest span
    of its query open at that start; earlier orphans can be parents."""
    by_q: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        by_q[s["q"]].append(s)
    depth = _depths(spans)
    rank = {"catalyst": 0, "spark.sql": 1, "spark.job": 2}
    for o in sorted(orphans, key=lambda o: (o["t0"], rank.get(o["name"], rank.get(o["layer"], 3)))):
        group = by_q[o["q"]]
        # Status-store times are whole milliseconds and _in_window lets an
        # orphan start up to 2 ms outside its query; such an orphan belongs
        # to the query itself.
        open_ = ([s for s in group if s["t0"] <= o["t0"] <= s["t1"]]
                 or [s for s in group if s["layer"] == "query"])
        if open_:
            parent = max(open_, key=lambda s: (depth[s["id"]], s["t0"]))
            o["parent"], depth[o["id"]] = parent["id"], depth[parent["id"]] + 1
        else:
            depth[o["id"]] = 0
        group.append(o)
        spans.append(o)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def self_times(spans: list[dict]) -> None:
    """Set each span's ``self``: its duration less the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            kids[p["id"]].append((max(s["t0"], p["t0"]), min(s["t1"], p["t1"])))
    for s in spans:
        covered = _union([(a, b) for a, b in kids[s["id"]] if b > a])
        s["self"] = max(0.0, (s["t1"] - s["t0"]) - covered)


def layer_times(spans: list[dict]) -> dict[str, float]:
    """Split one query's wall time among layers: each instant goes to the
    deepest span open then (the latest-started on ties). Time whose
    deepest span is the query or its ``run`` phase is ``unattributed``."""
    depth = _depths(spans)
    root = next(s for s in spans if s["layer"] == "query")
    lo, hi = root["t0"], root["t1"]
    cuts = sorted({lo, hi, *(min(max(t, lo), hi) for s in spans for t in (s["t0"], s["t1"]))})
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        open_ = [s for s in spans if s["t0"] <= a and s["t1"] >= b]
        top = max(open_, key=lambda s: (depth[s["id"]], s["t0"]))
        out[LAYER_OF_KIND.get(top["layer"], top["layer"])] += b - a
    return dict(out)


def _in_window(t: float, windows: list[tuple[float, float, int]]) -> int | None:
    for a, b, q in windows:
        if a - 0.002 <= t <= b + 0.002:
            return q
    return None


def attribute(tracer: Tracer, status: dict) -> dict[int, dict]:
    """Per query execution: the layer split of its wall time and its Spark
    counters, from the tracer's spans and Spark's status stores. Adds job
    and Catalyst spans to ``tracer.spans`` and sets every span's self time."""
    queries = [s for s in tracer.spans if s["layer"] == "query"]
    windows = [(s["t0"], s["t1"], s["q"]) for s in queries]
    phases = {(s["q"], s["layer"]): s for s in tracer.spans if s["layer"] in ("build", "run")}
    stage_by_id: dict[int, list[dict]] = defaultdict(list)
    for st in status["stages"]:
        stage_by_id[st["stageId"]].append(st)

    stats: dict[int, dict] = {s["q"]: defaultdict(float) for s in queries}
    orphans = [s for s in tracer.spans if s["parent"] is None and s["layer"] == "catalyst"]
    tracer.spans[:] = [s for s in tracer.spans if not (s["parent"] is None and s["layer"] == "catalyst")]
    for job in status["jobs"]:
        t0 = (job.get("submissionTime") or 0) / 1000
        t1 = (job.get("completionTime") or 0) / 1000
        q = _in_window(t0, windows)
        if q is None or t1 < t0:
            continue
        orphans.append({"id": tracer.new_id(), "parent": None, "name": "spark.job",
                        "layer": "spark", "t0": t0, "t1": t1, "q": q, "job": job["jobId"]})
        st = stats[q]
        build = phases.get((q, "build"))
        in_build = build is not None and build["t0"] - 0.002 <= t0 <= build["t1"] + 0.002
        st["spark.jobs"] += 1
        if in_build:
            st["queries.build_jobs"] += 1
        for sid in job.get("stageIds", []):
            for sd in stage_by_id.get(sid, []):
                done = sd.get("numCompleteTasks", 0) + sd.get("numFailedTasks", 0)
                if not done:
                    continue
                st["spark.stages"] += 1
                st["spark.tasks"] += done
                st["spark.failed_tasks"] += sd.get("numFailedTasks", 0)
                st["spark.task_run_s"] += sd.get("executorRunTime", 0) / 1e3
                st["spark.task_cpu_s"] += sd.get("executorCpuTime", 0) / 1e9
                st["spark.gc_s"] += sd.get("jvmGcTime", 0) / 1e3
                st["spark.shuffle_read_bytes"] += sd.get("shuffleReadBytes", 0)
                st["spark.shuffle_write_bytes"] += sd.get("shuffleWriteBytes", 0)
                st["spark.spill_bytes"] += sd.get("memoryBytesSpilled", 0) + sd.get("diskBytesSpilled", 0)
    for ex in status["executions"]:
        t0 = (ex.get("submissionTime") or 0) / 1000
        t1 = (ex.get("completionTime") or 0) / 1000
        q = _in_window(t0, windows)
        if q is None:
            continue
        if t1 >= t0:
            orphans.append({"id": tracer.new_id(), "parent": None, "name": "spark.sql",
                            "layer": "spark", "t0": t0, "t1": t1, "q": q,
                            "execution": ex["executionId"]})
        names = {m["accumulatorId"]: m["name"] for m in ex.get("metrics", [])}
        for acc, text in (ex.get("metricValues") or {}).items():
            key = _PY_METRICS.get(names.get(int(acc), ""))
            if key and text:
                stats[q][key] += _seconds(text)
    _adopt(tracer.spans, orphans)
    self_times(tracer.spans)

    by_q: dict[int, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        by_q[s["q"]].append(s)
    out = {}
    for root in queries:
        q, group = root["q"], by_q[root["q"]]
        st = stats[q]
        layers = layer_times(group)
        build = phases[(q, "build")]
        loads = [s for s in group if s["name"] == "sources.load_table"]
        st["queries.build_s"] += build["t1"] - build["t0"]
        st["queries.build_self_s"] += layers.get("queries", 0.0)
        st["queries.build_job_s"] += _union([(s["t0"], s["t1"]) for s in group
                                             if s["name"] == "spark.job"
                                             and _under(s, build["id"], group)])
        st["spark.run_s"] += phases[(q, "run")]["t1"] - phases[(q, "run")]["t0"]
        st["sources.load_calls"] += len(loads)
        st["sources.load_hits"] += sum(1 for s in loads if s.get("hit"))
        st["sources.load_s"] += _union([(s["t0"], s["t1"]) for s in loads])
        st["operators.calls"] += sum(1 for s in group if s["layer"] == "operators")
        st["operators.self_s"] += layers.get("operators", 0.0)
        st["streaming.batches"] += sum(1 for s in group if s["name"] == "streaming.batch")
        st["streaming.batch_s"] += _union([(s["t0"], s["t1"]) for s in group if s["name"] == "streaming.batch"])
        st["streaming.compact_s"] += _union([(s["t0"], s["t1"]) for s in group if s["name"] == "streaming.compact"])
        for ph in ("analysis", "optimization", "planning"):
            key = {"optimization": "optimize"}.get(ph, ph)
            st[f"catalyst.{key}_s"] += sum(s["t1"] - s["t0"] for s in group if s["name"] == f"catalyst.{ph}")
        c = tracer.counts.get(q, {})
        st["queries.build_py4j_calls"] += c.get("py4j.build", 0)
        st["functions.calls"] += c.get("functions.calls", 0)
        out[q] = {"stats": dict(st), "layers": layers, "wall_s": root["t1"] - root["t0"]}
    return out


def _under(span: dict, ancestor: int, group: list[dict]) -> bool:
    by_id = {s["id"]: s for s in group}
    p = span["parent"]
    while p is not None and p in by_id:
        if p == ancestor:
            return True
        p = by_id[p]["parent"]
    return False
