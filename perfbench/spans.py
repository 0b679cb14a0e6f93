"""Spans and tracing from outside the engine.

A traced run wraps the public functions of the engine's layers and
pyspark's DataFrame actions, records a span around each call, and on
closing a span reads the SQL executions Spark finished inside it from
its own status store (``statusStore().executionsList/planGraph/
executionMetrics``, available with the UI off).  Untraced runs install
none of this: ``Tracer(enabled=False).span`` is a no-op.  The time the
tracer spends on its own bookkeeping is kept in ``overhead_s``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import re
import sys
import threading
import time
from pathlib import Path

from stats import parse_metric, self_times

# (module, function, layer, op) — the boundaries a traced run times.
WRAPPED = [
    ("earth_data_kit_spark.operators.spatial_join", "covering_df", "grid", None),
    ("earth_data_kit_spark.operators.spatial_join_s2", "s2_covering_df", "grid", None),
    ("earth_data_kit_spark.operators.spatial_join_h3", "h3_covering_df", "grid", None),
    ("earth_data_kit_spark.operators.spatial_join", "pip_join", "operators", "pip"),
    ("earth_data_kit_spark.operators.spatial_join_s2", "pip_join_s2", "operators", "pip_s2"),
    ("earth_data_kit_spark.operators.spatial_join_h3", "pip_join_h3", "operators", "pip_h3"),
    ("earth_data_kit_spark.operators.knn", "knn_join", "operators", "knn"),
    ("earth_data_kit_spark.operators.spatial_join_s2", "radius_join_s2", "operators", "radius"),
    ("earth_data_kit_spark.operators.assign", "tile_assignments", "operators", "assign"),
    ("earth_data_kit_spark.operators.assign", "clip_windows", "operators", "assign"),
    ("earth_data_kit_spark.operators.dedup", "minhash_lsh_pairs", "operators", "minhash"),
    ("earth_data_kit_spark.operators.dedup", "dup_clusters", "operators", "clusters"),
    ("earth_data_kit_spark.operators.dedup", "exact_dedup", "operators", "exact_dedup"),
    ("earth_data_kit_spark.operators.substring_dedup", "substring_dedup", "operators", "substring_dedup"),
    ("earth_data_kit_spark.operators.dsir", "dsir_resample", "operators", "dsir"),
    ("earth_data_kit_spark.operators.packing", "pack_sequences", "operators", "packing"),
    ("earth_data_kit_spark.operators.packing", "packing_stats", "operators", "packing"),
    ("earth_data_kit_spark.operators.decontam", "flag_contaminated", "operators", "decontam"),
    ("earth_data_kit_spark.text.curation", "gopher_quality_cols", "text", None),
    ("earth_data_kit_spark.text.curation", "repetition_signals_udf", "text", None),
    ("earth_data_kit_spark.text.textcols", "quality_score_col", "text", None),
    ("earth_data_kit_spark.plans.lineage", "resume_filter", "plans", None),
    ("earth_data_kit_spark.plans.lineage", "commit_stage", "plans", None),
    ("earth_data_kit_spark.streaming.windows", "exact_dedup_stream", "streaming", None),
    ("earth_data_kit_spark.streaming.windows", "exact_dedup_stream_jvm", "streaming", None),
    ("earth_data_kit_spark.streaming.windows", "tumbling_agg_stream_append", "streaming", None),
    ("jobs.curate", "run", "jobs", None),
]
ACTIONS = ("collect", "count", "first", "isEmpty", "take", "toPandas")
PY_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
    "FlatMapGroupsInPandasWithState", "FlatMapGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "PythonMapInArrow",
)
JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")


def call_site() -> tuple[str, int]:
    """The innermost frame outside pyspark and this module: the engine,
    job or benchmark line that asked for the action."""
    for fr in inspect.stack(context=0)[2:]:
        f = fr.filename
        if "pyspark" in f or f == __file__ or "py4j" in f or "contextlib" in f:
            continue
        return f, fr.lineno
    return "?", 0


def _short_desc(desc: str) -> str:
    """A plan node's description, cut to 300 characters but keeping a
    scan's file location, which long column lists push past the cut."""
    loc = re.search(r"Location: [^\[]*\[[^\]]*\]", desc)
    short = desc[:300]
    return short if loc is None or loc.group(0) in short else f"{short} … {loc.group(0)[:300]}"


class RssSampler(threading.Thread):
    """Memory of the driver JVM and the Python workers it forks: the
    JVM's own peak RSS (the kernel's VmHWM, read at stop) and the peak
    of the worker tree's summed RSS, sampled from /proc."""

    def __init__(self, jvm_pid: int, every_s: float = 0.1):
        super().__init__(daemon=True)
        self.jvm, self.every, self.workers_peak = jvm_pid, every_s, 0
        self._stop_ev = threading.Event()

    @staticmethod
    def _status_kb(pid: int, key: str) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _workers_rss(self) -> int:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, grew = {self.jvm}, True
        while grew:
            add = {p for p, pp in parent.items() if pp in tree and p not in tree}
            tree |= add
            grew = bool(add)
        return sum(self._status_kb(p, "VmRSS:") for p in tree - {self.jvm}) * 1024

    def run(self):
        while not self._stop_ev.is_set():
            self.workers_peak = max(self.workers_peak, self._workers_rss())
            self._stop_ev.wait(self.every)

    def stop(self) -> tuple[int, int]:
        """(JVM peak RSS, worker-tree peak RSS) in bytes."""
        self._stop_ev.set()
        self.join()
        return self._status_kb(self.jvm, "VmHWM:") * 1024, self.workers_peak


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled, self.run_id = enabled, run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.spark = None
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._seen = 0  # status-store executions already attached
        self._patched: list = []

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = {"run": self.run_id, "id": len(self.spans), "name": name,
             "parent": self.stack[-1]["id"] if self.stack else None,
             "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        self.stack.append(s)
        try:
            yield s
        finally:
            t0 = time.perf_counter()
            self._drain(s)
            self.overhead_s += time.perf_counter() - t0
            s["end"] = time.time()
            self.stack.pop()

    def _drain(self, parent: dict) -> None:
        """Attach every SQL execution finished since the last drain to
        ``parent`` as child spans carrying their parsed node metrics."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sc._jsc is None:  # the session is already stopped
            return
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ss = self.spark._jsparkSession.sharedState().statusStore()
        n = ss.executionsCount()
        if n <= self._seen:
            return
        # the store records an execution's end asynchronously: give a
        # finished action's executions a moment to show as complete
        deadline = time.time() + 2.0
        while True:
            execs = ss.executionsList(self._seen, n - self._seen)
            last = execs.apply(execs.size() - 1)
            if last.completionTime().isDefined() or time.time() > deadline:
                break
            time.sleep(0.02)
        it = execs.iterator()
        done = 0
        while it.hasNext():
            e = it.next()
            ct = e.completionTime()
            if not ct.isDefined():
                break  # still running (a stream batch): next drain
            done += 1
            eid = e.executionId()
            nodes = []
            try:
                g = ss.planGraph(eid)
                m = ss.executionMetrics(eid)
                nit = g.allNodes().iterator()
                while nit.hasNext():
                    nd = nit.next()
                    mets = {}
                    mit = nd.metrics().iterator()
                    while mit.hasNext():
                        pm = mit.next()
                        v = m.get(pm.accumulatorId())
                        if v.isDefined():
                            mets[pm.name()] = parse_metric(v.get())
                    nodes.append({"name": nd.name(), "desc": _short_desc(nd.desc()),
                                  "metrics": mets})
            except Exception as exc:  # an execution evicted from the store
                nodes.append({"name": "?", "desc": repr(exc)[:200], "metrics": {}})
            self.spans.append({
                "run": self.run_id, "id": len(self.spans), "name": "sql",
                "parent": parent["id"], "start": e.submissionTime() / 1000.0,
                "end": ct.get().getTime() / 1000.0, "layer": "sql",
                "desc": e.description()[:200], "nodes": nodes,
            })
        self._seen += done

    # ---------------------------------------------------------- patching
    def install(self, spark) -> None:
        """Wrap the layer functions and DataFrame actions (traced runs
        only)."""
        self.spark = spark
        if not self.enabled:
            return
        for mod_name, fn_name, layer, op in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            wrapped = self._wrap(orig, f"{layer}:{fn_name}", layer=layer, op=op, func=fn_name)
            for m in list(sys.modules.values()):
                d = getattr(m, "__dict__", None)
                if d is None:
                    continue
                for k, v in list(d.items()):
                    if v is orig:
                        setattr(m, k, wrapped)
                        self._patched.append((m, k, orig))
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        for a in ACTIONS:
            orig = getattr(DataFrame, a)
            setattr(DataFrame, a, self._wrap(orig, f"action:{a}", layer="action"))
            self._patched.append((DataFrame, a, orig))
        orig = DataFrameWriter.parquet
        DataFrameWriter.parquet = self._wrap(orig, "action:write", layer="action")
        self._patched.append((DataFrameWriter, "parquet", orig))

    def uninstall(self) -> None:
        for obj, k, orig in reversed(self._patched):
            setattr(obj, k, orig)
        self._patched.clear()

    def _wrap(self, fn, name: str, **attrs):
        """``fn`` inside a span that records the line that called it."""
        tracer = self

        @functools.wraps(fn)
        def w(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            t0 = time.perf_counter()
            f, line = call_site()
            tracer.overhead_s += time.perf_counter() - t0
            site = {"site": f"{os.path.relpath(f)}:{line}", "site_file": f, "site_line": line}
            with tracer.span(name, **attrs, **site):
                return fn(*a, **kw)

        return w

    # ----------------------------------------------------------- output
    def write(self, path: Path) -> None:
        st = self_times([s for s in self.spans if s["end"] is not None])
        with open(path, "w") as f:
            for s in self.spans:
                out = {k: v for k, v in s.items() if k not in ("site_file",)}
                out["self_s"] = round(st.get(s["id"], 0.0), 6)
                f.write(json.dumps(out, default=str) + "\n")


@functools.lru_cache(maxsize=None)
def _section_heads(path: str) -> tuple:
    heads = []
    try:
        for i, text in enumerate(Path(path).read_text().splitlines(), 1):
            m = re.match(r"\s*# -+ (stage [^:]+: .*?|report) -+\s*$", text)
            if m:
                heads.append((i, m.group(1).lower()))
    except OSError:
        pass
    return tuple(heads)


def curate_stage_of(path: str, line: int) -> str:
    """Which ``# ---- stage …`` section of a job file holds ``line``
    (read from the job's own section headers)."""
    stage = "load"
    for i, h in _section_heads(path):
        if i <= line:
            stage = h
    return stage
