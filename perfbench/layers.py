"""Per-layer measurement: spans around the engine's public layer functions,
Spark job-group metrics, and the driver JVM's peak RSS.

Nothing here is imported by the engine. Wrappers are installed only for a
traced pass and removed afterwards, so end-to-end passes run the engine's own
function objects.
"""

from __future__ import annotations

import functools
import importlib
import re
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# (module, attribute) of every public layer function a traced pass wraps.
# The span name is "<layer>.<function>", the layer being the module's last
# dotted component. ``SnapshotStore`` methods are wrapped on the class.
PKG = "stac_catalog_builder_spark"
LAYER_FUNCTIONS = [
    ("synth", "images"),
    ("synth", "boundaries"),
    ("operators.footprints", "with_footprint"),
    ("operators.spatial_join", "prepare_polygon_dim"),
    ("operators.spatial_join", "spatial_join_pip"),
    ("operators.tiling", "with_tile"),
    ("operators.grouping", "collection_extents"),
    ("operators.grouping", "collection_rollup"),
    ("operators.grouping", "items_from_assets"),
    ("sources.catalog", "write_items_partitioned"),
    ("sources.checkpoint", "SnapshotStore.write_stage"),
    ("sources.checkpoint", "SnapshotStore.pending"),
    ("sources.shards", "write_webdataset_shards"),
    ("plans.flagship", "boundary_polygons"),
    ("plans.flagship", "build_catalog"),
]
_MARK = "__perfbench_span__"

# Stage operation-graph nodes that hand rows to a Python worker: the SQL
# operators of Python UDFs, and PythonRDD for RDD-level Python functions
# (``rdd.mapPartitions``).
_PY_NODE = re.compile(
    r'label="(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|PythonMapInArrow'
    r'|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas'
    r'|WindowInPandas|PythonRDD)\b'
)


class Tracer:
    """In-memory span recorder. Spans of one run share ``run_id``; each
    records its name, start, end and parent span id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(traced, _MARK, name)
        return traced

    def install(self) -> None:
        """Wrap every layer function, in its defining module and in every
        loaded module that imported it by name (the benchmark's own too)."""
        for owner, cls_name, fn_name, mod_name in _layer_owners():
            orig = getattr(owner, fn_name)
            wrapped = self._wrap(orig, f"{mod_name.rsplit('.', 1)[-1]}.{fn_name}")
            holders = [owner] if cls_name else [
                m for m in list(sys.modules.values())
                if getattr(m, "__dict__", {}).get(fn_name) is orig
            ]
            for h in holders:
                self._saved.append((h, fn_name, orig))
                setattr(h, fn_name, wrapped)

    def uninstall(self) -> None:
        for holder, name, orig in reversed(self._saved):
            setattr(holder, name, orig)
        self._saved.clear()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name: duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out


def _layer_owners():
    """(owner, class name, function name, module name) per layer function;
    the owner is the defining module, or the class for a method."""
    for mod_name, attr in LAYER_FUNCTIONS:
        owner = importlib.import_module(f"{PKG}.{mod_name}")
        cls_name, _, fn_name = attr.rpartition(".")
        yield (getattr(owner, cls_name) if cls_name else owner), cls_name, fn_name, mod_name


def installed_wrappers() -> list[str]:
    """Where a tracing wrapper currently replaces a layer function."""
    found = []
    for owner, cls_name, fn_name, _ in _layer_owners():
        holders = [owner] if cls_name else list(sys.modules.values())
        found += [f"{getattr(h, '__name__', h)}.{fn_name}" for h in holders
                  if hasattr(getattr(h, "__dict__", {}).get(fn_name), _MARK)]
    return found


def _scala_list(jvm, seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def spark_group_metrics(spark, group: str, t0: float, t1: float) -> dict[str, float]:
    """Spark work done by the jobs of one job group, read from the driver's
    status stores (an internal Scala API reached through py4j; every call
    into it lives here). ``t0``/``t1`` bound the group's wall clock, in
    ``time.time()`` seconds; ``driver_s`` is the part of it during which no
    job of the group was running. ``python_crossings`` counts, per stage
    run, the distinct Python operators in its operation graph."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = spark._jsparkSession.sparkContext().statusStore()
    job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    spans, stage_ids = [], set()
    for j in job_ids:
        job = store.job(j)
        start = job.submissionTime().get().getTime() / 1000
        end = job.completionTime().get().getTime() / 1000 if job.completionTime().isDefined() else t1
        spans.append((max(start, t0), min(end, t1)))
        stage_ids.update(int(s) for s in _scala_list(jvm, job.stageIds()))
    m = {"jobs": len(job_ids), "stages": 0, "task_s": 0.0, "shuffle_write_bytes": 0,
         "spill_bytes": 0, "input_bytes": 0, "python_crossings": 0}
    for s in stage_ids:
        try:
            st = store.lastStageAttempt(s)
        except Py4JJavaError:  # a stage skipped by a reused shuffle has no attempt
            continue
        if st.status().toString() == "SKIPPED":
            continue
        m["stages"] += 1
        m["task_s"] += st.executorRunTime() / 1000
        m["shuffle_write_bytes"] += st.shuffleWriteBytes()
        m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        m["input_bytes"] += st.inputBytes()
        dot = jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(
            store.operationGraphForStage(s))
        m["python_crossings"] += len(set(_PY_NODE.findall(dot)))
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            busy += (cur_e - cur_s) if cur_e is not None else 0.0
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    busy += (cur_e - cur_s) if cur_e is not None else 0.0
    m["driver_s"] = max(0.0, (t1 - t0) - busy)
    return m


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set size of the driver JVM (VmHWM in /proc)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")
