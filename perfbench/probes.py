"""Layer probes, installed from outside the program: timing/count wrappers
around the public functions of each layer, a construction-time collect
recorder, Spark job/stage/task counts per job group, and SQL metrics read
back from the executed plan. Nothing in the program is edited; wrappers
replace module attributes, and every module-level binding of a wrapped
function is re-pointed after the plans are imported."""

from __future__ import annotations

import functools
import importlib
import sys
import time
from collections import Counter

PKG = "nocouncil_etl_spark"

#: layer → (module, function names); ``None`` means every public function
#: the module defines itself. Publish-side functions include the manifest
#: writer, so a serve call that republishes through it counts as a publish.
LAYERS: dict[str, list[tuple[str, list[str] | None]]] = {
    "io.load": [(f"{PKG}.io", ["load"])],
    "similarity": [
        (f"{PKG}.operators.similarity", ["knn_*"]),
        (f"{PKG}.operators.ann_index", ["knn_from_index"]),
        (f"{PKG}.operators.kmeans_index", ["search_kmeans_index"]),
    ],
    "artifact.publish": [
        (f"{PKG}.operators.ann_index", ["publish_vector_index", "upsert_vector_index"]),
        (f"{PKG}.operators.kmeans_index", ["publish_kmeans_index", "upsert_kmeans_index"]),
        (f"{PKG}.operators.centroid_artifact", ["publish_centroids", "write_manifest"]),
    ],
    "artifact.serve": [
        (f"{PKG}.operators.ann_index", ["serve_vector_index"]),
        (f"{PKG}.operators.kmeans_index", ["serve_kmeans_index"]),
        (f"{PKG}.operators.centroid_artifact", ["serve_centroids", "serve_assignments"]),
    ],
    "kmeans.fit": [(f"{PKG}.operators.kmeans", ["kmeans_fit"])],
    "graph": [
        (
            f"{PKG}.operators.graph",
            ["hits_fixed_point", "pagerank_fixed_point", "star_components"],
        )
    ],
    "dedup": [(f"{PKG}.operators.dedup", None)],
    "pipelines": [
        (f"{PKG}.pipelines.council", ["council_pipeline"]),
        (f"{PKG}.pipelines.articles", ["articles_pipeline"]),
    ],
}


class Tracer:
    """Spans kept in memory (name, start, end, parent) plus per-layer call
    counts and busy time. Only the outermost call of a layer is timed, so a
    layer that calls itself is not counted twice."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._depth: Counter = Counter()
        self.calls: Counter = Counter()
        self.busy: Counter = Counter()
        self.serve_calls_reused = 0
        self.phase = ""
        self.collects = 0
        self.collect_rows = 0

    def open(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"id": sid, "name": name, "parent": parent, "start": time.perf_counter(), "end": None, **attrs}
        )
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> float:
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        popped = self._stack.pop()
        assert popped == sid, "spans must close innermost first"
        return span["end"] - span["start"]

    def layer_call(self, layer: str, fn, args, kwargs):
        if self._depth[layer]:
            return fn(*args, **kwargs)
        before = (self.calls["artifact.publish"], self.calls["kmeans.fit"])
        self.calls[layer] += 1
        self._depth[layer] += 1
        sid = self.open(f"{layer}:{fn.__name__}")
        try:
            return fn(*args, **kwargs)
        finally:
            self.busy[layer] += self.close(sid)
            self._depth[layer] -= 1
            if layer == "artifact.serve" and before == (
                self.calls["artifact.publish"],
                self.calls["kmeans.fit"],
            ):
                self.serve_calls_reused += 1

    def snapshot(self) -> dict:
        return {
            "calls": dict(self.calls),
            "busy": dict(self.busy),
            "serve_reused": self.serve_calls_reused,
            "collects": self.collects,
            "collect_rows": self.collect_rows,
        }

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover."""
        child_time: Counter = Counter()
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: Counter = Counter()
        for s in self.spans:
            if s["end"] is not None:
                key = s["name"].split(":", 1)[0] if ":" in s["name"] else s["name"]
                out[key] += (s["end"] - s["start"]) - child_time[s["id"]]
        return dict(out)


def _targets(module, names: list[str] | None) -> list[str]:
    defined = [
        n
        for n, v in vars(module).items()
        if callable(v) and getattr(v, "__module__", None) == module.__name__ and not n.startswith("_")
        and not isinstance(v, type)
    ]
    if names is None:
        return defined
    out = []
    for pat in names:
        if pat.endswith("*"):
            out += [n for n in defined if n.startswith(pat[:-1])]
        else:
            out.append(pat)
    return out


def install(tracer: Tracer) -> dict:
    """Wrap every layer function in its defining module. Call before
    ``load_all()`` so the plans' ``from … import`` bindings see the wrappers;
    ``rebind`` then fixes bindings made by modules imported earlier."""
    originals: dict[int, object] = {}
    for layer, specs in LAYERS.items():
        for mod_name, names in specs:
            mod = importlib.import_module(mod_name)
            for name in _targets(mod, names):
                fn = getattr(mod, name)
                if id(fn) in originals:
                    continue

                def make(fn=fn, layer=layer):
                    @functools.wraps(fn)
                    def wrapper(*args, **kwargs):
                        return tracer.layer_call(layer, fn, args, kwargs)

                    return wrapper

                wrapper = make()
                originals[id(fn)] = wrapper
                setattr(mod, name, wrapper)
    _install_collect_recorder(tracer)
    return originals


def rebind(originals: dict) -> int:
    """Point every module-level binding of a wrapped function at its
    wrapper, across all loaded program modules. Returns bindings changed."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            w = originals.get(id(val))
            if w is not None and w is not val:
                setattr(mod, attr, w)
                n += 1
    return n


def _install_collect_recorder(tracer: Tracer) -> None:
    """Count driver collects (and their rows) made while a query is being
    constructed — the concrete classic DataFrame overrides these."""
    from pyspark.sql.classic.dataframe import DataFrame

    for meth in ("collect", "toPandas"):
        orig = getattr(DataFrame, meth)

        def make(orig=orig):
            depth = [0]

            @functools.wraps(orig)
            def recorded(self, *a, **k):
                depth[0] += 1
                try:
                    out = orig(self, *a, **k)
                finally:
                    depth[0] -= 1
                if depth[0] == 0 and tracer.phase == "construct":
                    tracer.collects += 1
                    tracer.collect_rows += len(out)
                return out

            return recorded

        setattr(DataFrame, meth, make())


# --- Spark-side counters ---------------------------------------------------

def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) started under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return len(jobs), stages, tasks


#: SQL metric keys summed over the executed plan, by metric name
SQL_METRICS = {
    "shuffleBytesWritten": "shuffle_write_bytes",
    "spillSize": "spill_bytes",
    "pipelineTime": "codegen_pipeline_ms",
    "pythonInitTime": "python_init_ms",
    "pythonTotalTime": "python_total_ms",
}


def plan_metrics(df) -> Counter:
    """Sum the executed plan's SQL metrics, walked with the program's own
    ``plancheck.walk_plan`` (descends AQE stages and cached subtrees)."""
    from nocouncil_etl_spark.plancheck import walk_plan

    out: Counter = Counter()
    for node in walk_plan(df._jdf.queryExecution().executedPlan()):
        is_scan = node.nodeName().startswith("Scan")
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = kv._1()
            if key in SQL_METRICS:
                out[SQL_METRICS[key]] += kv._2().value()
            elif is_scan and key == "numOutputRows":
                out["scan_rows"] += kv._2().value()
            elif is_scan and key == "filesSize":
                out["scan_bytes"] += kv._2().value()
    return out
