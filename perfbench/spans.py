"""Benchmark-side tracing: spans around calls into the program's layers.

The program carries no instrumentation of its own yet, so the traced run
replaces the public, driver-side functions of each layer (and the Spark
actions they end in) with wrappers that record a span per call. Spans
live in memory as (name, layer, start, end, parent, request) and are
written out once, when the run ends. A layer's self time is the time its
spans cover minus the time their child spans cover.

Only functions that run on the driver are wrapped. Functions that Spark
ships to Python workers are left alone: a wrapper would be pickled into
the task with the tracer inside it.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# layer -> [(module, [driver-side public functions])]; layer names are
# the repository's module names.
LAYERS: dict[str, list[tuple[str, list[str]]]] = {
    "plans.workorder": [("spcht_spark.plans.workorder",
                         ["create_order", "run_order", "check_order"])],
    "plans.indexer": [("spcht_spark.plans.indexer",
                       ["index_order", "run_index_order", "load_index", "skew_table"])],
    "index.tokenize": [("spcht_spark.index.tokenize",
                        ["tokens_arrow", "tokens_jvm", "tokens_ws"])],
    "index.build": [("spcht_spark.index.build",
                     ["build_tokens", "build_doclens", "build_stats", "build_blocks",
                      "dictionary_from_blocks"])],
    "index.query": [("spcht_spark.index.query",
                     ["stats_and_idfs", "query_idfs", "exact_topk", "score_postings",
                      "decode_blocks", "topk", "values_df"])],
    "index.wand": [("spcht_spark.index.wand", ["wand_topk", "and_topk"])],
    "index.boolean": [("spcht_spark.index.boolean",
                       ["parse_query", "boolean_topk", "boolean_matches",
                        "boolean_matches_ast", "expand_fuzzy_asts", "expand_fuzzy_ast",
                        "fq_filter"])],
    "index.search": [("spcht_spark.index.search", ["search"]),
                     ("spcht_spark.index.facets", ["facet_counts"]),
                     ("spcht_spark.index.highlight", ["highlight"])],
    "index.update": [("spcht_spark.index.update",
                      ["update_index", "apply_update", "dictionary_delta",
                       "refresh_max_part"])],
    "sources.marc": [("spcht_spark.sources.marc", ["with_parsed_marc"])],
    "descriptor.compiler": [("spcht_spark.descriptor.compiler",
                             ["load_descriptor", "compile_descriptor"])],
    "descriptor.rdf": [("spcht_spark.descriptor.rdf", ["triples_to_ntriples"])],
}
# Spark calls that run jobs or list files: the time the layers above
# spend waiting on the engine shows up as these spans' self time.
SPARK_LAYER = "spark"
_SPARK_METHODS = {
    "DataFrame": ["collect", "count", "toPandas"],
    "DataFrameWriter": ["parquet", "text", "save"],
    "DataFrameReader": ["parquet"],
}
OP_LAYER = "op"


class Tracer:
    """Spans recorded in memory; ``request`` tags the spans of the
    operation in progress."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.request: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str = OP_LAYER):
        rec = {"id": len(self.spans), "name": name, "layer": layer, "request": self.request,
               "parent": self._stack[-1] if self._stack else None}
        self._stack.append(rec["id"])
        self.spans.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self, spark) -> None:
        """Wrap every layer function, wherever a loaded module of this
        repository holds a reference to it, and the Spark actions."""
        import importlib

        targets: dict[int, tuple[str, str, object]] = {}
        for layer, mods in LAYERS.items():
            for mod_name, names in mods:
                mod = importlib.import_module(mod_name)
                for n in names:
                    fn = getattr(mod, n)
                    targets[id(fn)] = (layer, n, fn)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        for mod in list(sys.modules.values()):
            path = getattr(mod, "__file__", None) or ""
            if not os.path.abspath(path).startswith(root + os.sep):
                continue
            for attr, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit is not None and val is hit[2]:
                    layer, n, fn = hit
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, self._wrap(layer, n, fn))
        df = spark.range(1)
        classes = {
            "DataFrame": type(df),
            "DataFrameWriter": type(df.write),
            "DataFrameReader": type(spark.read),
        }
        for cls_name, methods in _SPARK_METHODS.items():
            cls = classes[cls_name]
            for m in methods:
                fn = getattr(cls, m)
                self._patched.append((cls, m, cls.__dict__.get(m)))
                setattr(cls, m, self._wrap(SPARK_LAYER, f"{cls_name}.{m}", fn))

    @contextmanager
    def installed(self, spark):
        """Trace the calls made inside the block."""
        self.install(spark)
        try:
            yield self
        finally:
            self.uninstall()

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, orig)
        self._patched.clear()

    def self_times(self, spans: list[dict]) -> dict[str, float]:
        """Self time per layer over ``spans``: each span's duration less
        the part of it that its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["layer"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def inclusive(self, name: str, spans: list[dict]) -> float:
        """Time covered by the spans called ``name`` among ``spans``,
        not counting one nested in another of the same name twice."""
        total = 0.0
        for s in spans:
            if s["name"] != name:
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if p is None:
                total += s["end"] - s["start"]
        return total

    def request_spans(self, request: str) -> list[dict]:
        return [s for s in self.spans if s["request"] == request]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    **{k: s[k] for k in ("id", "name", "layer", "parent", "request")},
                    "start_s": s["start"] - t0, "end_s": s["end"] - t0,
                }) + "\n")


@contextmanager
def operation(spark, tracer: Tracer | None, op_id: str, name: str):
    """Root span of one operation, with its Spark jobs tagged ``op_id``.
    Does nothing when the run is untraced."""
    if tracer is None:
        yield
        return
    tracer.request = op_id
    try:
        with job_group(spark, op_id), tracer.span(name):
            yield
    finally:
        tracer.request = None


@contextmanager
def job_group(spark, group: str):
    """Tag the Spark jobs started inside the block with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def jobs_and_tasks(spark, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) the Spark status tracker holds for ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numCompletedTasks
    return len(jobs), tasks
