"""Per-layer tracing from outside the program.

A ``Tracer`` replaces public functions of the program's modules with
wrappers for the duration of one traced iteration. Each wrapper

* materializes the DataFrame arguments it receives under the CALLER's
  label first, so lazy upstream work is charged to the layer that built
  it, not to the layer that happens to force it;
* switches the Spark job group to its own layer, calls the function,
  and materializes the returned DataFrame (persist + count) under that
  group, so every Spark job of the layer carries the layer's name;
* records the layer's self wall time on one timeline: every label
  switch charges the elapsed interval to the label that was active, so
  a nested layer's time is never counted twice.

Work that ``run_pipeline`` does between public calls (the checkpoint
anti-join, append and serve) has no entry point to wrap. Those jobs run
under the ``pipeline.run_pipeline`` label; the phase that follows
``detect.with_prompt_hash`` and ends when ``detect.ground`` is entered is
relabelled ``pipeline.checkpoint``. While tracing, each DataFrame action
stamps its Python call site on the jobs it starts, and ``callsites()``
lists them per layer from the event log, so the split can be audited.

Spark counters come from the event log (``spark.eventLog.enabled``),
parsed after the session stops: ``SparkListenerJobStart`` maps jobs and
stages to job groups, ``SparkListenerTaskEnd`` carries the task metrics.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict

# (module path, attribute, layer name). Nested layers are fine: the
# timeline charges each interval to the innermost active label.
WRAPPED = [
    ("generative_ner_spark.sources.corpus", "synth_examples_with_golds",
     "sources.corpus.synth_examples_with_golds"),
    ("generative_ner_spark.operators.canonicalize", "canonical_map",
     "canonicalize.canonical_map"),
    ("generative_ner_spark.operators.canonicalize", "connected_components",
     "canonicalize.connected_components"),
    ("generative_ner_spark.operators.detect", "detect_mentions_fused",
     "detect.detect_mentions_fused"),
    ("generative_ner_spark.operators.detect", "with_prompt_hash",
     "detect.with_prompt_hash"),
    ("generative_ner_spark.operators.detect", "ground", "detect.ground"),
    ("generative_ner_spark.operators.linking", "link_mentions",
     "linking.link_mentions"),
    ("generative_ner_spark.operators.triples", "materialize_triples",
     "triples.materialize_triples"),
    ("generative_ner_spark.operators.triples", "write_triples",
     "triples.write_triples"),
    ("generative_ner_spark.operators.graph", "cooccurrence_edges",
     "graph.cooccurrence_edges"),
    ("generative_ner_spark.operators.graph", "pagerank", "graph.pagerank"),
    ("generative_ner_spark.operators.graph", "components", "graph.components"),
    ("generative_ner_spark.operators.graph", "label_propagation",
     "graph.label_propagation"),
    ("generative_ner_spark.operators.graph", "adamic_adar",
     "graph.adamic_adar"),
    ("generative_ner_spark.operators.dedup", "jaccard_set_join",
     "dedup.jaccard_set_join"),
    ("generative_ner_spark.plans.pipeline", "run_pipeline",
     "pipeline.run_pipeline"),
]

# DataFrame actions whose jobs get a Python call site (pyspark stamps one
# on RDD actions only)
_ACTIONS = [("DataFrame", "count"), ("DataFrame", "collect"),
            ("DataFrame", "localCheckpoint"), ("DataFrameWriter", "save"),
            ("DataFrameWriter", "parquet"), ("DataFrameReader", "parquet")]

PIPELINE = "pipeline.run_pipeline"
CHECKPOINT = "pipeline.checkpoint"
SESSION = "session.build_session"
# the glue label that takes over when a layer returns into run_pipeline
_PHASE_AFTER = {"detect.with_prompt_hash": CHECKPOINT, "detect.ground": PIPELINE}

LAYERS = [SESSION] + [w[2] for w in WRAPPED] + [CHECKPOINT]
# layers with Spark jobs of their own get the full counter set; the
# session is driver-only and reports wall time alone
COUNTERS = ["wall_s", "run_s", "shuffle_write_mb", "spill_mb", "task_skew",
            "rows_out"]
GRAPH_OPS = ["cooccurrence_edges", "pagerank", "components",
             "label_propagation", "adamic_adar"]
EXTRA = (
    ["linking.link_mentions.linked_ratio",
     "pipeline.checkpoint.hit_ratio", "pipeline.checkpoint.read_mb",
     "pipeline.checkpoint.write_mb",
     "triples.write_triples.write_mb", "triples.write_triples.files",
     "tracing.overhead_s"]
    + [f"graph.{op}.jobs" for op in GRAPH_OPS]
)

_UNITS = {"wall_s": "s", "run_s": "s", "shuffle_write_mb": "MB",
          "spill_mb": "MB", "task_skew": "ratio", "rows_out": "count",
          "linked_ratio": "ratio", "hit_ratio": "ratio", "read_mb": "MB",
          "write_mb": "MB", "files": "count",
          "overhead_s": "s", "jobs": "count"}


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in a fixed order."""
    names = [f"{SESSION}.wall_s"]
    for layer in LAYERS[1:]:
        names += [f"{layer}.{c}" for c in COUNTERS]
    return names + EXTRA


def unit_of(name: str) -> str:
    return _UNITS[name.rsplit(".", 1)[1]]


def _is_df(x) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(x, DataFrame)


class Tracer:
    """Wraps the program's public functions and keeps the layer timeline."""

    def __init__(self, spark, tag: str, release: bool = True):
        self.spark = spark
        self.tag = tag                    # job-group prefix of this trace
        self.release = release            # unpersist layer outputs on exit
        self.outputs: dict = {}           # layer -> its last output frame
        self.wall: dict[str, float] = defaultdict(float)
        self.rows: dict[str, int] = defaultdict(int)
        self._stack: list[str] = []
        self._label = "perfbench"
        self._since = time.perf_counter()
        self._cached: list = []
        self._saved: list = []
        self._in_action = False

    # ---- timeline ---------------------------------------------------------
    def _switch(self, label: str) -> None:
        now = time.perf_counter()
        self.wall[self._label] += now - self._since
        self._label, self._since = label, now
        self.spark.sparkContext.setJobGroup(f"{self.tag}|{label}", label)

    def push(self, label: str) -> None:
        self._stack.append(self._label)
        self._switch(label)

    def pop(self) -> None:
        done, back = self._label, self._stack.pop()
        if back in (PIPELINE, CHECKPOINT) and done in _PHASE_AFTER:
            back = _PHASE_AFTER[done]
        self._switch(back)

    def materialize(self, df):
        """persist + count under the current label; returns (df, rows)."""
        if df.is_cached:
            return df, None
        df = df.persist()
        self._cached.append(df)
        return df, df.count()

    # ---- wrapping ---------------------------------------------------------
    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            args = [tracer.materialize(a)[0] if _is_df(a) else a for a in args]
            kwargs = {k: tracer.materialize(v)[0] if _is_df(v) else v
                      for k, v in kwargs.items()}
            tracer.push(layer)
            try:
                out = fn(*args, **kwargs)
                if _is_df(out):
                    out, n = tracer.materialize(out)
                    tracer.rows[layer] += out.count() if n is None else n
                    tracer.outputs[layer] = out
                return out
            finally:
                tracer.pop()

        return traced

    def _with_callsite(self, fn, action: str):
        """Stamp the Python call site (first frame outside pyspark) on the
        jobs an action starts; the outermost action wins."""
        jsc = self.spark.sparkContext._jsc

        @functools.wraps(fn)
        def stamped(*args, **kwargs):
            if self._in_action:
                return fn(*args, **kwargs)
            frame = sys._getframe(1)
            while frame and "/pyspark/" in frame.f_code.co_filename:
                frame = frame.f_back
            site = (f"{action} at {frame.f_code.co_filename}:{frame.f_lineno}"
                    if frame else action)
            self._in_action = True
            jsc.setCallSite(site)
            try:
                return fn(*args, **kwargs)
            finally:
                jsc.setCallSite(None)
                self._in_action = False

        return stamped

    def __enter__(self):
        import importlib

        from pyspark.sql import DataFrameReader, DataFrameWriter

        # the session's concrete DataFrame class (pyspark's "classic"
        # implementation overrides the actions of the public base class)
        classes = {"DataFrame": type(self.spark.range(0)),
                   "DataFrameWriter": DataFrameWriter,
                   "DataFrameReader": DataFrameReader}
        for cls, attr in _ACTIONS:
            cls = classes[cls]
            orig = getattr(cls, attr)
            self._saved.append((cls, attr, orig))
            setattr(cls, attr, self._with_callsite(orig, attr))
        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, layer))
        self._switch("perfbench")
        return self

    def __exit__(self, *exc):
        self._switch("perfbench")
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()
        if self.release:
            for df in self._cached:
                df.unpersist()
            self._cached.clear()
            self.outputs.clear()
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return False


# ---- event log ------------------------------------------------------------
def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                                 recursive=True)):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as f:
            for line in f:
                yield json.loads(line)


class EventLog:
    """Task metrics of one application, grouped by job group."""

    def __init__(self, log_dir: str):
        self.stage_group: dict[int, str] = {}
        self.jobs: dict[str, int] = defaultdict(int)
        self.job_callsites: dict[str, list[str]] = defaultdict(list)
        # group -> stage -> list of (duration_ms, run_ms)
        self.tasks: dict[str, dict[int, list]] = defaultdict(
            lambda: defaultdict(list))
        self.sums: dict[str, dict[str, int]] = defaultdict(
            lambda: defaultdict(int))
        for e in _events(log_dir):
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                self.jobs[group] += 1
                self.job_callsites[group].append(
                    props.get("callSite.short", "?"))
                for sid in e["Stage IDs"]:
                    self.stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = self.stage_group.get(e["Stage ID"])
                if group is None:
                    continue
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                self.tasks[group][e["Stage ID"]].append(
                    info["Finish Time"] - info["Launch Time"])
                s = self.sums[group]
                s["run_ms"] += m.get("Executor Run Time", 0)
                s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
                s["spill"] += m.get("Disk Bytes Spilled", 0)
                s["read"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0)
                out = m.get("Output Metrics") or {}
                s["written"] += out.get("Bytes Written", 0)
                s["records_written"] += out.get("Records Written", 0)

    def skew(self, group: str) -> float:
        """max / median task time in the group's widest stage."""
        stages = self.tasks.get(group)
        if not stages:
            return 0.0
        widest = max(stages.values(), key=lambda d: (len(d), sum(d)))
        med = statistics.median(widest)
        return max(widest) / med if med > 0 else 1.0

    def counters(self, tag: str, layer: str) -> dict[str, float]:
        g = f"{tag}|{layer}"
        s = self.sums.get(g, {})
        mb = 1024.0 * 1024.0
        return {
            "run_s": s.get("run_ms", 0) / 1000.0,
            "shuffle_write_mb": s.get("shuffle_write", 0) / mb,
            "spill_mb": s.get("spill", 0) / mb,
            "task_skew": self.skew(g),
            "read_mb": s.get("read", 0) / mb,
            "write_mb": s.get("written", 0) / mb,
            "records_written": s.get("records_written", 0),
            "jobs": self.jobs.get(g, 0),
        }

    def callsites(self, tag: str) -> dict[str, list[str]]:
        return {g.split("|", 1)[1]: v for g, v in self.job_callsites.items()
                if g.startswith(tag + "|")}
