"""Spans around the calls into each layer, and the Spark work done in them.

A span has a name (the layer, named by module), start, end, parent and run
id. Each span tags the Spark jobs started inside it with its own job group,
so the status store, which is filled with the UI off, gives the span's
tasks, task time, shuffle and spill. Process CPU is read at both ends of a
span and split into JVM and Python-worker seconds (procs.ProcessTree).

The library is lazy: calling a layer function only builds a plan. While
`instrument()` is active, the functions that `plans.pipeline` imports from
the operator modules are replaced by wrappers that first materialize their
DataFrame arguments (so the caller's pending work runs in the caller's
span), then call the function and materialize its result inside the
layer's span. `LinkagePipeline._materialize` is made eager for the same
reason. Row counts are taken in child spans named `trace`, so they are
not charged to the layer.
"""

from __future__ import annotations

import contextlib
import statistics
import time
import uuid

from pyspark.sql import DataFrame

import blink_reloaded_spark.plans.pipeline as pipeline_mod

# wrapped name in plans.pipeline -> (layer, input count key, output count key)
LAYER_CALLS = {
    "extract_mentions": ("operators.mentions", "turns_in", "rows_out"),
    "blocking_keys": ("operators.blocking", "surfaces_in", None),
    "purged_block_keys": ("operators.blocking", None, None),
    "candidate_pairs": ("operators.blocking", None, "rows_out"),
    "mention_entity_candidates": ("operators.blocking", None, "rows_out"),
    "two_phase_scored_pairs": ("operators.scoring", "pairs_in", "survivors"),
    "link_best": ("operators.scoring", None, "rows_out"),
    "match_edges": ("operators.scoring", None, "rows_out"),
    "star_components": ("operators.clustering", "edges_in", "rows_out"),
    "connected_components": ("operators.clustering", "edges_in", "rows_out"),
}

PIPELINE = "plans.pipeline"
QUERY_LAYERS = (
    "queries.dedup03_minhash_lsh",
    "queries.dedup03_minhash_lsh_xxh",
    "queries.ann05_multitable_lsh",
)
LAYERS = (
    "operators.mentions",
    "operators.blocking",
    "operators.scoring",
    "operators.clustering",
    PIPELINE,
    *QUERY_LAYERS,
)
LAYER_STATS = (
    "wall_s", "self_s", "jvm_cpu_s", "py_cpu_s", "tasks", "task_skew",
    "shuffle_write_mb", "spill_mb", "rows_out",
)
# layer -> (ratio name, numerator count, denominator count); a denominator
# of None makes the value a per-op mean of the count
LAYER_RATIOS = {
    "operators.mentions": [("mentions_per_turn", "rows_out", "turns_in")],
    "operators.blocking": [("pairs_per_surface", "rows_out", "surfaces_in")],
    "operators.scoring": [
        ("survivor_ratio", "survivors", "pairs_in"),
        ("link_ratio", "rows_out", "pairs_in"),
    ],
    "operators.clustering": [
        ("edges_in", "edges_in", None),
        ("components", "components", None),
    ],
}


def per_layer_metric_names() -> list[str]:
    names = [f"{layer}.{s}" for layer in LAYERS for s in LAYER_STATS]
    names += [
        f"{layer}.{r[0]}" for layer, rs in LAYER_RATIOS.items() for r in rs
    ]
    return names + ["trace.overhead_s", "trace.self_share"]


class NoTrace:
    """Stand-in for Tracer in untraced runs."""

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    """Records spans in memory and tags the Spark jobs started in each."""

    def __init__(self, spark, tree):
        self.sc = spark.sparkContext
        self.tree = tree
        self.run_id = uuid.uuid4().hex[:12]
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._seen_jobs: set[int] = set()
        # DataFrames known to be computed; their ids, with the objects kept
        # alive so an id is never reused while it is in the set
        self._done: dict[int, DataFrame] = {}

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "counts": {},
        }
        self._next_id += 1
        self.sc.setJobGroup(self._group(rec["id"]), name)
        self._stack.append(rec)
        cpu0 = self.tree.cpu()
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            cpu1 = self.tree.cpu()
            rec["jvm_cpu_s"] = cpu1["jvm"] - cpu0["jvm"]
            rec["py_cpu_s"] = cpu1["python"] - cpu0["python"]
            self._stack.pop()
            parent = self._stack[-1]["id"] if self._stack else -1
            self.sc.setJobGroup(self._group(parent), "untraced")
            self.spans.append(rec)

    def _group(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    def count(self, df: DataFrame) -> int:
        with self.span("trace"):
            return df.count()

    def mark_done(self, df: DataFrame) -> DataFrame:
        self._done[id(df)] = df
        return df

    def _ready(self, x):
        """Materialize a DataFrame argument in the caller's span."""
        if isinstance(x, DataFrame) and id(x) not in self._done:
            x = self.mark_done(x.localCheckpoint(eager=True))
        return x

    # -- instrumentation -------------------------------------------------------
    @contextlib.contextmanager
    def instrument(self):
        saved = {name: getattr(pipeline_mod, name) for name in LAYER_CALLS}
        cls = pipeline_mod.LinkagePipeline
        lazy_materialize = cls._materialize

        def eager_materialize(pipe, df):
            out = lazy_materialize(pipe, df)
            out.count()  # computes the checkpoint in the calling span
            return self.mark_done(out)

        try:
            for name, fn in saved.items():
                setattr(pipeline_mod, name, self._wrap(fn, *LAYER_CALLS[name]))
            cls._materialize = eager_materialize
            yield
        finally:
            for name, fn in saved.items():
                setattr(pipeline_mod, name, fn)
            cls._materialize = lazy_materialize

    def _wrap(self, fn, layer: str, in_key: str | None, out_key: str | None):
        def wrapped(*args, **kwargs):
            args = [self._ready(a) for a in args]
            kwargs = {k: self._ready(v) for k, v in kwargs.items()}
            counts = {}
            if in_key:
                counts[in_key] = self.count(args[0])
            with self.span(layer) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = self.mark_done(out.localCheckpoint(eager=True))
                    if out_key:
                        counts[out_key] = self.count(out)
                    if layer == "operators.clustering":
                        counts["components"] = self.count(
                            out.select("component").distinct()
                        )
                rec["counts"] = counts
            return out

        return wrapped

    def forget(self) -> None:
        """Drop references to the DataFrames materialized so far."""
        self._done.clear()

    # -- Spark status store ------------------------------------------------------
    def collect_stages(self) -> None:
        """Attach the Spark stage totals of jobs finished since the last
        call to the span whose job group started them."""
        gw = self.sc._gateway
        store = self.sc._jsc.sc().statusStore()
        no_q = gw.new_array(gw.jvm.double, 0)
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        by_id = {s["id"]: s for s in self.spans}
        prefix = self.run_id + ":"
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            group = job.jobGroup()
            if jid in self._seen_jobs or not group.isDefined():
                continue
            group = group.get()
            if not group.startswith(prefix):
                continue
            self._seen_jobs.add(jid)
            span = by_id.get(int(group[len(prefix):]))
            if span is None:  # started outside every span
                continue
            stages = job.stageIds()
            for k in range(stages.size()):
                sid = stages.apply(k)
                attempts = store.stageData(
                    sid, False, gw.jvm.java.util.ArrayList(), False, no_q
                )
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.status().toString() != "COMPLETE":
                        continue
                    _add_stage(span, store, st, q)


def _add_stage(span: dict, store, st, q) -> None:
    run_ms = st.executorRunTime()
    span["tasks"] = span.get("tasks", 0) + st.numCompleteTasks()
    span["shuffle_write_b"] = span.get("shuffle_write_b", 0) + st.shuffleWriteBytes()
    span["spill_b"] = span.get("spill_b", 0) + st.diskBytesSpilled()
    if st.numCompleteTasks() >= 2 and run_ms > span.get("heaviest_ms", -1):
        summary = store.taskSummary(st.stageId(), st.attemptId(), q)
        if summary.isDefined():
            rt = summary.get().executorRunTime()
            med, mx = rt.apply(0), rt.apply(1)
            span["heaviest_ms"] = run_ms
            span["task_skew"] = mx / med if med > 0 else 1.0


def _own(spans: list[dict], value) -> dict[int, float]:
    """Per span, `value(span)` minus the values of its child spans (the
    children of one span never overlap: the benchmark is single-threaded)."""
    own = {s["id"]: value(s) for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= value(s)
    return own


def layer_metrics(
    spans: list[dict], units: int, traced_s: list[float], untraced_s: list[float]
) -> dict[str, float]:
    """Per-layer metrics: totals over the traced units divided by `units`
    (a unit is one op, or one append plus one recompute in kbfree_append).
    Layers that did not run report 0."""
    self_s = _own(spans, lambda s: s["end"] - s["start"])
    jvm = _own(spans, lambda s: s["jvm_cpu_s"])
    py = _own(spans, lambda s: s["py_cpu_s"])
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["name"] == layer]
        counts: dict[str, int] = {}
        for s in mine:
            for k, v in s["counts"].items():
                counts[k] = counts.get(k, 0) + v
        heaviest = max(mine, key=lambda s: s.get("heaviest_ms", -1), default=None)
        vals = {
            "wall_s": sum(s["end"] - s["start"] for s in mine),
            "self_s": sum(self_s[s["id"]] for s in mine),
            "jvm_cpu_s": sum(jvm[s["id"]] for s in mine),
            "py_cpu_s": sum(py[s["id"]] for s in mine),
            "tasks": sum(s.get("tasks", 0) for s in mine),
            "shuffle_write_mb": sum(s.get("shuffle_write_b", 0) for s in mine) / 1e6,
            "spill_mb": sum(s.get("spill_b", 0) for s in mine) / 1e6,
            "rows_out": counts.get("rows_out", 0),
        }
        for k, v in vals.items():
            out[f"{layer}.{k}"] = v / units
        out[f"{layer}.task_skew"] = (
            heaviest.get("task_skew", 0.0) if heaviest else 0.0
        )
        for name, num, den in LAYER_RATIOS.get(layer, []):
            if den is None:
                out[f"{layer}.{name}"] = counts.get(num, 0) / units
            else:
                d = counts.get(den, 0)
                out[f"{layer}.{name}"] = counts.get(num, 0) / d if d else 0.0
    total = sum(traced_s)
    out["trace.overhead_s"] = statistics.median(traced_s) - statistics.median(
        untraced_s
    )
    out["trace.self_share"] = sum(self_s.values()) / total if total else 0.0
    return out
