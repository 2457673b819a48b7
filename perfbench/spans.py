"""Span tracer for the traced run: wraps the package's layer entry points
from outside (the package itself is not modified), records spans in memory,
and folds them into per-layer numbers per repetition.

A span is (id, name, layer, start, end, parent, rep, thread, attrs). Times
are `time.time()` seconds so they line up with the millisecond timestamps
Spark's status store reports for jobs. Spans opened on the DAG's worker
threads (one per action) take the running exec phase as their parent.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable

# (module, attribute path, span name). The layer is the span name's first
# dotted component. Functions imported by name into a caller's namespace are
# patched in that namespace, which is where the caller looks them up.
ENTRY_POINTS: list[tuple[str, str, str]] = [
    ("smart_data_lake_spark.plans.app", "load_config", "config.load"),
    ("smart_data_lake_spark.plans.app", "SmartDataLakeBuilder.select_actions", "plans.select"),
    ("smart_data_lake_spark.plans.dag", "ActionDAG.__init__", "plans.dag"),
    ("smart_data_lake_spark.plans.dag", "ActionDAGRun._phase_prepare", "plans.prepare"),
    ("smart_data_lake_spark.plans.dag", "ActionDAGRun._phase_init", "plans.init"),
    ("smart_data_lake_spark.plans.dag", "ActionDAGRun._phase_exec", "plans.exec"),
    ("smart_data_lake_spark.plans.dag", "StateStore.save", "plans.state_save"),
    ("smart_data_lake_spark.actions.copy", "CopyAction.exec", "actions.copy.exec"),
    ("smart_data_lake_spark.actions.historize", "HistorizeAction.exec", "actions.historize.exec"),
    ("smart_data_lake_spark.actions.deduplicate", "DeduplicateAction.exec", "actions.deduplicate.exec"),
    ("smart_data_lake_spark.actions.custom", "CustomDataFrameAction.exec", "actions.custom.exec"),
    ("smart_data_lake_spark.execution_modes", "PartitionDiffMode.apply", "execution_modes.apply"),
    ("smart_data_lake_spark.dataobjects.file", "SparkFileDataObject.list_partitions", "dataobjects.list_partitions"),
    ("smart_data_lake_spark.dataobjects.file", "SparkFileDataObject.get_dataframe", "dataobjects.read"),
    ("smart_data_lake_spark.dataobjects.table", "ParquetTableDataObject.get_dataframe", "dataobjects.read"),
    ("smart_data_lake_spark.dataobjects.file", "SparkFileDataObject.write_dataframe", "dataobjects.write"),
    ("smart_data_lake_spark.dataobjects.table", "ParquetTableDataObject.write_dataframe", "dataobjects.write"),
    ("smart_data_lake_spark.dataobjects.table", "ParquetTableDataObject.merge_dataframe_by_primary_key", "dataobjects.merge"),
    ("smart_data_lake_spark.merge", "merge_dataframes", "dataobjects.plan"),
    ("smart_data_lake_spark.actions.historize", "incremental_historize_ops", "dataobjects.plan"),
    ("smart_data_lake_spark.actions.historize", "incremental_cdc_historize_ops", "dataobjects.plan"),
    ("smart_data_lake_spark.actions.historize", "full_historize", "dataobjects.plan"),
    ("smart_data_lake_spark.actions.deduplicate", "deduplicate_keep_latest", "dataobjects.plan"),
    ("smart_data_lake_spark.actions.base", "apply_constraints", "expectations.constraints"),
    ("smart_data_lake_spark.actions.base", "setup_observation", "expectations.observe"),
    ("smart_data_lake_spark.actions.base", "validate_expectations", "expectations.validate"),
    ("smart_data_lake_spark.actions.base", "compute_scope_all_metrics_lazy", "expectations.metrics"),
    ("smart_data_lake_spark.expectations", "compute_unobservable_job_metrics", "expectations.metrics"),
    ("smart_data_lake_spark.expectations", "validate_job_partition_expectations", "expectations.validate"),
    ("smart_data_lake_spark.expectations", "compute_read_metrics", "expectations.metrics"),
]

LAYERS = ["config", "plans", "actions", "execution_modes", "dataobjects", "expectations", "functions"]


def _resolve(module: str, path: str) -> tuple[Any, str]:
    owner: Any = importlib.import_module(module)
    *parents, attr = path.split(".")
    for p in parents:
        owner = getattr(owner, p)
    return owner, attr


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.rep: int | None = None
        self.dag_edges: dict[str, set[str]] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._exec_span: int | None = None
        self._patches: list[tuple[Any, str, Any]] = []

    # ------------------------------------------------------------- recording
    @contextmanager
    def span(self, name: str, **attrs: Any):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else self._exec_span
        rec = {
            "id": sid,
            "name": name,
            "layer": name.split(".")[0],
            "parent": parent,
            "rep": self.rep,
            "thread": threading.get_ident(),
            "attrs": attrs,
            "start": time.time(),
        }
        stack.append(sid)
        if name == "plans.exec":
            self._exec_span = sid
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.time()
            stack.pop()
            if name == "plans.exec":
                self._exec_span = None
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, fn: Callable, name: str) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as attrs:
                if name.startswith("actions."):
                    attrs["action"] = args[0].id
                result = fn(*args, **kwargs)
                tracer._annotate(name, attrs, args, result)
                return result

        return wrapper

    def _annotate(self, name: str, attrs: dict, args: tuple, result: Any) -> None:
        if name == "plans.dag":
            self.dag_edges = {k: set(v) for k, v in args[0].edges.items()}
        elif name == "plans.state_save":
            store, state = args[0], args[1]
            try:
                attrs["bytes"] = os.path.getsize(store._file(state.run_id, state.attempt_id))
            except OSError:
                attrs["bytes"] = 0
        elif name == "execution_modes.apply":
            attrs["partitions"] = len(getattr(result, "output_partition_values", None) or [])

    def install(self) -> None:
        for module, path, name in ENTRY_POINTS:
            owner, attr = _resolve(module, path)
            # an inherited method is patched onto the subclass and removed
            # again on uninstall, so the base class is never touched
            own = attr in vars(owner)
            self._patches.append((owner, attr, vars(owner)[attr] if own else None))
            setattr(owner, attr, self._wrap(getattr(owner, attr), name))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


# ------------------------------------------------------------------ folding
def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    return _union([(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi])


def critical_path(spans: list[dict], edges: dict[str, set[str]]) -> list[dict]:
    """Walk back from the last action to finish, each time to the upstream
    action that finished last (the one that released it)."""
    by_action = {s["attrs"]["action"]: s for s in spans if s["name"].startswith("actions.")}
    if not by_action:
        return []
    upstream: dict[str, set[str]] = {a: set() for a in edges}
    for a, downs in edges.items():
        for d in downs:
            upstream.setdefault(d, set()).add(a)
    cur = max(by_action.values(), key=lambda s: s["end"])
    path = [cur]
    while True:
        ups = [by_action[u] for u in upstream.get(cur["attrs"]["action"], ()) if u in by_action]
        if not ups:
            break
        cur = max(ups, key=lambda s: s["end"])
        path.append(cur)
    return path[::-1]


def fold_rep(spans: list[dict], edges: dict[str, set[str]], jobs: list[tuple[float, float]]) -> dict[str, float]:
    """Per-layer numbers of one repetition. `jobs` are the (start, end)
    times of the Spark jobs that ran during it."""
    m: dict[str, float] = {}

    def total(name: str, top_only: bool = False) -> float:
        ids = {s["id"]: s for s in spans}
        return sum(
            s["end"] - s["start"]
            for s in spans
            if s["name"] == name
            and not (top_only and s["parent"] in ids and ids[s["parent"]]["name"] == name)
        )

    m["config.load_s"] = total("config.load") + total("config.hocon")
    m["plans.select_s"] = total("plans.select") + sum(
        s["end"] - s["start"] for s in spans
        if s["name"] == "plans.dag" and not _inside(s, spans, "plans.select")
    )
    for phase in ("prepare", "init", "exec"):
        m[f"plans.{phase}_s"] = total(f"plans.{phase}")
    saves = [s for s in spans if s["name"] == "plans.state_save"]
    m["plans.state_saves"] = len(saves)
    m["plans.state_save_s"] = sum(s["end"] - s["start"] for s in saves)
    m["plans.state_bytes"] = sum(s["attrs"].get("bytes", 0) for s in saves)
    idle = 0.0
    for s in spans:
        if s["name"] == "plans.exec":
            idle += (s["end"] - s["start"]) - _covered(jobs, s["start"], s["end"])
    m["plans.spark_idle_s"] = idle
    path = critical_path(spans, edges)
    m["plans.critical_path_s"] = sum(s["end"] - s["start"] for s in path)
    m["plans.critical_path_actions"] = len(path)
    for kind in ("copy", "historize", "deduplicate", "custom"):
        m[f"actions.{kind}.exec_s"] = total(f"actions.{kind}.exec")
    m["actions.exec_calls"] = sum(1 for s in spans if s["name"].startswith("actions."))
    applies = [s for s in spans if s["name"] == "execution_modes.apply"]
    m["execution_modes.apply_s"] = sum(s["end"] - s["start"] for s in applies)
    m["execution_modes.partitions_selected"] = sum(s["attrs"].get("partitions", 0) for s in applies)
    m["dataobjects.list_partitions_s"] = total("dataobjects.list_partitions")
    m["dataobjects.merge_s"] = total("dataobjects.merge")
    m["dataobjects.read_s"] = total("dataobjects.read", top_only=True)
    m["dataobjects.write_s"] = total("dataobjects.write", top_only=True)
    m["dataobjects.plan_s"] = total("dataobjects.plan")
    m["expectations.s"] = sum(s["end"] - s["start"] for s in spans if s["layer"] == "expectations")
    for layer, v in self_times(spans).items():
        m[f"{layer}.self_s"] = v
    return m


def _inside(span: dict, spans: list[dict], name: str) -> bool:
    ids = {s["id"]: s for s in spans}
    p = span["parent"]
    while p is not None and p in ids:
        if ids[p]["name"] == name:
            return True
        p = ids[p]["parent"]
    return False


def self_times(spans: list[dict]) -> dict[str, float]:
    """Time each layer spends in its own code: a span's duration minus the
    union of its children's intervals (children on worker threads overlap,
    so the union, not the sum, is what the parent did not do itself)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        if s["layer"] in out:
            own = (s["end"] - s["start"]) - _covered(children.get(s["id"], []), s["start"], s["end"])
            out[s["layer"]] += max(0.0, own)
    return out
