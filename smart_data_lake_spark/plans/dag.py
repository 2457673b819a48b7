"""Action DAG: build, phase execution, state persistence, recovery.

Reference: DAG build from input/output id overlap
(`workflow/ActionDAGRun.scala:323-349`), three-phase run with per-node events
(:71-152), state JSON after every node event (`ActionDAGRun.saveState`
:237-246, `HadoopFileActionDAGRunStateStore.scala`), skip/NoData propagation
(`Action.scala:189-207`), parallel exec on a fixed pool (:174-187 — here a
ThreadPoolExecutor; Spark jobs submitted from multiple threads run
concurrently inside the shared SparkSession, exactly the reference's model).
"""

from __future__ import annotations

import datetime
import json
import os
import time
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession

from smart_data_lake_spark.actions.base import Action, NoDataToProcessWarning
from smart_data_lake_spark.config import InstanceRegistry
from smart_data_lake_spark.partitions import PartitionValues
from smart_data_lake_spark.subfeed import SparkSubFeed, SubFeed


class DAGError(Exception):
    pass


@dataclass
class RunState:
    """Persisted run state for recovery (ActionDAGRunState.scala)."""

    run_id: int = 1
    attempt_id: int = 1
    is_final: bool = False
    action_states: dict[str, str] = field(default_factory=dict)  # SUCCEEDED/SKIPPED/FAILED/CANCELLED
    action_metrics: dict[str, Any] = field(default_factory=dict)
    data_object_state: dict[str, Any] = field(default_factory=dict)  # incremental states
    # action_id → [{output_id, query_name, checkpoint, trigger_type}]: the
    # streaming queries this run started, for restart reconciliation
    streaming_queries: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(self.__dict__, default=str, indent=2)

    @classmethod
    def from_json(cls, text: str) -> "RunState":
        d = json.loads(text)
        return cls(**{k: d[k] for k in cls.__dataclass_fields__ if k in d})


class StateStore:
    """JSON file state store (HadoopFileActionDAGRunStateStore.scala)."""

    def __init__(self, state_path: str, app_name: str = "sdl"):
        self.state_path = state_path
        self.app_name = app_name
        os.makedirs(state_path, exist_ok=True)

    def _file(self, run_id: int, attempt_id: int) -> str:
        return os.path.join(self.state_path, f"{self.app_name}_run{run_id}_attempt{attempt_id}.json")

    def save(self, state: RunState) -> None:
        with open(self._file(state.run_id, state.attempt_id), "w") as f:
            f.write(state.to_json())
        if state.is_final:
            # one summary line per FINAL state into index.jsonl — the fast
            # listing a dashboard reads instead of parsing every state file
            # (HadoopFileActionDAGRunStateStore index append,
            # ActionDAGRunTest "append to state index file")
            summary = {
                "app_name": self.app_name,
                "run_id": state.run_id,
                "attempt_id": state.attempt_id,
                "is_final": state.is_final,
                "action_states": state.action_states,
            }
            # Idempotent append: re-saving the same (run_id, attempt_id)
            # final state must not duplicate its index line (r8 ADVICE).
            # The COMMON path stays an atomic 'a'-mode append (a crash can
            # lose only the new line, never the history); only the rare
            # duplicate-key re-save rewrites, via temp file + os.replace
            # so a kill mid-write can't truncate the index (r9 review).
            index_path = os.path.join(self.state_path, "index.jsonl")
            lines: list[str] = []
            if os.path.exists(index_path):
                with open(index_path) as f:
                    lines = [ln for ln in f.read().splitlines() if ln.strip()]
            key = (self.app_name, state.run_id, state.attempt_id)
            replaced = False
            for i, ln in enumerate(lines):
                try:
                    rec = json.loads(ln)
                except ValueError:
                    continue
                if (rec.get("app_name"), rec.get("run_id"), rec.get("attempt_id")) == key:
                    lines[i] = json.dumps(summary)
                    replaced = True
                    break
            if not replaced:
                with open(index_path, "a") as f:
                    f.write(json.dumps(summary) + "\n")
            else:
                tmp_path = index_path + ".tmp"
                with open(tmp_path, "w") as f:
                    f.write("\n".join(lines) + "\n")
                os.replace(tmp_path, index_path)

    def latest(self) -> RunState | None:
        files = sorted(
            (f for f in os.listdir(self.state_path) if f.endswith(".json")),
            key=lambda f: os.path.getmtime(os.path.join(self.state_path, f)),
        )
        if not files:
            return None
        with open(os.path.join(self.state_path, files[-1])) as f:
            return RunState.from_json(f.read())


class ActionDAG:
    """Topology derived from shared DataObjects (ActionDAGRun.scala:323-349)."""

    def __init__(self, actions: list[Action]):
        self.actions = {a.id: a for a in actions}
        if len(self.actions) != len(actions):
            raise DAGError("duplicate action ids")
        self.edges: dict[str, set[str]] = {a.id: set() for a in actions}  # action -> downstream actions
        # a DataObject may be written by SEVERAL actions (ActionDAGTest
        # 'two actions writing the same DataObject'): a reader depends on
        # every writer, so all appends land before any downstream read
        producers: dict[str, list[str]] = {}
        for a in actions:
            for out in a.output_ids:
                producers.setdefault(out, []).append(a.id)
        for a in actions:
            for inp in a.input_ids:
                for producer in producers.get(inp, []):
                    if producer != a.id:  # recursive self-input is not an edge
                        self.edges[producer].add(a.id)
        self._check_cycles()

    def _check_cycles(self) -> None:
        seen: set[str] = set()
        stack: set[str] = set()

        def visit(n: str) -> None:
            if n in stack:
                raise DAGError(f"cycle involving action {n!r}")
            if n in seen:
                return
            stack.add(n)
            for m in self.edges[n]:
                visit(m)
            stack.discard(n)
            seen.add(n)

        for n in self.edges:
            visit(n)

    def topological_order(self) -> list[str]:
        import bisect

        indeg = {n: 0 for n in self.edges}
        for n, ds in self.edges.items():
            for d in ds:
                indeg[d] += 1
        order, ready = [], sorted([n for n, d in indeg.items() if d == 0])
        while ready:
            n = ready.pop(0)
            order.append(n)
            for d in sorted(self.edges[n]):
                indeg[d] -= 1
                if indeg[d] == 0:
                    # keep the ready set SORTED so concurrently-runnable
                    # nodes are always taken alphabetically — deterministic
                    # schedules across runs (DAGTest 'parallel running nodes
                    # are sorted alphabetically')
                    bisect.insort(ready, d)
        return order

    def upstream_actions(self, action_id: str) -> set[str]:
        """ALL writers of this action's inputs, excluding itself — derived
        from the same multi-producer edge construction as __init__, so the
        exec scheduler waits for (and cancels on) EVERY writer of a
        multi-writer input, and a recursive self-input never deadlocks on
        itself (review finding: the old single-producer map kept only the
        last writer and could include self)."""
        return {a for a, downstream in self.edges.items() if action_id in downstream}


class ActionDAGRun:
    """Three-phase execution of an ActionDAG."""

    def __init__(
        self,
        dag: ActionDAG,
        registry: InstanceRegistry,
        state_store: StateStore | None = None,
        parallelism: int = 1,
        partition_values: list[PartitionValues] | None = None,
        state_listeners: list[Any] | None = None,
    ):
        self.dag = dag
        self.registry = registry
        self.state_store = state_store
        self.parallelism = parallelism
        self.partition_values = partition_values or []
        self.state = RunState()
        self.result_subfeeds: dict[str, list[SubFeed]] = {}
        # StateListeners (workflow/StateListener + GlobalConfig.stateListeners):
        # notified after every action-state change and once with final state
        self.state_listeners = list(state_listeners or []) + list(
            getattr(registry, "state_listeners", []) or []
        )

    def _notify_listeners(self, changed_action_id: str | None, spark: SparkSession | None = None) -> None:
        if not self.state_listeners:
            return
        context = {
            "application": getattr(self.state_store, "app_name", "sdl") if self.state_store else "sdl",
            "phase": "exec",
            # listeners that persist metrics through data objects need the
            # session + registry (FinalMetricsLogWriter)
            "spark": spark,
            "registry": self.registry,
        }
        for listener in self.state_listeners:
            try:
                listener.notify_state(self.state, context, changed_action_id)
            except Exception as e:  # noqa: BLE001 — a metrics sink must not kill the run
                import logging

                logging.getLogger(__name__).warning(
                    "state listener %s failed: %s", type(listener).__name__, e
                )

    # ------------------------------------------------------------------ run
    def run(self, spark: SparkSession, recover: bool = True) -> RunState:
        # listener init fires once per run BEFORE any state change (the
        # reference's StateListener.prepare): StateUploader retries staged
        # uploads here, StatusInfoServer binds its port
        for listener in self.state_listeners:
            try:
                listener.init(
                    {
                        "application": getattr(self.state_store, "app_name", "sdl")
                        if self.state_store
                        else "sdl",
                        "spark": spark,
                        "registry": self.registry,
                    }
                )
            except Exception as e:  # noqa: BLE001 — hygiene must not kill the run
                import logging

                logging.getLogger(__name__).warning(
                    "state listener %s init failed: %s", type(listener).__name__, e
                )
        completed_from_recovery: set[str] = set()
        if self.state_store is not None:
            prev = self.state_store.latest()
            if prev is not None:
                if recover and not prev.is_final:
                    # recovery: skip completed actions, bump attempt
                    # (SmartDataLakeBuilder.scala:377-396)
                    self.state = prev
                    self.state.attempt_id += 1
                    self.state.is_final = False
                    completed_from_recovery = {
                        a for a, s in prev.action_states.items() if s == "SUCCEEDED"
                    }
                else:
                    self.state = RunState(run_id=prev.run_id + 1)
                    self.state.data_object_state = prev.data_object_state

        self._phase_prepare(spark)
        self._phase_init(spark)
        self._phase_exec(spark, completed_from_recovery)
        failed = [a for a, s in self.state.action_states.items() if s == "FAILED"]
        # a run with failures is NOT final — the next run with recover=True
        # resumes it, skipping succeeded actions (ActionDAGRunState.isFailed /
        # SmartDataLakeBuilder.scala:377-396 recovery contract)
        self.state.is_final = not failed
        self._save_state()
        self._notify_listeners(None, spark)
        if failed:
            raise DAGError(f"actions failed: {failed}")
        return self.state

    def _save_state(self) -> None:
        if self.state_store is not None:
            self.state_store.save(self.state)

    # --------------------------------------------------------------- phases
    def _phase_prepare(self, spark: SparkSession) -> None:
        self.registry.register_spark_udfs(spark)
        for aid in self.dag.topological_order():
            self.dag.actions[aid].prepare(spark)

    def _phase_init(self, spark: SparkSession) -> None:
        """Build full lineage without executing (ActionDAGRun.scala:128-152):
        catches missing columns/types via Catalyst analysis before any write."""
        init_feeds: dict[str, SubFeed] = {}
        for aid in self.dag.topological_order():
            action = self.dag.actions[aid]
            inputs = [self._input_subfeed(spark, action, i, init_feeds, init_phase=True) for i in action.input_ids]
            try:
                outputs = action.init(spark, inputs)
            except NoDataToProcessWarning:
                outputs = [SparkSubFeed(data_object_id=o, is_skipped=True) for o in action.output_ids]
            for sf in outputs:
                init_feeds[sf.data_object_id] = sf

    def _phase_exec(self, spark: SparkSession, completed_from_recovery: set[str]) -> None:
        order = self.dag.topological_order()
        exec_feeds: dict[str, SubFeed] = {}
        pending = set(order)
        done: set[str] = set()
        failed_upstream: set[str] = set()

        # auto-persist DataFrames consumed by more than one downstream action,
        # ref-counted, unpersisted when the last consumer finishes
        # (ActionPipelineContext.rememberDataFrameReuse:21-37 wired at
        # DataFrameActionImpl.scala:176-179,456-462,543-555). Without it a
        # fan-out edge recomputes/rescans the shared frame once per branch.
        consumer_count: dict[str, int] = {}
        for aid in order:
            if aid in completed_from_recovery:
                continue
            for in_id in self.dag.actions[aid].input_ids:
                consumer_count[in_id] = consumer_count.get(in_id, 0) + 1
        persisted: dict[str, Any] = {}
        persist_remaining: dict[str, int] = {}

        def _maybe_persist(sf: SubFeed) -> None:
            df = getattr(sf, "df", None)
            if (
                df is None
                or df.isStreaming
                or sf.data_object_id in persisted
                or consumer_count.get(sf.data_object_id, 0) < 2
            ):
                return
            from pyspark import StorageLevel

            sf.df = df.persist(StorageLevel.MEMORY_AND_DISK)
            persisted[sf.data_object_id] = sf.df
            persist_remaining[sf.data_object_id] = consumer_count[sf.data_object_id]

        def _release_inputs(aid: str) -> None:
            for in_id in self.dag.actions[aid].input_ids:
                if in_id in persist_remaining:
                    persist_remaining[in_id] -= 1
                    if persist_remaining[in_id] <= 0:
                        persisted.pop(in_id).unpersist()
                        del persist_remaining[in_id]

        def ready(aid: str) -> bool:
            return self.dag.upstream_actions(aid) <= done

        def run_action(aid: str) -> tuple[str, list[SubFeed] | Exception]:
            action = self.dag.actions[aid]
            action.execution_mode_state = dict(
                self.state.data_object_state.get(aid, {})
            )
            inputs = [self._input_subfeed(spark, action, i, exec_feeds) for i in action.input_ids]

            def _skipped(check_metrics: bool) -> list[SubFeed] | Exception:
                # a no-data skip reports ONLY the 'skipped' metric (never
                # stale counters from a previous run of the same Action
                # object) and its metricsFailCondition is evaluated against
                # it — a condition matching key='skipped' turns the skip into
                # a FAILURE (ActionDAGTest.scala:1202). Condition-based skips
                # (executionCondition false / input-skip propagation) do NOT
                # evaluate metricsFailCondition, matching the reference,
                # which fails only on NoDataToProcessWarning
                # (Action.scala postExec skip handling).
                for o in action.output_ids:
                    action.runtime_metrics[o] = {"skipped": True}
                if check_metrics:
                    try:
                        action.check_metrics_fail_condition()
                    except Exception as e:  # noqa: BLE001 — recorded as FAILED
                        return e
                return [SparkSubFeed(data_object_id=o, is_skipped=True) for o in action.output_ids]

            if not action.should_execute(inputs, spark):
                return aid, _skipped(check_metrics=False)
            from smart_data_lake_spark.runtime_data import RuntimeEvent, SDLExecutionId

            exec_id = SDLExecutionId(self.state.run_id, self.state.attempt_id)

            def _event(state: str) -> None:
                action.runtime_data.add_event(
                    exec_id,
                    RuntimeEvent(
                        ts=datetime.datetime.now(), phase="Exec", state=state
                    ),
                )

            try:
                t0 = time.time()
                _event("STARTED")
                outputs = action.exec(spark, inputs)
                action.runtime_metrics["duration_sec"] = round(time.time() - t0, 3)
                action.post_exec(spark, inputs, outputs)
                if action.execution_mode_state:
                    self.state.data_object_state[aid] = dict(action.execution_mode_state)
                _event("SUCCEEDED")
                return aid, outputs
            except NoDataToProcessWarning:
                _event("SKIPPED")
                return aid, _skipped(check_metrics=True)
            except Exception as e:  # noqa: BLE001 — recorded as FAILED in run state
                _event("FAILED")
                return aid, e

        with ThreadPoolExecutor(max_workers=max(1, self.parallelism)) as pool:
            futures: dict[Future, str] = {}
            while pending or futures:
                for aid in sorted(pending):
                    if aid in completed_from_recovery:
                        pending.discard(aid)
                        done.add(aid)
                        continue
                    if self.dag.upstream_actions(aid) & failed_upstream:
                        self.state.action_states[aid] = "CANCELLED"
                        pending.discard(aid)
                        done.add(aid)
                        failed_upstream.add(aid)
                        continue
                    if ready(aid):
                        pending.discard(aid)
                        futures[pool.submit(run_action, aid)] = aid
                if not futures:
                    continue
                finished, _ = wait(list(futures), return_when=FIRST_COMPLETED)
                for fut in finished:
                    aid = futures.pop(fut)
                    _, result = fut.result()
                    _release_inputs(aid)
                    if isinstance(result, Exception):
                        self.state.action_states[aid] = "FAILED"
                        self.state.action_metrics[aid] = {"error": str(result)}
                        failed_upstream.add(aid)
                    else:
                        skipped = all(sf.is_skipped for sf in result) and bool(result)
                        self.state.action_states[aid] = "SKIPPED" if skipped else "SUCCEEDED"
                        self.state.action_metrics[aid] = self.dag.actions[aid].runtime_metrics
                        self.result_subfeeds[aid] = result
                        for sf in result:
                            _maybe_persist(sf)
                            exec_feeds[sf.data_object_id] = sf
                    done.add(aid)
                    self._save_state()
                    self._notify_listeners(aid, spark)
        # branches cancelled by an upstream failure never consume their
        # inputs — release whatever is still pinned
        for do_id, df in list(persisted.items()):
            df.unpersist()
        persisted.clear()
        persist_remaining.clear()

    def _input_subfeed(
        self,
        spark: SparkSession,
        action: Action,
        do_id: str,
        feeds: dict[str, SubFeed],
        init_phase: bool = False,
    ) -> SubFeed:
        sf = feeds.get(do_id)
        if sf is not None:
            return sf
        return SparkSubFeed(
            data_object_id=do_id, partition_values=list(self.partition_values), is_dag_start=True
        )


def connected_nodes_forward(edges: set[tuple[str, str]], start: str) -> set[str]:
    """Transitive downstream closure incl. the start node
    (util/misc/GraphUtil.getConnectedNodesForward) — the reachability
    primitive behind feed-selection algebra (`startFromActionIds` etc.)."""
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    out, todo = {start}, [start]
    while todo:
        for nxt in adj.get(todo.pop(), ()):  # DFS, cycle-safe via the seen set
            if nxt not in out:
                out.add(nxt)
                todo.append(nxt)
    return out


def connected_nodes_reverse(edges: set[tuple[str, str]], start: str) -> set[str]:
    """Transitive upstream closure incl. the start node
    (GraphUtil.getConnectedNodesReverse)."""
    return connected_nodes_forward({(b, a) for a, b in edges}, start)
