"""Action base classes — the generic execution skeleton.

Reference: `workflow/action/Action.scala:44-421` (lifecycle
prepare/init/exec + executionCondition + metricsFailCondition),
`workflow/action/ActionSubFeedsImpl.scala:43-379` (main-input election :83,
execution-mode application :96-118, write loop with metrics & NoData handling
:147-189) and `workflow/action/DataFrameActionImpl.scala:47-556` (DataFrame
specifics: dummy-DF init phase :212-223, persist handling :176-179, streaming
write :410-477).

Phases (SURVEY §3.1):
  prepare — connection/existence checks, config validation
  init    — build the full Spark lineage WITHOUT executing, so schema errors
            surface before any write (Catalyst analysis is the validator)
  exec    — apply execution mode, transform, write, collect metrics
"""

from __future__ import annotations

import abc
import datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from smart_data_lake_spark.config import InstanceRegistry
from smart_data_lake_spark.dataobjects.base import (
    CanCreateDataFrame,
    CanCreateStreamingDataFrame,
    CanHandlePartitions,
    CanMergeDataFrame,
    CanWriteDataFrame,
    CanWriteStreamingDataFrame,
    DataObject,
)
from smart_data_lake_spark.execution_modes import (
    ExecutionMode,
    ExecutionModeResult,
    SparkStreamingMode,
)
from smart_data_lake_spark.expectations import (
    Constraint,
    Expectation,
    apply_constraints,
    compute_scope_all_metrics,
    setup_observation,
    validate_expectations,
)
from smart_data_lake_spark.partitions import PartitionValues, project_partition_values
from smart_data_lake_spark.save_modes import SaveMode
from smart_data_lake_spark.subfeed import SparkSubFeed
from smart_data_lake_spark.transformers.df_transformers import DfTransformer


class NoDataToProcessWarning(Exception):
    """Raised when an execution mode finds nothing to do; the DAG converts
    this into skipped output subfeeds (Action.scala:189-207)."""

    def __init__(self, action_id: str, msg: str = "no data to process"):
        super().__init__(f"({action_id}) {msg}")
        self.action_id = action_id


class Action(abc.ABC):
    def __init__(
        self,
        id: str,
        registry: InstanceRegistry | None = None,
        execution_condition: Any = None,  # callable: list[SparkSubFeed] -> bool
        metrics_fail_condition: Any = None,  # callable: dict -> str | None
        metadata: dict[str, Any] | None = None,
        input_ids: list[str] | None = None,
        output_ids: list[str] | None = None,
    ) -> None:
        self.id = id
        # the DataObjects this action reads and writes: the DAG's edges run
        # from the writer of a DataObject to each of its readers
        self.input_ids = list(input_ids or [])
        self.output_ids = list(output_ids or [])
        self.registry = registry
        self.execution_condition = execution_condition
        self.metrics_fail_condition = metrics_fail_condition
        self.metadata = metadata or {}
        self.runtime_metrics: dict[str, Any] = {}
        # per-execution event/metric history (RuntimeData.scala); streaming
        # actions swap in AsynchronousRuntimeData during init
        from smart_data_lake_spark.runtime_data import SynchronousRuntimeData

        self.runtime_data = SynchronousRuntimeData(10)
        if registry is not None and id not in registry.actions:
            registry.register_action(self)

    @property
    def main_input_id(self) -> str:
        return self.input_ids[0]

    @property
    def main_output_id(self) -> str:
        return self.output_ids[0]

    def _do(self, do_id: str) -> DataObject:
        assert self.registry is not None, f"({self.id}) registry not set"
        return self.registry.get_data_object(do_id)

    # lifecycle ---------------------------------------------------------
    def prepare(self, spark: SparkSession) -> None:
        for do_id in self.input_ids + self.output_ids:
            self._do(do_id).prepare(spark)

    @abc.abstractmethod
    def init(self, spark: SparkSession, subfeeds: list[SparkSubFeed]) -> list[SparkSubFeed]:
        ...

    @abc.abstractmethod
    def exec(self, spark: SparkSession, subfeeds: list[SparkSubFeed]) -> list[SparkSubFeed]:
        ...

    def post_exec(self, spark: SparkSession, inputs: list[SparkSubFeed], outputs: list[SparkSubFeed]) -> None:
        # release per-run resources held by this action's data objects
        # (AuthMode.close() after exec — AuthMode.scala:45-49): token caches,
        # custom auth sockets. Subclasses overriding post_exec should call
        # super().post_exec(...)
        for do_id in self.input_ids + self.output_ids:
            do = self._do(do_id)
            cleanup = getattr(do, "post_exec_cleanup", None)
            if cleanup is not None:
                cleanup()

    def should_execute(self, subfeeds: list[SparkSubFeed], spark: SparkSession | None = None) -> bool:
        """Default: skip if any input is skipped (Action.scala:189-207).

        `execution_condition` overrides the default: a callable gets the
        input subfeeds; a string is a Spark-SQL boolean expression over the
        reference's SubFeedsExpressionData (Condition.scala /
        ActionDAGTest.scala:1003 `executionCondition = Condition("true")`):
        `inputIsSkipped` plus an `inputSubFeeds` array of structs
        (dataObjectId, isSkipped, isDAGStart).
        """
        if self.execution_condition is not None:
            if callable(self.execution_condition):
                return bool(self.execution_condition(subfeeds))
            return self._eval_condition_expr(str(self.execution_condition), subfeeds, spark)
        return not any(sf.is_skipped for sf in subfeeds)

    @staticmethod
    def _eval_condition_expr(
        expr: str, subfeeds: list[SparkSubFeed], spark: SparkSession | None = None
    ) -> bool:
        from pyspark.sql import functions as F

        spark = spark or SparkSession.getActiveSession()
        assert spark is not None, "executionCondition expression needs an active SparkSession"
        rows = [
            {
                "dataObjectId": sf.data_object_id,
                "isSkipped": bool(sf.is_skipped),
                "isDAGStart": bool(getattr(sf, "is_dag_start", False)),
            }
            for sf in subfeeds
        ]
        ctx = spark.createDataFrame(
            [(any(r["isSkipped"] for r in rows), rows)],
            "inputIsSkipped boolean, inputSubFeeds array<struct<dataObjectId:string,isSkipped:boolean,isDAGStart:boolean>>",
        )
        row = ctx.select(F.expr(expr).cast("boolean").alias("r")).collect()[0]
        return bool(row["r"])

    def check_metrics_fail_condition(self) -> None:
        if self.metrics_fail_condition is not None:
            msg = self.metrics_fail_condition(self.runtime_metrics)
            if msg:
                raise RuntimeError(f"({self.id}) metricsFailCondition: {msg}")

    def __repr__(self) -> str:  # pragma: no cover
        return f"{type(self).__name__}(id={self.id!r})"


class DataFrameAction(Action):
    """Base for actions flowing DataFrames (DataFrameActionImpl.scala:47).

    Subclasses implement `transform(spark, dfs) -> dict[output_id, DataFrame]`.
    """

    def __init__(
        self,
        id: str,
        registry: InstanceRegistry | None = None,
        execution_mode: ExecutionMode | None = None,
        break_dataframe_lineage: bool = False,
        persist: bool = False,
        constraints: list[Constraint] | None = None,
        expectations: list[Expectation] | None = None,
        save_mode: SaveMode | str | None = None,
        merge_options: Any = None,
        checkpoint_location: str | None = None,
        input_ids_to_ignore_filter: list[str] | None = None,
        streaming_input_ids: list[str] | None = None,
        no_data_check: bool = False,
        **kwargs: Any,
    ) -> None:
        super().__init__(id=id, registry=registry, **kwargs)
        self.execution_mode = execution_mode
        # Environment.enableSparkPlanNoDataCheck (CopyActionTest 'detect
        # no-data rowCount=0 from SparkPlan'): when enabled, an output frame
        # that evaluates to zero rows raises NoDataToProcessWarning BEFORE
        # anything is written, so downstream skips instead of receiving an
        # empty write. Opt-in here (the reference's global default is on)
        # because the DAG semantics also support empty writes without
        # exception (ActionDAGTest:1264) — a pipeline picks one contract.
        self.no_data_check = no_data_check
        # populated per-exec from the execution mode's result options
        self.mode_options: dict[str, Any] = {}
        self.break_dataframe_lineage = break_dataframe_lineage
        # Under SparkStreamingMode the reference reads EVERY input that
        # implements CanCreateStreamingDataFrame as a stream
        # (DataFrameActionImpl.scala:160-176; ActionDAGTest.scala:881 'union
        # 2 streams'). Here the default is main-input-only — the stream-
        # static enrichment pattern stays the cheap default — and multi-
        # stream DAGs opt in by listing the streaming inputs explicitly.
        self.streaming_input_ids = streaming_input_ids
        # DataFrameActionImpl.inputIdsToIgnoreFilter: these inputs receive
        # the FULL data even when the run carries partition-value filters
        # (the lookup-table-next-to-a-filtered-fact pattern); validated
        # against input_ids because a typo would otherwise SILENTLY apply
        # the filter to the input meant to be exempt
        self.input_ids_to_ignore_filter = input_ids_to_ignore_filter or []
        # (validated against input_ids in _enrich_inputs)
        self.persist = persist
        self.constraints = constraints or []
        self.expectations = expectations or []
        self.save_mode = SaveMode(save_mode) if save_mode is not None else None
        self.merge_options = merge_options  # SaveModeMergeOptions for MERGE writes
        self.checkpoint_location = checkpoint_location
        self.execution_mode_state: dict[str, Any] = {}
        self.streaming_queries: dict[str, Any] = {}  # out_id → StreamingQuery handle
        # out_id → {query_name, checkpoint, trigger_type}: persisted into run
        # state so a restarted builder can reconcile orphaned checkpoints
        # (SmartDataLakeBuilder.scala:566-648 streaming run management)
        self.streaming_descriptors: dict[str, dict[str, str]] = {}

    @abc.abstractmethod
    def transform(self, spark: SparkSession, dfs: dict[str, DataFrame]) -> dict[str, DataFrame]:
        ...

    # ------------------------------------------------------------------ init
    def init(self, spark, subfeeds):
        dfs = self._enrich_inputs(spark, subfeeds, phase="init")
        outputs = self.transform(spark, dfs)
        out_subfeeds = []
        for out_id in self.output_ids:
            df = outputs[out_id]
            out_do = self._do(out_id)
            if isinstance(out_do, CanWriteDataFrame):
                out_do.init_write(df)
            out_subfeeds.append(SparkSubFeed(data_object_id=out_id, df=df, is_dummy=True))
        return out_subfeeds

    # ------------------------------------------------------------------ exec
    def exec(self, spark, subfeeds):
        by_id = {sf.data_object_id: sf for sf in subfeeds}
        mode_result = self._apply_execution_mode(spark, by_id)
        if mode_result is not None and mode_result.no_data:
            raise NoDataToProcessWarning(self.id)

        dfs = self._enrich_inputs(spark, subfeeds, phase="exec", mode_result=mode_result)
        # executionModeResultOptions (CustomDataFrameActionTest 'custom
        # execution mode result options'): a custom mode's options become
        # transformer options for this run
        self.mode_options = dict(mode_result.options) if mode_result else {}
        outputs = self.transform(spark, dfs)

        out_subfeeds: list[SparkSubFeed] = []
        if self.no_data_check:
            # MAIN output only (CustomDataFrameActionTest 'ignore no-data
            # warning from SparkPlan if not main output'): an empty side
            # output is written empty, not skipped
            main_out = outputs.get(self.main_output_id)
            if main_out is not None and not main_out.isStreaming and main_out.isEmpty():
                # rowCount=0 detected before any write happens — nothing
                # reaches the target and downstream actions skip
                raise NoDataToProcessWarning(self.id, "output row count is 0")
        for out_id in self.output_ids:
            df = outputs[out_id]
            out_do = self._do(out_id)
            if df.isStreaming:
                out_subfeeds.append(self._write_streaming(spark, df, out_do, out_id))
                continue
            # expectations/constraints attach on the action AND on the output
            # DataObject (ExpectationValidation: the writing action validates
            # the object's own rules with its write metrics)
            exps = self.expectations + list(getattr(out_do, "expectations", []) or [])
            df = apply_constraints(
                df, self.constraints + list(getattr(out_do, "constraints", []) or [])
            )
            from smart_data_lake_spark.expectations import compute_unobservable_job_metrics

            # an exact count distinct cannot ride the write observation and
            # needs its own job: run it BEFORE the write, because a merge's
            # atomic rewrite replaces the files this plan reads, and before
            # the observation is attached, so the observation still measures
            # the write
            unobservable = compute_unobservable_job_metrics(df, exps)
            df, obs = setup_observation(df, exps, f"{self.id}_{out_id}")
            if self.persist:
                df = df.persist()
            pvs = (mode_result.output_partition_values if mode_result else None) or []
            # transformers may REMAP partition values input→output (date →
            # month aggregation etc. — GenericDfTransformerDef
            # .transformPartitionValues, CopyActionTest 'date to month
            # aggregation with partition value transformation'): the OUTPUT
            # side sees the mapped values; the input read above used the
            # originals
            if pvs:
                pvs = self._transform_partition_values(pvs)
            # reduce mode pvs to the WRITTEN object's declared partitions
            # (with alternative_output_id the diff keys can be foreign to the
            # direct output — an unreduced pv would aim delete_partitions at
            # non-existent hive paths and corrupt OverwriteOptimized)
            pvs = project_partition_values(pvs, getattr(out_do, "partitions", []) or [])
            assert isinstance(out_do, CanWriteDataFrame), f"({self.id}) {out_id} is not writable"
            merge = {"merge_options": self.merge_options} if self.save_mode == SaveMode.MERGE else {}
            metrics = out_do.write_dataframe(df, pvs, self.save_mode, **merge)
            obs_metrics = {}
            if obs is not None:
                try:
                    obs_metrics = dict(obs.get)
                except Exception:
                    # Spark 4 Observation.get can fail when AQE rewrites the
                    # observed node (e.g. the empty source side of a merge
                    # join); the DO's own write metrics remain authoritative
                    obs_metrics = {}
            metrics = {**obs_metrics, **metrics}
            if "count" not in metrics and "records_written" in metrics:
                metrics["count"] = metrics["records_written"]
            metrics["n_partitions"] = len(pvs) if pvs else None
            if isinstance(out_do, CanCreateDataFrame):
                metrics.update(compute_scope_all_metrics_lazy(out_do, spark, exps))
                metrics.update(self._job_partition_metrics(out_do, spark, pvs, exps))
            metrics.update(unobservable)
            metrics.update(self._action_level_input_metrics(spark, dfs))
            if getattr(out_do, "housekeeping_mode", None) is not None:
                metrics.update(out_do.housekeeping_mode.post_write(spark, out_do))
            self.runtime_metrics[out_id] = metrics
            warnings = validate_expectations(exps, metrics)
            from smart_data_lake_spark.expectations import validate_job_partition_expectations

            warnings += validate_job_partition_expectations(exps, metrics)
            for w in warnings:
                print(f"WARN ({self.id}/{out_id}): {w}")
            sf = SparkSubFeed(data_object_id=out_id, partition_values=pvs, metrics=metrics)
            # re-read from storage for downstream lineage (breakLineage after
            # write, DataFrameActionImpl.scala:53-64) — the written table is
            # the new source of truth and keeps plans short
            if isinstance(out_do, CanCreateDataFrame):
                sf = sf.with_df(out_do.get_dataframe(spark, pvs or None))
            out_subfeeds.append(sf)

        if self.execution_mode is not None:
            # same output resolution as _apply_execution_mode: apply() and
            # post_exec() must see the SAME object when alternative_output_id
            # redirects the mode's comparison target
            mode_out_id = (
                getattr(self.execution_mode, "alternative_output_id", None)
                or self.main_output_id
            )
            self.execution_mode.post_exec(
                spark, self._do(self.main_input_id), self._do(mode_out_id), self.execution_mode_state
            )
        # post-read lifecycle on inputs AFTER the exec reads have actually
        # been consumed by the writes above (DataObject.postRead — e.g. a
        # JDBC postReadSql archiving processed rows must not run while the
        # lazy read is still pending)
        for in_id in self.input_ids:
            in_do = self._do(in_id)
            hook = getattr(in_do, "post_read", None)
            if hook is not None:
                hook(spark, [])
        self.check_metrics_fail_condition()
        return out_subfeeds

    # ----------------------------------------------------------------- utils
    def _apply_execution_mode(self, spark, by_id) -> ExecutionModeResult | None:
        if self.execution_mode is None:
            return None
        main_sf = by_id.get(self.main_input_id)
        # PartitionDiffMode.alternativeOutputId: completeness is defined by
        # another object's partitions (e.g. the final table two hops down)
        out_id = (
            getattr(self.execution_mode, "alternative_output_id", None)
            or self.main_output_id
        )
        if (
            getattr(self.execution_mode, "apply_partition_values_transform", False)
            and getattr(self.execution_mode, "partition_values_transform", None) is None
        ):
            # inject the transformer chain's pv mapping into the mode so its
            # diff runs in the output's partition grain
            self.execution_mode.partition_values_transform = self._transform_partition_values
        return self.execution_mode.apply(
            spark,
            self._do(self.main_input_id),
            self._do(out_id),
            main_sf.partition_values if main_sf else [],
            self.execution_mode_state,
        )

    def _transform_partition_values(self, pvs: list[PartitionValues]) -> list[PartitionValues]:
        """Map partition values through the transformer chain's
        transform_partition_values hooks, input grain → output grain."""
        for t in getattr(self, "transformers", None) or []:
            mapper = getattr(t, "transform_partition_values", None)
            if mapper is not None:
                pvs = list(mapper(pvs))
        return pvs

    def _read_existing(self, spark: SparkSession, do_id: str) -> DataFrame | None:
        """The DataObject's current data, or None while it does not exist."""
        do = self._do(do_id)
        if getattr(do, "exists", lambda s: False)(spark):
            return do.get_dataframe(spark)  # type: ignore[attr-defined]
        return None

    def _enrich_inputs(
        self,
        spark: SparkSession,
        subfeeds: list[SparkSubFeed],
        phase: str,
        mode_result: ExecutionModeResult | None = None,
    ) -> dict[str, DataFrame]:
        """Fresh DataFrame per input (DataFrameActionImpl.enrichSubFeedDataFrame
        :157-225): in exec we always re-read from the DataObject unless the
        subfeed carries a usable frame; execution-mode partition values and
        filters are applied to the main input."""
        unknown = set(self.input_ids_to_ignore_filter) - set(self.input_ids)
        if unknown:
            raise ValueError(
                f"({self.id}) inputIdsToIgnoreFilter entries {sorted(unknown)} are "
                f"not inputs of this action (inputs: {list(self.input_ids)})"
            )
        # same typo-guard as above: a misspelled streaming input would fall
        # back to a FULL batch re-read each run and silently duplicate rows
        # under an append sink
        unknown_stream = set(self.streaming_input_ids or []) - set(self.input_ids)
        if unknown_stream:
            raise ValueError(
                f"({self.id}) streamingInputIds entries {sorted(unknown_stream)} are "
                f"not inputs of this action (inputs: {list(self.input_ids)})"
            )
        by_id = {sf.data_object_id: sf for sf in subfeeds}
        dfs: dict[str, DataFrame] = {}
        streaming = isinstance(self.execution_mode, SparkStreamingMode) and phase == "exec"
        for in_id in self.input_ids:
            in_do = self._do(in_id)
            sf = by_id.get(in_id)
            pvs = list(sf.partition_values) if sf else []
            if mode_result is not None and in_id == self.main_input_id and mode_result.input_partition_values:
                pvs = mode_result.input_partition_values
            if in_id in self.input_ids_to_ignore_filter:
                pvs = []  # inputIdsToIgnoreFilter: full data for this input
            # partition values only ever filter a DataObject's DECLARED
            # partition columns (SubFeed.updatePartitionValues semantics):
            # an unpartitioned input ignores run-level pv filters entirely,
            # and pv entries are reduced to the input's partition columns
            do_parts = list(getattr(in_do, "partitions", []) or [])
            pvs = project_partition_values(pvs, do_parts)
            # fail on reading a MISSING partition (CopyActionTest:530,
            # DataObject.assertPartitionsExisting): enforced only when
            # the pv keys form an INIT (prefix) of the declared partition
            # columns — a non-prefix pv set (e.g. only the 2nd column)
            # cannot be checked against hive paths and passes through
            if phase == "exec" and isinstance(in_do, CanHandlePartitions):
                existing = None
                for pv in pvs:
                    keys = set(pv.as_dict)
                    # PartitionValues stores keys sorted — compare as a
                    # SET against the leading partition columns
                    if keys != set(do_parts[: len(keys)]):
                        continue  # not an init of the partition columns
                    if existing is None:
                        existing = in_do.list_partitions(spark)
                    prefix_match = any(
                        all(str(e.as_dict.get(k)) == str(v) for k, v in pv.as_dict.items())
                        for e in existing
                    )
                    if not prefix_match:
                        raise AssertionError(
                            f"({self.id}) partition {pv.as_dict} does not exist in {in_id}"
                        )
            streaming_mode = isinstance(self.execution_mode, SparkStreamingMode)
            stream_ids = self.streaming_input_ids or [self.main_input_id]
            if (
                (streaming or streaming_mode)
                and self.streaming_input_ids
                and in_id in self.streaming_input_ids
                and not isinstance(in_do, CanCreateStreamingDataFrame)
            ):
                # an EXPLICITLY listed streaming input that cannot stream
                # must fail loudly: silently falling back to a full batch
                # re-read every micro-batch duplicates rows under an append
                # sink (same contract as the id-typo guard above)
                raise ValueError(
                    f"streaming_input_ids lists '{in_id}' but "
                    f"{type(in_do).__name__} cannot create a streaming DataFrame"
                )
            if streaming and in_id in stream_ids and isinstance(in_do, CanCreateStreamingDataFrame):
                df = in_do.get_streaming_dataframe(spark)
            elif (
                streaming_mode
                and phase == "init"
                and in_id in stream_ids
                and isinstance(in_do, CanCreateStreamingDataFrame)
            ):
                # init must not consume the real source (no offsets, no
                # state): validate lineage on a schema-only streaming frame
                # (DummyStreamProvider, DataFrameActionImpl.scala:171-174).
                # Schema priority: the upstream subfeed's frame (a chained
                # streaming action's intermediate storage has no files yet —
                # the subfeed is the ONLY schema source), then the DO's
                # declared/persisted schema, then a batch schema read.
                schema = None
                if sf is not None and sf.df is not None:
                    schema = sf.df.schema
                if schema is None and isinstance(in_do, CanCreateDataFrame):
                    schema = (
                        in_do.create_read_schema(spark)
                        if hasattr(in_do, "create_read_schema")
                        else None
                    ) or getattr(in_do, "resolve_schema", lambda s: None)(spark)
                if schema is None:
                    assert isinstance(in_do, CanCreateDataFrame), f"({self.id}) {in_id} needs a schema"
                    schema = in_do.get_dataframe(spark, pvs or None).schema
                # the exec-phase stream read appends the DO's filenameColumn
                # after the scan — the init dummy must carry it too or a
                # transformer selecting it fails Catalyst analysis in init
                fn_col = getattr(in_do, "filename_column", None)
                if fn_col and fn_col not in schema.fieldNames():
                    import pyspark.sql.types as T

                    schema = T.StructType(
                        list(schema.fields) + [T.StructField(fn_col, T.StringType())]
                    )
                from smart_data_lake_spark.streaming import dummy_streaming_df

                df = dummy_streaming_df(spark, schema)
            elif sf is not None and sf.df is not None and phase == "init" and self.break_dataframe_lineage:
                # breakDataframeLineage: don't pass the upstream frame on.
                # In init the storage may not exist yet — validate lineage on
                # an empty dummy (DataFrameActionImpl.scala:212-223 dummy-DF
                # init phase); exec falls through to a fresh storage read
                # below. The dummy's schema is the DataObject's READ schema
                # when it declares one (a read may differ from what upstream
                # produced, e.g. filenameColumn — ActionDAGTest.scala:169),
                # else the upstream frame's schema.
                schema = None
                if isinstance(in_do, CanCreateDataFrame) and hasattr(in_do, "create_read_schema"):
                    schema = in_do.create_read_schema(spark)
                df = spark.createDataFrame([], schema or sf.df.schema)
            elif sf is not None and sf.df is not None and (phase == "init" or not sf.is_dummy) and not self.break_dataframe_lineage:
                df = sf.df
                if pvs:
                    from smart_data_lake_spark.partitions import apply_partition_filter

                    df = apply_partition_filter(df, pvs)
            else:
                assert isinstance(in_do, CanCreateDataFrame), f"({self.id}) {in_id} is not readable"
                if getattr(in_do, "supports_phase", False):
                    # phase-aware sources (JMS: consuming during init would
                    # lose the messages before exec — JmsDataObject.scala:74)
                    df = in_do.get_dataframe(spark, pvs or None, phase=phase)
                else:
                    df = in_do.get_dataframe(spark, pvs or None)
            if mode_result is not None and in_id == self.main_input_id and mode_result.filter is not None:
                from pyspark.sql import functions as F

                flt = mode_result.filter
                df = df.where(F.expr(flt) if isinstance(flt, str) else flt)
            if (
                phase == "exec"
                and not df.isStreaming
                and self.registry is not None
                and getattr(in_do, "expectations", None)
                and self.registry.should_validate_data_object_on_read(in_id)
            ):
                # ValidateOnRead: a pure source's own expectations fire on the
                # read side — objects some action WRITES are validated there
                # instead (ValidateOnReadTest; one extra aggregate over what
                # is being read anyway, no second scan of anything else)
                from smart_data_lake_spark.expectations import (
                    compute_read_metrics,
                    validate_expectations as _validate,
                )

                read_metrics = compute_read_metrics(df, in_do.expectations)
                for w in _validate(in_do.expectations, read_metrics):
                    print(f"WARN ({self.id}/{in_id} read): {w}")
            dfs[in_id] = df
        return dfs

    def transformer_context(self, input_id: str, output_id: str) -> dict:
        """Context options every transformer run gets regardless of the
        action class: the input id (SQL view-name tokens) and the OUTPUT
        table's primary key (DeduplicateTransformer pk detection). Merged
        BELOW mode options so an execution mode can override."""
        ctx: dict = {"input_id": input_id}
        try:
            out_do = self._do(output_id)
            pk = getattr(getattr(out_do, "table", None), "primary_key", None)
            if pk:
                ctx["output_primary_key"] = list(pk)
        except Exception:  # noqa: BLE001 — registry-less unit usage
            pass
        return ctx

    def _job_partition_metrics(self, out_do, spark, pvs, expectations=None):
        from smart_data_lake_spark.expectations import ExpectationScope, compute_job_partition_metrics

        exps = expectations if expectations is not None else self.expectations
        if not any(e.scope == ExpectationScope.JOB_PARTITION for e in exps):
            return {}
        partition_cols = list(getattr(out_do, "partitions", []) or [])
        if not partition_cols and pvs:
            partition_cols = list(pvs[0].keys)
        df = out_do.get_dataframe(spark, pvs or None)
        return compute_job_partition_metrics(df, exps, partition_cols)

    def _action_level_input_metrics(self, spark, dfs):
        """Input-side counts for action-level Completeness/TransferRate
        expectations — an extra count job on the (filtered) main input, run
        only when such an expectation is configured (the reference harvests
        this from stage metrics; observation-free count keeps it simple)."""
        from smart_data_lake_spark.expectations import CompletenessExpectation, TransferRateExpectation

        metrics = {}
        if any(isinstance(e, TransferRateExpectation) for e in self.expectations):
            metrics["records_read"] = dfs[self.main_input_id].count()
        if any(isinstance(e, CompletenessExpectation) for e in self.expectations):
            in_do = self._do(self.main_input_id)
            if isinstance(in_do, CanCreateDataFrame):
                metrics["input_count_all"] = in_do.get_dataframe(spark).count()
        return metrics

    def _write_streaming(self, spark, df, out_do, out_id) -> SparkSubFeed:
        mode = self.execution_mode
        assert isinstance(mode, SparkStreamingMode), "streaming output requires SparkStreamingMode"
        assert isinstance(out_do, CanWriteStreamingDataFrame), f"({self.id}) {out_id} can't write streams"
        checkpoint = mode.checkpoint_location or self.checkpoint_location or f"/tmp/sdl_checkpoints/{self.id}"
        self.streaming_descriptors[out_id] = {
            "query_name": self.id,
            "checkpoint": checkpoint,
            "trigger_type": mode.trigger_type,
        }
        if mode.trigger_type not in ("once", "availableNow"):
            # a restarted builder run re-attaches to a continuous query that is
            # still active under this action's name instead of failing with
            # "query with that name is already active"
            # (SmartDataLakeBuilder.scala:566-648 streaming run management)
            for active in spark.streams.active:
                if active.name == self.id:
                    self.streaming_queries[out_id] = active
                    from smart_data_lake_spark.streaming import get_streaming_listener

                    self.streaming_listener = get_streaming_listener(spark)
                    return SparkSubFeed(
                        data_object_id=out_id, metrics=self.runtime_metrics.get(out_id, {})
                    )
        query = out_do.write_streaming_dataframe(
            df, mode.trigger(), checkpoint, mode.output_mode, query_name=self.id
        )
        # async continuous queries (processingTime trigger) keep running after
        # exec returns; the handle is kept for management/stop, and a shared
        # StreamingQueryListener accumulates per-batch metrics
        # (DataFrameActionImpl.scala:410-477 async streaming)
        self.streaming_queries[out_id] = query
        if mode.trigger_type not in ("once", "availableNow"):
            from smart_data_lake_spark.streaming import get_streaming_listener

            self.streaming_listener = get_streaming_listener(spark)
        if mode.trigger_type in ("once", "availableNow"):
            query.awaitTermination()
            progress = query.recentProgress

            def _rows(p) -> int:  # dict in older pyspark, object in newer
                v = p.get("numInputRows", 0) if isinstance(p, dict) else getattr(p, "numInputRows", 0)
                return int(v or 0)

            self.runtime_metrics[out_id] = {
                "streaming_batches": len(progress),
                # per-query progress counters — the python-side equivalent of
                # the reference's StreamingQueryListener metrics
                "records_written": sum(_rows(p) for p in progress),
            }
        return SparkSubFeed(data_object_id=out_id, metrics=self.runtime_metrics.get(out_id, {}))


class KeyedOutputAction(DataFrameAction):
    """Base of the actions maintaining a table keyed by its output's primary
    key (Historize, Deduplicate). With `merge_mode_enable` they upsert through
    SaveMode.MERGE, so the output must support it: an overwrite of only the
    new and changed rows would drop every unchanged key."""

    def __init__(
        self,
        id: str,
        input_id: str,
        output_id: str,
        transformers: list[DfTransformer] | None = None,
        merge_mode_enable: bool = False,
        reference_timestamp: datetime.datetime | None = None,
        **kwargs: Any,
    ) -> None:
        super().__init__(id=id, input_ids=[input_id], output_ids=[output_id], **kwargs)
        self.transformers = transformers or []
        self.merge_mode_enable = merge_mode_enable
        self.reference_timestamp = reference_timestamp
        self._validate_pk_early()

    def _validate_pk_early(self) -> None:
        """Fail at CONSTRUCTION when the output table declares no primary key
        (HistorizeActionTest/DeduplicateActionTest 'early validation that
        output primary key exists' — the reference intercepts at the
        constructor, not first exec). Only enforced when the registry can
        already resolve the output; config-driven construction always can."""
        try:
            out_do = self._do(self.main_output_id)
        except Exception:  # noqa: BLE001 — DO registered later: exec re-checks
            return
        table = getattr(out_do, "table", None)
        if table is not None and not table.primary_key:
            raise ValueError(
                f"({self.id}) output table of {type(self).__name__} needs a primary key"
            )

    def _pks(self) -> list[str]:
        table = getattr(self._do(self.main_output_id), "table", None)
        if table is None or not table.primary_key:
            raise ValueError(f"({self.id}) output DataObject needs a primary key")
        return table.primary_key

    def exec(self, spark, subfeeds):
        if self.merge_mode_enable:
            if not isinstance(self._do(self.main_output_id), CanMergeDataFrame):
                raise ValueError(
                    f"({self.id}) merge_mode_enable requires an output supporting SaveMode.MERGE"
                )
            self.save_mode = SaveMode.MERGE
        return super().exec(spark, subfeeds)


def compute_scope_all_metrics_lazy(out_do, spark, expectations) -> dict[str, Any]:
    from smart_data_lake_spark.expectations import ExpectationScope

    if not any(e.scope == ExpectationScope.ALL for e in expectations):
        return {}
    return compute_scope_all_metrics(out_do.get_dataframe(spark), expectations)


def now_utc() -> datetime.datetime:
    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
