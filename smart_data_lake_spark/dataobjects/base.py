"""DataObject base + capability protocols.

Reference: `workflow/dataobject/DataObject.scala:36-150` (root trait with
prepare/preRead/postRead/preWrite/postWrite hooks) and the capability traits
surveyed in SURVEY.md §2.4: CanCreateDataFrame, CanWriteDataFrame,
CanCreateStreamingDataFrame, CanMergeDataFrame, CanHandlePartitions,
CanCreateIncrementalOutput, SchemaValidation, Table
(`dataobject/Table.scala:50-64`).

In Python these are abstract mixins; `isinstance` checks replace Scala trait
matching.
"""

from __future__ import annotations

import abc
from dataclasses import dataclass, field
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from smart_data_lake_spark.partitions import PartitionValues
from smart_data_lake_spark.save_modes import SaveMode, SaveModeMergeOptions


class SchemaViolationError(Exception):
    pass


@dataclass
class Table:
    """Catalog table identity + primary key (Table.scala:50-64)."""

    name: str
    db: str | None = None
    primary_key: list[str] | None = None

    @property
    def full_name(self) -> str:
        return f"{self.db}.{self.name}" if self.db else self.name

    @classmethod
    def of(cls, spec: "Table | dict") -> "Table":
        """Accept config dicts in either camelCase (HOCON-style, e.g.
        primaryKey) or snake_case."""
        if isinstance(spec, Table):
            return spec
        import re

        def snake(n: str) -> str:
            return re.sub(r"(?<!^)(?=[A-Z])", "_", n).lower()

        return cls(**{snake(k): v for k, v in spec.items()})


class DataObject(abc.ABC):
    """Named location/format of data with lifecycle hooks."""

    def __init__(
        self,
        id: str,
        schema_min: T.StructType | str | None = None,
        metadata: dict[str, Any] | None = None,
        housekeeping_mode: Any = None,
        expectations: list[Any] | None = None,
        constraints: list[Any] | None = None,
    ) -> None:
        self.id = id
        self.schema_min = _parse_schema(schema_min)
        self.metadata = metadata or {}
        # PartitionRetentionMode / PartitionArchiveCompactionMode, run after
        # each successful write (DataObject.scala housekeepingMode hook)
        self.housekeeping_mode = housekeeping_mode
        # DataObject-attached quality rules (ExpectationValidation.scala):
        # validated with the writing action's metrics, or ON READ when no
        # action writes this object (it is a pure source — ValidateOnRead)
        self.expectations = expectations or []
        self.constraints = constraints or []

    # -- lifecycle hooks (DataObject.scala:74-150) --
    def prepare(self, spark: SparkSession) -> None:
        """Existence/connection checks before the DAG runs."""

    def get_stats(self, spark: SparkSession, update: bool = False) -> dict[str, Any]:
        """Cheap metadata statistics (DataObject.scala:143 getStats) —
        catalogs/UIs call this; implementations must stay metadata-only
        (file listings, parquet footers, catalog rows), never scan data.
        `update` asks table objects to refresh engine statistics (ANALYZE)
        when stale."""
        return {}

    def pre_read(self, spark: SparkSession, partition_values: list[PartitionValues]) -> None:
        pass

    def post_read(self, spark: SparkSession, partition_values: list[PartitionValues]) -> None:
        pass

    def pre_write(self, spark: SparkSession) -> None:
        pass

    def post_write(self, spark: SparkSession, partition_values: list[PartitionValues]) -> None:
        pass

    # -- contravariant schema validation (dataobject/SchemaValidation.scala) --
    def validate_schema_min(self, df: DataFrame, role: str) -> None:
        if self.schema_min is None:
            return
        actual = {f.name.lower(): f.dataType for f in df.schema.fields}
        missing = [f.name for f in self.schema_min.fields if f.name.lower() not in actual]
        if missing:
            raise SchemaViolationError(
                f"({self.id}) schemaMin violation on {role}: missing columns {missing}"
            )
        # a present column with the wrong type is as much a violation as an
        # absent one (SchemaValidation.validateSchemaMin → SchemaUtil.isSubSchema
        # type equality, reference SparkFileDataObjectSchemaBehavior:198,339).
        # Nullability is IGNORED at every nesting level — the reference's
        # comparison strips it (HiveTableSchemaViolationTest:61,138)
        mismatched = [
            f"{f.name}: expected {f.dataType.simpleString()}, got {actual[f.name.lower()].simpleString()}"
            for f in self.schema_min.fields
            if _strip_nullability(actual[f.name.lower()]) != _strip_nullability(f.dataType)
        ]
        if mismatched:
            raise SchemaViolationError(
                f"({self.id}) schemaMin violation on {role}: type mismatch {mismatched}"
            )

    def __repr__(self) -> str:  # pragma: no cover
        return f"{type(self).__name__}(id={self.id!r})"


class CanCreateDataFrame(abc.ABC):
    """Readable as a batch DataFrame (CanCreateDataFrame.scala:57)."""

    @abc.abstractmethod
    def get_dataframe(
        self, spark: SparkSession, partition_values: list[PartitionValues] | None = None
    ) -> DataFrame:
        ...

    def create_read_schema(self, spark: SparkSession) -> T.StructType | None:
        """Schema available without reading data, if known."""
        return None


class CanWriteDataFrame(abc.ABC):
    """Writable from a batch DataFrame (CanWriteDataFrame.scala)."""

    @abc.abstractmethod
    def write_dataframe(
        self,
        df: DataFrame,
        partition_values: list[PartitionValues] | None = None,
        save_mode: SaveMode | None = None,
        merge_options: SaveModeMergeOptions | None = None,
    ) -> dict[str, Any]:
        """Write and return metrics ({'records_written': n, ...})."""

    def init_write(self, df: DataFrame, partition_values: list[PartitionValues] | None = None) -> None:
        """Init-phase validation against the (empty) lineage DataFrame."""


class CanCreateStreamingDataFrame(abc.ABC):
    """Readable via Structured Streaming (CanCreateStreamingDataFrame.scala:30)."""

    @abc.abstractmethod
    def get_streaming_dataframe(self, spark: SparkSession) -> DataFrame:
        ...


class CanWriteStreamingDataFrame(abc.ABC):
    @abc.abstractmethod
    def write_streaming_dataframe(
        self,
        df: DataFrame,
        trigger: dict[str, Any],
        checkpoint_location: str,
        output_mode: str = "append",
        query_name: str | None = None,
    ):
        ...


class CanMergeDataFrame(abc.ABC):
    """Supports SaveMode.MERGE upserts (CanMergeDataFrame.scala:24)."""

    @abc.abstractmethod
    def merge_dataframe_by_primary_key(
        self, df: DataFrame, merge_options: SaveModeMergeOptions | None = None
    ) -> dict[str, Any]:
        ...


class CanHandlePartitions(abc.ABC):
    """Hive-style partition handling (CanHandlePartitions.scala:39-96)."""

    partitions: list[str] = []
    expected_partitions_condition: str | None = None

    @abc.abstractmethod
    def list_partitions(self, spark: SparkSession) -> list[PartitionValues]:
        ...

    @abc.abstractmethod
    def delete_partitions(self, spark: SparkSession, partition_values: list[PartitionValues]) -> None:
        ...

    def filter_expected_partition_values(
        self, spark: SparkSession, partition_values: list[PartitionValues]
    ) -> list[PartitionValues]:
        """Keep only partition values satisfying `expectedPartitionsCondition`
        — a Spark SQL boolean over `elements` (map partition-col → value), e.g.
        ``elements['p'] != 'A'`` (CanHandlePartitions.scala:58-70). Without a
        condition every partition is expected. The candidate list is a small
        driver-side set (one row per partition), so evaluating it through a
        tiny local DataFrame costs one collect of at most a few thousand rows."""
        if not self.expected_partitions_condition or not partition_values:
            return list(partition_values)
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        rows = [(i, {k: str(v) for k, v in pv.as_dict.items()}) for i, pv in enumerate(partition_values)]
        schema = T.StructType(
            [
                T.StructField("idx", T.IntegerType()),
                T.StructField("elements", T.MapType(T.StringType(), T.StringType())),
            ]
        )
        kept = (
            spark.createDataFrame(rows, schema)
            .where(F.expr(self.expected_partitions_condition))
            .select("idx")
            .collect()
        )
        keep_idx = {r["idx"] for r in kept}
        return [pv for i, pv in enumerate(partition_values) if i in keep_idx]


class CanCreateIncrementalOutput(abc.ABC):
    """Source-managed incremental state (CanCreateIncrementalOutput.scala:26-39)."""

    def set_state(self, state: str | None) -> None:
        self._incremental_state = state

    def get_state(self) -> str | None:
        return getattr(self, "_incremental_state", None)


def _strip_nullability(dt: T.DataType) -> T.DataType:
    """Recursively normalize nullable/containsNull/valueContainsNull to True
    so type comparisons ignore nullability (SchemaUtil.isSubSchema)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _strip_nullability(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_strip_nullability(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_strip_nullability(dt.keyType), _strip_nullability(dt.valueType), True)
    return dt


def _parse_schema(schema: T.StructType | str | None) -> T.StructType | None:
    if schema is None or isinstance(schema, T.StructType):
        return schema
    if "#" in schema:
        # provider spec, e.g. "xsdfile#path;rowTag" (SchemaUtil.scala:300-395)
        from smart_data_lake_spark.schema_providers import parse_schema_spec

        return parse_schema_spec(schema)
    parsed = T._parse_datatype_string(schema)
    if not isinstance(parsed, T.StructType):
        raise ValueError(f"schema DDL must describe a struct, got {parsed}")
    return parsed
