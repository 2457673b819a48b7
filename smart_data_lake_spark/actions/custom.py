"""CustomDataFrameAction — N inputs → M outputs with chained N:M transformers.

Reference: `workflow/action/CustomDataFrameAction.scala:54-117`; chaining
semantics from `DataFrameActionImpl.applyTransformers`
(DataFrameActionImpl.scala:487-495): each transformer's outputs accumulate
into the visible input map.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from smart_data_lake_spark.config import register_action_type
from smart_data_lake_spark.actions.base import DataFrameAction
from smart_data_lake_spark.transformers.dfs_transformers import DfsTransformer, apply_dfs_transformers


@register_action_type
class CustomDataFrameAction(DataFrameAction):
    def __init__(
        self,
        id: str,
        input_ids: list[str],
        output_ids: list[str],
        transformers: list[DfsTransformer] | None = None,
        main_input_id: str | None = None,
        main_output_id: str | None = None,
        recursive_input_ids: list[str] | None = None,
        **kwargs: Any,
    ) -> None:
        super().__init__(id=id, input_ids=input_ids, output_ids=output_ids, **kwargs)
        self.transformers = transformers or []
        self._main_input_id = main_input_id
        self._main_output_id = main_output_id
        # recursive inputs: outputs fed back as inputs (CustomDataFrameAction.scala:66)
        self.recursive_input_ids = recursive_input_ids or []

    @property
    def main_input_id(self) -> str:
        return self._main_input_id or self.input_ids[0]

    @property
    def main_output_id(self) -> str:
        return self._main_output_id or self.output_ids[0]

    def transform(self, spark: SparkSession, dfs: dict[str, DataFrame]) -> dict[str, DataFrame]:
        for rid in self.recursive_input_ids:
            existing = self._read_existing(spark, rid)
            if existing is not None:
                dfs[rid] = existing
        result = apply_dfs_transformers(spark, dfs, self.transformers, options=self.mode_options)
        missing = [o for o in self.output_ids if o not in result]
        if missing:
            raise ValueError(f"({self.id}) transformers produced no DataFrame for outputs {missing}")
        return {o: result[o] for o in self.output_ids}
