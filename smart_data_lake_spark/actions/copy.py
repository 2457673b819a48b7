"""CopyAction — read input → transformer chain → write output.

Reference: `workflow/action/CopyAction.scala:48-107`.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from smart_data_lake_spark.config import register_action_type
from smart_data_lake_spark.actions.base import DataFrameAction
from smart_data_lake_spark.transformers.df_transformers import DfTransformer, apply_df_transformers


@register_action_type
class CopyAction(DataFrameAction):
    def __init__(
        self,
        id: str,
        input_id: str,
        output_id: str,
        transformers: list[DfTransformer] | None = None,
        delete_data_after_read: bool = False,
        **kwargs: Any,
    ) -> None:
        super().__init__(id=id, input_ids=[input_id], output_ids=[output_id], **kwargs)
        self.transformers = transformers or []
        self.delete_data_after_read = delete_data_after_read

    def transform(self, spark: SparkSession, dfs: dict[str, DataFrame]) -> dict[str, DataFrame]:
        df = apply_df_transformers(
            spark,
            dfs[self.main_input_id],
            self.transformers,
            options={**self.transformer_context(self.main_input_id, self.main_output_id), **self.mode_options},
        )
        return {self.main_output_id: df}

    def post_exec(self, spark, inputs, outputs):
        super().post_exec(spark, inputs, outputs)
        if self.delete_data_after_read:
            import shutil

            in_do = self._do(self.main_input_id)
            path = getattr(in_do, "path", None)
            if path:
                shutil.rmtree(path, ignore_errors=True)
