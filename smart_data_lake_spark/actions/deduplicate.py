"""DeduplicateAction — keep latest record per PK, even if deleted upstream.

Reference: `workflow/action/DeduplicateAction.scala:71-229` (core algorithm
:214-219). Adds `dl_ts_captured`; full-rewrite mode unions existing+new and
keeps the newest row per PK; merge mode upserts only new/changed rows through
the output's MERGE (the at-scale path: touched files only).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_data_lake_spark.config import register_action_type
from smart_data_lake_spark.actions.base import KeyedOutputAction, now_utc
from smart_data_lake_spark.historization import TS_CAPTURED, _attr_cols, deduplicate_keep_latest
from smart_data_lake_spark.schema_evolution import evolve
from smart_data_lake_spark.transformers.df_transformers import apply_df_transformers


@register_action_type
class DeduplicateAction(KeyedOutputAction):
    def __init__(
        self,
        id: str,
        input_id: str,
        output_id: str,
        update_captured_column_only_when_changed: bool = False,
        ignore_old_deleted_columns: bool = False,
        **kwargs: Any,
    ) -> None:
        # transformers, merge_mode_enable and reference_timestamp are
        # KeyedOutputAction's
        super().__init__(id=id, input_id=input_id, output_id=output_id, **kwargs)
        self.update_captured_column_only_when_changed = update_captured_column_only_when_changed
        self.ignore_old_deleted_columns = ignore_old_deleted_columns

    def transform(self, spark: SparkSession, dfs: dict[str, DataFrame]) -> dict[str, DataFrame]:
        df = apply_df_transformers(
            spark,
            dfs[self.main_input_id],
            self.transformers,
            options={**self.transformer_context(self.main_input_id, self.main_output_id), **self.mode_options},
        )
        ref_ts = self.reference_timestamp or now_utc()
        existing = self._read_existing(spark, self.main_output_id)
        if existing is not None:
            evo = evolve(existing, df.withColumn(TS_CAPTURED, F.lit(ref_ts)),
                         ignore_old_deleted_columns=self.ignore_old_deleted_columns)
            existing = evo.old_df
            df = evo.new_df.drop(TS_CAPTURED)

        if self.merge_mode_enable and existing is not None:
            # merge mode: dedup incoming batch, then only upsert rows that are
            # new or changed (DeduplicateAction.scala merge branch)
            pks = self._pks()
            new_df = df.withColumn(TS_CAPTURED, F.lit(ref_ts)).dropDuplicates(pks)
            attr = _attr_cols(new_df, pks)
            # explicit matched marker: a data column may be legitimately NULL,
            # so attribute-nullity is not a safe "no match" test
            ex = existing.select(*pks, *attr).withColumn("_dl_matched", F.lit(True)).alias("e")
            nw = new_df.alias("nw")
            is_new = F.col("_dl_matched").isNull()
            is_changed = ~F.struct(*[F.col(f"nw.{a}") for a in sorted(attr)]).eqNullSafe(
                F.struct(*[F.col(f"e.{a}") for a in sorted(attr)])
            ) if attr else F.lit(False)
            changed_or_new = (
                nw.join(ex, pks, "left_outer").where(is_new | is_changed).select("nw.*")
            )
            return {self.main_output_id: changed_or_new}
        result = deduplicate_keep_latest(
            existing, df, self._pks(), ref_ts, self.update_captured_column_only_when_changed
        )
        return {self.main_output_id: result}
