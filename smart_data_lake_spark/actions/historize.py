"""HistorizeAction — SCD2 history maintenance.

Reference: `workflow/action/HistorizeAction.scala:89-312`; three variants:
  full            — full outer join vs current history, table rewrite
  merge           — incremental hash-compare, ops fed to MERGE (:139-166)
  merge+CDC       — ops derived from a CDC flag, no join (:54-56)
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_data_lake_spark.config import register_action_type
from smart_data_lake_spark.actions.base import KeyedOutputAction, now_utc
from smart_data_lake_spark.historization import (
    HASH_COL,
    HIGH_TS,
    OPERATION_COL,
    TS_CAPTURED,
    TS_DELIMITED,
    build_cdc_merge_options,
    build_incremental_merge_options,
    full_historize,
    incremental_cdc_historize_ops,
    incremental_historize_ops,
)
from smart_data_lake_spark.schema_evolution import evolve, project_to_schema
from smart_data_lake_spark.transformers.df_transformers import apply_df_transformers


@register_action_type
class HistorizeAction(KeyedOutputAction):
    def __init__(
        self,
        id: str,
        input_id: str,
        output_id: str,
        filter_clause: str | None = None,
        historize_whitelist: list[str] | None = None,
        historize_blacklist: list[str] | None = None,
        merge_mode_cdc_column: str | None = None,
        merge_mode_cdc_deleted_value: str = "D",
        merge_mode_additional_join_predicate: str | None = None,
        **kwargs: Any,
    ) -> None:
        # transformers, merge_mode_enable and reference_timestamp are
        # KeyedOutputAction's
        super().__init__(id=id, input_id=input_id, output_id=output_id, **kwargs)
        self.filter_clause = filter_clause
        self.historize_whitelist = historize_whitelist
        self.historize_blacklist = historize_blacklist
        self.merge_mode_cdc_column = merge_mode_cdc_column
        self.merge_mode_cdc_deleted_value = merge_mode_cdc_deleted_value
        self.merge_mode_additional_join_predicate = merge_mode_additional_join_predicate

    def transform(self, spark: SparkSession, dfs: dict[str, DataFrame]) -> dict[str, DataFrame]:
        df = apply_df_transformers(
            spark,
            dfs[self.main_input_id],
            self.transformers,
            options={**self.transformer_context(self.main_input_id, self.main_output_id), **self.mode_options},
        )
        pks = self._pks()
        ref_ts = self.reference_timestamp or now_utc()
        if self.historize_whitelist:
            keep = set(self.historize_whitelist) | set(pks)
            df = df.select(*[c for c in df.columns if c in keep])
        if self.historize_blacklist:
            df = df.drop(*[c for c in self.historize_blacklist if c not in pks])

        existing = self._read_existing(spark, self.main_output_id)
        untouched = None
        if existing is not None and self.filter_clause:
            # only the filtered slice of history takes part; the rest is
            # appended untouched (HistorizeAction.filterClause)
            untouched = existing.where(~F.expr(self.filter_clause))
            existing = existing.where(F.expr(self.filter_clause))

        df = df.dropDuplicates(pks)  # HistorizeAction.scala:236 dropDuplicates on pk

        if self.merge_mode_enable and self.merge_mode_cdc_column:
            result = incremental_cdc_historize_ops(
                df, pks, self.merge_mode_cdc_column, self.merge_mode_cdc_deleted_value, ref_ts
            )
            # operation-aware merge contract (HistorizeAction.scala:140-150):
            # dummy-col join steers updateClose to the current version only
            self.merge_options = build_cdc_merge_options(
                self.merge_mode_cdc_column, ref_ts, self.merge_mode_additional_join_predicate
            )
        elif self.merge_mode_enable:
            current = existing.where(F.col(TS_DELIMITED) == F.lit(HIGH_TS)) if existing is not None else None
            result = incremental_historize_ops(current, df, pks, ref_ts)
            # updateClose only touches dl_ts_delimited (+hash backfill) of the
            # current version — join pinned on captured-ts equality
            # (HistorizeAction.scala:152-161); without these options a merge
            # would overwrite every historical version of a changed key
            existing_has_hash = existing is not None and HASH_COL in existing.columns
            self.merge_options = build_incremental_merge_options(
                existing_has_hash, self.merge_mode_additional_join_predicate
            )
        else:
            if existing is not None:
                hist_schema_new = df.sparkSession.createDataFrame([], df.schema)
                evo = evolve(existing.drop(TS_CAPTURED, TS_DELIMITED), hist_schema_new)
                existing = evolve_keep_technical(existing, evo.target_schema)
                # project the feed too: a column present only in history is
                # back-filled with nulls instead of silently vanishing from
                # the rewritten history (SchemaEvolution.scala keep-deleted)
                df = project_to_schema(df, evo.target_schema)
            result = full_historize(existing, df, pks, ref_ts)
        if untouched is not None and not self.merge_mode_enable:
            result = result.unionByName(untouched, allowMissingColumns=True)
        return {self.main_output_id: result}


def evolve_keep_technical(existing: DataFrame, target_attr_schema) -> DataFrame:
    """Project existing history onto the evolved attribute schema while
    keeping the SCD2 technical columns."""
    from smart_data_lake_spark.schema_evolution import project_to_schema
    from pyspark.sql import types as T

    tech = [f for f in existing.schema.fields if f.name in (TS_CAPTURED, TS_DELIMITED)]
    full = T.StructType(list(target_attr_schema.fields) + tech)
    return project_to_schema(existing, full)
