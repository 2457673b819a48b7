"""Merge-mode contract of the keyed-output actions, plus two config-layer
regressions.

HistorizeAction and DeduplicateAction in merge mode write only new and
changed rows through SaveMode.MERGE; an output that cannot MERGE must be
refused, never overwritten with the partial frame.
"""

import datetime

import pytest
from pyspark.sql import Row

from smart_data_lake_spark.actions import DeduplicateAction
from smart_data_lake_spark.config import InstanceRegistry, load_config
from smart_data_lake_spark.dataobjects import MockDataObject, ParquetFileDataObject, ParquetTableDataObject
from smart_data_lake_spark.dataobjects.base import CanMergeDataFrame, Table
from smart_data_lake_spark.expectations import SQLExpectation, UniqueKeyExpectation
from smart_data_lake_spark.plans import ActionDAG, ActionDAGRun
from smart_data_lake_spark.plans.dag import DAGError

T1 = datetime.datetime(2024, 1, 1)
T2 = datetime.datetime(2024, 2, 1)
ROWS = [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]


class KeyedParquetFile(ParquetFileDataObject):
    """A parquet output with a primary key but without MERGE support."""

    def __init__(self, **kwargs):
        super().__init__(**kwargs)
        self.table = Table(name=self.id, primary_key=["id"])


def _feed(spark, rows):
    return spark.createDataFrame([Row(id=i, name=n, value=v) for i, n, v in rows])


def _dedup_run(spark, registry, rows, ref_ts, **kwargs):
    registry.get_data_object("feed")._df = _feed(spark, rows).localCheckpoint(eager=True)
    action = DeduplicateAction(
        id=f"d_{ref_ts:%Y%m%d}", input_id="feed", output_id="out",
        reference_timestamp=ref_ts, registry=registry, **kwargs,
    )
    return action, ActionDAGRun(ActionDAG([action]), registry)


def _registry(out_do):
    registry = InstanceRegistry()
    registry.register_data_object(MockDataObject(id="feed"))
    registry.register_data_object(out_do)
    return registry


def test_deduplicate_merge_mode_refuses_output_without_merge(spark, tmp_path):
    out_do = KeyedParquetFile(id="out", path=str(tmp_path / "out"))
    assert not isinstance(out_do, CanMergeDataFrame)
    registry = _registry(out_do)
    action, run = _dedup_run(spark, registry, ROWS, T1)
    assert run.run(spark).action_states[action.id] == "SUCCEEDED"

    # merge mode would write only the changed key 1; overwriting the table
    # with it would lose keys 2 and 3
    action, run = _dedup_run(spark, registry, [(1, "a", 11.0)], T2, merge_mode_enable=True)
    with pytest.raises(DAGError):
        run.run(spark)
    assert run.state.action_states[action.id] == "FAILED"
    assert "SaveMode.MERGE" in run.state.action_metrics[action.id]["error"]
    rows = {tuple(r) for r in out_do.get_dataframe(spark).select("id", "name", "value").collect()}
    assert rows == set(ROWS)


def test_exact_unique_key_expectation_after_deduplicate_merge(spark, tmp_path):
    out_do = ParquetTableDataObject(
        id="out", path=str(tmp_path / "out"), table={"name": "out", "primary_key": ["id"]}
    )
    registry = _registry(out_do)
    exps = [UniqueKeyExpectation(name="pk_unique", key_cols=["id"])]
    for rows, ts in ((ROWS, T1), ([(1, "a", 11.0), (4, "d", 40.0)], T2)):
        action, run = _dedup_run(spark, registry, rows, ts, merge_mode_enable=True, expectations=exps)
        assert run.run(spark).action_states[action.id] == "SUCCEEDED"
        # computed over the rows this run wrote, not re-read after the merge
        assert action.runtime_metrics["out"]["pk_unique"] == 1.0
    rows = {tuple(r) for r in out_do.get_dataframe(spark).select("id", "value").collect()}
    assert rows == {(1, 11.0), (2, 20.0), (3, 30.0), (4, 40.0)}


def test_sql_expectation_from_config(tmp_path):
    registry = load_config({
        "dataObjects": {
            "src": {"type": "ParquetFileDataObject", "path": str(tmp_path / "src")},
            "dst": {"type": "ParquetFileDataObject", "path": str(tmp_path / "dst")},
        },
        "actions": {
            "copy": {
                "type": "CopyAction", "inputId": "src", "outputId": "dst",
                "expectations": [{"type": "SQLExpectation", "name": "minRows",
                                  "aggExpression": "count(*)", "expectation": "> 10"}],
            },
        },
    })
    (exp,) = registry.actions["copy"].expectations
    assert isinstance(exp, SQLExpectation)
    assert (exp.name, exp.agg_expression, exp.expectation) == ("minRows", "count(*)", "> 10")
    # the camelCase keyword keeps working for Python callers
    assert SQLExpectation(name="n", aggExpression="max(x)").agg_expression == "max(x)"
