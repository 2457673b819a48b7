"""HOCON-subset parser: reference .conf files must load into the same dict
shape `load_config` consumes. The golden inputs are the REFERENCE REPO'S OWN
test configs (sdl-core/src/test/resources), so parity is checked against
real typesafe-config files, not hand-made samples."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_data_lake_spark.config import ConfigError
from smart_data_lake_spark.hocon import parse_file, parse_hocon, resolve_templates

REF = "/root/reference/sdl-core/src/test/resources"


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference repo not mounted")
def test_parses_reference_config_conf():
    cfg = parse_file(os.path.join(REF, "config", "config.conf"))
    do = cfg["dataObjects"]["testDataObjectFromConfig"]
    assert do["type"].endswith("TestDataObject")
    assert do["arg1"] == "Foo" and do["args"] == ["Bar"]
    assert do["metadata"]["name"] == "Test DataObject From Config"


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference repo not mounted")
def test_reference_template_inheritance_across_files():
    """configWithTemplates: config.conf extends ${default.testDataObjectTemplate}
    defined in the sibling default.conf — exactly the multi-file merge the
    CLI does."""
    import json

    from smart_data_lake_spark.__main__ import _merge_configs

    merged = _merge_configs([os.path.join(REF, "configWithTemplates")])
    do = merged["dataObjects"]["testDataObjectFromConfig"]
    txt = json.dumps(do)
    assert "__extends__" not in txt  # templates resolved
    # overrides from config.conf present
    assert do["arg1"] == "Foo"
    # inherited fields from the template in default.conf present
    base = parse_file(os.path.join(REF, "configWithTemplates", "default.conf"))
    template = base["default"]["testDataObjectTemplate"]
    for k, v in template.items():
        if k not in ("arg1", "args", "metadata"):
            assert do[k] == v


def test_scalars_comments_paths_arrays():
    cfg = parse_hocon(
        """
        # hash comment
        // slash comment
        a.b.c = 5
        a.b.d = 1.25   # trailing comment
        flags = [true, false, null]
        s1 = plain string with spaces
        s2 = "quoted # not a comment"
        s3 = \"\"\"triple "quoted" text\"\"\"
        nested { x : 1, y : two }
        nested { z = 3 }
        dup = 1
        dup = 2
        """
    )
    assert cfg["a"]["b"] == {"c": 5, "d": 1.25}
    assert cfg["flags"] == [True, False, None]
    assert cfg["s1"] == "plain string with spaces"
    assert cfg["s2"] == "quoted # not a comment"
    assert cfg["s3"] == 'triple "quoted" text'
    assert cfg["nested"] == {"x": 1, "y": "two", "z": 3}
    assert cfg["dup"] == 2  # later scalar wins


def test_substitutions_pass_through_for_loader():
    cfg = parse_hocon("base = /data\np = ${base}/x\ne = ${env.HOME}")
    # whole-value and embedded substitutions stay in loader syntax
    assert cfg["e"] == "${env.HOME}"
    assert "${base}" in cfg["p"]


def test_template_resolution_and_errors():
    cfg = parse_hocon(
        """
        templates { base { type = CsvFileDataObject, sep = ";" } }
        dataObjects { d1 = ${templates.base} { path = /tmp/x, sep = "," } }
        """
    )
    resolved = resolve_templates(cfg)
    d1 = resolved["dataObjects"]["d1"]
    assert d1 == {"type": "CsvFileDataObject", "sep": ",", "path": "/tmp/x"}
    with pytest.raises(ConfigError, match="path not found"):
        resolve_templates(parse_hocon("x = ${missing.tpl} { a = 1 }"))


def test_include_directive(tmp_path):
    (tmp_path / "inc.conf").write_text("shared { retries = 3 }\n")
    (tmp_path / "main.conf").write_text('include "inc.conf"\nmain = 1\n')
    cfg = parse_file(str(tmp_path / "main.conf"))
    assert cfg == {"shared": {"retries": 3}, "main": 1}


def test_include_cycle_raises_config_error(tmp_path):
    # r7 ADVICE fix: self- and mutual-includes must raise ConfigError naming
    # the cycle, not crash with RecursionError
    (tmp_path / "self.conf").write_text('include "self.conf"\nx = 1\n')
    with pytest.raises(ConfigError, match="include cycle"):
        parse_file(str(tmp_path / "self.conf"))

    (tmp_path / "a.conf").write_text('include "b.conf"\na = 1\n')
    (tmp_path / "b.conf").write_text('include "a.conf"\nb = 1\n')
    with pytest.raises(ConfigError, match="include cycle"):
        parse_file(str(tmp_path / "a.conf"))

    # diamond includes (same file twice, NOT a cycle) still parse fine
    (tmp_path / "base.conf").write_text("shared = 7\n")
    (tmp_path / "l.conf").write_text('include "base.conf"\nl = 1\n')
    (tmp_path / "r.conf").write_text('include "base.conf"\nr = 1\n')
    (tmp_path / "top.conf").write_text('include "l.conf"\ninclude "r.conf"\n')
    cfg = parse_file(str(tmp_path / "top.conf"))
    assert cfg == {"shared": 7, "l": 1, "r": 1}


def test_unsupported_plus_equals_raises_loudly():
    with pytest.raises(ConfigError, match="not supported"):
        parse_hocon("xs += 1")


def test_hocon_pipeline_end_to_end(spark, tmp_path, sf_dir):
    """A realistic SDL-style .conf drives a real pipeline through the CLI's
    config path: templates + substitution + connectionless objects."""
    conf = tmp_path / "pipeline.conf"
    conf.write_text(
        f"""
        # SDL-style pipeline config
        globalConfig {{}}
        templates {{
          parquetObject {{ type = ParquetFileDataObject }}
        }}
        dataObjects {{
          src = ${{templates.parquetObject}} {{ path = "{sf_dir}/region.parquet" }}
          dst = ${{templates.parquetObject}} {{ path = "{tmp_path}/out" }}
        }}
        actions {{
          cp {{ type = CopyAction, inputId = src, outputId = dst }}
        }}
        """
    )
    from smart_data_lake_spark.__main__ import _merge_configs
    from smart_data_lake_spark.plans.app import SmartDataLakeBuilder

    merged = _merge_configs([str(conf)])
    merged.pop("templates")  # not a loader section
    builder = SmartDataLakeBuilder(config=merged)
    state = builder.run(spark=spark)
    assert state.action_states["cp"] == "SUCCEEDED"
    n = spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    assert spark.read.parquet(str(tmp_path / "out")).count() == n


def test_include_as_ordinary_field_name():
    cfg = parse_hocon("include = 1\ninclude2 { x = 2 }")
    assert cfg["include"] == 1 and cfg["include2"] == {"x": 2}


def test_braced_root_object():
    assert parse_hocon("{ a = 1 }") == {"a": 1}
    assert parse_hocon("# header\n{\n  a { b = 2 }\n  c = [1, 2]\n}\n// trailer\n") == {
        "a": {"b": 2}, "c": [1, 2]
    }
    with pytest.raises(ConfigError, match="after the root object"):
        parse_hocon("{ a = 1 }\nb = 2")


def test_dag_export_simplified_actions(monkeypatch, tmp_path):
    """sdl-lang DagExporter parity: the simplified-actions JSON carries
    metadata + inputIds/outputIds per action, no Spark session needed."""
    monkeypatch.setenv("SDL_DATA_DIR", "/root/testdata/sf0.001")
    monkeypatch.setenv("SDL_OUT_DIR", str(tmp_path))
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from dag_export import export_dag, to_mermaid

    dag = export_dag(["/root/repo/examples/cli_pipeline.conf"])
    assert set(dag) == {"clean_orders", "aggregate_orders"}
    assert dag["clean_orders"]["inputIds"] == ["orders_raw"]
    assert dag["clean_orders"]["outputIds"] == ["orders_clean"]
    assert dag["clean_orders"]["metadata"]["feed"] == "clean"
    mermaid = to_mermaid(dag)
    assert "orders_raw([orders_raw]) -->|clean_orders| orders_clean" in mermaid


# ---- util/misc/HoconUtilTest.scala (3 scenarios) ---------------------------


def test_hoconutil_get_update_nested_list_values():
    """HoconUtilTest:42-55 — read, ADD and UPDATE a nested value inside a
    list element, immutably."""
    from smart_data_lake_spark.hocon import get_config_value, parse_hocon, update_config_value

    cfg = parse_hocon(
        """
        actions = {
          a1 = {
            type = FileTransferAction
            inputId = do3
            outputId = do1
            transformers = [{
               type = PythonClassDfTransformer
               className = some.module.DummyTransformer
            }]
          }
        }
        """
    )
    path = ["actions", "a1", "transformers", "[0]", "className"]
    assert get_config_value(cfg, path) == "some.module.DummyTransformer"
    added = update_config_value(cfg, ["actions", "a1", "transformers", "[0]", "_sourceDoc"], "abc")
    assert get_config_value(added, ["actions", "a1", "transformers", "[0]", "_sourceDoc"]) == "abc"
    updated = update_config_value(cfg, path, "abc")
    assert get_config_value(updated, path) == "abc"
    # immutability: the source config is untouched
    assert get_config_value(cfg, path) == "some.module.DummyTransformer"
