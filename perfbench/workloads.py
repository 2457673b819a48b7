"""The four workloads. Each one generates its inputs from the seed, sets up
its storage, runs one repetition through the public API, and checks its
outputs against an independent DuckDB reference afterwards.

A workload exposes:
  setup()       generate the inputs; runs several times, each from scratch
  load()        initial load into the targets, once after the last set-up
  before_rep()  untimed reset, so every repetition starts from the same state
  rep()         the timed work
  outcome()     (attempted, failed) operations of the last repetition
  check()       [(name, ok, detail)] over the last repetition's outputs
and the figures the metrics divide by: `units` (actions or queries per
repetition), `input_rows` and `input_bytes` (the new input one repetition
consumes).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import decimal
import json
import math
import os
import re
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
import measure

HIGH_YEAR = 9999


class Ctx:
    """What every workload needs: the session, its directories, the seed and
    scale, the DAG parallelism and the tracer (None when not tracing)."""

    def __init__(self, spark, work: str, seed: int, scale: dict, parallelism: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.parallelism = parallelism
        self.tracer = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext({})


def to_hocon(obj, indent: int = 0) -> str:
    """Render a plain dict as HOCON text (object bodies with `key = value`)."""
    pad = "  " * indent
    if isinstance(obj, dict):
        body = []
        for k, v in obj.items():
            key = k if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", k) else json.dumps(k)
            body.append(f"{pad}  {key} = {to_hocon(v, indent + 1)}")
        return "{\n" + "\n".join(body) + "\n" + pad + "}"
    if isinstance(obj, list):
        return "[" + ", ".join(to_hocon(v, indent + 1) for v in obj) + "]"
    return json.dumps(obj)


def config_text(cfg: dict) -> str:
    """The config as HOCON text. The root object is written without braces:
    the package's parser accepts only that form for the root."""
    return "\n".join(f"{k} = {to_hocon(v)}" for k, v in cfg.items())


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _pq(path: str) -> str:
    """DuckDB source expression for a parquet file or a Spark output dir."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
    return f"read_parquet('{path}')"


def _checked(name: str, fn) -> tuple[str, bool, str]:
    """Run one check; an error reading the outputs is a failed check."""
    try:
        ok, detail = fn()
    except Exception as e:  # noqa: BLE001
        return name, False, f"{type(e).__name__}: {str(e)[:200]}"
    return name, ok, detail


def _rows_equal(con, a_sql: str, b_sql: str) -> tuple[bool, str]:
    """Multiset equality of two queries' rows."""
    n_a = con.execute(f"SELECT count(*) FROM ({a_sql})").fetchone()[0]
    n_b = con.execute(f"SELECT count(*) FROM ({b_sql})").fetchone()[0]
    if n_a != n_b:
        return False, f"row count {n_a} != {n_b}"
    diff = con.execute(f"SELECT count(*) FROM (({a_sql}) EXCEPT ALL ({b_sql}))").fetchone()[0]
    return diff == 0, f"{diff} rows differ" if diff else "ok"


# --------------------------------------------------------------------- DAGs
class DagWorkload:
    """A pipeline run through SmartDataLakeBuilder. The config is kept as
    HOCON text and parsed inside every repetition, as a scheduled job does."""

    setup_repeats = 3
    # the JVM keeps speeding up over the first runs of a pipeline (tiered
    # JIT of the planner paths); these runs are warm-up, not measurement
    warm_reps = 2
    min_reps = 5

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.input_dir = os.path.join(ctx.work, "input")
        self.lake = os.path.join(ctx.work, "lake")
        self.state_dir = os.path.join(ctx.work, "state")
        self.hocon = ""
        self.n_actions = 0

    @property
    def units(self) -> int:
        return self.n_actions

    def storage(self) -> str:
        return self.lake

    def finish_config(self, cfg: dict) -> None:
        """Values HOCON cannot carry (typed timestamps)."""

    def load(self) -> None:
        """Initial load into the targets, once after the last set-up."""

    def run_pipeline(self, hocon: str) -> None:
        from smart_data_lake_spark.hocon import parse_hocon
        from smart_data_lake_spark.plans import SmartDataLakeBuilder

        with self.ctx.span("config.hocon"):
            cfg = parse_hocon(hocon)
        self.finish_config(cfg)
        self._n_actions_run = len(cfg.get("actions", {}))
        try:
            SmartDataLakeBuilder(config=cfg).run(
                spark=self.ctx.spark, state_path=self.state_dir, parallelism=self.ctx.parallelism
            )
        except Exception as e:  # noqa: BLE001 - failures are counted, not fatal
            print(f"pipeline error: {type(e).__name__}: {str(e)[:500]}", flush=True)

    def outcome(self) -> tuple[int, int]:
        """(attempted, failed) actions of the last run, from its final state."""
        from smart_data_lake_spark.plans.dag import StateStore

        state = StateStore(self.state_dir).latest() if os.path.isdir(self.state_dir) else None
        states = state.action_states if state is not None else {}
        for a, st in states.items():
            if st == "FAILED":
                print(f"action {a} failed: {str(state.action_metrics.get(a))[:500]}", flush=True)
        n = self._n_actions_run
        return n, n - sum(1 for s in states.values() if s == "SUCCEEDED")

    def before_rep(self) -> None:
        _rmtree(self.lake)
        _rmtree(self.state_dir)

    def rep(self) -> None:
        self.run_pipeline(self.hocon)

    def _write_inputs(self, tables: dict[str, pa.Table]) -> None:
        _rmtree(self.input_dir)
        self.paths = datagen.write(tables, self.input_dir)
        self.input_rows = sum(t.num_rows for t in tables.values())
        self.input_bytes = sum(os.path.getsize(p) for p in self.paths.values())


def _copy(input_id: str, output_id: str, **extra) -> dict:
    return {"type": "CopyAction", "inputId": input_id, "outputId": output_id, **extra}


def _sql(input_id: str, code: str) -> list[dict]:
    # the per-input view token gives every action its own temp view, so
    # parallel actions never read each other's input
    return [{"type": "SQLDfTransformer", "code": code.replace("%{in}", "%{inputViewName_" + input_id + "}")}]


def _parquet(path: str, **extra) -> dict:
    return {"type": "ParquetFileDataObject", "path": path, **extra}


def _table(path: str, pk: list[str]) -> dict:
    return {"type": "ParquetTableDataObject", "path": path, "table": {"name": os.path.basename(path), "primaryKey": pk}}


class MedallionFull(DagWorkload):
    """Cold load of the star schema into empty bronze/silver/gold targets."""

    name = "medallion_full"
    ref_ts = dt.datetime(2024, 1, 1)

    def setup(self) -> None:
        tables = datagen.generate(
            self.ctx.seed, self.ctx.scale["medallion_sf"],
            ["customer", "orders", "lineitem", "part", "supplier", "nation"],
        )
        self._write_inputs(tables)
        self.n_orders = tables["orders"].num_rows
        self.hocon = self._config_text()

    def _config_text(self) -> str:
        lake = self.lake
        dos = {f"ext_{t}": _parquet(p) for t, p in self.paths.items()}
        dos.update({f"bronze_{t}": _parquet(f"{lake}/bronze/{t}") for t in self.paths})
        dos["silver_orders_history"] = _table(f"{lake}/silver/orders_history", ["o_orderkey"])
        dos["silver_orders_current"] = _table(f"{lake}/silver/orders_current", ["o_orderkey"])
        dos["gold_nation_revenue"] = _parquet(f"{lake}/gold/nation_revenue")
        dos["gold_brand_revenue"] = _parquet(f"{lake}/gold/brand_revenue")
        count = {"type": "CountExpectation", "name": "cnt", "expectation": "> 0"}
        bronze = {
            "customer": (
                "SELECT c_custkey, trim(c_name) AS c_name, c_nationkey, c_acctbal, "
                "upper(c_mktsegment) AS c_mktsegment FROM %{in} WHERE c_custkey IS NOT NULL",
                [{"type": "Constraint", "name": "acctbal_set", "expression": "c_acctbal IS NOT NULL"}],
                [count, {"type": "UniqueKeyExpectation", "name": "pk_unique", "keyCols": ["c_custkey"]}],
            ),
            "orders": (
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority FROM %{in} "
                "WHERE o_orderkey IS NOT NULL",
                [{"type": "Constraint", "name": "price_nonneg", "expression": "o_totalprice >= 0"}],
                [
                    count,
                    {"type": "SQLFractionExpectation", "name": "frac_open",
                     "condition": "o_orderstatus = 'O'", "expectation": "> 0.1"},
                    {"type": "UniqueKeyExpectation", "name": "pk_unique",
                     "keyCols": ["o_orderkey"], "approximate": True, "expectation": "> 0.8"},
                ],
            ),
            "lineitem": (
                "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
                "l_discount, l_tax, l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS l_shipdate, "
                "l_extendedprice * (1 - l_discount) AS l_net FROM %{in} WHERE l_quantity > 0",
                [{"type": "Constraint", "name": "discount_range", "expression": "l_discount BETWEEN 0 AND 0.1"}],
                [count, {"type": "SQLFractionExpectation", "name": "frac_discounted",
                         "condition": "l_discount > 0", "expectation": "> 0.5"}],
            ),
            "part": ("SELECT * FROM %{in}", [], [count]),
            "supplier": ("SELECT * FROM %{in}", [], [count]),
            "nation": ("SELECT * FROM %{in}", [], [count]),
        }
        actions = {}
        for t, (code, constraints, expectations) in bronze.items():
            actions[f"stage_{t}"] = _copy(
                f"ext_{t}", f"bronze_{t}", transformers=_sql(f"ext_{t}", code),
                constraints=constraints, expectations=expectations,
                metadata={"feed": "bronze", "layer": "bronze"},
            )
        actions["historize_orders"] = {
            "type": "HistorizeAction", "inputId": "bronze_orders", "outputId": "silver_orders_history",
            "metadata": {"feed": "silver", "layer": "silver"},
        }
        actions["dedup_orders"] = {
            "type": "DeduplicateAction", "inputId": "bronze_orders", "outputId": "silver_orders_current",
            "metadata": {"feed": "silver", "layer": "silver"},
        }
        actions["gold_revenue"] = {
            "type": "CustomDataFrameAction",
            "inputIds": ["bronze_lineitem", "bronze_orders", "bronze_customer", "bronze_nation",
                         "bronze_part", "bronze_supplier"],
            "outputIds": ["gold_nation_revenue", "gold_brand_revenue"],
            "transformers": [{"type": "SQLDfsTransformer", "code": {
                "gold_nation_revenue": GOLD_NATION_SQL, "gold_brand_revenue": GOLD_BRAND_SQL}}],
            "metadata": {"feed": "gold", "layer": "gold"},
        }
        self.n_actions = len(actions)
        return config_text({"dataObjects": dos, "actions": actions})

    def finish_config(self, cfg: dict) -> None:
        for a in ("historize_orders", "dedup_orders"):
            cfg["actions"][a]["referenceTimestamp"] = self.ref_ts

    def check(self) -> list[tuple[str, bool, str]]:
        con = _duck()
        for t, p in self.paths.items():
            con.execute(f"CREATE VIEW bronze_{t} AS SELECT * FROM {_pq(p)}")
        con.execute(
            "CREATE OR REPLACE VIEW bronze_lineitem AS SELECT *, l_extendedprice * (1 - l_discount) AS l_net, "
            f"CAST(l_shipdate AS DATE) AS l_shipdate_d FROM {_pq(self.paths['lineitem'])} WHERE l_quantity > 0"
        )
        con.execute(
            "CREATE OR REPLACE VIEW bronze_orders AS SELECT * REPLACE (CAST(o_orderdate AS DATE) AS o_orderdate) "
            f"FROM {_pq(self.paths['orders'])}"
        )
        con.execute(
            "CREATE OR REPLACE VIEW bronze_customer AS SELECT * REPLACE (upper(c_mktsegment) AS c_mktsegment) "
            f"FROM {_pq(self.paths['customer'])}"
        )
        out = [
            _checked(name, lambda sql=sql, name=name: _close_rows(
                con, sql, f"SELECT * FROM {_pq(f'{self.lake}/gold/{name[5:]}')}", "revenue"))
            for name, sql in (("gold_nation_revenue", GOLD_NATION_SQL), ("gold_brand_revenue", GOLD_BRAND_SQL))
        ]

        def history():
            n, keys, open_ = con.execute(
                f"SELECT count(*), count(DISTINCT o_orderkey), "
                f"count(*) FILTER (WHERE year(dl_ts_delimited) = {HIGH_YEAR}) "
                f"FROM {_pq(f'{self.lake}/silver/orders_history')}"
            ).fetchone()
            return n == keys == open_ == self.n_orders, f"rows {n} keys {keys} open {open_} of {self.n_orders}"

        cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
        out.append(_checked("silver_orders_history", history))
        out.append(_checked("silver_orders_current", lambda: _rows_equal(
            con, f"SELECT {cols} FROM {_pq(f'{self.lake}/silver/orders_current')}",
            f"SELECT {cols} FROM bronze_orders")))
        return out


GOLD_NATION_SQL = (
    "SELECT n.n_name AS nation, c.c_mktsegment AS segment, year(o.o_orderdate) AS o_year, "
    "sum(l.l_net) AS revenue, count(*) AS n_lines, count(DISTINCT o.o_orderkey) AS n_orders "
    "FROM bronze_lineitem l JOIN bronze_orders o ON l.l_orderkey = o.o_orderkey "
    "JOIN bronze_customer c ON o.o_custkey = c.c_custkey "
    "JOIN bronze_nation n ON c.c_nationkey = n.n_nationkey "
    "GROUP BY n.n_name, c.c_mktsegment, year(o.o_orderdate)"
)
GOLD_BRAND_SQL = (
    "SELECT p.p_brand AS brand, s.s_nationkey AS supp_nation, sum(l.l_net) AS revenue, "
    "sum(l.l_quantity) AS quantity, count(*) AS n_lines "
    "FROM bronze_lineitem l JOIN bronze_part p ON l.l_partkey = p.p_partkey "
    "JOIN bronze_supplier s ON l.l_suppkey = s.s_suppkey GROUP BY p.p_brand, s.s_nationkey"
)


def _close_rows(con, ref_sql: str, got_sql: str, approx_col: str) -> tuple[bool, str]:
    """Rows equal on every column, `approx_col` to a relative 1e-9 (a double
    sum's value depends on the order the engine adds in)."""
    ref = con.execute(ref_sql)
    cols = [d[0] for d in ref.description]
    ref_rows = ref.fetchall()
    got = con.execute(f"SELECT {', '.join(cols)} FROM ({got_sql})").fetchall()
    if len(ref_rows) != len(got):
        return False, f"row count {len(got)} != {len(ref_rows)}"
    i = cols.index(approx_col)

    def key(r):
        return tuple(v for j, v in enumerate(r) if j != i)

    ref_rows.sort(key=lambda r: repr(key(r)))
    got.sort(key=lambda r: repr(key(r)))
    for a, b in zip(got, ref_rows):
        if key(a) != key(b) or not math.isclose(a[i], b[i], rel_tol=1e-9):
            return False, f"first mismatch {a} vs {b}"
    return True, "ok"


class Scd2Incremental(DagWorkload):
    """A recurring job over existing tables: one seeded change batch through
    merge-mode Historize (CDC input) and Deduplicate, plus one newly arrived
    ship month through a PartitionDiffMode copy."""

    name = "scd2_incremental"
    setup_repeats = 3
    warm_reps = 5
    min_reps = 5
    held_back = 3
    t_base = dt.datetime(2024, 1, 1)
    t_batch = dt.datetime(2024, 1, 2)
    attrs = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]

    def setup(self) -> None:
        rng = np.random.default_rng(self.ctx.seed + 7919)
        tables = datagen.generate(self.ctx.seed, self.ctx.scale["scd2_sf"], ["orders", "lineitem"])
        base = tables["orders"]
        n = base.num_rows
        upd = np.sort(rng.choice(n, size=max(1, n // 100), replace=False))
        n_new = max(1, n // 200)
        changed = base.take(pa.array(upd))
        changed = changed.set_column(
            changed.schema.get_field_index("o_totalprice"), "o_totalprice",
            pc.round(pc.multiply(changed.column("o_totalprice"), 1.1), 2))
        changed = changed.set_column(
            changed.schema.get_field_index("o_orderstatus"), "o_orderstatus",
            pa.array(np.where(np.asarray(changed.column("o_orderstatus")) == "F", "O", "F")))
        new = datagen.gen_orders(rng, n_new, datagen.sizes(self.ctx.scale["scd2_sf"])["customer"])
        new = new.set_column(0, "o_orderkey", pa.array(np.arange(n, n + n_new), pa.int64()))
        batch = pa.concat_tables([changed, new])
        batch = batch.append_column("op", pa.array(["U"] * changed.num_rows + ["I"] * n_new))
        base = base.append_column("op", pa.array(["I"] * n))

        for d in (self.input_dir, self.lake, self.state_dir, os.path.join(self.ctx.work, "pristine")):
            _rmtree(d)
        os.makedirs(self.input_dir)
        self.base_path = os.path.join(self.input_dir, "orders_base.parquet")
        self.batch_path = os.path.join(self.input_dir, "orders_batch.parquet")
        pq.write_table(base, self.base_path)
        pq.write_table(batch, self.batch_path)
        self.n_base, self.n_updated, self.n_new = n, changed.num_rows, n_new

        li = tables["lineitem"]
        month = pc.strftime(li.column("l_shipdate"), format="%Y-%m")
        li = li.append_column("ship_month", month)
        self.landing = os.path.join(self.input_dir, "lineitem_landing")
        months = sorted(set(month.to_pylist()))
        self.new_month = months[-self.held_back]
        self.n_months = len(months)
        for m in months[: -self.held_back]:
            self._land(li, m)

        self.lineitem, self.held_back_months = li, months[-self.held_back:]
        self.month_rows = int(pc.sum(pc.equal(month, self.new_month)).as_py())
        self.input_rows = batch.num_rows + self.month_rows
        self.hocon = self._config_text(self.batch_path, per_run=1)

    def load(self) -> None:
        """History, current table and all but the held-back months; then the
        held-back months arrive in the landing zone."""
        self.run_pipeline(self._config_text(self.base_path, per_run=None))
        for m in self.held_back_months:
            self._land(self.lineitem, m)
        month_dir = os.path.join(self.landing, f"ship_month={self.new_month}")
        self.input_bytes = os.path.getsize(self.batch_path) + measure.dir_bytes(month_dir)
        self.pristine = os.path.join(self.ctx.work, "pristine")
        shutil.copytree(self.lake, self.pristine)

    def _land(self, li: pa.Table, month: str) -> None:
        part = li.filter(pc.equal(li.column("ship_month"), month)).drop_columns(["ship_month"])
        d = os.path.join(self.landing, f"ship_month={month}")
        os.makedirs(d)
        pq.write_table(part, os.path.join(d, "part-0.parquet"))

    def _config_text(self, orders_path: str, per_run: int | None) -> str:
        lake = self.lake
        cols = "o_orderkey, " + ", ".join(self.attrs)
        mode = {"type": "PartitionDiffMode"}
        count = {"type": "CountExpectation", "name": "cnt", "expectation": "> 0"}
        if per_run:
            mode["nbOfPartitionValuesPerRun"] = per_run
        cfg = {
            "dataObjects": {
                "orders_feed": _parquet(orders_path),
                "orders_history": _table(f"{lake}/orders_history", ["o_orderkey"]),
                "orders_current": _table(f"{lake}/orders_current", ["o_orderkey"]),
                "lineitem_landing": _parquet(self.landing, partitions=["ship_month"]),
                "lineitem_by_month": _parquet(f"{lake}/lineitem_by_month", partitions=["ship_month"]),
            },
            "actions": {
                "historize_orders": {
                    "type": "HistorizeAction", "inputId": "orders_feed", "outputId": "orders_history",
                    "mergeModeEnable": True, "mergeModeCdcColumn": "op",
                    "constraints": [{"type": "Constraint", "name": "price_nonneg", "expression": "o_totalprice >= 0"}],
                    "expectations": [count],
                },
                "dedup_orders": {
                    "type": "DeduplicateAction", "inputId": "orders_feed", "outputId": "orders_current",
                    "mergeModeEnable": True,
                    "transformers": _sql("orders_feed", f"SELECT {cols} FROM %{{in}}"),
                    # approximate: an exact count-distinct is computed after the
                    # write by re-running the pre-merge plan, whose input files
                    # the merge has replaced (fails with FILE_NOT_EXIST)
                    "expectations": [{"type": "UniqueKeyExpectation", "name": "pk_unique",
                                      "keyCols": ["o_orderkey"], "approximate": True, "expectation": "> 0.8"}],
                },
                "load_lineitem_month": _copy(
                    "lineitem_landing", "lineitem_by_month", executionMode=mode,
                    constraints=[{"type": "Constraint", "name": "discount_range",
                                  "expression": "l_discount BETWEEN 0 AND 0.1"}],
                    expectations=[count, {"type": "SQLFractionExpectation", "name": "frac_discounted",
                                          "condition": "l_discount > 0", "expectation": "> 0.5"}],
                ),
            },
        }
        self.n_actions = len(cfg["actions"])
        return config_text(cfg)

    def finish_config(self, cfg: dict) -> None:
        ts = self.t_batch if "orders_batch" in cfg["dataObjects"]["orders_feed"]["path"] else self.t_base
        for a in ("historize_orders", "dedup_orders"):
            cfg["actions"][a]["referenceTimestamp"] = ts

    def before_rep(self) -> None:
        _rmtree(self.lake)
        _rmtree(self.state_dir)
        shutil.copytree(self.pristine, self.lake)

    def check(self) -> list[tuple[str, bool, str]]:
        con = _duck()
        con.execute(f"CREATE VIEW base AS SELECT * FROM {_pq(self.base_path)}")
        con.execute(f"CREATE VIEW batch AS SELECT * FROM {_pq(self.batch_path)}")
        con.execute(f"CREATE VIEW hist AS SELECT * FROM {_pq(f'{self.lake}/orders_history')}")
        con.execute(
            "CREATE VIEW expected AS SELECT * FROM batch UNION ALL "
            "SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)"
        )
        cols = "o_orderkey, " + ", ".join(self.attrs)
        out = [
            _checked("history_versions_per_key", lambda: _rows_equal(
                con, "SELECT o_orderkey, count(*) FROM hist GROUP BY o_orderkey",
                "SELECT o_orderkey, CASE WHEN op = 'U' THEN 2 ELSE 1 END FROM expected "
                "WHERE o_orderkey IN (SELECT o_orderkey FROM batch) UNION ALL "
                "SELECT o_orderkey, 1 FROM expected WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)")),
            _checked("history_one_open_version_per_key", lambda: _rows_equal(
                con, f"SELECT o_orderkey FROM hist WHERE year(dl_ts_delimited) = {HIGH_YEAR}",
                "SELECT o_orderkey FROM expected")),
            _checked("history_open_versions_are_latest", lambda: _rows_equal(
                con, f"SELECT {cols} FROM hist WHERE year(dl_ts_delimited) = {HIGH_YEAR}",
                f"SELECT {cols} FROM expected")),
            _checked("current_table_is_latest", lambda: _rows_equal(
                con, f"SELECT {cols} FROM {_pq(f'{self.lake}/orders_current')}",
                f"SELECT {cols} FROM expected")),
        ]

        def new_month():
            target = f"{self.lake}/lineitem_by_month"
            months = sorted(d for d in os.listdir(target) if d.startswith("ship_month="))
            got = con.execute(
                f"SELECT count(*) FROM {_pq(os.path.join(target, 'ship_month=' + self.new_month))}"
            ).fetchone()[0]
            ok = got == self.month_rows and len(months) == self.n_months - self.held_back + 1
            return ok, f"{len(months)} months, {got} rows in {self.new_month} (expected {self.month_rows})"

        out.append(_checked("partition_diff_new_month", new_month))
        return out


class WideDag(DagWorkload):
    """48 CopyActions over tiny tables: the framework's fixed cost per action."""

    name = "wide_dag"
    roots = 8
    layers = 6

    def setup(self) -> None:
        _rmtree(self.input_dir)
        os.makedirs(self.input_dir)
        self.paths, self.lineage = {}, {}
        rng = np.random.default_rng(self.ctx.seed)
        for i in range(self.roots):
            gen = datagen.gen_nation if i % 2 == 0 else datagen.gen_region
            table = gen(rng, 25 if i % 2 == 0 else 5)
            self.paths[f"src_{i}"] = os.path.join(self.input_dir, f"src_{i}.parquet")
            pq.write_table(table, self.paths[f"src_{i}"])
        self.input_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in self.paths.values())
        self.input_bytes = sum(os.path.getsize(p) for p in self.paths.values())
        self.hocon = self._config_text()

    def _config_text(self) -> str:
        dos = {k: _parquet(p) for k, p in self.paths.items()}
        actions, consumers = {}, {}

        def node(layer, j, src):
            out = f"t{layer}_{j}"
            dos[out] = _parquet(f"{self.lake}/{out}")
            actions[f"copy_{out}"] = _copy(src, out, metadata={"feed": "wide", "layer": f"l{layer}"})
            consumers[out] = 0
            consumers[src] = consumers.get(src, 0) + 1
            self.lineage[out] = self.lineage.get(src, src)

        for j in range(self.roots):
            node(0, j, f"src_{j}")
            node(1, j, f"t0_{j}")
        # deeper layers: even nodes of the previous layer feed two nodes
        # each, odd nodes end their chain (leaves)
        for layer in range(2, self.layers):
            for j in range(self.roots):
                node(layer, j, f"t{layer - 1}_{((j * 3 + layer) % self.roots) & ~1}")
        self.leaves = sorted(o for o, c in consumers.items() if c == 0 and o.startswith("t"))
        self.n_actions = len(actions)
        return config_text({"dataObjects": dos, "actions": actions})

    def check(self) -> list[tuple[str, bool, str]]:
        con = _duck()
        return [
            _checked(leaf, lambda leaf=leaf: _rows_equal(
                con, f"SELECT * FROM {_pq(f'{self.lake}/{leaf}')}",
                f"SELECT * FROM {_pq(self.paths[self.lineage[leaf]])}"))
            for leaf in self.leaves
        ]


# ------------------------------------------------------------------ queries
QUERIES = {
    # query -> input tables it reads
    "dedup_minhash": ["documents"],
    "ann_topk_ivf": ["embeddings"],
    "rolling_z_anomalies_events": ["events"],
    "streaming_stateful_totals": ["events"],
}
STREAMING_TOTALS_SQL = (
    "SELECT user_id, count(*) AS n_events, max(value) AS max_value FROM events GROUP BY user_id"
)


class OperatorQueries:
    """A fixed set of `__spark_entry__.queries()`, one per functions module,
    each result written as parquet so the check reads what the run produced."""

    name = "operator_queries"
    setup_repeats = 3
    warm_reps = 2
    min_reps = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.input_dir = os.path.join(ctx.work, "input")
        self.out = os.path.join(ctx.work, "out")
        self.units = len(QUERIES)
        self.query_s: dict[str, float] = {}
        self.failed = 0

    def storage(self) -> str:
        return self.out

    def load(self) -> None:
        """Read-only workload: nothing to load."""

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.fns = entry.queries()
        self.oracles = entry.oracle_sql()
        tables = datagen.generate(self.ctx.seed, self.ctx.scale["queries_sf"],
                                  sorted({t for ts in QUERIES.values() for t in ts}))
        _rmtree(self.input_dir)
        self.paths = datagen.write(tables, self.input_dir)
        self.input_rows = sum(tables[t].num_rows for ts in QUERIES.values() for t in ts)
        self.input_bytes = sum(os.path.getsize(self.paths[t]) for ts in QUERIES.values() for t in ts)

    def before_rep(self) -> None:
        _rmtree(self.out)

    def rep(self) -> None:
        from smart_data_lake_spark.session import release_persistent_rdds

        self.failed = 0
        for q in QUERIES:
            t0 = time.perf_counter()
            try:
                with self.ctx.span(f"functions.{q}"):
                    df = self.fns[q](self.ctx.spark, self.input_dir)
                    df.write.mode("overwrite").parquet(os.path.join(self.out, q))
            except Exception as e:  # noqa: BLE001 - failures are counted, never dropped
                self.failed += 1
                print(f"query {q} failed: {type(e).__name__}: {str(e)[:300]}", flush=True)
            self.query_s[q] = time.perf_counter() - t0
            release_persistent_rdds(self.ctx.spark)

    def outcome(self) -> tuple[int, int]:
        return len(QUERIES), self.failed

    def check(self) -> list[tuple[str, bool, str]]:
        con = _duck()
        for t, p in self.paths.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_pq(p)}")
        out = []
        for q in QUERIES:
            path = os.path.join(self.out, q)
            if not os.path.isdir(path):
                out.append((q, False, "no output"))
                continue
            try:
                ref = con.execute(self.oracles.get(q, STREAMING_TOTALS_SQL))
                cols = [d[0].lower() for d in ref.description]
                ref_rows = ref.fetchall()
                got = con.execute(f"SELECT * FROM {_pq(path)}")
                got_cols = [d[0].lower() for d in got.description]
                got_rows = got.fetchall()
            except Exception as e:  # noqa: BLE001
                out.append((q, False, f"{type(e).__name__}: {str(e)[:200]}"))
                continue
            if sorted(cols) != sorted(got_cols):
                out.append((q, False, f"columns {sorted(got_cols)} != {sorted(cols)}"))
            elif _canon(cols, ref_rows) != _canon(got_cols, got_rows):
                out.append((q, False, f"values differ ({len(got_rows)} vs {len(ref_rows)} rows)"))
            else:
                out.append((q, True, f"{len(got_rows)} rows"))
        return out


def _norm(v):
    """Canonical cell: numeric class kept (int / float / decimal differ)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", "NaN" if math.isnan(v) else v)
    if isinstance(v, decimal.Decimal):
        return ("d", "NaN" if v.is_nan() else format(v.normalize(), "f"))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat()
    return v


def _canon(cols: list[str], rows: list[tuple]) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


WORKLOADS = {w.name: w for w in (MedallionFull, Scd2Incremental, WideDag, OperatorQueries)}
