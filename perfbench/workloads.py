"""The two workloads: dashboard (the read side) and lake_ingest (the write
side).

Each workload has the same shape, driven by ``run.py``:

- ``setup()``: load inputs (timed into ``setup_s``);
- ``warmup()``: untimed operations until the JVM is warm, plus the
  correctness checks that need a whole pass; returns (attempted, failed);
- ``prepare(i)`` / ``op(i)`` / ``after(i)``: one operation, of which only
  ``op`` is timed; ``op`` returns an ``Outcome``, ``after`` a dict of
  per-layer numbers (storage, streaming phases);
- ``job_groups()``: job groups of the last operation besides the one the
  timed loop set (a streaming query tags its jobs with its run id);
- ``wrap_layers(tracer)``: wrap the engine functions it calls (traced run).

Timings come from the tracer's spans (``bench.*``); the engine's own
public functions are wrapped by ``wrap_layers`` only in the traced run.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import datagen


@dataclass
class Outcome:
    ok: bool
    items: int
    queries: list[float] = field(default_factory=list)  # per-query seconds


@dataclass
class Ctx:
    spark: object
    run_dir: str
    seed: int
    smoke: bool
    tracer: object
    log: object  # print-like, to stderr

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


def force(df: DataFrame) -> None:
    """Execute the full plan without collecting (the noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) that are new or rewritten in ``after``."""
    new = [v[0] for p, v in after.items() if before.get(p) != v]
    return sum(new), len(new)


# ================================================================ dashboard

LAKE_DB = "lake"
#: number of the first warm-up refresh or cycle; a timed one never repeats it
WARMUP_BASE = 1_000_000


class Panel(NamedTuple):
    oracle: str | None  # registry oracle name; None: the SQL text runs in DuckDB as is
    build: object  # build(t, f): ``t`` maps table name to DataFrame, ``f`` holds the filters
    event_types: bool = True  # whether its events are filtered by event type too


def _panels() -> dict[str, Panel]:
    """The refresh's panels, in refresh order. Each reads its inputs
    through the filters of ``filter_sql``, so its registry oracle, run by
    DuckDB over inputs filtered the same way, gives the expected answer."""
    from datalake_local_spark.llm import text
    from datalake_local_spark.operators import (
        aggregates,
        asof,
        flagship,
        joins,
        semantic,
        windows,
    )

    def orders(t, f):
        return t["orders"].filter(
            (F.col("o_orderdate") >= F.lit(f["from"])) & (F.col("o_orderdate") < F.lit(f["to"]))
        )

    def events(t, f, event_types=True):
        e = t["events"].filter((F.col("ts") >= F.lit(f["ev_from"])) & (F.col("ts") < F.lit(f["ev_to"])))
        return e.filter(F.col("event_type").isin(*f["symbols"])) if event_types else e

    def cube(t, f):
        return semantic.cube_query(
            events(t, f),
            measures={
                "n_events": ("count", "value"),
                "value_sum": ("sum", "value"),
                "value_min": ("min", "value"),
                "value_max": ("max", "value"),
            },
            dimensions={
                "month": F.date_trunc("month", F.col("ts")),
                "symbol": F.col("event_type"),
                "cohort": F.pmod(F.col("user_id"), F.lit(10)),
            },
        )

    def region(t, f):
        return t["region"].filter(F.col("r_name").isin(*f["regions"]))

    def pricing(t, f):
        spark = t["orders"].sparkSession
        return spark.sql(PRICING_SQL.format(lineitem=f"{LAKE_DB}.lineitem", lo=f["from"], hi=f["to"]))

    return {
        "cube_request": Panel("semantic_cube_request", cube),
        "ohlcv_daily": Panel("semantic_ohlcv_daily", lambda t, f: semantic.ohlcv_daily(events(t, f))),
        "prediction_vs_actual": Panel(
            "semantic_prediction_join", lambda t, f: semantic.prediction_vs_actual(events(t, f))
        ),
        "revenue_by_month_region": Panel(
            "flagship_revenue_month_region",
            lambda t, f: flagship.revenue_by_month_region(
                t["lineitem"], orders(t, f), t["customer"], t["nation"], region(t, f)
            ),
        ),
        "monthly_rollup": Panel("agg_monthly_rollup", lambda t, f: aggregates.monthly_rollup(orders(t, f))),
        "top_k_orders": Panel(
            "window_topk_per_group", lambda t, f: windows.top_k_orders_per_customer(orders(t, f))
        ),
        "customer_orders": Panel(
            "join_left_agg", lambda t, f: joins.left_join_customer_orders(t["customer"], orders(t, f))
        ),
        "asof_nearest": Panel(
            "join_asof_nearest",
            lambda t, f: asof.asof_nearest_join(events(t, f, event_types=False)),
            event_types=False,
        ),
        "pricing_sql": Panel(None, pricing),
        "corpus_quality": Panel(
            "text_quality",
            lambda t, f: text.quality_scores(t["documents"].filter(F.col("lang").isin(*f["langs"]))),
        ),
    }


def filter_sql(f: dict, event_types: bool) -> dict[str, str]:
    """table -> DuckDB WHERE clause that filters it as the panels do."""

    def names(values):
        return ", ".join(f"'{v}'" for v in values)

    ev = f"ts >= TIMESTAMP '{f['ev_from']}' AND ts < TIMESTAMP '{f['ev_to']}'"
    return {
        "orders": f"o_orderdate >= TIMESTAMP '{f['from']}' AND o_orderdate < TIMESTAMP '{f['to']}'",
        "events": f"{ev} AND event_type IN ({names(f['symbols'])})" if event_types else ev,
        "region": f"r_name IN ({names(f['regions'])})",
        "documents": f"lang IN ({names(f['langs'])})",
    }


#: TPC-H Q1-shaped pricing summary through ``spark.sql``; integer-cent
#: sums so the same text gives the same answer in DuckDB
PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS count_order,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents2,
       max(l_discount) AS max_discount
FROM {lineitem}
WHERE l_shipdate >= TIMESTAMP '{lo} 00:00:00' AND l_shipdate < TIMESTAMP '{hi} 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

OPERATOR_FUNCS = {
    "semantic": ("cube_query", "ohlcv_daily", "prediction_vs_actual"),
    "flagship": ("revenue_by_month_region",),
    "aggregates": ("monthly_rollup",),
    "windows": ("top_k_orders_per_customer",),
    "joins": ("left_join_customer_orders",),
    "asof": ("asof_nearest_join",),
}


def _bulk_load_catalog(spark):
    """An ``InfoCatalog`` whose ``save_ingested`` writes tables exactly as
    the engine does, with the provenance appends (three small writes per
    table, measured by lake_ingest) left out of the dashboard's bulk load."""
    from datalake_local_spark.catalog import InfoCatalog

    class BulkLoad(InfoCatalog):
        def __init__(self, spark):
            self.spark, self.db = spark, "info"

        def register_table(self, table_name: str) -> None:
            pass

        def log_operation(self, op: str, target: str, detail: str = "") -> None:
            pass

    return BulkLoad(spark)


class Dashboard:
    """Read side: ten Cube/Trino-shaped panels over managed tables the
    engine wrote itself, each forced with the noop sink."""

    op_name = "refresh"
    #: timed refreshes per run at least: the first is still 10-25% slower
    #: than the next ones, and the median of three leaves it out
    min_ops = 3
    #: the end-to-end metrics under this workload's own names
    labels = {"op": "refresh", "query": "query", "items": "panels"}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sf = 0.001 if ctx.smoke else 0.1
        self.panels = _panels()

    def setup(self) -> dict:
        ctx = self.ctx
        tables = datagen.star_tables(ctx.seed, self.sf)
        tables["documents"] = datagen.documents(ctx.seed, max(int(50_000 * self.sf), 50))
        self.src_dir = ctx.path("src")
        self.source_bytes = datagen.write_parquet(tables, self.src_dir)
        catalog = _bulk_load_catalog(ctx.spark)
        with ctx.tracer.span("session.load"):
            for name in tables:
                df = ctx.spark.read.parquet(os.path.join(self.src_dir, f"{name}.parquet"))
                catalog.save_ingested(df, LAKE_DB, name)
            self.t = {name: ctx.spark.table(f"{LAKE_DB}.{name}") for name in tables}
        wh = tree_files(ctx.path("warehouse", f"{LAKE_DB}.db"))
        return {
            "storage.data_bytes": sum(v[0] for v in wh.values()),
            "storage.files": len(wh),
            "storage.bytes_per_landed_byte": sum(v[0] for v in wh.values()) / self.source_bytes,
        }

    def warmup(self) -> tuple[int, int]:
        """One untimed refresh, collected and checked: the cold pass. Each
        checked panel counts as one attempted operation."""
        with self.ctx.tracer.span("bench.warmup") as sp:
            failures = self.check_refresh(WARMUP_BASE)
        self.ctx.log(f"perfbench: warm-up refresh (checked) {sp['end'] - sp['start']:.3f} s")
        return len(self.panels), failures

    def check_refresh(self, i: int) -> int:
        """Refresh ``i`` with every panel collected instead of forced, and
        compared with its registry ``oracle_sql()`` run by DuckDB over the
        generated parquet, filtered the same way (the pricing panel's SQL
        text runs unchanged). Returns the number of panels that differ or
        are empty."""
        import duckdb

        import __spark_entry__
        from tools.check_oracle import compare

        oracles = __spark_entry__.oracle_sql()
        self.prepare(i)
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        failures = 0
        for name, panel in self.panels.items():
            where = filter_sql(self.f, panel.event_types)
            for table in self.t:
                cond = f" WHERE {where[table]}" if table in where else ""
                con.execute(
                    f"CREATE OR REPLACE VIEW {table} AS "
                    f"SELECT * FROM '{self.src_dir}/{table}.parquet'{cond}"
                )
            got = panel.build(self.t, self.f).toPandas()
            sql = (
                oracles[panel.oracle]
                if panel.oracle
                else PRICING_SQL.format(lineitem="lineitem", lo=self.f["from"], hi=self.f["to"])
            )
            problems = compare(name, got, con.execute(sql).df())
            if problems or len(got) == 0:
                failures += 1
                self.ctx.log(f"dashboard: panel {name} differs from its oracle: {problems[:2]}")
        con.close()
        return failures

    def filters(self, i: int) -> dict:
        rng = np.random.default_rng([self.ctx.seed, i, 1])
        start = int(rng.integers(0, 78 - 36 + 1))  # 36 of the 79 order months
        ev_day = int(rng.integers(0, 16))  # 15 of the 30 event days
        base = np.datetime64("1995-01", "M")
        return {
            "from": str(base + start) + "-01",
            "to": str(base + start + 36) + "-01",
            "ev_from": str(np.datetime64("2024-01-01") + ev_day),
            "ev_to": str(np.datetime64("2024-01-01") + ev_day + 15),
            "regions": sorted(rng.choice(datagen.REGIONS, 2, replace=False).tolist()),
            "symbols": sorted(rng.choice(datagen.EVENT_TYPES, 3, replace=False).tolist()),
            "langs": sorted(rng.choice(datagen.LANGS, 3, replace=False).tolist()),
        }

    def prepare(self, i: int) -> None:
        self.f = self.filters(i)

    def op(self, i: int) -> Outcome:
        tr = self.ctx.tracer
        lat = []
        for name, panel in self.panels.items():
            with tr.span(f"bench.panel.{name}") as sp:
                df = panel.build(self.t, self.f)
                if tr.wrapped:
                    with tr.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("spark.execute"):
                    force(df)
            lat.append(sp["end"] - sp["start"])
        return Outcome(ok=True, items=len(lat), queries=lat)

    def after(self, i: int) -> dict:
        return {}

    def job_groups(self) -> list[str]:
        return []

    def wrap_layers(self, tr) -> None:
        import importlib

        from pyspark.sql import SparkSession

        from datalake_local_spark.llm import text

        for mod, funcs in OPERATOR_FUNCS.items():
            m = importlib.import_module(f"datalake_local_spark.operators.{mod}")
            for fn in funcs:
                tr.wrap(m, fn, f"operators.{fn}")
        tr.wrap(SparkSession, "sql", "operators.spark_sql")
        tr.wrap(text, "quality_scores", "llm.quality_scores")


# ============================================================== lake_ingest


class LakeIngest:
    """Write side: each cycle lands a seeded drop (JSONL, sale-line CSV,
    two-sheet xlsx through ``ingest_landing``; a header CSV through the
    availableNow stream) and ends when verification queries over every
    new table return the generator's counts and sums."""

    op_name = "cycle"
    min_ops = 1
    labels = {"op": "freshness", "query": "verify_query", "items": "landed_rows"}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_orders = 200 if ctx.smoke else 20_000
        self.warmup_ops = 1
        self.landing = ctx.path("landing")
        self.stream_in = ctx.path("stream", "in")
        self.checkpoint = ctx.path("stream", "checkpoint")
        self.archive = ctx.path("stream", "archive")
        self.warehouse = ctx.path("warehouse")
        self.stream_total = [0, 0]

    def setup(self) -> dict:
        from pyspark.sql import types as T

        from datalake_local_spark.catalog import InfoCatalog

        for d in (self.landing, self.stream_in, self.archive):
            os.makedirs(d, exist_ok=True)
        with self.ctx.tracer.span("session.load"):
            InfoCatalog(self.ctx.spark)
        self.schema = T.StructType.fromDDL(datagen.STREAM_SCHEMA)
        return {}

    def warmup(self) -> tuple[int, int]:
        """Warm-up cycles land small drops through the same code; their
        cycle numbers never repeat a timed cycle's."""
        failures = 0
        full = self.n_orders
        self.n_orders = max(full // 100, 50)
        for i in range(WARMUP_BASE, WARMUP_BASE + self.warmup_ops):
            self.prepare(i)
            with self.ctx.tracer.span("bench.warmup") as sp:
                failures += not self.op(i).ok
            self.after(i)
            self.ctx.log(f"perfbench: warm-up cycle {i - WARMUP_BASE} {sp['end'] - sp['start']:.3f} s")
        self.n_orders = full
        return self.warmup_ops, failures

    def prepare(self, i: int) -> None:
        self.drop = datagen.landing_drop(
            self.ctx.seed, i, self.landing, self.stream_in, self.n_orders
        )
        rows, total = self.drop["totals"][datagen.STREAM_TABLE]
        self.stream_total = [self.stream_total[0] + rows, self.stream_total[1] + total]
        self.before = tree_files(self.warehouse) | tree_files(self.checkpoint)

    def op(self, i: int) -> Outcome:
        from datalake_local_spark.sources.landing import ingest_landing
        from datalake_local_spark.streaming.file_ingest import stream_csv_ingest

        ctx, tr = self.ctx, self.ctx.tracer
        ingest_landing(ctx.spark, self.landing)
        with tr.span("streaming.trigger"):
            q = stream_csv_ingest(
                ctx.spark,
                self.stream_in,
                datagen.STREAM_TABLE,
                self.schema,
                self.checkpoint,
                archive_dir=self.archive,
            )
            q.awaitTermination()
        self.query = q
        expect = dict(self.drop["totals"])
        expect[datagen.STREAM_TABLE] = tuple(self.stream_total)
        ok, lat = True, []
        for fqn, want in expect.items():
            with tr.span("verify.query") as sp:
                col = VERIFY_COLUMN[fqn]
                row = ctx.spark.sql(f"SELECT count(*), sum({col}) FROM {fqn}").collect()[0]
            lat.append(sp["end"] - sp["start"])
            if (row[0], row[1]) != want:
                ok = False
                ctx.log(f"lake_ingest: {fqn} has {tuple(row)}, expected {want}")
        landed_rows = sum(v[0] for v in self.drop["totals"].values())
        return Outcome(ok=ok, items=landed_rows, queries=lat)

    def after(self, i: int) -> dict:
        # delete-after-read, as the reference does once a drop is ingested
        shutil.rmtree(os.path.join(self.landing, datagen.BUCKET), ignore_errors=True)
        wh_after = tree_files(self.warehouse)
        ck_after = tree_files(self.checkpoint)
        data = {p: v for p, v in wh_after.items() if "/info.db/" not in p}
        info = {p: v for p, v in wh_after.items() if "/info.db/" in p}
        data_b, data_n = written_since(self.before, data)
        info_b, info_n = written_since(self.before, info)
        ck_b, ck_n = written_since(self.before, ck_after)
        extra = {
            "storage.data_bytes": data_b,
            "storage.info_bytes": info_b,
            "storage.checkpoint_bytes": ck_b,
            "storage.files": data_n + info_n + ck_n,
            "catalog.files_written": info_n,
            "storage.bytes_per_landed_byte": (data_b + info_b + ck_b) / self.drop["landed_bytes"],
        }
        phases = {}
        for p in self.query.recentProgress:
            for k, v in (p.get("durationMs") or {}).items():
                phases[k] = phases.get(k, 0) + v
        for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
            extra[f"streaming.{k}_ms"] = phases.get(k, 0)
        return extra

    def job_groups(self) -> list[str]:
        """Streaming jobs run on the stream's thread, tagged with its run id."""
        return [str(self.query.runId)]

    def wrap_layers(self, tr) -> None:
        from datalake_local_spark import catalog
        from datalake_local_spark.sources import csv_lines, excel, json_source, landing, xlsx_native
        from datalake_local_spark.streaming import file_ingest

        tr.wrap(landing, "ingest_landing", "sources.ingest_landing")
        tr.wrap(landing, "discover_landing", "sources.discover")
        tr.wrap(json_source, "ingest_json", "sources.json")
        tr.wrap(csv_lines, "ingest_csv_lines", "sources.csv_lines")
        tr.wrap(excel, "ingest_excel_file", "sources.xlsx")
        tr.wrap(xlsx_native, "parse_xlsx", "sources.xlsx_parse")
        tr.wrap(file_ingest, "stream_csv_ingest", "streaming.start")
        for method in ("save_ingested", "register_table", "log_operation", "ensure_database"):
            tr.wrap(catalog.InfoCatalog, method, f"catalog.{method}", group="catalog")
        tr.wrap(catalog.InfoCatalog, "__init__", "catalog.init", group="catalog")


VERIFY_COLUMN = {
    f"{datagen.BUCKET}.pedidos": "qty",
    f"{datagen.BUCKET}.ventas": "n_animales",
    f"{datagen.BUCKET}.inventario_lotes": "cabezas",
    f"{datagen.BUCKET}.inventario_precios": "precio_cents",
    datagen.STREAM_TABLE: "sensor_id",
}


WORKLOADS = {"dashboard": Dashboard, "lake_ingest": LakeIngest}
