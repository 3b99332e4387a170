"""Seeded input generators for the benchmark.

Every input the benchmark feeds the engine is made here from a seed, so the
same seed gives byte-identical inputs and no run reads the test-data
directories. Shapes and value domains follow the engine's sf-scaled
TPC-H-ish star schema (``datalake_local_spark.session.TABLES``): uniform
keys, 2-decimal money values, orders dated 1995-01-01..2001-08-01 and
events spread over the 30 days from 2024-01-01.
"""

from __future__ import annotations

import csv
import json
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")

ORDER_EPOCH = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - ORDER_EPOCH).astype(int))
EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """2-decimal values from integer cents, so every engine reads the same."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The dashboard's star-schema tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 50)
    n_li = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 100)

    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    odate = ORDER_EPOCH + rng.integers(0, ORDER_DAYS + 1, n_ord).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(odate.astype("datetime64[us]")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    li_order = rng.integers(0, n_ord, n_li).astype(np.int64)
    ship = odate[li_order] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": li_order,
            "l_partkey": rng.integers(0, max(int(200_000 * sf), 10), n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, max(int(10_000 * sf), 10), n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )
    ts = EVENT_EPOCH + np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)).astype("timedelta64[us]")
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts),
            "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0.0, 560.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def write_parquet(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write ``<out_dir>/<name>.parquet`` per table; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def documents(seed: int, n_docs: int) -> pa.Table:
    """A ``documents`` table: 10..100 words from a 30-word vocabulary."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, n_docs)]
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


# ----------------------------------------------------------------- landing drop


def _xlsx(path: str, sheets: dict[str, tuple[list[str], list[list]]]) -> None:
    """Minimal SpreadsheetML workbook (inline strings, numeric cells)."""

    def col(i: int) -> str:
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(ord("A") + r) + s
        return s

    def cell(ref: str, v) -> str:
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    rel_type = "http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        names = list(sheets)
        zf.writestr(
            "xl/workbook.xml",
            f"<workbook {ns} {rns}><sheets>"
            + "".join(
                f'<sheet name="{n}" sheetId="{i}" r:id="rId{i}"/>' for i, n in enumerate(names, 1)
            )
            + "</sheets></workbook>",
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            + "".join(
                f'<Relationship Id="rId{i}" Target="worksheets/sheet{i}.xml" Type="{rel_type}"/>'
                for i in range(1, len(names) + 1)
            )
            + "</Relationships>",
        )
        for i, (header, rows) in enumerate(sheets.values(), 1):
            body = "".join(
                f'<row r="{r + 1}">'
                + "".join(cell(f"{col(c)}{r + 1}", v) for c, v in enumerate(row))
                + "</row>"
                for r, row in enumerate([header] + rows)
            )
            zf.writestr(
                f"xl/worksheets/sheet{i}.xml", f"<worksheet {ns}><sheetData>{body}</sheetData></worksheet>"
            )


#: landing bucket (becomes the database) and the streamed table
BUCKET = "granja"
STREAM_TABLE = "granja.readings"
STREAM_SCHEMA = "sensor_id BIGINT, reading_ts STRING, temp_c DOUBLE"


def landing_drop(
    seed: int, cycle: int, landing_root: str, stream_dir: str, n_orders: int
) -> dict:
    """Write one cycle's drop and return the totals verification expects.

    - ``<landing_root>/granja/pedidos.jsonl``: ``n_orders`` JSON orders;
    - ``<landing_root>/granja/ventas.csv``: sale lines with noise, cut by a
      ``RECRIASIN`` sentinel after which sale-shaped lines must be ignored;
    - ``<landing_root>/granja/inventario.xlsx``: sheets ``lotes`` and ``precios``;
    - ``<stream_dir>/lecturas_<cycle>.csv``: a header CSV for the stream.

    Totals are per table: ``{fqn: (rows, integer checksum)}``; the stream
    table's totals are for this cycle's file only (the table appends).
    """
    rng = np.random.default_rng([seed, cycle, 7])
    bucket = os.path.join(landing_root, BUCKET)
    os.makedirs(bucket, exist_ok=True)
    os.makedirs(stream_dir, exist_ok=True)
    totals: dict[str, tuple[int, int]] = {}
    landed = 0

    qty = rng.integers(1, 100, n_orders)
    cents = rng.integers(100, 1_000_000, n_orders)
    path = os.path.join(bucket, "pedidos.jsonl")
    with open(path, "w") as f:
        for i in range(n_orders):
            f.write(
                json.dumps(
                    {
                        "order_id": cycle * 10_000_000 + i,
                        "sku": f"SKU-{int(qty[i]) * 7 % 503}",
                        "qty": int(qty[i]),
                        "price_cents": int(cents[i]),
                    }
                )
                + "\n"
            )
    landed += os.path.getsize(path)
    totals[f"{BUCKET}.pedidos"] = (n_orders, int(qty.sum()))

    n_sales = max(n_orders // 10, 5)
    animals = rng.integers(1, 500, n_sales)
    path = os.path.join(bucket, "ventas.csv")
    with open(path, "w", encoding="latin-1") as f:
        f.write("Informe de ventas;granja\n")
        for i in range(n_sales):
            d, m = int(rng.integers(1, 29)), int(rng.integers(1, 13))
            f.write(f"{d}/{m}/2024 Venta Animales: {animals[i]} Documento salida: {i + 1} lote {i % 9}\n")
            if i % 4 == 0:
                f.write(f"Nota interna {i};sin venta\n")
        f.write("RECRIASIN total\n")
        for i in range(5):
            f.write(f"1/1/2024 Venta Animales: 999 Documento salida: {900000 + i}\n")
    landed += os.path.getsize(path)
    totals[f"{BUCKET}.ventas"] = (n_sales, int(animals.sum()))

    n_lots = max(n_orders // 40, 3)
    heads = rng.integers(1, 300, n_lots)
    kilo = rng.integers(10, 900, n_lots)
    lotes = (
        ["lote_id", "cabezas", "peso_kg", "corral"],
        [[int(cycle * 100_000 + i), int(heads[i]), int(kilo[i]), f"C{i % 13}"] for i in range(n_lots)],
    )
    months = [f"{2024 + m // 12}-{m % 12 + 1:02d}" for m in range(24)]
    pcents = rng.integers(100, 100_000, len(months))
    precios = (["mes", "precio_cents"], [[m, int(c)] for m, c in zip(months, pcents)])
    path = os.path.join(bucket, "inventario.xlsx")
    _xlsx(path, {"lotes": lotes, "precios": precios})
    landed += os.path.getsize(path)
    totals[f"{BUCKET}.inventario_lotes"] = (n_lots, int(heads.sum()))
    totals[f"{BUCKET}.inventario_precios"] = (len(months), int(pcents.sum()))

    n_read = max(n_orders // 4, 5)
    sensor = rng.integers(0, 1000, n_read)
    temp = rng.integers(-200, 450, n_read)
    path = os.path.join(stream_dir, f"lecturas_{cycle:05d}.csv")
    tmp = os.path.join(os.path.dirname(stream_dir), f".lecturas_{cycle:05d}.csv")
    with open(tmp, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["sensor_id", "reading_ts", "temp_c"])
        for i in range(n_read):
            w.writerow([int(sensor[i]), f"2024-03-{1 + i % 28:02d}T{i % 24:02d}:00:00", temp[i] / 10.0])
    os.replace(tmp, path)  # the stream must never see a half-written file
    landed += os.path.getsize(path)
    totals[STREAM_TABLE] = (n_read, int(sensor.sum()))
    return {"totals": totals, "landed_bytes": landed}
