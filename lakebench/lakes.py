"""Seeded data generation and lake construction.

Every lake is built the way an external DuckLake writer would leave it:
Parquet files written with pyarrow (``PARQUET:field_id`` stamped from the
catalog's column ids) and registered through ``CatalogWriter``, one
snapshot per append, plus positional-delete files for the MOR share.
The connector under test only ever sees the resulting catalog and files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datafusion_ducklake_spark.metadata.writer import (CatalogWriter,
                                                       ColumnDef,
                                                       DataFileInfo,
                                                       WriteMode)

_ARROW = {"int32": pa.int32(), "int64": pa.int64(), "float64": pa.float64(),
          "varchar": pa.string(), "timestamp": pa.timestamp("us")}


class LakeBuilder:
    """Registers pyarrow-written files into a fresh SQLite catalog."""

    def __init__(self, root: str):
        self.data = os.path.join(root, "data")
        os.makedirs(self.data)
        self.w = CatalogWriter.sqlite(os.path.join(root, "catalog.sqlite"))
        self.w.initialize_schema(data_path=self.data)
        self._row_id = {}
        self.files: dict[str, list] = {}

    def append(self, table: str, columns: list[tuple[str, str]],
               batch: pa.Table, name: str) -> None:
        """One snapshot adding one data file of ``batch`` to main.<table>."""
        defs = [ColumnDef(n, t) for n, t in columns]
        setup = self.w.begin_write_transaction("main", table, defs,
                                               WriteMode.APPEND)
        schema = pa.schema([
            pa.field(n, _ARROW[t],
                     metadata={b"PARQUET:field_id": str(cid).encode()})
            for (n, t), cid in zip(columns, setup.column_ids)])
        tdir = os.path.join(self.data, "main", table)
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, name)
        pq.write_table(batch.cast(schema), path)
        start = self._row_id.get(table, 0)
        fid = self.w.register_data_file(
            setup.table_id, setup.snapshot_id,
            DataFileInfo(name, True, os.path.getsize(path), None,
                         batch.num_rows, start))
        self._row_id[table] = start + batch.num_rows
        self.files.setdefault(table, []).append(
            (setup.table_id, fid, path, batch.num_rows))

    def delete(self, table: str, index: int, positions: list[int],
               name: str) -> None:
        """One snapshot adding a positional-delete file for the
        ``index``-th data file of main.<table>."""
        table_id, fid, path, _n = self.files[table][index]
        snap = self.w.create_snapshot()
        dpath = os.path.join(os.path.dirname(path), name)
        pq.write_table(pa.table({
            "file_path": pa.array([path] * len(positions), pa.string()),
            "pos": pa.array(positions, pa.int64())}), dpath)
        self.w.register_delete_file(table_id, fid, snap, name, True,
                                    os.path.getsize(dpath), len(positions))

    def close(self) -> None:
        self.w.close()


# -- lake_many_files -------------------------------------------------------

EVENT_COLUMNS = [("id", "int64"), ("k", "int32"), ("v", "int64"),
                 ("tag", "varchar")]
TAGS = np.array(["alpha", "beta", "gamma", "delta", "omega"])


def event_rows(rng, first_id: int, n: int) -> pa.Table:
    return pa.table({
        "id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "k": pa.array(rng.integers(0, 16, n), pa.int32()),
        "v": pa.array(rng.integers(0, 10_000, n), pa.int64()),
        "tag": pa.array(TAGS[rng.integers(0, len(TAGS), n)])})


def build_many_files(root: str, seed: int, n_files: int, dirty_every: int
                     ) -> dict:
    """main.events from ``n_files`` small appends; every ``dirty_every``-th
    file carries a positional-delete file. Returns the live rows (the
    oracle for every read) as numpy columns."""
    rng = np.random.default_rng(seed)
    b = LakeBuilder(root)
    parts, next_id = [], 0
    for i in range(n_files):
        n = int(rng.integers(40, 80))
        batch = event_rows(rng, next_id, n)
        next_id += n
        b.append("events", EVENT_COLUMNS, batch, f"events-{i:05d}.parquet")
        parts.append(batch)
    live = []
    for i, batch in enumerate(parts):
        keep = np.ones(batch.num_rows, bool)
        if i % dirty_every == 0:
            pos = sorted(rng.choice(batch.num_rows, 3, replace=False).tolist())
            b.delete("events", i, pos, f"events-{i:05d}-delete.parquet")
            keep[pos] = False
        live.append(batch.filter(pa.array(keep)))
    b.close()
    t = pa.concat_tables(live)
    return {"next_id": next_id,
            "rows": {c: t.column(c).to_numpy() for c in t.column_names}}


# -- lake_query_large ------------------------------------------------------

CUSTOMER_COLUMNS = [("c_custkey", "int64"), ("c_name", "varchar"),
                    ("c_nationkey", "int32"), ("c_acctbal", "float64"),
                    ("c_mktsegment", "varchar")]
ORDERS_COLUMNS = [("o_orderkey", "int64"), ("o_custkey", "int64"),
                  ("o_orderstatus", "varchar"), ("o_totalprice", "float64"),
                  ("o_orderdate", "timestamp"),
                  ("o_orderpriority", "varchar")]
LINEITEM_COLUMNS = [("l_orderkey", "int64"), ("l_partkey", "int64"),
                    ("l_suppkey", "int64"), ("l_linenumber", "int32"),
                    ("l_quantity", "float64"),
                    ("l_extendedprice", "float64"),
                    ("l_discount", "float64"), ("l_tax", "float64"),
                    ("l_returnflag", "varchar"),
                    ("l_linestatus", "varchar"),
                    ("l_shipdate", "timestamp")]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])


def tpch_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """TPC-H-shaped customer/orders/lineitem with the value ranges the
    registered query bodies filter on (dates 1995..2001, whole-number
    quantities, two-decimal prices)."""
    rng = np.random.default_rng(seed)
    n_cust = max(1, n_orders // 10)
    epoch = np.datetime64("1995-01-01", "D")
    cust = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    odate = epoch + rng.integers(0, 2404, n_orders).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_orders)]})
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n = len(okey)
    lineno = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines)
              + 1).astype(np.int32)
    ship = np.repeat(odate, lines) + \
        rng.integers(1, 122, n).astype("timedelta64[D]")
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"))})
    return {"customer": cust, "orders": orders, "lineitem": lineitem}


TPCH_COLUMNS = {"customer": CUSTOMER_COLUMNS, "orders": ORDERS_COLUMNS,
                "lineitem": LINEITEM_COLUMNS}


def build_query_large(root: str, seed: int, n_orders: int,
                      files_per_table: int) -> dict[str, pa.Table]:
    """Each table split into ``files_per_table`` appends; no deletes."""
    tables = tpch_tables(seed, n_orders)
    b = LakeBuilder(root)
    for name, t in tables.items():
        step = -(-t.num_rows // files_per_table)
        for i in range(files_per_table):
            b.append(name, TPCH_COLUMNS[name], t.slice(i * step, step),
                     f"{name}-{i:03d}.parquet")
    b.close()
    return tables


# -- lake_write_mix ----------------------------------------------------------

def build_write_mix(root: str, seed: int, n_files: int, rows_per_file: int
                    ) -> dict:
    """main.acct from ``n_files`` appends of ``rows_per_file`` rows."""
    rng = np.random.default_rng(seed)
    b = LakeBuilder(root)
    parts = []
    for i in range(n_files):
        batch = event_rows(rng, i * rows_per_file, rows_per_file)
        b.append("acct", EVENT_COLUMNS, batch, f"acct-{i:05d}.parquet")
        parts.append(batch)
    b.close()
    t = pa.concat_tables(parts)
    return {"next_id": n_files * rows_per_file,
            "rows": {c: t.column(c).to_numpy() for c in t.column_names}}


# -- per-round restore -------------------------------------------------------

class Snapshot:
    """A copy of a built lake; ``restore`` puts the live lake back to it
    (same paths, so the catalog's absolute data path stays valid)."""

    def __init__(self, live: str, copy: str):
        self.live, self.copy = live, copy
        shutil.copytree(live, copy)

    def restore(self) -> None:
        shutil.rmtree(self.live)
        shutil.copytree(self.copy, self.live)
