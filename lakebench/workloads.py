"""The three workloads: lake construction, one round of ops, and the oracle
each op's result is checked against.

A round is a fixed list of ops drawn from the seed once, at set-up. Every
round starts from the same lake (restored from a copy), so every round
does identical work: the warm-up, the timed pass and the traced pass
repeat the same rounds, and per-op counts repeat exactly.

An op is ``Op(kind, name, call, check, prepare)``: ``prepare`` builds the
user's inputs (untimed), ``call`` is the timed call into the connector,
and ``check`` compares its result with the oracle and advances the model
of the lake (untimed).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from . import lakes

# Row-level inputs per workload; all derived from the seed.
MANY_FILES = {"files": 40, "dirty_every": 8, "append_rows": 40}
QUERY_LARGE = {"orders": 60_000, "files_per_table": 2}
WRITE_MIX = {"files": 8, "rows_per_file": 250, "insert_rows": 200,
             "merge_rows": 100}


@dataclass
class Op:
    kind: str                       # "read" or "write"
    name: str
    call: Callable[[Any], Any]      # timed; gets prepare()'s value
    check: Callable[[Any], bool]    # untimed; result -> correct?
    prepare: Optional[Callable[[], Any]] = None
    user_bytes: Callable[[], int] = field(default=lambda: 0)


def collect(tracer, df) -> pa.Table:
    """Plan, then execute and fetch as Arrow: the read op's Spark part."""
    with tracer.span("spark.plan", "spark"):
        df._jdf.queryExecution().executedPlan()
    with tracer.span("spark.exec", "spark"):
        return df.toArrow()


def rows_of(t: pa.Table) -> list[tuple]:
    cols = [c.to_pylist() for c in t.columns]
    return sorted(zip(*cols), key=lambda r: tuple(
        (x is None, x if x is not None else 0) for x in r))


def same_rows(got: pa.Table, want: pa.Table, rel=1e-9) -> bool:
    a, b = rows_of(got), rows_of(want)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif not math.isclose(x, y, rel_tol=rel, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


def row_bytes(rows: dict) -> float:
    """Arrow bytes per row of an events/acct row set."""
    t = pa.table(rows)
    return t.nbytes / max(1, t.num_rows)


class Workload:
    name = ""
    table = ""
    warmup_rounds = 1       # untimed rounds before timing, in setup_s

    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer

    def build(self, root: str) -> None:
        raise NotImplementedError

    def prepare_oracle(self, root: str) -> None:
        """Set-up work after the lake exists (e.g. DuckDB answers)."""

    def start_round(self, dl) -> list[Op]:
        raise NotImplementedError

    def live_bytes(self) -> int:
        raise NotImplementedError

    def describe(self) -> str:
        raise NotImplementedError


# -- lake_many_files ---------------------------------------------------------

class ManyFiles(Workload):
    """Reads over one table of many small appends with a fixed MOR share,
    plus two small appends per round (the table keeps growing by files)."""

    name = "lake_many_files"
    table = "main.events"
    # its rounds are short: a second warm-up round halved the run-to-run
    # spread of read_p50_s over five seeds on a 4-core box
    warmup_rounds = 2

    def build(self, root):
        base = lakes.build_many_files(root, self.seed, MANY_FILES["files"],
                                      MANY_FILES["dirty_every"])
        self.base = base
        rng = np.random.default_rng(self.seed + 1)
        n = MANY_FILES["append_rows"]
        self.appends = [lakes.event_rows(rng, base["next_id"] + i * n, n)
                        for i in range(2)]
        lo = int(rng.integers(0, base["next_id"] - 600))
        # a fixed order: each append follows a dl.sql read, so it always
        # pays the view refresh a registered session does after a write
        self.plan = [("table_filter_agg", int(rng.integers(0, 16))),
                     ("sql_group", int(rng.integers(1000, 9000))),
                     ("append", 0),
                     ("table_group", None),
                     ("sql_range", (lo, lo + 500)),
                     ("append", 1)]

    def live_bytes(self):
        return pa.table(self.model).nbytes

    def describe(self):
        return (f"{MANY_FILES['files']} appends of 40-80 rows, every "
                f"{MANY_FILES['dirty_every']}th with a delete file; "
                f"{len(self.plan)} ops per round")

    def _live(self, mask_fn=None):
        m = self.model
        keep = np.ones(len(m["id"]), bool) if mask_fn is None \
            else mask_fn(m)
        return {c: v[keep] for c, v in m.items()}

    def start_round(self, dl):
        self.model = {c: v.copy() for c, v in self.base["rows"].items()}
        tr = self.tracer
        ops = []
        for kind, arg in self.plan:
            ops.append(getattr(self, "_op_" + kind)(dl, tr, arg))
        return ops

    def _agg_table(self, rows, key) -> pa.Table:
        keys, inv = np.unique(rows[key], return_inverse=True)
        return pa.table({
            key: pa.array(keys),
            "n": pa.array(np.bincount(inv, minlength=len(keys)), pa.int64()),
            "s": pa.array(np.bincount(inv, weights=rows["v"],
                                      minlength=len(keys)).astype(np.int64))})

    def _op_table_filter_agg(self, dl, tr, k):
        def call(_):
            df = dl.table(self.table).filter(F.col("k") == k) \
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            return collect(tr, df)

        def check(got):
            rows = self._live(lambda m: m["k"] == k)
            n = len(rows["id"])
            want = pa.table({"n": [n], "s": [int(rows["v"].sum()) if n
                                               else None]})
            return same_rows(got, want)
        return Op("read", "table_filter_agg", call, check)

    def _op_table_group(self, dl, tr, _):
        def call(_):
            df = dl.table(self.table).groupBy("tag") \
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            return collect(tr, df)

        def check(got):
            return same_rows(got, self._agg_table(self._live(), "tag"))
        return Op("read", "table_group", call, check)

    def _op_sql_group(self, dl, tr, x):
        def call(_):
            return collect(tr, dl.sql(
                f"SELECT k, count(*) AS n, sum(v) AS s FROM {self.table} "
                f"WHERE v < {x} GROUP BY k"))

        def check(got):
            want = self._agg_table(self._live(lambda m: m["v"] < x), "k")
            return same_rows(got, want.cast(pa.schema([
                ("k", pa.int32()), ("n", pa.int64()), ("s", pa.int64())])))
        return Op("read", "sql_group", call, check)

    def _op_sql_range(self, dl, tr, bounds):
        lo, hi = bounds

        def call(_):
            return collect(tr, dl.sql(
                f"SELECT count(*) AS n, sum(v) AS s, min(id) AS lo, "
                f"max(id) AS hi FROM {self.table} "
                f"WHERE id BETWEEN {lo} AND {hi}"))

        def check(got):
            r = self._live(lambda m: (m["id"] >= lo) & (m["id"] <= hi))
            n = len(r["id"])
            want = pa.table({
                "n": [n], "s": [int(r["v"].sum()) if n else None],
                "lo": [int(r["id"].min()) if n else None],
                "hi": [int(r["id"].max()) if n else None]})
            return same_rows(got, want)
        return Op("read", "sql_range", call, check)

    def _op_append(self, dl, tr, i):
        batch = self.appends[i]

        def prepare():
            return self.spark.createDataFrame(
                batch.to_pandas(),
                "id BIGINT, k INT, v BIGINT, tag STRING")

        def call(df):
            return dl.insert_into(self.table, df)

        def check(n):
            self.model = {c: np.concatenate(
                [self.model[c], batch.column(c).to_numpy()])
                for c in self.model}
            return n == batch.num_rows
        return Op("write", "append", call, check, prepare,
                  lambda: batch.nbytes)


# -- lake_query_large --------------------------------------------------------

# registered query bodies that touch only customer/orders/lineitem
QUERIES = {
    "q01_pricing_summary": ("lineitem",),
    "q04_order_priority": ("orders", "lineitem"),
    "q12_shipping_buckets": ("lineitem", "orders"),
    "q13_customer_distribution": ("customer", "orders"),
    "q18_large_orders": ("customer", "orders", "lineitem"),
}

ORDER_REV_SQL = """
SELECT o_orderkey, o_custkey,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
       AS DOUBLE) AS revenue,
  COUNT(*) AS n_lines
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderkey, o_custkey
"""


class QueryLarge(Workload):
    """Compute-bound query bodies over a few large files, plus one write
    per round that materializes a join-aggregate into the lake."""

    name = "lake_query_large"

    def build(self, root):
        self.tables = lakes.build_query_large(
            root, self.seed, QUERY_LARGE["orders"],
            QUERY_LARGE["files_per_table"])
        self.plan = list(QUERIES)
        self.plan.insert(2, "materialize_order_rev")

    def prepare_oracle(self, root):
        import duckdb

        from datafusion_ducklake_spark.queries import REGISTRY
        con = duckdb.connect()
        data = os.path.join(root, "data", "main")
        for name in lakes.TPCH_COLUMNS:
            files = sorted(os.path.join(data, name, f)
                           for f in os.listdir(os.path.join(data, name)))
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet({files!r})")
        self.expected = {q: con.sql(REGISTRY[q].oracle).arrow()
                         for q in QUERIES}
        rev = con.sql(ORDER_REV_SQL).arrow()
        self.order_rev_bytes = rev.nbytes
        self.order_rev_summary = con.sql(
            f"SELECT count(*) AS n, sum(n_lines) AS lines, "
            f"CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS DOUBLE) AS rev "
            f"FROM ({ORDER_REV_SQL})").arrow()
        con.close()

    def live_bytes(self):
        return sum(t.nbytes for t in self.tables.values()) + \
            self.order_rev_bytes

    def describe(self):
        n = {k: t.num_rows for k, t in self.tables.items()}
        return (f"customer {n['customer']}, orders {n['orders']}, lineitem "
                f"{n['lineitem']} rows in {QUERY_LARGE['files_per_table']} "
                f"files each; {len(self.plan)} ops per round")

    def start_round(self, dl):
        tr = self.tracer
        ops = []
        for q in self.plan:
            if q == "materialize_order_rev":
                ops.append(self._op_materialize(dl, tr))
            else:
                ops.append(self._op_query(dl, tr, q))
        return ops

    def _op_query(self, dl, tr, q):
        from datafusion_ducklake_spark.queries import REGISTRY
        from datafusion_ducklake_spark.queries._util import set_table_override

        def call(_):
            for t in QUERIES[q]:
                set_table_override(t, dl.table(f"main.{t}"))
            try:
                return collect(tr, REGISTRY[q].fn(self.spark, ""))
            finally:
                for t in QUERIES[q]:
                    set_table_override(t, None)

        def check(got):
            return same_rows(got, self.expected[q])
        return Op("read", q, call, check)

    def _op_materialize(self, dl, tr):
        from datafusion_ducklake_spark.queries._util import dsum

        def call(_):
            o, li = dl.table("main.orders"), dl.table("main.lineitem")
            df = (o.join(li, li.l_orderkey == o.o_orderkey)
                  .groupBy("o_orderkey", "o_custkey")
                  .agg(dsum(F.col("l_extendedprice")
                            * (F.lit(1) - F.col("l_discount")))
                       .alias("revenue"),
                       F.count(F.lit(1)).alias("n_lines")))
            return dl.insert_into("main.order_rev", df, overwrite=True)

        def check(n):
            got = dl.sql(
                "SELECT count(*) AS n, sum(n_lines) AS lines, "
                "CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS DOUBLE) AS rev "
                "FROM main.order_rev").toArrow()
            return n == got.column("n")[0].as_py() and \
                same_rows(got, self.order_rev_summary, rel=1e-12)
        return Op("write", "materialize_order_rev", call, check,
                  user_bytes=lambda: self.order_rev_bytes)


# -- lake_write_mix ----------------------------------------------------------

class WriteMix(Workload):
    """INSERT, DELETE and MERGE (whose matched rows are updated) through
    the connector, a change-feed read, a merge_adjacent_files pass and a
    full read of the table after the delete, the merge and maintenance."""

    name = "lake_write_mix"
    table = "main.acct"

    def build(self, root):
        self.base = lakes.build_write_mix(
            root, self.seed, WRITE_MIX["files"], WRITE_MIX["rows_per_file"])
        rng = np.random.default_rng(self.seed + 1)
        nid = self.base["next_id"]
        n = WRITE_MIX["insert_rows"]
        self.insert = lakes.event_rows(rng, nid, n)
        nid += n
        m = WRITE_MIX["merge_rows"]
        old = np.sort(rng.choice(self.base["next_id"], m // 2,
                                 replace=False))
        src = lakes.event_rows(rng, 0, m)
        ids = np.concatenate([old, np.arange(nid, nid + m - m // 2)])
        self.merge_src = src.set_column(0, "id", pa.array(ids, pa.int64()))
        self.delete_arg = (int(rng.integers(0, 16)), int(rng.integers(0, 7)))
        self.row_bytes = row_bytes(self.base["rows"])

    def live_bytes(self):
        return int(len(self.model) * self.row_bytes)

    def describe(self):
        return (f"{WRITE_MIX['files']} files of {WRITE_MIX['rows_per_file']}"
                f" rows; per round 1 insert of {WRITE_MIX['insert_rows']}, "
                f"1 delete, 1 merge of {WRITE_MIX['merge_rows']}, "
                f"1 merge_adjacent_files, 1 table_changes, 3 full reads")

    def start_round(self, dl):
        r = self.base["rows"]
        self.model = {int(i): (int(k), int(v), t) for i, k, v, t in
                      zip(r["id"], r["k"], r["v"], r["tag"])}
        self.log: list[tuple] = []      # (change_type, id, v)
        self.base_snapshot = dl.provider.get_current_snapshot()
        tr = self.tracer
        # a full read after each write that leaves delete files, and after
        # maintenance: read-your-writes over a table whose deletes
        # accumulate, then are compacted away
        return [self._op_insert(dl),
                self._op_delete(dl), self._op_scan(dl, tr),
                self._op_changes(dl, tr), self._op_merge(dl),
                self._op_scan(dl, tr), self._op_maintenance(dl),
                self._op_scan(dl, tr)]

    def _op_insert(self, dl):
        batch = self.insert

        def prepare():
            return self.spark.createDataFrame(
                batch.to_pandas(), "id BIGINT, k INT, v BIGINT, tag STRING")

        def check(n):
            for row in zip(*[c.to_pylist() for c in batch.columns]):
                self.model[row[0]] = row[1:]
                self.log.append(("insert", row[0], row[2]))
            return n == batch.num_rows
        return Op("write", "insert", lambda df: dl.insert_into(self.table, df),
                  check, prepare, lambda: batch.nbytes)

    def _changed(self, pred) -> list[int]:
        return [i for i, row in self.model.items() if pred(i, row)]

    def _op_delete(self, dl):
        k, r = self.delete_arg
        hit = []

        def call(_):
            return dl.sql(f"DELETE FROM {self.table} "
                          f"WHERE k = {k} AND id % 7 = {r}").collect()

        def check(out):
            hit[:] = self._changed(lambda i, row: row[0] == k and i % 7 == r)
            for i in hit:
                self.log.append(("delete", i, self.model.pop(i)[1]))
            return out[0]["count"] == len(hit)
        return Op("write", "delete", call, check,
                  user_bytes=lambda: int(len(hit) * self.row_bytes))

    def _op_changes(self, dl, tr):
        def call(_):
            end = dl.provider.get_current_snapshot()
            df = dl.table_changes(self.table, self.base_snapshot, end)
            return collect(tr, df.select("change_type", "id", "v"))

        def check(got):
            want = pa.table({
                "change_type": [c for c, _, _ in self.log],
                "id": pa.array([i for _, i, _ in self.log], pa.int64()),
                "v": pa.array([v for _, _, v in self.log], pa.int64())})
            return same_rows(got, want)
        return Op("read", "table_changes", call, check)

    def _op_merge(self, dl):
        src = self.merge_src

        def prepare():
            self.spark.createDataFrame(
                src.to_pandas(), "id BIGINT, k INT, v BIGINT, tag STRING") \
                .createOrReplaceTempView("lakebench_merge_src")

        def call(_):
            return dl.sql(
                f"MERGE INTO {self.table} AS t USING lakebench_merge_src AS s "
                "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v "
                "WHEN NOT MATCHED THEN INSERT *").collect()

        def check(out):
            for i, k, v, t in zip(*[c.to_pylist() for c in src.columns]):
                if i in self.model:
                    kk, _, tt = self.model[i]
                    self.model[i] = (kk, v, tt)
                else:
                    self.model[i] = (k, v, t)
            return out[0]["count"] == src.num_rows
        return Op("write", "merge", call, check, prepare,
                  lambda: int(src.num_rows * self.row_bytes))

    def _op_maintenance(self, dl):
        def call(_):
            return dl.merge_adjacent_files(self.table)
        return Op("write", "merge_adjacent_files", call, lambda n: n == 1)

    def _op_scan(self, dl, tr):
        def call(_):
            return collect(tr, dl.table(self.table))

        def check(got):
            want = pa.table({
                "id": pa.array(list(self.model), pa.int64()),
                "k": pa.array([r[0] for r in self.model.values()], pa.int32()),
                "v": pa.array([r[1] for r in self.model.values()], pa.int64()),
                "tag": [r[2] for r in self.model.values()]})
            return same_rows(got, want)
        return Op("read", "table_scan", call, check)


WORKLOADS = {w.name: w for w in (ManyFiles, QueryLarge, WriteMix)}
