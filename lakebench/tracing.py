"""Span tracing for the traced run, installed from outside the package.

``install`` wraps the public entry points of each connector layer (by
patching module and class attributes) so that every call records one
span: name, layer, start, end, parent span and op id. Spans stay in
memory; ``Tracer.dump`` writes them out when the run ends. Nothing here
edits the package: the untraced run never calls ``install``, and an
inactive ``Tracer`` records nothing.

A layer's self time is the duration of its spans minus the part covered
by their direct child spans (calls run on one thread, so children nest).
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager


class Tracer:
    """Records spans while ``active``; inactive, every wrapper installed by
    ``install`` calls straight through, so traced and untraced rounds can
    alternate in one process."""

    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self.op_id = None
        self._op = None

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name, layer, **attrs):
        if not self.active:
            yield None
            return
        rec = {"name": name, "layer": layer, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, key, n=1):
        """Add to the current op's counter ``key`` (no span)."""
        if self._op is not None:
            self._op["counts"][key] = self._op["counts"].get(key, 0) + n

    def inside(self, layer) -> bool:
        return any(self.spans[i]["layer"] == layer for i in self._stack)

    # -- ops -------------------------------------------------------------

    def begin_op(self, op_id, kind, name):
        if not self.active:
            return
        self.op_id = op_id
        self._op = {"op": op_id, "kind": kind, "name": name, "counts": {}}
        self.ops.append(self._op)
        self.spark.sparkContext.setJobGroup(f"lb{op_id}", "lakebench op")

    def end_op(self):
        """Attribute the op's Spark jobs, stages and tasks from the status
        tracker: jobs launched while a scan was being built ran under the
        ``lb<op>s`` job group, everything else under ``lb<op>``."""
        if not self.active:
            return
        st = self.spark.sparkContext.statusTracker()
        op = self._op
        scan_jobs = list(st.getJobIdsForGroup(f"lb{self.op_id}s"))
        jobs = scan_jobs + list(st.getJobIdsForGroup(f"lb{self.op_id}"))
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                sinfo = st.getStageInfo(s)
                tasks += sinfo.numTasks if sinfo is not None else 0
        op["counts"].update({"scan.spark_jobs": len(scan_jobs),
                             "spark.jobs": len(jobs),
                             "spark.stages": stages, "spark.tasks": tasks})
        self.spark.sparkContext.setJobGroup("lakebench-idle", "idle")
        self.op_id = None
        self._op = None

    # -- derived ---------------------------------------------------------

    def self_ms(self) -> dict:
        """{(op, layer): self ms} from the recorded spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = {}
        for i, s in enumerate(self.spans):
            key = (s["op"], s["layer"])
            out[key] = out.get(key, 0.0) + \
                (s["end"] - s["start"] - child[i]) * 1e3
        return out

    def total_ms(self, name) -> dict:
        """{op: inclusive ms} of the spans called ``name`` (outermost only,
        so a recursive entry point is not counted twice)."""
        out: dict = {}
        for s in self.spans:
            if s["name"] != name:
                continue
            p = s["parent"]
            nested = False
            while p is not None:
                if self.spans[p]["name"] == name:
                    nested = True
                    break
                p = self.spans[p]["parent"]
            if not nested:
                out[s["op"]] = out.get(s["op"], 0.0) + \
                    (s["end"] - s["start"]) * 1e3
        return out

    def dump(self, path):
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump({"ops": self.ops,
                       "spans": [dict(s, start=s["start"] - t0,
                                      end=s["end"] - t0)
                                 for s in self.spans]}, f)


# -- installing the spans ------------------------------------------------

def _rebind(orig, wrapped):
    """Point every package module attribute bound to ``orig`` at
    ``wrapped`` (``from x import f`` copies the binding into the
    importer, so patching the defining module alone would miss it)."""
    for mname, mod in list(sys.modules.items()):
        if not mname.startswith("datafusion_ducklake_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapped)


def _wrap(tracer, fn, name, layer, attrs=None, around=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.active:
            return fn(*args, **kwargs)
        extra = attrs(*args, **kwargs) if attrs is not None else {}
        with tracer.span(name, layer, **extra):
            if around is not None:
                return around(fn, *args, **kwargs)
            return fn(*args, **kwargs)
    return wrapper


def install(tracer: Tracer) -> None:
    """Wrap the connector's layer entry points. Call after the package
    modules are imported; the patches last for the life of the process
    (the traced run exits afterwards)."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    import datafusion_ducklake_spark.catalog as catalog
    import datafusion_ducklake_spark.metadata.provider as provider
    import datafusion_ducklake_spark.metadata.writer as mwriter
    import datafusion_ducklake_spark.operators.cdc as cdc
    import datafusion_ducklake_spark.operators.dml as dml
    import datafusion_ducklake_spark.sources.scan as scan
    import datafusion_ducklake_spark.table_writer as table_writer

    def patch_fn(mod, fname, name, layer, **kw):
        orig = getattr(mod, fname)
        wrapped = _wrap(tracer, orig, name, layer, **kw)
        _rebind(orig, wrapped)

    def patch_method(cls, mname, name, layer, **kw):
        orig = cls.__dict__[mname]
        setattr(cls, mname, _wrap(tracer, orig, name, layer, **kw))

    # catalog: the SQL front end and its DML text rewrite
    patch_method(catalog.DuckLakeSession, "sql", "catalog.sql", "catalog")
    patch_method(catalog.DuckLakeSession, "_try_dml", "catalog._try_dml",
                 "catalog")

    # metadata.provider: every catalog query goes through _fetchall
    def count_query(self, *a, **k):
        tracer.count("provider.queries")
        return {}
    for cls in (provider.SqliteMetadataProvider,
                provider.DuckdbMetadataProvider):
        patch_method(cls, "_fetchall", "provider._fetchall", "provider",
                     attrs=count_query)

    # sources.scan: DataFrame assembly. Spark jobs started while the
    # outermost build runs are tagged with the op's scan job group.
    building = [False]

    def scan_group(fn, *args, **kwargs):
        if tracer.op_id is None or building[0]:
            return fn(*args, **kwargs)
        sc = tracer.spark.sparkContext
        building[0] = True
        sc.setJobGroup(f"lb{tracer.op_id}s", "lakebench scan build")
        try:
            return fn(*args, **kwargs)
        finally:
            building[0] = False
            sc.setJobGroup(f"lb{tracer.op_id}", "lakebench op")
    patch_method(catalog.DuckLakeTable, "to_df", "scan.to_df", "scan",
                 around=scan_group)

    def count_deletes(spark, schema, files, *a, **k):
        tracer.count("scan.delete_files",
                     sum(1 for f in files if f.delete_uri is not None))
        return {}
    patch_fn(scan, "scan_table", "scan.scan_table", "scan",
             attrs=count_deletes, around=scan_group)

    def count_probe(cache):
        def attrs(uri, *a, **k):
            if uri not in cache:
                tracer.count("scan.footer_probes")
            return {}
        return attrs
    patch_fn(scan, "_field_id_level", "scan.footer", "scan",
             attrs=count_probe(scan._FIELD_ID_CACHE))
    patch_fn(scan, "_special_columns", "scan.footer", "scan",
             attrs=count_probe(scan._ROWID_COL_CACHE))

    # spark.read.parquet: paths handed over (scan assembly, DML and CDC
    # all read through it); its time is the caller's layer
    orig_read = DataFrameReader.parquet

    @functools.wraps(orig_read)
    def read_parquet(self, *paths, **options):
        if tracer.active:
            tracer.count("scan.parquet_paths", len(paths))
        return orig_read(self, *paths, **options)
    DataFrameReader.parquet = read_parquet

    # table_writer: staging Parquet writes and footer statistics
    orig_write = DataFrameWriter.parquet

    @functools.wraps(orig_write)
    def write_parquet(self, *args, **kwargs):
        if not tracer.active:
            return orig_write(self, *args, **kwargs)
        with tracer.span("writer.parquet", "writer"):
            return orig_write(self, *args, **kwargs)
    DataFrameWriter.parquet = write_parquet
    patch_fn(table_writer, "create_or_insert", "writer.create_or_insert",
             "writer")
    patch_fn(table_writer, "column_stats_of", "writer.stats", "writer")

    # metadata.writer: every public CatalogWriter method is one commit
    # span; statements are counted on the SQLite connection itself
    def data_file_attrs(self, table_id, snapshot_id, file, *a, **k):
        tracer.count("writer.files_written")
        tracer.count("writer.bytes_written", int(file.file_size_bytes))
        if tracer.inside("maint"):
            tracer.count("maint.bytes_rewritten", int(file.file_size_bytes))
        return {}

    def delete_file_attrs(self, table_id, data_file_id, snapshot_id, path,
                          path_is_relative, file_size_bytes, delete_count,
                          *a, **k):
        tracer.count("dml.delete_files_written")
        tracer.count("dml.delete_rows_written", int(delete_count))
        return {}
    special = {"register_data_file": data_file_attrs,
               "register_delete_file": delete_file_attrs}
    for mname, member in list(vars(mwriter.CatalogWriter).items()):
        if mname.startswith("_") or not callable(member) \
                or isinstance(member, (classmethod, staticmethod)):
            continue
        patch_method(mwriter.CatalogWriter, mname, f"commit.{mname}",
                     "commit", attrs=special.get(mname))

    orig_sqlite = mwriter.CatalogWriter.__dict__["sqlite"].__func__

    def sqlite_writer(cls, db_path):
        w = orig_sqlite(cls, db_path)

        def on_statement(sql):
            if not tracer.active:
                return
            tracer.count("commit.statements")
            head = sql.lstrip()[:6].upper()
            if head == "BEGIN ":
                tracer.count("commit.begins")
            elif head in ("COMMIT", "ROLLBA"):
                tracer.count("commit.ends")
        w._conn.set_trace_callback(on_statement)
        return w
    mwriter.CatalogWriter.sqlite = classmethod(sqlite_writer)

    # operators.dml
    for fname in ("delete_rows", "update_rows", "merge_rows"):
        patch_fn(dml, fname, f"dml.{fname}", "dml")
    patch_fn(dml, "_existing_deletes", "dml._existing_deletes", "dml")

    # maintenance
    patch_method(catalog.DuckLakeSession, "merge_adjacent_files",
                 "maint.merge_adjacent_files", "maint")
    for fname in ("compact_table", "rewrite_file_groups"):
        patch_fn(table_writer, fname, f"maint.{fname}", "maint")

    # operators.cdc
    for fname in ("table_changes", "table_insertions", "table_deletions"):
        patch_fn(cdc, fname, f"cdc.{fname}", "cdc")
