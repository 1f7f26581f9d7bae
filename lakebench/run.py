"""Lake-path benchmark: one workload, one seed, one run.

    python3 lakebench/run.py --workload lake_many_files --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. The run starts Spark, builds the workload's
lake from the seed, warms up, then times whole rounds of ops (closed loop,
one client) until ``--seconds`` of op time has passed. Every op's result is
checked; the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced rounds, half the time each (spans around each
connector layer, see ``tracing.py``), and reports the per-layer metrics
plus the tracing overhead; its spans are written to
``.lakebench/spans-<workload>-<seed>.json``.

Noise controls: warm-up rounds of the same ops precede timing (billed to
``setup_s``), every round restores the lake from a copy made at set-up
(the copy is billed to no op), Spark task slots and Python workers are
capped at ``nproc``, and the JVM heap is fixed (``-Xms`` = ``-Xmx``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

HEAP = "2g"
SETUP_BUILDS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def slots() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def start_spark(work: str):
    """The benchmark's own session: fixed heap, ``local[slots]``, the
    package importable from Python workers (DML and CDC run Python UDFs)."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    from pyspark.sql import SparkSession
    n = slots()
    spark = (
        SparkSession.builder.appName("lakebench").master(f"local[{n}]")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{HEAP} -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={work}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_files(path: str) -> dict:
    out = {}
    for root, _d, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


class Runner:
    def __init__(self, spark, workload, tracer, live: str, copy):
        self.spark = spark
        self.w = workload
        self.tracer = tracer
        self.live = live
        self.copy = copy
        self.samples = {"read": [], "write": []}
        self.attempted = 0
        self.failed = 0
        self.user_bytes = 0
        self.written_bytes = 0
        self.busy = 0.0
        self.op_seq = 0

    def session(self):
        from datafusion_ducklake_spark.catalog import DuckLakeSession
        return DuckLakeSession(self.spark, os.path.join(self.live,
                                                        "catalog.sqlite"))

    def round(self, record: bool) -> None:
        """Restore the lake, run one round of ops, check every result."""
        tracer = self.tracer
        self.copy.restore()
        before = tree_files(self.live)
        dl = self.session()
        ops = self.w.start_round(dl)
        for idx, op in enumerate(ops):
            ok, dt = False, 0.0
            try:
                arg = op.prepare() if op.prepare is not None else None
                tracer.begin_op(self.op_seq, op.kind, f"{idx}:{op.name}")
                t0 = time.perf_counter()
                try:
                    with tracer.span("op", "bench", op_kind=op.kind):
                        out = op.call(arg)
                finally:
                    dt = time.perf_counter() - t0
                    tracer.end_op()
                ok = bool(op.check(out))
            except Exception:
                traceback.print_exc(file=sys.stderr)
            self.op_seq += 1
            print(f"lakebench: {op.kind} {op.name} {dt:.3f}s "
                  f"{'ok' if ok else 'FAILED'}", file=sys.stderr)
            if record:
                self.attempted += 1
                self.failed += 0 if ok else 1
                self.samples[op.kind].append(dt)
                self.busy += dt
                self.user_bytes += op.user_bytes()
        after = tree_files(self.live)
        if record:
            self.written_bytes += sum(
                size - before.get(p, 0) for p, size in after.items()
                if size != before.get(p))
            self.end_bytes = sum(after.values())
        dl.provider.close()

    def timed_pass(self, seconds: float) -> None:
        """Whole rounds until ``seconds`` of op time have passed, so every
        pass holds the same mix of ops."""
        start = self.busy
        # the deadline stops ops that fail fast from spinning forever
        deadline = time.perf_counter() + 3 * seconds + 60
        while True:
            self.round(record=True)
            if self.busy - start >= seconds or \
                    time.perf_counter() > deadline:
                break


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(r: Runner, setup_s: float, peak_mb: float) -> dict:
    n_ops = len(r.samples["read"]) + len(r.samples["write"])
    return {
        "setup_s": (setup_s, "s"),
        "read_p50_s": (median(r.samples["read"]), "s"),
        "write_p50_s": (median(r.samples["write"]), "s"),
        "ops_per_s": (n_ops / r.busy, "1/s"),
        "write_amp": (r.written_bytes / max(1, r.user_bytes), "ratio"),
        "space_amp": (r.end_bytes / r.w.live_bytes(), "ratio"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def per_layer(tracer, untraced: Runner, traced: Runner) -> dict:
    """Per-op averages over the traced rounds, plus tracing overhead."""
    n = max(1, len(tracer.ops))
    counts: dict = {}
    for op in tracer.ops:
        for k, v in op["counts"].items():
            counts[k] = counts.get(k, 0) + v
    selfs = tracer.self_ms()
    layer_ms: dict = {}
    for (_op, layer), ms in selfs.items():
        layer_ms[layer] = layer_ms.get(layer, 0.0) + ms

    def count(key, unit="count"):
        return counts.get(key, 0) / n, unit

    def self_ms(layer):
        return layer_ms.get(layer, 0.0) / n, "ms"

    def span_ms(name):
        return sum(tracer.total_ms(name).values()) / n, "ms"

    # shares of read-op time: self time of the connector's read-side
    # layers, and of Spark planning + execution
    reads = {op["op"] for op in tracer.ops if op["kind"] == "read"}
    read_ms = sum((s["end"] - s["start"]) * 1e3 for s in tracer.spans
                  if s["name"] == "op" and s["op"] in reads) or 1e-9

    def read_share(*layers):
        return sum(ms for (op, layer), ms in selfs.items()
                   if op in reads and layer in layers) / read_ms, "ratio"

    u_r, t_r = median(untraced.samples["read"]), median(traced.samples["read"])
    u_w, t_w = (median(untraced.samples["write"]),
                median(traced.samples["write"]))
    sql_calls = sum(1 for s in tracer.spans if s["name"] == "catalog.sql")
    return {
        "catalog.sql_calls": (sql_calls / n, "count"),
        "catalog.sql_self_ms": self_ms("catalog"),
        "provider.queries": count("provider.queries"),
        "provider.ms": self_ms("provider"),
        "scan.build_ms": span_ms("scan.to_df"),
        "scan.self_ms": self_ms("scan"),
        "scan.parquet_paths": count("scan.parquet_paths"),
        "scan.delete_files": count("scan.delete_files"),
        "scan.spark_jobs": count("scan.spark_jobs"),
        "scan.footer_probes": count("scan.footer_probes"),
        "spark.plan_ms": span_ms("spark.plan"),
        "spark.exec_ms": span_ms("spark.exec"),
        "spark.jobs": count("spark.jobs"),
        "spark.stages": count("spark.stages"),
        "spark.tasks": count("spark.tasks"),
        "writer.parquet_ms": span_ms("writer.parquet"),
        "writer.stats_ms": span_ms("writer.stats"),
        "writer.files_written": count("writer.files_written"),
        "writer.bytes_written": count("writer.bytes_written", "bytes"),
        "commit.ms": self_ms("commit"),
        "commit.statements": count("commit.statements"),
        "commit.retries": ((counts.get("commit.begins", 0)
                            - counts.get("commit.ends", 0)) / n, "count"),
        "dml.ms": self_ms("dml"),
        "dml.existing_deletes_ms": span_ms("dml._existing_deletes"),
        "dml.delete_files_written": count("dml.delete_files_written"),
        "dml.delete_rows_written": count("dml.delete_rows_written"),
        "maint.ms": span_ms("maint.merge_adjacent_files"),
        "maint.bytes_rewritten": count("maint.bytes_rewritten", "bytes"),
        "cdc.build_ms": span_ms("cdc.table_changes"),
        "read.connector_share": read_share("catalog", "provider", "scan"),
        "read.spark_share": read_share("spark"),
        "trace.read_p50_s": (t_r, "s"),
        "trace.untraced_read_p50_s": (u_r, "s"),
        "trace.write_p50_s": (t_w, "s"),
        "trace.untraced_write_p50_s": (u_w, "s"),
        "trace.read_overhead": (t_r / u_r - 1.0, "ratio"),
        "trace.write_overhead": (t_w / u_w - 1.0, "ratio"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    from lakebench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # fail before any work if the package is not importable
    import datafusion_ducklake_spark.catalog  # noqa: F401

    from lakebench import lakes
    from lakebench.tracing import Tracer, install

    base = os.path.join(os.getcwd(), ".lakebench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        jvm_s = time.perf_counter() - t0

        tracer = Tracer(spark)
        w = WORKLOADS[args.workload](spark, args.seed, tracer)
        builds = []
        for i in range(SETUP_BUILDS):
            root = os.path.join(work, f"build-{i}")
            t = time.perf_counter()
            w.build(root)
            builds.append(time.perf_counter() - t)
        live = os.path.join(work, f"build-{SETUP_BUILDS - 1}")
        for i in range(SETUP_BUILDS - 1):
            shutil.rmtree(os.path.join(work, f"build-{i}"))
        t = time.perf_counter()
        w.prepare_oracle(live)
        copy = lakes.Snapshot(live, os.path.join(work, "pristine"))
        runner = Runner(spark, w, tracer, live, copy)
        for _ in range(w.warmup_rounds):
            runner.round(record=False)
        setup_s = jvm_s + statistics.median(builds) + \
            (time.perf_counter() - t)
        print(f"lakebench: {w.name} seed {args.seed}: {w.describe()}; "
              f"{slots()} task slots, heap {HEAP}", flush=True)

        if args.trace:
            # untraced and traced rounds alternate, so JIT drift does not
            # masquerade as tracing overhead
            install(tracer)
            traced = Runner(spark, w, tracer, live, copy)
            deadline = time.perf_counter() + 3 * args.seconds + 60
            while min(runner.busy, traced.busy) < args.seconds / 2 and \
                    time.perf_counter() < deadline:
                tracer.active = False
                runner.round(record=True)
                tracer.active = True
                traced.round(record=True)
            tracer.active = False
            tracer.dump(os.path.join(
                base, f"spans-{args.workload}-{args.seed}.json"))
            metrics = per_layer(tracer, runner, traced)
            attempted = runner.attempted + traced.attempted
            failed = runner.failed + traced.failed
        else:
            runner.timed_pass(args.seconds)
            jvm_pid = spark._jvm.ProcessHandle.current().pid()
            peak = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
            metrics = end_to_end(runner, setup_s, peak)
            attempted, failed = runner.attempted, runner.failed
        print(f"lakebench: {len(runner.samples['read'])} reads, "
              f"{len(runner.samples['write'])} writes timed untraced; "
              f"fail_ratio {failed / max(1, attempted):.4f}", flush=True)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for k, (v, unit) in metrics.items():
        print(f"  {k:32s} {v:14.6f} {unit}")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
