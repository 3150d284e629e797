"""Lakehouse benchmark: one closed-loop client drives the public
``space_spark`` API on Spark ``local[N]`` (N <= 4 and <= the core count).

    python3 perfbench/run.py --workload ingest_cdc --seed 1 --seconds 3 \
        --trace 0

Each run first builds tiny copies of its tables, untimed, so the JVM
and the Python workers are warm; then it builds its tables from the
seed ``SETUP_REPEATS`` times (``setup_s`` is the median), and runs the
workload's ops one after another for ``--seconds`` seconds and at least
``FLOOR_OPS`` ops, checking every read against a driver-side model.
Between ops it times a plain-Spark read (``SparkReference``), the
yardstick the gated times are given in. The table's state is measured
and checked after the floor's ops, a fixed op count, and checked again
if the window ran on. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs every window op on an untraced copy and on a copy
with benchmark-side spans around each engine layer, and prints the
per-layer metrics. The last stdout line is one JSON object; lines
before it are a readable summary. Tables, Spark scratch space and span
dumps stay inside the checkout (``.perfbench_work/``,
``.perfbench_out/``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from typing import Dict, List

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import bench  # noqa: E402  (host-weather probes)
import gen  # noqa: E402
import numpy as np  # noqa: E402
from spans import (JobCounter, Tracer, install_engine_wrappers,  # noqa: E402
                   self_times)
from workloads import (WORKLOADS, dir_files, parquet_bytes,  # noqa: E402
                       spark_schema)

# timed setups after the warm-up; a traced run uses one copy for its
# untraced and one for its traced window
SETUP_REPEATS = 2
# A window runs at least this many ops of the round robin (gen.schedule).
# The table's state metrics and a traced run's counts are taken after
# them, a fixed op count, so they repeat for a seed whatever the host
# speed. On lookup_scan that is three rounds, so each class median drops
# the class's first, coldest op. On ingest_cdc it is one round: its ops
# take 15-30 s, half of it the view refresh, and a second round would
# not fit the benchmark's time budget.
FLOOR_OPS = {"ingest_cdc": 6, "lookup_scan": 18}
# reference reads timed between the floor's ops (at most one per op)
REF_SAMPLES = 9

# name -> unit; BENCHMARK.json lists the same names and units
END_TO_END = {
    "setup_s": "s",
    "op_latency_vs_spark": "ratio",
    "table_scan_vs_spark": "ratio",
    "bytes_stored_per_user_byte": "ratio",
}
# full reads of the main table after the floor's ops; the first ones
# still warm the scan path (their times fall over the first few reads),
# so the scan metrics take the median of the rest
SCAN_WARMUP, SCAN_REPEATS = 3, 9

OP_KINDS = ["append", "upsert", "delete", "merge", "point_read",
            "range_scan", "full_scan", "bloom_read", "time_travel",
            "random_access", "refresh", "mv_read"]
# op-class latencies: (metric, op kinds, percentile or "tail")
CLASS_LATENCIES = [
    ("commit_ms.p50", ("append", "upsert", "delete", "merge"), 50),
    ("commit_ms.tail", ("append", "upsert", "delete", "merge"), "tail"),
    ("append_ms.p50", ("append",), 50),
    ("upsert_ms.p50", ("upsert",), 50),
    ("delete_ms.p50", ("delete",), 50),
    ("point_read_ms.p50", ("point_read",), 50),
    ("point_read_ms.tail", ("point_read",), "tail"),
    ("range_scan_ms.p50", ("range_scan",), 50),
    ("full_scan_ms.p50", ("full_scan",), 50),
    ("random_access_ms.p50", ("random_access",), 50),
    ("refresh_ms.p50", ("refresh",), 50),
    ("refresh_ms.tail", ("refresh",), "tail"),
]

PER_LAYER: Dict[str, str] = {
    "ops_per_s": "1/s",
    "table_scan_ms": "ms",
    "spark.reference_ms": "ms",
}
PER_LAYER.update({f"dataset.{k}.self_ms": "ms" for k in OP_KINDS})
PER_LAYER.update({name: "ms" for name, _, _ in CLASS_LATENCIES})
PER_LAYER["failed_ops_ratio"] = "ratio"
PER_LAYER.update({f"spark.jobs.{k}": "count" for k in OP_KINDS})
PER_LAYER.update({f"spark.tasks.{k}": "count" for k in OP_KINDS})
PER_LAYER.update({
    "spark.stages": "count",
    "spark.write_parquet_ms": "ms",
    "spark.write_parquet_calls_per_commit": "count",
    "spark.action_ms": "ms",
    "manifests.prune_files_ms": "ms",
    "manifests.prune_calls_per_op": "count",
    "manifests.manifests_per_prune": "count",
    "manifests.files_kept_ratio": "ratio",
    "manifests.collect_file_stats_ms": "ms",
    "manifests.write_manifest_ms": "ms",
    "manifests.read_file_blooms_ms": "ms",
    "blooms.probe_calls": "count",
    "blooms.files_pruned_ratio": "ratio",
    "metadata.commit_snapshot_ms": "ms",
    "metadata.commit_growth": "ratio",
    "metadata.read_metadata_calls_per_op": "count",
    "metadata.read_metadata_ms": "ms",
    "metadata.write_metadata_ms": "ms",
    "metadata.update_refs_ms": "ms",
    "metadata.json_bytes_per_snapshot": "bytes",
    "metadata.conflicts": "count",
    "records.read_blob_column_ms": "ms",
    "records.blob_reads_per_batch": "count",
    "random_access.getitems_ms": "ms",
    "views.refresh_ms": "ms",
    "agg_views.refresh_ms": "ms",
    "views.snapshots_per_refresh": "count",
    "storage.files_written_per_commit": "count",
    "storage.bytes_written_per_user_byte": "ratio",
    "storage.data_files_live": "count",
    "storage.small_files_ratio": "ratio",
    "trace.slowdown": "ratio",
})


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest_cdc", "lookup_scan"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test sizes (not comparable to full runs)")
    return p.parse_args(argv)


def percentile(values: List[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_q(n: int) -> float:
    """Highest percentile with at least ten samples beyond it (p50 when
    there are too few samples for a tail)."""
    return max(50.0, 100.0 * (1 - 10 / n)) if n else 50.0


def build_session(cpus: int, work: str):
    from pyspark.sql import SparkSession

    java_opts = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("space_spark_perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", work)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class SparkReference:
    """The yardstick for host speed: a plain-Spark read, with no engine
    code in it, of a fixed 1,000-row Parquet file to Arrow. The shared
    host's speed swings by 2x and more within minutes, and every op
    slows with it, so the gated times are divided by the median of these
    reads (``ms``), timed between the window's ops and between the table
    scans that follow them."""
    ROWS = 1_000

    def __init__(self, spark, work: str):
        self.spark = spark
        self.path = os.path.join(work, "reference")
        table = gen.lineitem(np.random.default_rng(0),
                             np.arange(self.ROWS), self.ROWS // 4)
        spark.createDataFrame(table, spark_schema(table)).write.parquet(
            self.path)
        self.ms: List[float] = []

    def read_ms(self) -> float:
        t0 = time.perf_counter()
        got = self.spark.read.parquet(self.path).toArrow()
        ms = (time.perf_counter() - t0) * 1000.0
        if got.num_rows != self.ROWS:
            raise RuntimeError(f"reference read {got.num_rows} rows")
        return ms


def median(xs: List[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class Window:
    """The ops one table copy has run, with their latencies and checks.
    With a tracer, each op runs with the engine wrappers installed and
    its Spark jobs counted. After op ``floor - 1`` the window measures
    and checks the table's state (``state``), outside the window clock
    (``checkpoint_s``); a traced window's counts cover those ops."""

    def __init__(self, wl, floor: int, tracer=None, counter=None,
                 ref: SparkReference = None):
        self.wl, self.tracer, self.counter = wl, tracer, counter
        self.floor, self.ref = floor, ref
        self.records: List[dict] = []
        self.state: dict = {}
        self.scans: List[float] = []
        self.checkpoint_s = 0.0

    def step(self, op) -> None:
        rec = {"i": op.index, "kind": op.kind, "ms": None, "ok": False}
        traced = self.tracer is not None
        if traced and op.kind in gen.COMMIT_OPS + ("refresh",):
            rec["files_before"] = self._files()

        @contextlib.contextmanager
        def timed():
            sp = None
            if traced:
                self.counter.mark()
                self.tracer.op_id = op.index
                sp = self.tracer.begin(f"dataset.{op.kind}")
            t0 = time.perf_counter()
            try:
                yield
            finally:
                rec["ms"] = (time.perf_counter() - t0) * 1000.0
                if traced:
                    self.tracer.end(sp)
                    self.tracer.op_id = None
                    rec["jobs"], rec["stages"], rec["tasks"] = \
                        self.counter.delta()

        if traced:
            install_engine_wrappers(self.tracer)
        try:
            rec["ok"] = bool(self.wl.run_op(op, timed))
        except Exception as e:  # a failed op is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
            traceback.print_exc(file=sys.stderr)
        finally:
            if traced:
                self.tracer.uninstall()
        if "files_before" in rec:
            before = rec.pop("files_before")
            after = self._files()
            new = set(after) - set(before)
            rec["files_written"] = len(new)
            rec["bytes_written"] = sum(after[p] for p in new)
            rec["user_bytes"] = _user_bytes(op, self.wl.sizes)
        self.records.append(rec)
        if op.index == self.floor - 1:
            t0 = time.perf_counter()
            try:
                self.state = self.checkpoint()
            except Exception:  # counted as a wrong final state
                traceback.print_exc(file=sys.stderr)
                self.state = {"ok": False}
            self.checkpoint_s = time.perf_counter() - t0

    def _files(self) -> Dict[str, int]:
        out = {}
        for loc, _ in self.wl.tables():
            out.update(dir_files(loc))
        return out

    def checkpoint(self) -> dict:
        """Scan the main table (timed into ``scans``, with a reference
        read after each), check it and the other tables against the
        model, and record the layout."""
        ds = self.wl.main
        for i in range(SCAN_WARMUP + SCAN_REPEATS):
            t0 = time.perf_counter()
            got = ds.read().toArrow()
            if i >= SCAN_WARMUP:
                self.scans.append((time.perf_counter() - t0) * 1000.0)
                if self.ref is not None:
                    self.ref.ms.append(self.ref.read_ms())
        ok = self.wl.final_check(got)
        ds.reload()
        files = ds.data_files()
        sizes = [os.path.getsize(os.path.join(ds.location, f))
                 for f in files]
        meta = ds.metadata
        return {
            "ok": ok,
            "stored_per_user_byte": self.wl.stored_per_user_byte(),
            "data_files_live": len(files),
            "small_files": sum(s < self.wl.small_file_bytes for s in sizes),
            "json_bytes_per_snapshot":
                len(meta.to_json()) / max(1, len(meta.snapshots)),
        }

    # -- summaries -------------------------------------------------------
    def latencies(self, kinds=None) -> List[float]:
        return [r["ms"] for r in self.records
                if r["ok"] and r["ms"] is not None
                and (kinds is None or r["kind"] in kinds)]

    def failed(self) -> int:
        return sum(not r["ok"] for r in self.records)

    def mix_ms(self, mix) -> float:
        """Mean latency of the nominal mix: the sum over op classes of
        (share x median latency). Unlike time / ops done, it does not
        depend on which op the window happened to stop at, nor on how
        often a round runs each class. 0 when a class has no successful
        op to measure."""
        total = sum(w for _, w in mix)
        ms = 0.0
        for kind, w in mix:
            xs = self.latencies((kind,))
            if not xs:
                return 0.0
            ms += w / total * statistics.median(xs)
        return ms

    def ops_per_s(self, mix) -> float:
        """Closed-loop throughput of the nominal mix; 0 as ``mix_ms``."""
        ms = self.mix_ms(mix)
        return 1000.0 / ms if ms else 0.0

    def samples(self) -> Dict[str, int]:
        """Successful ops per class: the samples behind each median."""
        out: Dict[str, int] = {}
        for r in self.records:
            out.setdefault(r["kind"], 0)
            out[r["kind"]] += bool(r["ok"])
        return out


def run_windows(windows: List[Window], ops, seconds: float,
                ref: SparkReference = None) -> None:
    """The closed loop: run ``ops`` in order until ``seconds`` of window
    time have passed and every window has reached its floor. With two
    windows (a traced run) each op runs on both copies back to back, so
    the untraced and the traced copy see the same JVM warmth; which goes
    first alternates, because the second run of an op finds the first
    one's caches hot. Between the floor's ops ``ref`` times
    ``REF_SAMPLES`` reference reads, off the window clock."""
    start = time.perf_counter()
    paused = 0.0
    floor = max(w.floor for w in windows)
    every = max(1, floor // REF_SAMPLES)
    for op in ops:
        elapsed = time.perf_counter() - start - paused - sum(
            w.checkpoint_s for w in windows)
        if elapsed >= seconds and op.index >= floor:
            break
        for w in (windows if op.index % 2 == 0 else windows[::-1]):
            w.step(op)
        if ref is not None and op.index < floor and op.index % every == 0:
            t0 = time.perf_counter()
            ref.ms.append(ref.read_ms())
            paused += time.perf_counter() - t0


def _user_bytes(op, sizes) -> int:
    if op.kind in ("append", "upsert", "merge"):
        return parquet_bytes(gen.op_rows(op, sizes))
    if op.kind == "delete":
        return parquet_bytes(pa.table({"key": op.keys}))
    return 0


def layer_metrics(win: Window, plain: Window, tracer, mix,
                  ref_ms: float = 0.0) -> Dict[str, float]:
    """Per-layer metrics of a traced window. Times are self times (span
    minus child spans) in ms per op unless the name says per call;
    counts are taken over the first ``win.floor`` ops only."""
    spans = tracer.spans
    selft = self_times(spans)
    recs = win.records
    n_ops = max(1, len(recs))
    pre = [r for r in recs if r["i"] < win.floor]
    pre_ids = {r["i"] for r in pre}
    n_pre = max(1, len(pre))

    def named(name, prefix_only=False):
        return [s for s in spans if s.name == name
                and (not prefix_only or s.op_id in pre_ids)]

    def self_ms_per_op(name):
        return sum(selft[s.span_id] for s in named(name)) * 1000 / n_ops

    def mean_ms(name):
        """Mean span duration (children included) per call."""
        xs = [s.end - s.start for s in named(name)]
        return statistics.fmean(xs) * 1000 if xs else 0.0

    m: Dict[str, float] = {
        "ops_per_s": plain.ops_per_s(mix),
        "table_scan_ms": median(plain.scans),
        "spark.reference_ms": ref_ms,
    }
    for kind in OP_KINDS:
        roots = [s for s in spans if s.name == f"dataset.{kind}"]
        m[f"dataset.{kind}.self_ms"] = (statistics.fmean(
            selft[s.span_id] for s in roots) * 1000) if roots else 0.0
        of_kind = [r for r in pre if r["kind"] == kind]
        m[f"spark.jobs.{kind}"] = ratio(
            sum(r.get("jobs", 0) for r in of_kind), len(of_kind))
        m[f"spark.tasks.{kind}"] = ratio(
            sum(r.get("tasks", 0) for r in of_kind), len(of_kind))
    m.update(class_latencies(plain))
    m["failed_ops_ratio"] = ratio(win.failed(), len(recs))

    commits_pre = len(named("metadata.commit_snapshot", True))
    m["spark.stages"] = sum(r.get("stages", 0) for r in pre) / n_pre
    m["spark.write_parquet_ms"] = self_ms_per_op("spark.write_parquet")
    m["spark.write_parquet_calls_per_commit"] = ratio(
        len(named("spark.write_parquet", True)), commits_pre)
    m["spark.action_ms"] = self_ms_per_op("spark.action")

    prunes = named("manifests.prune_files", True)
    manifest_rows: Dict[str, int] = {}

    def files_in(paths):
        total = 0
        for p in paths:
            if p not in manifest_rows:
                manifest_rows[p] = pq.read_metadata(p).num_rows
            total += manifest_rows[p]
        return total

    m["manifests.prune_files_ms"] = self_ms_per_op("manifests.prune_files")
    m["manifests.prune_calls_per_op"] = len(prunes) / n_pre
    m["manifests.manifests_per_prune"] = ratio(
        sum(len(s.info.get("manifests", ())) for s in prunes), len(prunes))
    m["manifests.files_kept_ratio"] = ratio(
        sum(s.info.get("n_out", 0) for s in prunes),
        sum(files_in(s.info.get("manifests", ())) for s in prunes))
    for name in ("collect_file_stats", "write_manifest", "read_file_blooms"):
        m[f"manifests.{name}_ms"] = self_ms_per_op(f"manifests.{name}")

    probes = named("blooms.file_matches", True)
    m["blooms.probe_calls"] = len(probes) / n_pre
    m["blooms.files_pruned_ratio"] = ratio(
        sum(not s.info.get("match", True) for s in probes), len(probes))

    commits = named("metadata.commit_snapshot")
    commit_ms = [(s.end - s.start) * 1000 for s in commits]
    decile = max(1, len(commit_ms) // 10)
    m["metadata.commit_snapshot_ms"] = mean_ms("metadata.commit_snapshot")
    m["metadata.commit_growth"] = ratio(
        statistics.fmean(commit_ms[-decile:]),
        statistics.fmean(commit_ms[:decile])) if len(commit_ms) >= 2 else 0.0
    m["metadata.read_metadata_calls_per_op"] = len(
        named("metadata.read_metadata", True)) / n_pre
    for name in ("read_metadata", "write_metadata", "update_refs"):
        m[f"metadata.{name}_ms"] = self_ms_per_op(f"metadata.{name}")
    m["metadata.json_bytes_per_snapshot"] = win.state.get(
        "json_bytes_per_snapshot", 0.0)
    m["metadata.conflicts"] = sum(
        s.info.get("error") == "TransactionConflictError"
        for s in named("metadata.commit_snapshot", True))

    ra_pre = sum(r["kind"] == "random_access" for r in pre)
    m["records.read_blob_column_ms"] = self_ms_per_op(
        "records.read_blob_column")
    m["records.blob_reads_per_batch"] = ratio(
        len(named("records.read_blob_column", True)), ra_pre)
    m["random_access.getitems_ms"] = mean_ms("random_access.getitems")
    m["views.refresh_ms"] = mean_ms("views.refresh")
    m["agg_views.refresh_ms"] = mean_ms("agg_views.refresh")
    refreshes = named("views.refresh", True)
    m["views.snapshots_per_refresh"] = ratio(
        sum(s.info.get("n_out", 0) for s in refreshes), len(refreshes))

    written = [r for r in pre if "files_written" in r]
    m["storage.files_written_per_commit"] = ratio(
        sum(r["files_written"] for r in written), commits_pre)
    m["storage.bytes_written_per_user_byte"] = ratio(
        sum(r["bytes_written"] for r in written),
        sum(r["user_bytes"] for r in written))
    st = win.state
    m["storage.data_files_live"] = st.get("data_files_live", 0)
    m["storage.small_files_ratio"] = ratio(st.get("small_files", 0),
                                           st.get("data_files_live", 0))
    m["trace.slowdown"] = ratio(plain.ops_per_s(mix), win.ops_per_s(mix))
    return m


def class_latencies(win: Window) -> Dict[str, float]:
    out = {}
    for name, kinds, q in CLASS_LATENCIES:
        xs = win.latencies(kinds)
        out[name] = percentile(xs, tail_q(len(xs)) if q == "tail" else q)
    return out


def warm_up(spark, plan, seed: int, work: str,
            ref: SparkReference) -> None:
    """Untimed: build tiny copies of the workload's tables, run one op of
    each read class on them, and two reference reads. The first builds
    and ops of a run start the Python workers and compile the JVM's hot
    paths, and take several times as long as warm ones. Cold commits and
    refreshes would take longer than the window itself, so they are left
    out, and the window's commits and refresh run a little cold."""
    warm_plan = gen.make_plan(plan.workload, seed, gen.TINY)
    warm = WORKLOADS[plan.workload](spark, warm_plan)
    warm.setup(os.path.join(work, "warmup"))
    for op in warm_plan.ops[:len(gen.MIXES[plan.workload])]:
        if op.kind not in gen.COMMIT_OPS + ("refresh",):
            warm.run_op(op, contextlib.nullcontext)
    shutil.rmtree(os.path.join(work, "warmup"), ignore_errors=True)
    ref.read_ms()
    ref.read_ms()


def set_up(spark, plan, work: str, cpus: int):
    """Build the workload's tables ``SETUP_REPEATS`` times, then take the
    start-of-run host probes. Returns (copies, setup seconds, weather)."""
    copies, setup_s = [], []
    for i in range(SETUP_REPEATS):
        wl = WORKLOADS[plan.workload](spark, plan)
        t0 = time.perf_counter()
        wl.setup(os.path.join(work, f"copy{i}"))
        setup_s.append(time.perf_counter() - t0)
        copies.append(wl)
    weather = {"cpu_probe_s_start": bench._probe_cpu(),
               "parallel_probe_s_start": bench._probe_parallel(spark, cpus)}
    return copies, setup_s, weather


def result_object(windows: List[Window], final_ok: bool, metrics, units
                  ) -> dict:
    """The last stdout line. An op that raised or read a wrong result,
    and a table state that did not match the model, each count as one
    failure."""
    failed = sum(w.failed() for w in windows) + (not final_ok)
    return {
        "correct": failed == 0,
        "attempted": sum(len(w.records) for w in windows),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }


def measure(args, spark, plan, work: str, out_dir: str, cpus: int):
    """Set up, run the window(s), check the final state. Returns the
    result object and the readable summary."""
    t_start = time.perf_counter()
    mix = gen.MIXES[args.workload]
    floor = FLOOR_OPS[args.workload]
    ref = SparkReference(spark, work)
    warm_up(spark, plan, args.seed, work, ref)
    phases = {"warmup": time.perf_counter() - t_start}
    copies, setup_s, weather = set_up(spark, plan, work, cpus)
    phases["setups"] = time.perf_counter() - t_start - sum(phases.values())
    if args.trace:
        tracer = Tracer()
        plain = Window(copies[0], floor, ref=ref)
        win = Window(copies[-1], floor, tracer, JobCounter(spark))
        windows = [plain, win]
    else:
        win = Window(copies[-1], floor, ref=ref)
        windows = [win]
    run_windows(windows, plan.ops, args.seconds, ref)
    if args.trace:
        with open(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"),
                "w") as f:
            f.write(tracer.to_json())
    phases["windows"] = time.perf_counter() - t_start - sum(phases.values())

    # the state after the floor's ops was checked at the checkpoint;
    # check it again if ops ran after that
    final_ok = True
    for w in windows:
        ok = w.state.get("ok", False)
        if ok and len(w.records) > w.floor:
            try:
                ok = w.wl.final_check(w.wl.main.read().toArrow())
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        final_ok = final_ok and ok
    info = {"setup_s_each": [round(x, 4) for x in setup_s],
            "table_scan_ms_each": [round(x, 1) for x in win.scans],
            "reference_ms_each": [round(x, 1) for x in ref.ms],
            "cpus": cpus}
    ref_ms = median(ref.ms)
    if args.trace:
        metrics, units = layer_metrics(win, plain, tracer, mix,
                                       ref_ms), PER_LAYER
    else:
        scan_ms = median(win.scans)
        metrics, units = {
            "setup_s": statistics.median(setup_s),
            "op_latency_vs_spark": ratio(win.mix_ms(mix), ref_ms),
            "table_scan_vs_spark": ratio(scan_ms, ref_ms),
            "bytes_stored_per_user_byte":
                win.state.get("stored_per_user_byte", 0.0),
        }, END_TO_END
        info.update({f"(per_layer, untraced) {k}": round(v, 3)
                     for k, v in {"ops_per_s": win.ops_per_s(mix),
                                  "table_scan_ms": scan_ms,
                                  "spark.reference_ms": ref_ms,
                                  **class_latencies(win)}.items()})
    info.update({
        "samples_by_kind (ok ops)": win.samples(),
        "op_ms": [f"{r['kind']}:{r['ms']:.0f}" for r in win.records
                  if r["ms"] is not None],
        "final_state_ok": final_ok,
    })
    weather.update({
        "cpu_probe_s_end": bench._probe_cpu(),
        "parallel_probe_s_end": bench._probe_parallel(spark, cpus)})
    phases["final"] = time.perf_counter() - t_start - sum(phases.values())
    info["phases_s"] = {k: round(v, 2) for k, v in phases.items()}
    info["host weather (untimed)"] = json.dumps(weather)
    summary = [f"# perfbench {args.workload} seed={args.seed}"]
    summary += [f"  {k:44s} {v:14.4f} {units[k]}" for k, v in metrics.items()]
    summary += [f"  {k}: {v}" for k, v in info.items()]
    return result_object(windows, final_ok, metrics, units), summary


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # every scratch file of Spark, its launcher, Python workers and the
    # engine goes to the work dir, which is removed at the end
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    tempfile.tempdir = None

    cpus = max(1, min(4, os.cpu_count() or 1))
    plan = gen.make_plan(args.workload, args.seed,
                         gen.TINY if args.tiny else gen.Sizes())
    spark = build_session(cpus, work)
    session_s = time.perf_counter() - t_start
    try:
        result, summary = measure(args, spark, plan, work, out_dir, cpus)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(summary))
    print(f"  total wall {time.perf_counter() - t_start:.1f} s, "
          f"of which Spark start {session_s:.1f} s")
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
