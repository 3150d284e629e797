"""Metadata-scale escape hatch (round-9 verdict #6): above
DATASOURCE_READ_MIN_FILES surviving files, Dataset.read() plans through
the space DataSource (manifest-driven partitions, one DataSourceV2
node) instead of spark.read.parquet(<100k paths>) (InMemoryFileIndex:
O(files) driver memory, listing calls, and plan bytes). Also pins that
partition planning sizes groups from MANIFEST rows — zero per-file
stat/HEAD calls on the happy path."""

import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from space_spark import Dataset, field
from space_spark.core import manifests as mf

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
])

N_FAKE = 100_000
ROWS_PER_FILE = 10_000


def _df(spark, ids):
    return spark.createDataFrame([Row(k=i, v=f"v{i}") for i in ids],
                                 SCHEMA)


def _forge_big_snapshot(ds):
    """Commit a snapshot whose manifest lists 100k (synthetic) data
    files with real stats/sizes — planning never opens data files, so
    none need to exist (same technique as test_scale_planning)."""
    rel = ds.log.new_manifest_relpath()
    paths = [f"data/fake-{i:06d}.parquet" for i in range(N_FAKE)]
    lo = [i * ROWS_PER_FILE for i in range(N_FAKE)]
    hi = [(i + 1) * ROWS_PER_FILE - 1 for i in range(N_FAKE)]
    tbl = pa.table({
        mf.FILE_PATH_COL: paths,
        mf.NUM_ROWS_COL: pa.array([ROWS_PER_FILE] * N_FAKE, pa.int64()),
        mf.SIZE_BYTES_COL: pa.array([64 << 20] * N_FAKE, pa.int64()),
        mf.STATS_PREFIX + "k": pa.StructArray.from_arrays(
            [pa.array(lo, pa.int64()), pa.array(hi, pa.int64())],
            names=[mf.MIN_COL, mf.MAX_COL],
        ),
        mf.STATS_PREFIX + "v": pa.StructArray.from_arrays(
            [pa.array([None] * N_FAKE, pa.string()),
             pa.array([None] * N_FAKE, pa.string())],
            names=[mf.MIN_COL, mf.MAX_COL],
        ),
    })
    import os

    os.makedirs(os.path.dirname(ds.log.abs_path(rel)), exist_ok=True)
    pq.write_table(tbl, ds.log.abs_path(rel))
    ds._commit_change("APPEND", written=(
        rel, paths, N_FAKE * ROWS_PER_FILE, N_FAKE * (64 << 20)))
    return ds.reload()


def test_100k_file_partition_planning_bounded(spark, tmp_location):
    from space_spark.sources.datasource import SpaceBatchReader

    ds = Dataset.create(spark, tmp_location, SCHEMA, ["k"])
    ds.append(_df(spark, range(10)).coalesce(1))
    ds = _forge_big_snapshot(ds)

    phys = ds._physical_schema()
    reader = SpaceBatchReader(tmp_location, {}, phys)
    t0 = time.perf_counter()
    parts = reader.partitions()
    elapsed = time.perf_counter() - t0
    # 64 MB files at the default 128 MB ceiling -> ~2 files/partition;
    # the real file from the first append coalesces into one of them.
    assert len(parts) >= N_FAKE // 2
    assert elapsed < 10.0, f"planning 100k files took {elapsed:.1f}s"
    # Sizes came from manifests: fake paths were never statted (statting
    # 100k missing paths is fast locally but 100k HEADs on an object
    # store; the bound above would still hold either way, so pin the
    # mechanism too).
    sized = __import__(
        "space_spark.sources.datasource", fromlist=["_prune"]
    )._prune(ds.log, ds.metadata, ds.current_snapshot_id, None,
             with_sizes=True)
    assert len(sized) == N_FAKE + 1
    assert all(b == 64 << 20 for p, b in sized if "fake" in p)


def test_100k_file_filtered_planning_prunes_first(spark, tmp_location):
    """A selective filter must shrink the partition list BEFORE any
    path materialization — the escape hatch composes with pruning."""
    from space_spark.core.expressions import field as f_
    from space_spark.sources.datasource import SpaceBatchReader

    ds = Dataset.create(spark, tmp_location, SCHEMA, ["k"])
    ds.append(_df(spark, range(10)).coalesce(1))
    ds = _forge_big_snapshot(ds)
    phys = ds._physical_schema()
    reader = SpaceBatchReader(tmp_location, {}, phys)
    reader._expr = f_("k") >= (N_FAKE - 2) * ROWS_PER_FILE
    t0 = time.perf_counter()
    parts = reader.partitions()
    elapsed = time.perf_counter() - t0
    assert len(parts) <= 3
    assert elapsed < 5.0


def test_read_routes_through_datasource_above_threshold(
        spark, tmp_location):
    """Parity: with the threshold forced low, read() answers through the
    DataSource path and matches the path-list read exactly — filter,
    projection, and MoR delete masking included."""
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["k"])
    ds.append(_df(spark, range(40)).repartition(8))
    ds.delete(field("k") == 7)
    ds = ds.reload()

    expected_full = sorted(map(tuple, ds.read().collect()))
    expected_filt = sorted(
        map(tuple, ds.read(filter_=field("k") < 20).collect()))
    expected_proj = sorted(
        map(tuple, ds.read(fields=["v"]).collect()))

    ds.DATASOURCE_READ_MIN_FILES = 1
    routed = ds.read()
    # One DataSourceV2 scan node, not a 100k-path file index.
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan" in plan, plan[:500]
    assert sorted(map(tuple, routed.collect())) == expected_full
    assert sorted(
        map(tuple, ds.read(filter_=field("k") < 20).collect())
    ) == expected_filt
    assert sorted(
        map(tuple, ds.read(fields=["v"]).collect())
    ) == expected_proj
    assert 7 not in {r[0] for r in expected_full}


def test_routed_read_resolves_record_fields(spark, tmp_location):
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    ds = Dataset.create(spark, tmp_location, schema, ["k"],
                        record_fields=["payload"])
    ds.append(spark.createDataFrame(
        [Row(k=i, payload=bytes([i] * (i + 1))) for i in range(5)],
        schema))
    ds = ds.reload()
    expected = sorted((r["k"], bytes(r["payload"]))
                      for r in ds.read().collect())
    ds.DATASOURCE_READ_MIN_FILES = 1
    got = sorted((r["k"], bytes(r["payload"]))
                 for r in ds.read().collect())
    assert got == expected
    # reference_read keeps address structs on the routed path too.
    ref = ds.read(reference_read=True).collect()
    assert all(r["payload"]["_FILE"] for r in ref)


def test_routed_read_prunes_complex_predicates(spark, tmp_location):
    """Review r9: Catalyst re-pushes only simple comparison conjuncts
    into the DataSource, so an OR predicate would plan the WHOLE
    snapshot on the routed path. read() forwards the full falsifiable
    expression (option prune_expr); partitions must shrink."""
    from space_spark.sources.datasource import SpaceBatchReader

    ds = Dataset.create(spark, tmp_location, SCHEMA, ["k"])
    for lo in range(0, 80, 20):  # 4 disjoint-range files
        ds.append(_df(spark, range(lo, lo + 20)).coalesce(1))
    ds = ds.reload()
    flt = (field("k") < 5) | (field("k") > 75)  # hits 2 of 4 files
    expected = sorted(r["k"] for r in ds.read(filter_=flt).collect())
    ds.DATASOURCE_READ_MIN_FILES = 1
    routed = ds.read(filter_=flt)
    assert sorted(r["k"] for r in routed.collect()) == expected
    # The forwarded expression pruned at PLANNING time: reconstruct the
    # reader with the same option and count partitions.
    from space_spark.core.expressions import expr_to_json

    opt = expr_to_json(ds._phys_expr(flt))
    reader = SpaceBatchReader(
        tmp_location, {"prune_expr": opt}, ds._physical_schema())
    n_files = sum(len(p.value) for p in reader.partitions())
    assert n_files == 2, n_files


def test_prune_expr_option_rejects_non_declarative_payloads(
        spark, tmp_location):
    """ADVICE r10 (medium): DataSource options are plain strings
    reachable from SQL (CREATE TABLE ... USING space OPTIONS (...)), so
    prune_expr must never deserialize code. The JSON decoder rejects
    anything outside the closed Expr algebra — including the old
    pickle transport."""
    import base64

    import pytest as _pytest
    from pyspark import cloudpickle

    from space_spark.sources.datasource import SpaceBatchReader

    ds = Dataset.create(spark, tmp_location, SCHEMA, ["k"])
    ds.append(_df(spark, range(5)).coalesce(1))
    phys = ds._physical_schema()
    evil = [
        base64.b64encode(cloudpickle.dumps(field("k") > 1)).decode(),
        '{"n": "eval", "code": "__import__(\'os\')"}',
        '{"n": "cmp", "op": "exec", "l": {"n": "field", "name": "k"},'
        ' "r": {"n": "lit", "vt": "int", "v": 1}}',
        '["not", "a", "dict"]',
    ]
    for payload in evil:
        with _pytest.raises(ValueError):
            SpaceBatchReader(tmp_location, {"prune_expr": payload}, phys)


def test_expr_json_roundtrip_all_node_and_literal_kinds():
    """expr_to_json/expr_from_json carry the whole closed algebra:
    every node kind and every literal domain, including the temporal
    types that manifest pruning compares."""
    import datetime as dt

    from space_spark.core.expressions import (
        expr_from_json,
        expr_to_json,
        lit,
    )

    f = field
    exprs = [
        f("k") > 1,
        (f("k") >= -5) & (f("v") != "x'y\"z"),
        (f("a") < 1.5) | ~(f("b") <= f("c")),
        f("ts") == dt.datetime(2024, 3, 1, 12, 30, 0, 250,
                               tzinfo=dt.timezone.utc),
        f("d") >= dt.date(2024, 1, 1),
        f("blob") == b"\x00\xff\x1f",
        f("flag") == True,  # noqa: E712 — bool literal, not identity
        f("x") != lit(None),
        f("nan") == float("inf"),
    ]
    for e in exprs:
        back = expr_from_json(expr_to_json(e))
        assert repr(back) == repr(e), (repr(back), repr(e))


def test_routed_filtered_read_pushes_projection(spark, tmp_location):
    """ADVICE r10 (low): with BOTH a projection and a filter, the scan
    must read only fields ∪ filter-columns — not regress to full width
    at exactly the >=10k-file scale this path serves."""
    wide = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("w", T.StringType()),
        T.StructField("x", T.StringType()),
    ])
    ds = Dataset.create(spark, tmp_location, wide, ["k"])
    ds.append(spark.createDataFrame(
        [Row(k=i, v=f"v{i}", w=f"w{i}" * 50, x=f"x{i}" * 50)
         for i in range(30)], wide).coalesce(1))
    ds = ds.reload()
    expected = sorted(
        map(tuple,
            ds.read(filter_=field("k") < 9, fields=["v"]).collect()))
    ds.DATASOURCE_READ_MIN_FILES = 1
    routed = ds.read(filter_=field("k") < 9, fields=["v"])
    assert sorted(map(tuple, routed.collect())) == expected
    # The BatchScan's output schema is the pushed narrow set — the wide
    # w/x columns never reach the scan.
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan" in plan, plan[:500]
    scan_line = [ln for ln in plan.splitlines() if "BatchScan" in ln][0]
    cols = [c.strip().split("#")[0] for c in
            scan_line.split("[", 1)[-1].split("]")[0].split(",")]
    assert sorted(set(cols)) == ["k", "v"], scan_line


def test_clone_of_100k_file_table_is_metadata_time(
    spark, tmp_location
):
    """Shallow clone cost is O(manifest bytes): cloning a 100k-file
    table must finish in seconds without touching (or needing) any
    data file, and the clone's manifests must carry identical stats
    so pruning fidelity survives the path remap."""
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["k"])
    ds.append(_df(spark, range(10)).coalesce(1))
    ds = _forge_big_snapshot(ds)

    dest = tmp_location + "_clone"
    t0 = time.perf_counter()
    clone = ds.clone(dest)
    elapsed = time.perf_counter() - t0
    assert elapsed < 15.0, f"clone of 100k-file table took {elapsed:.1f}s"
    snap = clone.metadata.snapshot(0)
    assert snap.num_rows == ds.metadata.snapshot(
        ds.current_snapshot_id
    ).num_rows
    # Pruning on the clone plans from the remapped manifests alone:
    # one selective key hits exactly one (synthetic) file.
    import os

    from space_spark import field

    files = clone.data_files(filter_=field("k") == 5 * ROWS_PER_FILE)
    assert len(files) == 1 and "fake" in files[0]
    # And the remap points back INTO the source location.
    assert os.path.normpath(
        os.path.join(dest, files[0])
    ).startswith(os.path.normpath(tmp_location))
    import shutil

    shutil.rmtree(dest, ignore_errors=True)
