"""Driver-side writes: outputs the driver already holds within Spark's
``spark.sql.autoBroadcastJoinThreshold`` (local inputs, keyed and
predicate delete splits) are written with pyarrow instead of through
Spark's file committer. These tests hold the two sides of that size
rule to the same results, the driver-written files to the same types
and statistics as Spark-written ones, and a failed read-back of a
Spark-written deletes log to an error instead of a silent no-op."""

import datetime
import decimal
import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from space_spark import Dataset, field
from space_spark.core import dataset as dataset_mod
from space_spark.core import manifests as mf

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

KXG = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("g", T.StringType()),
    T.StructField("x", T.LongType()),
])


def _local(spark, rows, schema=KXG):
    """A LocalRelation input (the shape that may take the driver path)."""
    return spark.createDataFrame(
        pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows]),
        schema,
    )


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return tuple(_norm(x) for x in v)
    return v


def _rows(df):
    return sorted((tuple(_norm(v) for v in r) for r in df.collect()),
                  key=repr)


def _driver_named(location):
    """Files the driver wrote: it names them ``part-NNNNN.parquet``;
    Spark's committer adds a job uuid and the codec."""
    return [n for _, _, names in os.walk(location) for n in names
            if n.startswith("part-") and n.endswith(".parquet")
            and len(n) == len("part-00000.parquet")]


def _with_threshold(spark, value, fn):
    prev = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        return fn()
    finally:
        spark.conf.set(THRESHOLD, prev)


# -- scenarios: each builds tables at ``loc`` and returns the Datasets
# -- whose reads and change feeds must not depend on the size rule.

def _clustered_append(target_files):
    def run(spark, loc):
        ds = Dataset.create(spark, loc, KXG, ["k"], cluster_by=["k"])
        ds.append(_local(spark, [(i, f"g{i % 3}", i) for i in range(30, 0, -1)]),
                  target_files=target_files)
        ds.append(_local(spark, [(i, "h", -i) for i in range(50, 40, -1)]),
                  target_files=target_files)
        return [ds]
    return run


def _seeded(spark, loc):
    ds = Dataset.create(spark, loc, KXG, ["k"], cluster_by=["k"])
    ds.append(_local(spark, [(i, f"g{i % 3}", i) for i in range(40)]))
    return ds


def _upsert(spark, loc):
    ds = _seeded(spark, loc)
    ds.upsert(_local(spark, [(1, "u", 10), (17, "u", 11), (99, "new", 1)]))
    return [ds]


def _delete_dup_keys(spark, loc):
    ds = _seeded(spark, loc)
    ds.delete_by_keys(_local(spark, [(2, "", 0), (2, "", 0), (5, "", 0),
                                     (77, "", 0)]).select("k"))
    return [ds]


def _predicate_delete(spark, loc):
    ds = _seeded(spark, loc)
    ds.delete((field("x") > 30) | (field("g") == "g1"))
    return [ds]


def _merge(spark, loc):
    ds = _seeded(spark, loc)
    ds.merge(
        _local(spark, [(3, "m", 0), (4, "m", 44), (120, "m", 5)]),
        when_matched=[
            {"action": "delete", "condition": lambda s, t: s["x"] == 0},
            {"action": "update"},
        ],
        when_not_matched="insert",
    )
    return [ds]


def _views(spark, loc):
    ds = _seeded(spark, loc)
    mv = ds.filter_view(lambda r: r["g"] == "g1").materialize(
        spark, loc + "_mv")
    agg = ds.aggregate_view(["g"], {"n": ("count", "*"),
                                    "s": ("sum", "x")}
                            ).materialize(spark, loc + "_agg")
    mv.refresh()
    agg.refresh()
    ds.append(_local(spark, [(200, "g1", 1), (201, "g2", 2)]))
    ds.upsert(_local(spark, [(1, "g1", 100), (4, "g0", 4)]))
    ds.delete_by_keys(_local(spark, [(7, "", 0)]).select("k"))
    mv.refresh()
    agg.refresh()
    return [ds, mv.dataset, agg.dataset]


BLOBS = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("blob", T.BinaryType()),
])


def _record_fields(spark, loc):
    ds = Dataset.create(spark, loc, BLOBS, ["id"], record_fields=["blob"])
    ds.append(_local(spark, [(i, f"n{i}", f"b{i}".encode())
                             for i in range(12)], BLOBS))
    ds.upsert(_local(spark, [(3, "u", b"new3"), (50, "x", b"b50")], BLOBS))
    ds.delete_by_keys(_local(spark, [(4, "", b""), (5, "", b"")],
                             BLOBS).select("id"))
    ds.delete(field("id") == 6)
    return [ds]


SCENARIOS = {
    "clustered_append": _clustered_append(None),
    "clustered_append_target_files": _clustered_append(3),
    "upsert": _upsert,
    "delete_by_keys_dup_keys": _delete_dup_keys,
    "predicate_delete": _predicate_delete,
    "merge": _merge,
    "views_refresh": _views,
    "record_fields": _record_fields,
}


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_size_rule_sides_agree(spark, tmp_location, name):
    """The same ops under the default threshold (driver writes) and
    under -1 (every write through Spark) give equal ``read()`` rows and
    equal ``diff()`` change feeds."""
    out = {}
    for side, value in (("driver", spark.conf.get(THRESHOLD)),
                        ("spark", "-1")):
        loc = f"{tmp_location}_{side}/t"
        tables = _with_threshold(
            spark, value, lambda: SCENARIOS[name](spark, loc))
        # record-field ADDs carry blob addresses, whose file names differ
        # between any two runs
        out[side] = [
            (_rows(t.read()),
             _rows(t.diff(0, t.current_snapshot_id)
                   .drop(dataset_mod.CHANGE_SNAPSHOT_COL, *t.record_fields)))
            for t in tables
        ]
        drivers = _driver_named(os.path.dirname(loc))
        if side == "driver":
            assert drivers, "default threshold took no driver write"
        else:
            assert not drivers, drivers
    assert out["driver"] == out["spark"]


def test_clustered_driver_append_layout(spark, tmp_location):
    """A local clustered append is one sorted file, or ``target_files``
    disjoint ranges."""
    ds = Dataset.create(spark, tmp_location, KXG, ["k"], cluster_by=["k"])
    ds.append(_local(spark, [(i, "g", i) for i in range(20, 0, -1)]))
    assert len(ds.data_files()) == 1
    ds.append(_local(spark, [(i, "g", i) for i in range(60, 30, -1)]),
              target_files=3)
    assert len(ds.data_files()) == 4
    assert len(ds.data_files((field("k") >= 31) & (field("k") <= 40))) == 1
    got = [r.k for r in ds.read(field("k") > 30).collect()]
    assert sorted(got) == list(range(31, 61))
    # a delete hitting two of those files rewrites each one's survivors
    # as its own file, keeping the ranges disjoint
    ds.delete_by_keys(_local(spark, [(35, "", 0), (55, "", 0)]).select("k"))
    assert len(ds.data_files()) == 4
    for k in (31, 40, 41, 50, 51, 60):
        assert len(ds.data_files(field("k") == k)) == 1
    got = [r.k for r in ds.read(field("k") > 30).collect()]
    assert sorted(got) == sorted(set(range(31, 61)) - {35, 55})


def test_driver_split_packs_neighbouring_files(spark, tmp_location):
    """A driver-split delete hitting more files than defaultParallelism
    packs the survivors of neighbouring files together, keeping the
    output files' key ranges disjoint."""
    ds = Dataset.create(spark, tmp_location, KXG, ["k"], cluster_by=["k"])
    ds.append(_local(spark, [(i, "g", i) for i in range(80, 0, -1)]),
              target_files=8)
    width = spark.sparkContext.defaultParallelism
    assert len(ds.data_files()) == 8 > width
    ds.delete_by_keys(_local(spark, [(k, "", 0) for k in range(5, 81, 10)])
                      .select("k"))
    assert len(ds.data_files()) == width
    for k in range(1, 81):
        if k % 10 != 5:
            assert len(ds.data_files(field("k") == k)) == 1
    assert ds.read().count() == 72


# -- type fidelity ---------------------------------------------------------

WIDE = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("ntz", T.TimestampNTZType()),
    T.StructField("d1", T.DecimalType(10, 2)),
    T.StructField("d2", T.DecimalType(38, 10)),
    T.StructField("dt", T.DateType()),
    T.StructField("b", T.BinaryType()),
    T.StructField("arr", T.ArrayType(T.IntegerType())),
    T.StructField("m", T.MapType(T.StringType(), T.LongType())),
    T.StructField("st", T.StructType([
        T.StructField("a", T.IntegerType()),
        T.StructField("z", T.StructType([T.StructField("q", T.StringType())])),
    ])),
    T.StructField("f", T.FloatType()),
    T.StructField("dd", T.DoubleType()),
    T.StructField("s", T.StringType()),
])

T0 = datetime.datetime(2020, 1, 1, 3, 4, 5, 123456,
                       tzinfo=datetime.timezone.utc)


def _wide_row(i):
    nan = float("nan")
    return (
        T0 + datetime.timedelta(hours=7 * i),
        datetime.datetime(2021, 3, 14, 1, 2, 3) + datetime.timedelta(minutes=i),
        decimal.Decimal(f"{i * 1.25:.2f}"),
        decimal.Decimal(f"{i}.0123456789"),
        datetime.date(2000, 1, 1) + datetime.timedelta(days=i),
        bytes([i % 256]) * 3,
        [i, None, i + 1],
        [("a", i), ("b", None)],
        {"a": i, "z": {"q": "x" * (i % 3)}},
        nan if i % 7 == 3 else (None if i % 5 == 0 else i * 0.5),
        nan if i % 9 == 4 else (None if i % 4 == 1 else -i * 0.25),
        None if i % 6 == 0 else f"s{i % 7}",
    )


def _wide_table(spark, loc, ids, schema):
    ds = Dataset.create(spark, loc, schema, ["ts"], bloom_filters=["ts"])
    ds.rename_column("s", "label")
    rows = [dict(zip(WIDE.names, _wide_row(i))) for i in ids]
    df = spark.createDataFrame(
        pa.Table.from_pylist(rows, to_arrow_schema(schema)), schema) \
        .withColumnRenamed("s", "label")
    ds.append(df, target_files=1)  # one file on both sides, to compare
    # a delete splits that file into a deletes log and survivors
    ds.delete_by_keys(df.where(F.col("d1") < 5).select("ts"))
    return ds


def _manifest_stats(ds):
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    tbl = pa.concat_tables([pq.read_table(p)
                            for p in ds._manifest_abs_paths(snap)],
                           promote_options="permissive")
    cols = sorted(c for c in tbl.column_names
                  if c.startswith(mf.STATS_PREFIX))
    return {c: sorted(map(_norm, tbl[c].to_pylist()), key=repr)
            for c in cols}


def _null_counts(ds):
    names = [n for n, _ in ds._stats_fields()]
    return sorted(
        sorted(mf._footer_stats(ds.log.abs_path(f), names)
               ["null_counts"].items())
        for f in ds.data_files())


@pytest.mark.parametrize("ts_type,with_ntz", [
    ("TIMESTAMP_MICROS", True), ("INT96", False), ("INT96", True)])
def test_driver_written_files_match_spark_written(spark, tmp_location,
                                                   ts_type, with_ntz):
    """Driver- and Spark-written files give identical rows, manifest
    min/max, footer null counts and bloom hits. Under INT96 (Spark's
    default ``outputTimestampType``) pyarrow writes every timestamp
    column INT96 or none, and Spark cannot read INT96 as TimestampNTZ,
    so a table with a TimestampNTZ column stays on Spark's writer."""
    schema = WIDE if with_ntz else T.StructType(
        [f for f in WIDE.fields if f.name != "ntz"])
    driver_writes = not (ts_type == "INT96" and with_ntz)
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", ts_type)
    try:
        ids = list(range(24))
        drv = _with_threshold(spark, spark.conf.get(THRESHOLD),
                              lambda: _wide_table(spark, tmp_location + "_d",
                                                  ids, schema))
        spk = _with_threshold(spark, "-1",
                              lambda: _wide_table(spark, tmp_location + "_s",
                                                  ids, schema))
        assert bool(_driver_named(drv.location)) == driver_writes
        assert not _driver_named(spk.location)
        assert len(drv.data_files()) == len(spk.data_files()) == 1
        assert _rows(drv.read()) == _rows(spk.read())
        assert _manifest_stats(drv) == _manifest_stats(spk)
        assert _null_counts(drv) == _null_counts(spk)
        # NaN is the max of a float column that holds one (pruning must
        # keep such a file for ``f > x``)
        assert any(("_MAX", "NaN") in s
                   for s in _manifest_stats(drv)["_STATS_f"])
        for i in (10, 17, 30):  # live, live, absent
            key = T0 + datetime.timedelta(hours=7 * i)
            hits = [ds.data_files(field("ts") == key) for ds in (drv, spk)]
            assert len(hits[0]) == len(hits[1])
            assert _rows(drv.read_by_keys([key])) == \
                _rows(spk.read_by_keys([key]))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)


def test_decimal_footer_stats_from_spark_files(spark, tmp_location):
    """Spark stores Decimal(p <= 18) as INT32/INT64; the footer stats
    decode them instead of failing the write."""
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("d", T.DecimalType(10, 2))])
    ds = Dataset.create(spark, tmp_location, schema, ["k"])
    ds.append(spark.sql("SELECT CAST(id AS BIGINT) AS k, "
                        "CAST(id * 1.25 AS DECIMAL(10, 2)) AS d "
                        "FROM range(8)"))
    stats = [dict(s) for s in _manifest_stats(ds)["_STATS_d"]]
    assert len(stats) > 1  # one file per partition
    assert min(s["_MIN"] for s in stats) == decimal.Decimal("0.00")
    assert max(s["_MAX"] for s in stats) == decimal.Decimal("8.75")


# -- a failed read-back is an error, not an empty deletes log -------------

@pytest.mark.parametrize("op", ["upsert", "delete_by_keys"])
def test_deletes_log_read_error_propagates(spark, tmp_location,
                                           monkeypatch, op):
    ds = Dataset.create(spark, tmp_location, KXG, ["k"])
    ds.append(_local(spark, [(1, "a", 0), (2, "b", 0)]))
    head = ds.current_snapshot_id
    real = pq.read_table

    def failing(path, *a, **kw):
        if "deletes_" in str(path):
            raise OSError("injected read failure")
        return real(path, *a, **kw)

    monkeypatch.setattr(dataset_mod.pq, "read_table", failing)

    def run():
        if op == "upsert":
            ds.upsert(_local(spark, [(1, "a", 99)]))
        else:
            ds.delete_by_keys(_local(spark, [(1, "", 0)]).select("k"))

    with pytest.raises(OSError, match="injected"):
        _with_threshold(spark, "-1", run)
    monkeypatch.setattr(dataset_mod.pq, "read_table", real)
    assert ds.reload().current_snapshot_id == head
    assert sorted((r.k, r.x) for r in ds.read().collect()) == [(1, 0), (2, 0)]
