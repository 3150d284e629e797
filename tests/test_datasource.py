"""Python DataSource ('space' format): batch reads with file-level filter
pruning, time travel, schema evolution alignment, and the snapshot-offset
streaming source."""

import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from space_spark import Dataset, field
from space_spark.sources.datasource import (
    SpaceBatchReader,
    register_space_source,
)

SIMPLE = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("val", T.DoubleType()),
    ]
)


@pytest.fixture()
def table(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["id"])
    for start in range(0, 30, 10):
        ds.append(
            spark.createDataFrame(
                [Row(id=i, val=i / 2.0) for i in range(start, start + 10)],
                SIMPLE,
            ).coalesce(1)
        )
    register_space_source(spark)
    return ds


def test_batch_read(spark, table):
    df = spark.read.format("space").load(table.location)
    assert df.count() == 30
    assert sorted(r.id for r in df.collect()) == list(range(30))


def test_batch_filter_prunes_files_and_rows(spark, table):
    # Row-level correctness regardless of pruning.
    df = (
        spark.read.format("space").load(table.location)
        .where(F.col("id") >= 25)
    )
    assert sorted(r.id for r in df.collect()) == list(range(25, 30))
    # File-level: the reader's planner skips 2 of 3 files for this filter.
    reader = SpaceBatchReader(table.location, {}, SIMPLE)
    reader._expr = field("id") >= 25
    parts = reader.partitions()
    files = [p for part in parts for p in part.value]
    assert len(files) == 1


def test_batch_time_travel(spark, table):
    df = (
        spark.read.format("space")
        .option("version", "1")
        .load(table.location)
    )
    assert df.count() == 10


def test_schema_evolution_alignment(spark, table):
    table.add_column("extra", T.LongType())
    table.append(
        spark.createDataFrame(
            [Row(id=100, val=1.0, extra=7)],
            T.StructType(SIMPLE.fields
                         + [T.StructField("extra", T.LongType())]),
        )
    )
    df = spark.read.format("space").load(table.location)
    got = {r.id: r.extra for r in df.collect()}
    assert got[100] == 7
    assert got[0] is None  # pre-evolution files surface NULL


def test_stream_reads_appends_only(spark, table, tmp_path):
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.format("space")
        .load(table.location)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert sorted(r.id for r in got.collect()) == list(range(30))

    # A delete rewrites survivors with added_files=[] — nothing re-emits;
    # a fresh append does emit.
    table.delete(field("id") < 5)
    table.append(
        spark.createDataFrame([Row(id=50, val=9.0)], SIMPLE)
    )
    stream = (
        spark.readStream.format("space")
        .load(table.location)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(120)
    ids = [r.id for r in spark.read.parquet(out_dir).collect()]
    assert sorted(ids) == list(range(30)) + [50]  # no survivor re-emit


def test_fields_option_projects_columns(spark, table):
    df = (
        spark.read.format("space").option("fields", "id")
        .load(table.location)
    )
    assert df.columns == ["id"]
    assert sorted(r.id for r in df.collect()) == list(range(30))


def test_user_schema_projects_columns(spark, table):
    df = (
        spark.read.format("space").schema("val double")
        .load(table.location)
    )
    assert df.columns == ["val"]
    assert len(df.collect()) == 30


def test_read_aligned_prunes_columns_and_filters(table):
    """Executor-side read (``manifests.read_data_file``, the one reader
    of table files): only the requested columns leave the scan, and
    the arrow filter drops rows before Spark sees them."""
    import pyarrow as pa

    from pyspark.sql.datasource import GreaterThanOrEqual

    from space_spark.core.manifests import read_data_file
    from space_spark.sources.datasource import _filters_to_arrow

    files = [
        os.path.join(table.location, p) for p in table.data_files()
    ]
    filt, names = _filters_to_arrow(
        [GreaterThanOrEqual(("id",), 25)], SIMPLE
    )
    assert filt is not None and names == {"id"}
    got = pa.concat_tables([
        read_data_file(f, pa.schema([pa.field("id", pa.int64())]),
                       arrow_filter=filt, filter_names=names)
        for f in files
    ])
    assert got.column_names == ["id"]
    assert sorted(got["id"].to_pylist()) == list(range(25, 30))


def test_one_reader_parity(spark, tmp_location):
    """``ds.read()``, ``format("space")`` and the driver's pyarrow read
    (``write_path.read_arrow``) give the same rows of a table with a
    renamed column, a column added after its first files, a live
    merge-on-read delete vector and a record field (read as its
    address)."""
    import pyarrow as pa

    from space_spark.core import write_path as wp

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("blob", T.BinaryType()),
    ])
    ds = Dataset.create(spark, tmp_location, schema, ["id"],
                        record_fields=["blob"])
    ds.append(spark.createDataFrame(pa.table({
        "id": list(range(10)), "name": [f"n{i}" for i in range(10)],
        "blob": [f"b{i}".encode() for i in range(10)]}), schema))
    ds.rename_column("name", "label")
    ds.add_column("y", T.LongType())
    ds.append(spark.createDataFrame(pa.table({
        "id": [10, 11], "label": ["a", "b"], "blob": [b"x", b"y"],
        "y": [1, 2]}), ds.schema))
    ds.delete(field("id").isin([3, 11]), rewrite=False)
    register_space_source(spark)

    def rows(dicts):
        return sorted(dicts, key=lambda r: r["id"])

    snapshot = ds.metadata.snapshot(ds.current_snapshot_id)
    assert snapshot.delete_vector_files
    spark_rows = rows(r.asDict(recursive=True)
                      for r in ds.read(reference_read=True).collect())
    assert [r["id"] for r in spark_rows] == [0, 1, 2, 4, 5, 6, 7, 8, 9, 10]
    assert spark_rows[0]["y"] is None and spark_rows[-1]["y"] == 1
    source_rows = rows(
        r.asDict(recursive=True) for r in
        spark.read.format("space").load(ds.location).collect())
    driver_rows = rows(wp.read_arrow(ds, ds.data_files(),
                                     snapshot=snapshot).to_pylist())
    assert source_rows == spark_rows
    assert driver_rows == spark_rows


def test_float_filters_not_pushed_to_arrow(table):
    """Spark orders NaN above every double; arrow comparisons return null.
    Double-typed comparisons must stay in Spark."""
    from pyspark.sql.datasource import GreaterThan

    from space_spark.sources.datasource import _filters_to_arrow

    filt, names = _filters_to_arrow([GreaterThan(("val",), 5.0)], SIMPLE)
    assert filt is None and names == set()


def test_large_file_splits_into_row_group_partitions(spark, tmp_location):
    """A file bigger than partition_bytes splits into row-group-aligned
    InputPartitions (reference row-range blocks) instead of serializing
    onto one task; results are unchanged."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from space_spark import Dataset
    from space_spark.sources.datasource import _group_files
    from space_spark.sources.loaders import append_parquet

    # One physical file with many small row groups (pyarrow-written;
    # Spark's writer makes big single-group files at this size).
    ext = os.path.join(os.path.dirname(tmp_location), "ext.parquet")
    n = 50_000
    tbl = pa.table({"id": list(range(n)), "v": [i * 2 for i in range(n)]})
    pq.write_table(tbl, ext, row_group_size=5_000)

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    ds = Dataset.create(spark, tmp_location, schema, ["id"])
    append_parquet(ds, ext)
    [data_file] = ds.data_files()
    abs_path = ds.log.abs_path(data_file)
    units = list(_group_files([abs_path], 128 * 1024))
    assert len(units) > 1  # actually split
    assert all(isinstance(u[0], tuple) for u in units)
    rgs = [rg for u in units for rg in u[0][1]]
    assert rgs == sorted(set(rgs))  # every row group exactly once

    got = (
        spark.read.format("space")
        .option("partition_bytes", str(128 * 1024))
        .load(tmp_location)
    )
    assert got.count() == n
    assert got.agg(F.sum("v")).first()[0] == sum(i * 2 for i in range(n))


def test_read_row_range_slice(spark, tmp_location):
    """P5: [start, stop) slice of one index file by physical row
    position."""
    from space_spark import Dataset
    from space_spark.errors import UserInputError

    df = spark.range(1000).coalesce(1).select("id")
    ds = Dataset.create(spark, tmp_location + "_rr", df.schema, ["id"])
    ds.append(df)
    [f] = ds.data_files()
    part = ds.read_row_range(f, 100, 250)
    assert part.count() == 150
    full = sorted(r["id"] for r in ds.read_row_range(f, 0, 10**9).collect())
    assert full == sorted(r["id"] for r in ds.read().collect())
    with pytest.raises(UserInputError):
        ds.read_row_range(f, -1, 5)


def test_change_feed_stream(spark, table, tmp_path):
    """readChangeFeed streaming: appends emit ADD rows, a CoW delete
    emits DELETE rows (PKs only, other columns null) — same contents as
    the batch diff(), delivered as micro-batches with exactly-once
    progress across restarts."""
    out_dir = str(tmp_path / "cdf_out")
    ckpt = str(tmp_path / "cdf_ckpt")

    def drain():
        (
            spark.readStream.format("space")
            .option("readChangeFeed", "true")
            .load(table.location)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )
        return spark.read.parquet(out_dir)

    got = drain()
    assert got.columns == ["id", "val", "_change_type", "_snapshot_id",
                           "_change_order"]
    adds = got.where(F.col("_change_type") == "ADD")
    assert sorted(r.id for r in adds.collect()) == list(range(30))
    assert got.where(F.col("_change_type") == "DELETE").count() == 0

    # CoW delete: DELETE rows for the removed PKs; survivor-rewrite files
    # must NOT re-emit as ADDs (added_files covers genuinely new rows only).
    table.delete(field("id") < 5)
    got = drain()
    dels = got.where(F.col("_change_type") == "DELETE")
    assert sorted(r.id for r in dels.collect()) == list(range(5))
    assert dels.where(F.col("val").isNotNull()).count() == 0
    assert dels.agg(F.min("_change_order")).collect()[0][0] == 0
    adds = got.where(F.col("_change_type") == "ADD")
    assert sorted(r.id for r in adds.collect()) == list(range(30))

    # Matches the batch change feed over the full history.
    batch = table.diff(0, None)
    assert batch.where(F.col("_change_type") == "DELETE").count() == 5
    n_add_batch = batch.where(F.col("_change_type") == "ADD").count()
    assert n_add_batch == adds.count()


def test_change_feed_stream_replays_overwrite(spark, table, tmp_path):
    """CDC streaming across an overwrite(): the directory-valued delete
    stream must surface every old PK as DELETE rows (the executor's "D"
    partition reads it via pyarrow dataset — files or directories),
    then the replacement rows as ADDs."""
    out_dir = str(tmp_path / "ovw_out")
    ckpt = str(tmp_path / "ovw_ckpt")

    def drain():
        (
            spark.readStream.format("space")
            .option("readChangeFeed", "true")
            .load(table.location)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )
        return spark.read.parquet(out_dir)

    drain()  # consume the three appends
    table.overwrite(
        spark.createDataFrame(
            [Row(id=i, val=float(i)) for i in range(500, 503)], SIMPLE
        )
    )
    got = drain()
    new = got.where(F.col("_snapshot_id")
                    == table.current_snapshot_id)
    dels = new.where(F.col("_change_type") == "DELETE")
    assert sorted(r.id for r in dels.collect()) == list(range(30))
    assert dels.where(F.col("val").isNotNull()).count() == 0
    adds = new.where(F.col("_change_type") == "ADD")
    assert sorted(r.id for r in adds.collect()) == [500, 501, 502]


def test_v2_planner_bloom_prunes_equality_on_indexed_column(
    spark, tmp_location
):
    """DataSourceV2 partition planning (round 12): an equality conjunct
    on a bloom-indexed NON-key column prunes partitions by membership
    — the planner has no SparkSession, so the literal canonicalizes
    driver-side (blooms.canonicalize_literal). Strings/ints/dates here;
    timestamps in test_v2_planner_bloom_prunes_timestamp_literals."""
    wide = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("h", T.StringType()),
    ])
    ds = Dataset.create(spark, tmp_location, wide, ["k"],
                        bloom_filters=["h"])
    for lo in range(0, 300, 100):
        ds.append(spark.sql(
            f"SELECT id AS k, md5(cast(id AS string)) AS h "
            f"FROM range({lo}, {lo + 100})"
        ).coalesce(1))
    probe = ds.read(filter_=field("k") == 150).collect()[0].h

    reader = SpaceBatchReader(ds.location, {}, wide)
    reader._expr = field("h") == probe
    files = [p for part in reader.partitions() for p in part.value]
    assert len(files) == 1, files
    # Absent value: zero partitions planned (one empty sentinel part).
    reader2 = SpaceBatchReader(ds.location, {}, wide)
    reader2._expr = field("h") == "absent"
    files2 = [p for part in reader2.partitions() for p in part.value]
    assert files2 == []
    # End-to-end through the registered source: rows still correct.
    got = (spark.read.format("space").load(ds.location)
           .where(F.col("h") == probe).collect())
    assert [r.k for r in got] == [150]
    # OR filters must NOT bloom-prune (row-correctness through the
    # full stack, where the k arm matches).
    got_or = (spark.read.format("space").load(ds.location)
              .where((F.col("h") == "absent") | (F.col("k") == 7))
              .collect())
    assert [r.k for r in got_or] == [7]


def test_v2_planner_bloom_prunes_timestamp_literals(spark, tmp_location):
    """Round 13: timestamp equality literals bloom-prune on the V2
    route too. AWARE literals (what variant decode hands pushFilters)
    are unambiguous instants; NAIVE literals replicate
    TimestampType.toInternal's SYSTEM-timezone arithmetic — the same
    conversion their row-level F.lit anchor uses. The round-12 verdict
    suggested threading spark.sql.session.timeZone into the planner;
    that was REFUTED live: F.lit(naive) under an America/Los_Angeles
    session on a UTC host converts via time.mktime (system tz), so a
    session-tz canonicalization would have pruned the WRONG file. The
    hostile-session case below pins the consistent behavior."""
    import datetime as dt

    from space_spark.core import blooms as bl

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        ds = Dataset.create(spark, tmp_location, schema, ["k"],
                            bloom_filters=["ts"])
        base = dt.datetime(2024, 5, 1, 0, 0, 0, tzinfo=dt.timezone.utc)
        rows = [Row(k=i, ts=base + dt.timedelta(minutes=i))
                for i in range(40)]
        # Interleaved files: min/max ts ranges overlap, only blooms prune.
        ds.append(spark.createDataFrame(rows[0::2], schema).coalesce(1))
        ds.append(spark.createDataFrame(rows[1::2], schema).coalesce(1))

        # canonicalize_literal == TimestampType.toInternal, bit-for-bit.
        probe_aware = rows[7].ts
        naive_sys = dt.datetime.fromtimestamp(probe_aware.timestamp())
        for v in (probe_aware, naive_sys,
                  naive_sys.replace(microsecond=123456)):
            ok, canon = bl.canonicalize_literal(T.TimestampType(), v)
            assert ok and canon == T.TimestampType().toInternal(v), v

        # 1. AWARE literal: prunes to the odd file.
        r1 = SpaceBatchReader(ds.location, {}, schema)
        r1._expr = field("ts") == probe_aware
        files1 = [p for part in r1.partitions() for p in part.value]
        assert len(files1) == 1, files1

        # 2. NAIVE (system-tz wall clock of the same instant): same file.
        r2 = SpaceBatchReader(ds.location, {}, schema)
        r2._expr = field("ts") == naive_sys
        files2 = [p for part in r2.partitions() for p in part.value]
        assert files2 == files1, (files2, files1)

        # 3. Absent instant: full prune (zero partitions planned).
        r3 = SpaceBatchReader(ds.location, {}, schema)
        r3._expr = field("ts") == (probe_aware + dt.timedelta(days=9))
        files3 = [p for part in r3.partitions() for p in part.value]
        assert files3 == []

        # 4. Hostile-session end-to-end: the routed V2 read with the
        # naive literal returns the right rows — prune and row filter
        # agree on the system-tz interpretation even though the session
        # timezone differs.
        old_min = Dataset.DATASOURCE_READ_MIN_FILES
        Dataset.DATASOURCE_READ_MIN_FILES = 1
        try:
            got = ds.read(field("ts") == naive_sys).collect()
        finally:
            Dataset.DATASOURCE_READ_MIN_FILES = old_min
        assert [r.k for r in got] == [7], got
        # Path-list route agrees (same Expr, same files).
        got_path = ds.read(field("ts") == naive_sys).collect()
        assert [r.k for r in got_path] == [7], got_path
        # And through pushFilters (aware variant decode on the V2
        # source) with an F.lit literal.
        register_space_source(spark)
        got2 = (spark.read.format("space").load(ds.location)
                .where(F.col("ts") == F.lit(naive_sys)).collect())
        assert [r.k for r in got2] == [7], got2
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
