"""Write side of the 'space' data source: batch append round-trip,
schema validation, append-only mode, and streaming (space table ->
space table replication with exactly-once micro-batch commits)."""

import math
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from space_spark import Dataset
from space_spark.core import manifests as mf
from space_spark.errors import UserInputError
from space_spark.sources import datasink
from space_spark.sources.datasource import register_space_source

SIMPLE = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("val", T.DoubleType()),
    ]
)


def _rows(n, start=0):
    return [Row(id=i, val=i / 2.0) for i in range(start, start + n)]


@pytest.fixture()
def sink_table(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["id"])
    register_space_source(spark)
    return ds


def test_batch_write_roundtrip(spark, sink_table):
    df = spark.createDataFrame(_rows(25), SIMPLE)
    df.write.format("space").mode("append").save(sink_table.location)
    got = sink_table.reload().read()
    assert sorted((r.id, r.val) for r in got.collect()) == sorted(
        (r.id, r.val) for r in df.collect()
    )
    # A second write is a second snapshot (append semantics).
    spark.createDataFrame(_rows(5, start=100), SIMPLE).write.format(
        "space"
    ).mode("append").save(sink_table.location)
    assert sink_table.reload().read().count() == 30
    assert sink_table.versions().count() >= 3  # create + 2 writes


@pytest.mark.parametrize("hold_bytes", [datasink.SHARD_HOLD_BYTES, 1])
def test_shard_file_records_nan_max(tmp_path, monkeypatch, hold_bytes):
    """A sink task writes its batches as one file whose footer stats give
    a NaN max to a float column holding NaN, whether the task's batches
    fit the hold (written whole, the note exact) or stream past it
    (every float column noted)."""
    monkeypatch.setattr(datasink, "SHARD_HOLD_BYTES", hold_bytes)
    schema = pa.schema([("id", pa.int64()), ("val", pa.float64()),
                        ("w", pa.float64())])
    batches = [
        pa.record_batch([pa.array(range(i * 10, i * 10 + 10)),
                         pa.array([float("nan") if i == 2 and j == 3
                                   else j / 2 for j in range(10)]),
                         pa.array([float(j) for j in range(10)])],
                        schema=schema)
        for i in range(3)
    ]
    msg = datasink._write_shard(str(tmp_path), "d/part.parquet", schema,
                                iter(batches))
    path = os.path.join(tmp_path, "d/part.parquet")
    assert msg.rel_files == ["d/part.parquet"]
    assert repr(pq.read_table(path).to_pylist()) == \
        repr(pa.Table.from_batches(batches).to_pylist())
    stats = mf._footer_stats(path, ["id", "val", "w"])
    assert math.isnan(stats["maxs"]["val"])
    assert stats["mins"]["id"] == 0 and stats["maxs"]["id"] == 29
    # ``w`` holds no NaN: its max is exact when the file is written whole
    assert (stats["maxs"]["w"] == 9.0) == (hold_bytes > 1)


def test_batch_write_column_order_aligned(spark, sink_table):
    df = spark.createDataFrame(
        [Row(val=1.5, id=7)], "val double, id long"
    )
    df.write.format("space").mode("append").save(sink_table.location)
    got = sink_table.reload().read().collect()
    assert (got[0].id, got[0].val) == (7, 1.5)


def test_batch_write_schema_mismatch(spark, sink_table):
    bad = spark.createDataFrame([Row(id=1)], "id long")
    with pytest.raises(Exception, match="mismatch"):
        bad.write.format("space").mode("append").save(sink_table.location)


def test_overwrite_rejected(spark, sink_table):
    df = spark.createDataFrame(_rows(1), SIMPLE)
    with pytest.raises(Exception, match="append"):
        df.write.format("space").mode("overwrite").save(
            sink_table.location
        )


def test_stream_space_to_space(spark, sink_table, tmp_path, tmp_location):
    """Replicate one space table into another with readStream ->
    writeStream: the changefeed landing pattern the reference exposes to
    Ray (data_sources.py:38-151)."""
    src_loc = str(tmp_path / "src_tbl")
    src = Dataset.create(spark, src_loc, SIMPLE, ["id"])
    src.append(spark.createDataFrame(_rows(10), SIMPLE))
    src.append(spark.createDataFrame(_rows(10, start=10), SIMPLE))

    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.format("space").load(src_loc)
        .writeStream.format("space")
        .option("path", sink_table.location)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(120)
    got = sink_table.reload().read()
    assert sorted(r.id for r in got.collect()) == list(range(20))

    # Restart after a new source append: only the delta lands (offsets +
    # sink progress survive the restart).
    src.append(spark.createDataFrame(_rows(3, start=50), SIMPLE))
    stream = (
        spark.readStream.format("space").load(src_loc)
        .writeStream.format("space")
        .option("path", sink_table.location)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(120)
    assert sink_table.reload().read().count() == 23
    meta = sink_table.log.read_metadata()
    assert meta.stream_progress.get("default", -1) >= 0


def test_stream_replayed_batch_skipped(spark, sink_table):
    """A micro-batch whose batchId was already committed must be
    discarded (crash between sink commit and checkpoint advance)."""
    from space_spark.sources.datasink import (
        FilesCommitMessage,
        SpaceStreamWriter,
    )

    w = SpaceStreamWriter(sink_table.location, {}, SIMPLE)
    import pyarrow as pa

    def batches():
        yield pa.RecordBatch.from_pydict(
            {"id": [1, 2], "val": [0.5, 1.0]},
            schema=w.table_arrow,
        )

    msg = w.write(batches())
    w.commit([msg], batchId=0)
    assert sink_table.reload().read().count() == 2

    msg2 = w.write(batches())
    w.commit([msg2], batchId=0)  # replay of batch 0
    assert sink_table.reload().read().count() == 2  # unchanged
    assert not os.path.exists(
        os.path.join(sink_table.location, msg2.rel_files[0])
    )


def test_stream_writer_picks_up_mid_stream_constraint(spark, sink_table):
    """add_constraint() during a long-running stream must be enforced
    on LATER micro-batches: the executor-side writer instance was
    constructed before the constraint existed, so write() re-reads the
    live constraint set per batch instead of trusting its planning-time
    snapshot (and drop_constraint symmetrically stops enforcement)."""
    import pyarrow as pa

    from space_spark import ConstraintViolationError, field
    from space_spark.sources.datasink import SpaceStreamWriter

    w = SpaceStreamWriter(sink_table.location, {}, SIMPLE)
    assert w.constraints == []  # planning-time snapshot: none

    def batch(vals):
        yield pa.RecordBatch.from_pydict(
            {"id": list(range(len(vals))), "val": vals},
            schema=w.table_arrow,
        )

    msg = w.write(batch([0.5, 1.0]))
    w.commit([msg], batchId=0)

    sink_table.reload().add_constraint(
        "val_nonneg", field("val") >= 0
    )
    with pytest.raises(ConstraintViolationError, match="val_nonneg"):
        w.write(batch([-1.0]))

    sink_table.drop_constraint("val_nonneg")
    msg2 = w.write(batch([-1.0]))  # constraint dropped: allowed again
    w.commit([msg2], batchId=1)
    assert sink_table.reload().read().count() == 3


def test_sink_commit_revalidates_after_concurrent_add_constraint(
    spark, sink_table
):
    """Reverse add_constraint TOCTOU at the sink (round 12): a task
    validated its batch against constraint-set version V; a constraint
    commits before the driver's snapshot commit. The commit message
    carries V, commit_snapshot conflicts on the version pin, and the
    driver re-validates the shard files against the live set —
    violating rows are refused, never landed."""
    import pyarrow as pa

    from space_spark import ConstraintViolationError, field
    from space_spark.sources.datasink import SpaceStreamWriter

    w = SpaceStreamWriter(sink_table.location, {}, SIMPLE)

    def batch(vals, start=0):
        yield pa.RecordBatch.from_pydict(
            {"id": list(range(start, start + len(vals))), "val": vals},
            schema=w.table_arrow,
        )

    # Task writes + validates (no constraints yet): version pin 0.
    msg = w.write(batch([-1.0]))
    assert msg.constraints_version == 0
    # Constraint lands between task validation and driver commit.
    sink_table.reload().add_constraint("val_nonneg", field("val") >= 0)
    with pytest.raises(ConstraintViolationError, match="val_nonneg"):
        w.commit([msg], batchId=0)
    assert sink_table.reload().read().count() == 0

    # Clean rows in the same race just cost one re-validation pass.
    msg2 = w.write(batch([0.25], start=10))
    sink_table.reload().drop_constraint("val_nonneg")
    sink_table.add_constraint("val_cap", field("val") <= 100)
    assert msg2.constraints_version == 1  # pinned pre-add of val_cap
    w.commit([msg2], batchId=1)
    assert sink_table.reload().read().count() == 1
