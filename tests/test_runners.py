"""Reference-compat runner shim (ds.local()/ds.ray() -> Arrow reads)."""

import pyarrow as pa
from pyspark.sql import Row
from pyspark.sql import types as T

from space_spark import Dataset, field

SIMPLE = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("val", T.DoubleType()),
    ]
)


def test_runner_read_and_mutations(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["id"])
    runner = ds.local()

    # Mutations accept arrow tables / dicts (reference InputData union).
    runner.append(pa.table({"id": [1, 2, 3], "val": [0.1, 0.2, 0.3]}))
    runner.upsert({"id": [3, 4], "val": [3.0, 4.0]})
    runner.delete(field("id") == 1)

    tbl = runner.read_all()
    assert isinstance(tbl, pa.Table)
    got = dict(zip(tbl["id"].to_pylist(), tbl["val"].to_pylist()))
    assert got == {2: 0.2, 3: 3.0, 4: 4.0}

    # Batch iterator with re-slicing.
    batches = list(runner.read(batch_size=2))
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert sum(b.num_rows for b in batches) == 3
    assert max(b.num_rows for b in batches) <= 2

    # diff as arrow; ray() is the same engine.
    d = ds.ray().diff(0, ds.current_snapshot_id)
    assert isinstance(d, pa.Table)
    assert ds.ray() .read_all().num_rows == 3


def test_runner_arrow_input_keeps_rows_after_empty_batch(spark,
                                                          tmp_location):
    """An Arrow input whose chunks include a zero-row batch keeps every
    row (``createDataFrame`` of such a table drops the rows after it)."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["id"])
    a, b, c = (pa.table({"id": [i], "val": [i / 10]}) for i in (1, 2, 3))
    empty = a.slice(0, 0)
    data = pa.concat_tables([a, b, empty, c])
    assert [len(ch) for ch in data["id"].chunks] == [1, 1, 0, 1]
    ds.local().append(data)
    assert sorted(r.id for r in ds.read().collect()) == [1, 2, 3]


def test_mv_runner_refresh(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["id"])

    def mk():
        def u(b):
            return {"id": b["id"], "v2": b["val"] * 2}
        return u

    out = T.StructType([T.StructField("id", T.LongType()),
                        T.StructField("v2", T.DoubleType())])
    mv = ds.map_batches(mk(), out).materialize(spark, tmp_location + "_mv")
    ds.local().append({"id": [1, 2], "val": [1.0, 2.0]})
    mv.ray().refresh()
    tbl = mv.local().read_all()
    assert dict(zip(tbl["id"].to_pylist(), tbl["v2"].to_pylist())) == \
        {1: 2.0, 2: 4.0}


def test_block_level_streaming_read(spark, tmp_location):
    """Multi-file table iterated in bounded blocks: each block is read via
    its own read_files() call (no whole-table materialization), blocks
    respect the byte ceiling, and the concatenation equals the table."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["id"])
    for start in range(0, 40, 10):  # 4 appends -> >= 4 data files
        ds.append(
            spark.createDataFrame(
                [Row(id=i, val=i / 10.0) for i in range(start, start + 10)],
                SIMPLE,
            ).coalesce(1)
        )
    runner = ds.local()
    calls = []
    orig = ds.read_files

    def spy(rel_files, **kw):
        calls.append(list(rel_files))
        return orig(rel_files, **kw)

    ds.read_files = spy
    # 1-byte ceiling forces one block per file.
    batches = list(runner.read_blocks(max_block_bytes=1, batch_size=16))
    ds.read_files = orig
    assert len(calls) >= 4 and all(len(c) == 1 for c in calls)
    assert sum(b.num_rows for b in batches) == 40
    assert max(b.num_rows for b in batches) <= 16
    ids = sorted(i for b in batches for i in b.column("id").to_pylist())
    assert ids == list(range(40))

    # Filters prune whole blocks before any read happens.
    calls.clear()
    ds.read_files = spy
    got = list(runner.read_blocks(filter_=field("id") >= 30,
                                  max_block_bytes=1))
    ds.read_files = orig
    assert len(calls) == 1  # manifest pruning dropped 3 of 4 files
    assert sorted(i for b in got for i in b.column("id").to_pylist()) == list(
        range(30, 40)
    )

    # Default ceiling groups all tiny files into one block.
    assert len(list(runner._split_blocks(ds, ds.data_files(), 1 << 30))) == 1
