"""Row-level delete bitmaps: encoding + end-to-end delete-vector sidecars.

The encoding mirrors the reference's RowBitmap (metadata.proto:160-191):
per-file row-position bitmaps with O(deleted) bytes. A merge-on-read
delete commits its matched positions as such a sidecar."""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from space_spark import Dataset, field, lit
from space_spark.core import bitmaps as bm


# ------------------------------------------------------------- unit: encoding
def test_sparse_encoding_is_o_deleted():
    # 1 deleted row out of 1M: 5 bytes (tag + one uint32), not 125 KB.
    blob = bm.encode_positions(np.array([123456]), 1_000_000)
    assert len(blob) == 5
    assert bm.decode_positions(blob, 1_000_000).tolist() == [123456]


def test_dense_encoding_caps_at_bitset():
    # Half the file deleted: bitset (n/8 bytes) beats 4-byte positions.
    n = 10_000
    pos = np.arange(0, n, 2)
    blob = bm.encode_positions(pos, n)
    assert len(blob) == 1 + (n + 7) // 8
    assert np.array_equal(bm.decode_positions(blob, n), pos)


def test_empty_and_full():
    assert bm.decode_positions(bm.encode_positions(np.array([]), 100),
                               100).size == 0
    full = np.arange(100)
    assert np.array_equal(
        bm.decode_positions(bm.encode_positions(full, 100), 100), full
    )


def test_all_rows_encoding_is_o1():
    """A full-file delete encodes in ONE byte at any row count — the
    reference's RowBitmap.all_rows flag (metadata.proto:182).
    encode_positions' full-set detection hits it, and count/merge never
    materialize positions."""
    full = np.arange(500)
    all_blob = bm.encode_positions(full, 500)
    assert len(all_blob) == 1 and bm.is_all(all_blob)
    assert np.array_equal(bm.decode_positions(all_blob, 500), full)
    for n in (1, 100, 2_000_000_000):  # 2e9 rows: arange would be 16 GB
        assert bm.count_positions(all_blob, n) == n
    # merge with ALL short-circuits to ALL without decoding.
    sparse = bm.encode_positions(np.array([3, 7]), 2_000_000_000)
    merged, nd = bm.merge_blobs([sparse, all_blob], 2_000_000_000)
    assert bm.is_all(merged) and nd == 2_000_000_000


def test_count_positions_matches_decode():
    n = 4096
    for pos in (np.array([]), np.array([0, 1, 4095]),
                np.arange(0, n, 2), np.arange(n)):
        blob = bm.encode_positions(pos, n)
        assert bm.count_positions(blob, n) == pos.size == \
            bm.decode_positions(blob, n).size


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=1, max_value=5000).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.lists(
                st.integers(min_value=0, max_value=n - 1),
                unique=True,
                max_size=min(n, 500),
            ),
        )
    )
)
def test_roundtrip_property(case):
    n, positions = case
    pos = np.unique(np.array(positions, dtype=np.uint32))
    blob = bm.encode_positions(pos, n)
    assert np.array_equal(bm.decode_positions(blob, n), pos)
    # Never worse than both representations.
    assert len(blob) <= 1 + min(4 * pos.size, (n + 7) // 8)


# --------------------------------------------------------- end-to-end sidecar
@pytest.fixture()
def big_table(spark, tmp_location):
    n = 100_000
    df = spark.range(n).coalesce(1).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    ds = Dataset.create(spark, tmp_location, df.schema, ["id"])
    ds.append(df)
    assert len(ds.data_files()) == 1
    return ds, n


def _vector_sidecar(ds):
    """The head snapshot's one merge-on-read delete-vector sidecar."""
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    assert len(snap.delete_vector_files) == 1
    return snap.delete_vector_files[0]


def test_small_delete_logs_o1_bitmap_bytes(big_table):
    ds, n = big_table
    ds.delete((field("id") == lit(5)) | (field("id") == lit(77_777)),
              rewrite=False)
    side = pq.read_table(ds.log.abs_path(_vector_sidecar(ds)))
    assert side.num_rows == 1  # one affected file
    blob = side["bitmap"][0].as_py()
    # 2 deleted rows from a 100k-row file: tag + 2 uint32 = 9 bytes.
    assert len(blob) == 9, f"bitmap not O(deleted): {len(blob)} bytes"
    assert side["num_rows"][0].as_py() == n


def test_dense_delete_uses_bitset(big_table):
    ds, n = big_table
    ds.delete(field("v") < lit(5), rewrite=False)  # ~5/7 of rows
    side = pq.read_table(ds.log.abs_path(_vector_sidecar(ds)))
    blob = side["bitmap"][0].as_py()
    assert len(blob) == 1 + (n + 7) // 8  # dense container
    assert side["n_deleted"][0].as_py() == \
        ds.read_deleted_pks(
            ds.metadata.snapshot(ds.current_snapshot_id)).count()


def test_vacuum_keeps_bitmap_sidecar(big_table):
    ds, _ = big_table
    ds.delete(field("id") == lit(1), rewrite=False)
    removed = ds.vacuum(dry_run=True)
    assert _vector_sidecar(ds) not in removed


def test_older_bitmap_changelog_sidecar_is_reclaimed(spark, tmp_location):
    """Metadata written while CoW deletes also logged a bitmap changelog
    names that sidecar under ``deleted_bitmap_file``. Such a table still
    loads and diffs from its PK deletes log, and vacuum reclaims the
    sidecar as an orphan: nothing reads it."""
    import json

    from space_spark.core import manifests as mf

    df = spark.range(10).coalesce(1).select("id")
    ds = Dataset.create(spark, tmp_location, df.schema, ["id"])
    ds.append(df)
    v = ds.current_snapshot_id
    parent = ds.metadata.snapshot(v)
    (data_rel,) = mf.read_manifest_paths(ds._manifest_abs_paths(parent))
    ds.delete(field("id") < lit(3))
    sid = ds.current_snapshot_id
    side_rel = ds.log.new_bitmap_relpath()
    assert side_rel.startswith("_space/changes/")
    bm.write_sidecar(ds.log.abs_path(side_rel), [data_rel], [10], [3],
                     [bm.encode_positions(np.arange(3), 10)])
    with open(ds.log.entrypoint_path, encoding="utf-8") as f:
        meta_abs = ds.log.abs_path(json.load(f)["metadata_file"])
    with open(meta_abs, encoding="utf-8") as f:
        meta = json.load(f)
    meta["snapshots"][str(sid)]["deleted_bitmap_file"] = side_rel
    with open(meta_abs, "w", encoding="utf-8") as f:
        json.dump(meta, f)

    fresh = Dataset.load(spark, tmp_location)
    assert sorted(r["id"] for r in fresh.read().collect()) == \
        list(range(3, 10))
    d = fresh.diff(v, sid)
    assert sorted(r["id"] for r in d.where(F.col("_change_type") == "DELETE")
                  .collect()) == [0, 1, 2]
    removed = fresh.vacuum(data_grace_sec=0)
    assert side_rel in removed
    assert not os.path.exists(fresh.log.abs_path(side_rel))
    assert fresh.read().count() == 7


def test_read_sidecars_batched_matches_sequential(tmp_path):
    """>8 files takes the single Arrow-dataset scan path; result rows and
    the with_filename grouping column must match the sequential path."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from space_spark.core import bitmaps as bm

    paths = []
    for i in range(20):
        p = str(tmp_path / f"side_{i}.parquet")
        pos = np.array([i, i + 100], dtype=np.uint32)
        pq.write_table(
            pa.table({
                "file": pa.array([f"data/f{i}.parquet"], pa.string()),
                "num_rows": pa.array([1000], pa.int64()),
                "n_deleted": pa.array([2], pa.int64()),
                "bitmap": pa.array(
                    [bm.encode_positions(pos, 1000)], pa.binary()
                ),
            }),
            p,
        )
        paths.append(p)
    batched = bm.read_sidecars(paths, with_filename=True)
    assert batched.num_rows == 20
    assert sorted(batched["__filename"].to_pylist()) == sorted(paths)
    few = bm.read_sidecars(paths[:3], with_filename=True)
    assert few.num_rows == 3
    assert few["__filename"].to_pylist() == paths[:3]
    # decoded content identical across both paths
    row = batched.filter(
        pa.compute.equal(batched["file"], "data/f7.parquet")
    )
    got = bm.decode_positions(row["bitmap"][0].as_py(), 1000)
    assert got.tolist() == [7, 107]


def test_merge_blobs_unions_and_dedups():
    import numpy as np

    from space_spark.core import bitmaps as bm

    a = bm.encode_positions(np.array([1, 5, 9], dtype=np.uint32), 100)
    b = bm.encode_positions(np.array([5, 9, 50], dtype=np.uint32), 100)
    blob, nd = bm.merge_blobs([a, b], 100)
    assert nd == 4
    assert bm.decode_positions(blob, 100).tolist() == [1, 5, 9, 50]
