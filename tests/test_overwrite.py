"""Dataset.overwrite: full replacement in one snapshot with a
CDF-correct delete stream (INSERT OVERWRITE / Delta mode('overwrite')
semantics)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from space_spark import Dataset, field

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [Row(id=i, v=float(i)) for i in range(lo, hi)], SCHEMA
    )


def test_overwrite_replaces_all_in_one_commit(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, 0, 10))
    ds.append(_rows(spark, 10, 20))
    v_before = ds.current_snapshot_id

    ds.overwrite(_rows(spark, 100, 105))
    assert ds.current_snapshot_id == v_before + 1
    assert sorted(r.id for r in ds.read().collect()) == \
        [100, 101, 102, 103, 104]
    # Time travel still reaches the pre-overwrite content.
    assert ds.read(version=v_before).count() == 20
    # CDF: 20 deletes then 5 adds, replayable.
    d = ds.diff(v_before, None)
    assert d.where(F.col("_change_type") == "DELETE").count() == 20
    assert d.where(F.col("_change_type") == "ADD").count() == 5


def test_overwrite_drops_mor_vectors_and_masks_delete_stream(
    spark, tmp_location
):
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, 0, 10))
    ds.delete(field("id") >= 8, rewrite=False)  # MoR vector
    v = ds.current_snapshot_id

    ds.overwrite(_rows(spark, 50, 52))
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    assert snap.delete_vector_files == []
    # The delete stream records only rows VISIBLE at v (8 rows, not
    # the 2 already MoR-deleted).
    d = ds.diff(v, None)
    dels = sorted(
        r.id for r in d.where(F.col("_change_type") == "DELETE")
        .collect()
    )
    assert dels == list(range(8))
    assert ds.read().count() == 2


def test_overwrite_empty_table_and_to_empty(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.overwrite(_rows(spark, 0, 3))  # overwrite of an EMPTY table
    assert ds.read().count() == 3
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    assert snap.deleted_pks_file is None  # nothing to delete
    v = ds.current_snapshot_id
    ds.overwrite(_rows(spark, 0, 0))  # overwrite TO empty
    assert ds.read().count() == 0
    d = ds.diff(v, None)
    assert d.where(F.col("_change_type") == "DELETE").count() == 3


def test_overwrite_vacuum_protects_directory_delete_stream(
    spark, tmp_location
):
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, 0, 10))
    v = ds.current_snapshot_id
    ds.overwrite(_rows(spark, 50, 55))
    ds.vacuum(metadata_grace_sec=0.0, data_grace_sec=0.0)
    # The (directory-valued) delete stream survives vacuum while its
    # snapshot is live: diff still replays the overwrite.
    d = ds.diff(v, None)
    assert d.where(F.col("_change_type") == "DELETE").count() == 10
    # After expiry the old files + delete stream become reclaimable.
    ds.expire_snapshots(keep_last=1)
    removed = ds.vacuum(metadata_grace_sec=0.0, data_grace_sec=0.0)
    assert removed
    assert ds.read().count() == 5


def test_overwrite_respects_constraints(spark, tmp_location):
    from space_spark import ConstraintViolationError

    ds = Dataset.create(
        spark, tmp_location, SCHEMA, ["id"],
        check_constraints={"v_nonneg": field("v") >= 0.0},
    )
    ds.append(_rows(spark, 0, 5))
    bad = spark.createDataFrame([Row(id=9, v=-1.0)], SCHEMA)
    with pytest.raises(ConstraintViolationError):
        ds.overwrite(bad)
    ds.reload()
    assert ds.read().count() == 5  # untouched


def test_overwrite_pk_stream_skips_mor_hidden_rows(spark, tmp_location):
    """The overwrite's PK deletes log names only the rows visible at
    the parent: rows MoR vectors already hid are not logged again."""
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, 0, 10))
    ds.delete(field("id") >= 7, rewrite=False)
    ds.overwrite(_rows(spark, 100, 102))
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    assert snap.deleted_pks_file
    via_pk = sorted(r.id for r in ds.read_deleted_pks(snap).collect())
    assert via_pk == list(range(7))


def test_overwrite_of_fully_deleted_table_logs_no_delete_stream(
    spark, tmp_location
):
    """Parent manifests still LIST files after a CoW delete emptied the
    table; an overwrite then must not log an empty PK-delete stream
    (deleted_pks_file is set iff rows were actually visible to
    delete; an empty one would replay a spurious DELETE)."""
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, 0, 5))
    ds.delete(field("id") < 100)  # CoW-empties the table
    v = ds.current_snapshot_id
    ds.overwrite(_rows(spark, 200, 203))
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    assert snap.deleted_pks_file is None
    d = ds.diff(v, None)
    assert d.where(F.col("_change_type") == "DELETE").count() == 0
    assert d.where(F.col("_change_type") == "ADD").count() == 3
