"""Crash safety of the commit protocol: data files and manifests are
written BEFORE the entrypoint swap, so a writer dying at any earlier point
leaves the table's committed state untouched — readers never see partial
commits, and vacuum reclaims the orphans."""

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from space_spark import Dataset, field
from space_spark.core import metadata as md
from space_spark.core import write_path

SIMPLE = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("val", T.DoubleType()),
    ]
)


def simple_df(spark, ids):
    return spark.createDataFrame(
        [Row(id=i, val=float(i)) for i in ids], SIMPLE
    )


def test_crash_before_commit_is_invisible_and_vacuumable(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["id"])
    ds.append(simple_df(spark, range(10)))

    # Simulate a writer that died after writing data files + manifest but
    # BEFORE the metadata commit (the only atomicity point).
    manifest_rel, files, rows, nbytes = write_path.write_data_files(
        ds, simple_df(spark, range(100, 120))
    )
    assert rows == 20 and files

    # Readers see only the committed snapshot.
    fresh = Dataset.load(spark, tmp_location)
    assert fresh.read().count() == 10
    assert fresh.current_snapshot_id == 1

    # The orphaned files exist on disk until vacuum reclaims them.
    orphan_abs = ds.log.abs_path(files[0])
    assert os.path.exists(orphan_abs)
    removed = fresh.vacuum()
    assert set(files) <= set(removed)
    assert manifest_rel in removed
    assert not os.path.exists(orphan_abs)
    assert fresh.read().count() == 10


def test_corrupt_entrypoint_swap_is_atomic(spark, tmp_location):
    """The entrypoint swap goes through write-temp + os.replace: a torn
    half-written temp file can exist, but the entrypoint itself always
    points at a complete metadata file."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["id"])
    ds.append(simple_df(spark, range(5)))

    # Leave a stale temp entrypoint behind (as a crashed writer would).
    stale = ds.log.entrypoint_path + ".tmp.deadbeef"
    with open(stale, "w", encoding="utf-8") as f:
        f.write('{"metadata_file": "_space/metadata_TORN')  # torn write

    again = Dataset.load(spark, tmp_location)
    assert again.read().count() == 5
    again.append(simple_df(spark, range(10, 15)))
    assert again.read().count() == 10
    # Entrypoint remains valid JSON pointing at a real metadata file.
    with open(again.log.entrypoint_path, encoding="utf-8") as f:
        entry = json.load(f)
    assert os.path.exists(again.log.abs_path(entry["metadata_file"]))


def test_overwrite_crash_before_commit_is_invisible_and_vacuumable(
    spark, tmp_location
):
    """A writer dying mid-overwrite — after the new files and the
    PK-delete-stream directory land but BEFORE the metadata commit —
    leaves the table untouched and everything reclaimable (the delete
    stream is a DIRECTORY; vacuum must reap its contents, and the
    directory-liveness guard must not protect an uncommitted one)."""
    import glob as _glob

    ds = Dataset.create(spark, tmp_location, SIMPLE, ["id"])
    ds.append(simple_df(spark, range(10)))

    # Simulate the crash point: replicate overwrite()'s pre-commit
    # steps without committing.
    manifest_rel, files, rows, _ = write_path.write_input(
        ds, simple_df(spark, range(100, 105))
    )
    import os as _os

    from space_spark.core import metadata as _md
    from pyspark.sql import functions as F

    deletes_rel = _os.path.join(
        "_space", "changes", f"deletes_{_md.new_uuid()}"
    )
    ds._read_files(
        sorted(ds.data_files())
    ).select(F.col("id")).write.parquet(ds.log.abs_path(deletes_rel))

    fresh = Dataset.load(spark, tmp_location)
    assert fresh.read().count() == 10  # crash invisible

    removed = fresh.vacuum(metadata_grace_sec=0.0, data_grace_sec=0.0)
    assert set(files) <= set(removed)
    assert manifest_rel in removed
    # Every file inside the uncommitted deletes DIRECTORY is reaped.
    leftovers = _glob.glob(
        _os.path.join(ds.log.abs_path(deletes_rel), "*.parquet")
    )
    assert leftovers == []
    assert fresh.read().count() == 10
