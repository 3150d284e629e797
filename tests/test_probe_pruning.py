"""The upsert/delete key probe must be manifest-pruned by the key set's
min/max range (VERDICT r2 #1): a small upsert into a clustered table
reads the few overlapping files, never the whole table.

Mirrors test_scale_planning.py's contract at the Dataset level: we spy
on mf.prune_files during a real upsert/delete and assert the candidate
file count is a small fraction of the table's files."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from space_spark import Dataset, field
from space_spark.core import dataset as ds_mod
from space_spark.core import manifests as mf
from space_spark.core import write_path

N_ROWS = 10_000
N_FILES = 16

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("val", T.StringType(), True),
    ]
)


@pytest.fixture()
def clustered_ds(spark, tmp_location):
    ds = Dataset.create(
        spark, tmp_location, SCHEMA, primary_keys=["id"]
    )
    df = spark.range(N_ROWS).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("val")
    )
    ds.append(df, cluster_by=["id"], target_files=N_FILES)
    return ds


@pytest.fixture()
def prune_spy(monkeypatch):
    calls = []
    real = mf.prune_files

    def spy(spark, manifests, expr, stats_fields, **kw):
        out = real(spark, manifests, expr, stats_fields, **kw)
        calls.append({"expr": expr, "n_files": len(out)})
        return out

    monkeypatch.setattr(ds_mod.mf, "prune_files", spy)
    return calls


def _total_files(ds):
    return len(ds.data_files())


def test_upsert_probe_prunes_to_overlapping_files(
    spark, clustered_ds, prune_spy
):
    total = _total_files(clustered_ds)
    assert total >= N_FILES // 2  # clustered append produced many files

    up = spark.createDataFrame(
        [(5, "new5"), (6, "new6"), (7, "new7")], SCHEMA
    )
    clustered_ds.upsert(up)

    probe_calls = [c for c in prune_spy if c["expr"] is not None]
    assert probe_calls, "upsert probe ran without a prune expression"
    assert all(c["n_files"] <= max(2, total // 4) for c in probe_calls), (
        f"probe scanned {probe_calls} of {total} files"
    )
    # Values actually replaced.
    got = {
        r["id"]: r["val"]
        for r in clustered_ds.read().where(F.col("id") < 10).collect()
    }
    assert got[5] == "new5" and got[6] == "new6" and got[9] == "v9"
    assert clustered_ds.read().count() == N_ROWS


def test_read_by_keys_still_pruned(spark, clustered_ds, prune_spy):
    rows = clustered_ds.read_by_keys([3, 4]).collect()
    assert sorted(r["id"] for r in rows) == [3, 4]
    probe_calls = [c for c in prune_spy if c["expr"] is not None]
    assert probe_calls and all(
        c["n_files"] <= 2 for c in probe_calls
    )


def test_keyed_delete_prunes(spark, clustered_ds, prune_spy):
    keys = spark.createDataFrame([(123,)], "id long")
    assert clustered_ds._commit_change(
        "DELETE", write_path.KeySet.from_frame(clustered_ds, keys)) is True
    total = _total_files(clustered_ds)
    probe_calls = [c for c in prune_spy if c["expr"] is not None]
    assert probe_calls and all(
        c["n_files"] <= max(2, total // 4) for c in probe_calls
    )
    assert clustered_ds.read().where(F.col("id") == 123).count() == 0
    assert clustered_ds.read().count() == N_ROWS - 1


def test_upsert_of_out_of_range_keys_appends_only(spark, clustered_ds):
    up = spark.createDataFrame([(N_ROWS + 50, "tail")], SCHEMA)
    clustered_ds.upsert(up)
    assert clustered_ds.read().count() == N_ROWS + 1
    got = clustered_ds.read_by_keys([N_ROWS + 50]).collect()
    assert got[0]["val"] == "tail"
