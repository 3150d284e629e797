"""Round-2 DML semantics fixes: schema-evolved CoW delete, NULL-predicate
delete semantics, single-commit upsert, atomic MV sync marker, size-aware
key-delete join, and external-load type validation."""

import glob
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from space_spark import Dataset, MaterializedView, field
from space_spark.core import write_path
from space_spark.errors import UserInputError
from space_spark.sources import loaders

SIMPLE = T.StructType(
    [
        T.StructField("int64", T.LongType()),
        T.StructField("float64", T.DoubleType()),
        T.StructField("string", T.StringType()),
    ]
)


def simple_df(spark, ids):
    return spark.createDataFrame(
        [Row(int64=i, float64=i / 10.0, string=f"s{i}") for i in ids], SIMPLE
    )


def test_delete_after_add_column(spark, tmp_location):
    """add_column -> append -> delete: parent manifests have heterogeneous
    stats schemas; CoW delete must concat them permissively."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    ds.append(simple_df(spark, range(0, 20)).coalesce(1))
    ds.add_column("extra", T.LongType())
    with_extra = simple_df(spark, range(20, 40)).withColumn(
        "extra", F.col("int64") * 10
    )
    ds.append(with_extra.coalesce(1))

    ds.delete(field("int64") < 5)
    got = sorted(r.int64 for r in ds.read().collect())
    assert got == list(range(5, 40))
    # And upsert (same rewrite machinery) also works post-evolution.
    up = simple_df(spark, [30, 99]).withColumn("extra", F.lit(7))
    ds.upsert(up)
    row30 = ds.read(filter_=field("int64") == 30).collect()[0]
    assert row30.extra == 7
    assert ds.read().count() == 36


def test_delete_null_predicate_rows_survive(spark, tmp_location):
    """Rows where the delete predicate evaluates NULL follow SQL DELETE
    semantics: they survive AND stay out of the change log."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    rows = [
        Row(int64=0, float64=0.0, string="a"),
        Row(int64=1, float64=0.1, string=None),
        Row(int64=2, float64=0.2, string="b"),
        Row(int64=3, float64=0.3, string=None),
    ]
    ds.append(spark.createDataFrame(rows, SIMPLE).coalesce(1))
    v0 = ds.current_snapshot_id
    ds.delete(field("string") == "a")

    survivors = sorted(r.int64 for r in ds.read().collect())
    assert survivors == [1, 2, 3]  # NULL-string rows kept
    changes = ds.diff(v0, ds.current_snapshot_id).collect()
    deleted = sorted(r.int64 for r in changes if r._change_type == "DELETE")
    assert deleted == [0]  # NULL rows absent from the change log too
    assert ds.metadata.snapshot(ds.current_snapshot_id).num_rows == 3


def test_upsert_single_commit(spark, tmp_location):
    """Upsert = one snapshot carrying both the delete log and added files;
    no intermediate deleted-state version exists."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    ds.append(simple_df(spark, range(0, 10)).coalesce(1))
    v_before = ds.current_snapshot_id

    ds.upsert(simple_df(spark, [8, 9, 10, 11]))
    assert ds.current_snapshot_id == v_before + 1  # exactly one commit

    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    assert snap.deleted_pks_file is not None
    assert snap.added_files
    assert snap.num_rows == 12

    changes = ds.diff(v_before, ds.current_snapshot_id)
    dels = sorted(
        r.int64 for r in changes.collect() if r._change_type == "DELETE"
    )
    adds = sorted(
        r.int64 for r in changes.collect() if r._change_type == "ADD"
    )
    assert dels == [8, 9]
    assert adds == [8, 9, 10, 11]
    # Replay order: deletes sort before adds within the snapshot.
    orders = {
        (r._change_type, r._change_order) for r in changes.collect()
    }
    assert ("DELETE", 0) in orders and ("ADD", 1) in orders


def test_upsert_insert_only_keys(spark, tmp_location):
    """Upsert where no key matches degenerates to a pure append commit."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    ds.append(simple_df(spark, range(0, 5)).coalesce(1))
    v = ds.current_snapshot_id
    ds.upsert(simple_df(spark, [100, 101]))
    assert ds.current_snapshot_id == v + 1
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    assert snap.deleted_pks_file is None
    assert ds.read().count() == 7


def test_upsert_large_key_set_no_broadcast(spark, tmp_location,
                                           monkeypatch):
    """Key sets above BROADCAST_KEYS_MAX take the shuffle join path and
    still produce the right table."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    ds.append(simple_df(spark, range(0, 200)))
    # a lower bound forces the big-key path
    monkeypatch.setattr(write_path, "BROADCAST_KEYS_MAX", 10)
    ds.upsert(
        simple_df(spark, range(100, 300)).withColumn(
            "string", F.lit("updated")
        )
    )
    assert ds.read().count() == 300
    assert (
        ds.read(filter_=field("int64") >= 100)
        .where(F.col("string") == "updated")
        .count()
        == 200
    )
    # The hint helper itself: large n -> shuffle_hash, small n -> broadcast.
    keys = simple_df(spark, range(50)).select("int64")
    plan_big = write_path.keys_join_side(
        keys, n_keys=10**9)._jdf.queryExecution().analyzed().toString()
    plan_small = write_path.keys_join_side(
        keys, n_keys=5)._jdf.queryExecution().analyzed().toString()
    assert "shuffle_hash" in plan_big
    assert "broadcast" in plan_small


def test_mv_refresh_marker_atomic_with_commit(spark, tmp_location):
    """The synced marker lands inside the MV commit itself: refresh never
    needs the separate _set_synced update for committing snapshots, so a
    crash between commit and marker cannot re-apply (and duplicate) an
    append."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])

    def passthrough(batch):
        return {
            "int64": batch["int64"],
            "double": batch["float64"] * 2,
        }

    out_schema = T.StructType(
        [
            T.StructField("int64", T.LongType()),
            T.StructField("double", T.DoubleType()),
        ]
    )
    view = ds.map_batches(passthrough, out_schema)
    mv = view.materialize(spark, tmp_location + "_mv")

    ds.append(simple_df(spark, range(10)))
    # If refresh fell back to the non-atomic marker for this append-only
    # snapshot, this stub would make it blow up.
    mv._set_synced = _raise_if_called
    applied = mv.refresh()
    assert applied == [1]
    assert (
        mv.dataset.metadata.logical_plan["source_snapshot_synced"] == 1
    )
    # Idempotent: a reloaded MV sees the marker and re-applies nothing.
    mv2 = MaterializedView.load(spark, tmp_location + "_mv")
    assert mv2.refresh() == []
    assert mv2.read().count() == 10


def _raise_if_called(*_a, **_k):
    raise AssertionError("non-atomic _set_synced used for a committing snapshot")


def test_append_parquet_type_mismatch(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    ext = os.path.join(os.path.dirname(tmp_location), "ext_typed")
    spark.createDataFrame(
        [Row(int64=1, float64="not a double", string="x")],
        "int64 long, float64 string, string string",
    ).write.parquet(ext)
    with pytest.raises(UserInputError, match="float64"):
        loaders.append_parquet(ds, ext + "/*.parquet")


def test_update_set_where(spark, tmp_location):
    """UPDATE ... SET ... WHERE: one commit, pruned matched read,
    standard CDF delete+add encoding, PK/record/unknown columns
    rejected."""
    from pyspark.sql import Row, functions as F, types as T

    from space_spark import Dataset, field
    from space_spark.errors import UserInputError

    sch = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("tag", T.StringType()),
    ])
    ds = Dataset.create(spark, tmp_location, sch, ["id"])
    ds.append(spark.createDataFrame(
        [Row(id=i, price=float(i), tag="t") for i in range(20)], sch
    ))
    v0 = ds.current_snapshot_id

    ds.update(field("id") < 5, {"price": F.col("price") * 10,
                                "tag": "up"})
    got = {r.id: (r.price, r.tag) for r in ds.read().collect()}
    for i in range(20):
        if i < 5:
            assert got[i] == (i * 10.0, "up")
        else:
            assert got[i] == (float(i), "t")
    # Exactly ONE snapshot; CDF shows 5 deletes + 5 adds.
    assert ds.current_snapshot_id == v0 + 1
    d = ds.diff(v0, None)
    assert d.where(F.col("_change_type") == "DELETE").count() == 5
    assert d.where(F.col("_change_type") == "ADD").count() == 5

    with pytest.raises(UserInputError):
        ds.update(field("id") < 2, {"id": 99})
    with pytest.raises(UserInputError):
        ds.update(field("id") < 2, {"nope": 1})
    with pytest.raises(UserInputError):
        ds.update(None, {"price": 1.0})
    with pytest.raises(UserInputError):
        ds.update(field("id") < 2, {})
    # Literal assignment + no-match filter are both fine.
    ds.update(field("id") == 7, {"price": 0.0})
    assert ds.read(filter_=field("id") == 7).collect()[0].price == 0.0
    before = ds.current_snapshot_id
    ds.update(field("id") > 10_000, {"price": 1.0})
    assert ds.current_snapshot_id == before  # zero-row update: no commit


def test_update_assignments_read_old_row(spark, tmp_location):
    """All SET right-hand sides evaluate against the PRE-update row:
    a column swap actually swaps (review finding: sequential
    withColumn made results depend on dict order)."""
    from pyspark.sql import Row, functions as F, types as T

    from space_spark import Dataset, field

    sch = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("a", T.DoubleType()),
        T.StructField("b", T.DoubleType()),
    ])
    ds = Dataset.create(spark, tmp_location, sch, ["id"])
    ds.append(spark.createDataFrame(
        [Row(id=1, a=1.0, b=2.0), Row(id=2, a=3.0, b=4.0)], sch
    ))
    ds.update(field("id") >= 1, {"a": F.col("b"), "b": F.col("a")})
    got = {r.id: (r.a, r.b) for r in ds.read().collect()}
    assert got == {1: (2.0, 1.0), 2: (4.0, 3.0)}
