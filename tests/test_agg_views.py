"""Incremental aggregate materialized views (core/agg_views.py): the
maintained state must equal a full GROUP BY recompute after every DML
shape the change feed can emit — that equivalence IS the spec."""

import os
import sys

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from space_spark import (
    AggregateView,
    Dataset,
    MaterializedAggregate,
    MaterializedView,
    field,
)
from space_spark.errors import UserInputError

SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("grp", T.StringType()),
    T.StructField("x", T.LongType()),
])

AGGS = {
    "n": ("count", "*"),
    "n_x": ("count", "x"),
    "sum_x": ("sum", "x"),
    "avg_x": ("avg", "x"),
    "min_x": ("min", "x"),
    "max_x": ("max", "x"),
}


def _rows(spark, triples):
    return spark.createDataFrame(
        [Row(id=i, grp=g, x=x) for i, g, x in triples], SCHEMA
    )


def _state(df):
    out = {}
    for r in df.collect():
        out[r.grp] = (r.n, r.n_x, r.sum_x,
                      None if r.avg_x is None else round(r.avg_x, 9),
                      r.min_x, r.max_x)
    return out


def _check(mv, view):
    got = _state(mv.read())
    want = _state(view.read())
    assert got == want, (got, want)


@pytest.fixture()
def source(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, [
        (1, "a", 10), (2, "a", 20), (3, "b", 5),
        (4, "b", None), (5, "c", 7),
    ]))
    return ds


def test_spec_validation(spark, source):
    with pytest.raises(UserInputError, match="group-by"):
        AggregateView(source, [], AGGS)
    with pytest.raises(UserInputError, match="Unknown group-by"):
        AggregateView(source, ["ghost"], AGGS)
    with pytest.raises(UserInputError, match="Unknown aggregate fn"):
        AggregateView(source, ["grp"], {"m": ("median", "x")})
    with pytest.raises(UserInputError, match="count"):
        AggregateView(source, ["grp"], {"s": ("sum", "*")})
    with pytest.raises(UserInputError, match="collides"):
        AggregateView(source, ["grp"], {"grp": ("count", "*")})
    with pytest.raises(UserInputError, match="Unknown aggregate column"):
        AggregateView(source, ["grp"], {"s": ("sum", "ghost")})


def test_view_read_matches_plain_groupby(spark, source):
    view = source.aggregate_view(["grp"], AGGS)
    want = (source.read().groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count("x").alias("n_x"),
                 F.sum("x").alias("sum_x"),
                 F.avg("x").alias("avg_x"),
                 F.min("x").alias("min_x"),
                 F.max("x").alias("max_x")))
    assert _state(view.read()) == _state(want)


def test_incremental_refresh_tracks_every_dml_shape(
    spark, source, tmp_location
):
    view = source.aggregate_view(["grp"], AGGS)
    mv = view.materialize(spark, tmp_location + "_mv")
    assert mv.refresh() == [1]
    _check(mv, view)

    # Plain append (new group + growth of existing).
    source.append(_rows(spark, [(6, "c", 1), (7, "d", 4)]))
    # CoW delete that removes a group's MIN (repair path).
    source.delete(field("id") == 3)      # grp b loses x=5, keeps NULL
    # MoR delete.
    source.delete(field("id") == 5, rewrite=False)  # grp c loses 7
    assert mv.refresh() == [2, 3, 4]
    _check(mv, view)

    # Upsert = delete+add within one snapshot (value change).
    source.upsert(_rows(spark, [(1, "a", 100)]))
    # apply_changes: atomic adds + deletes.
    source.apply_changes(
        _rows(spark, [(8, "d", -3)]),
        _rows(spark, [(2, "a", 0)]).select("id"),
    )
    applied = mv.refresh()
    assert len(applied) == 2
    _check(mv, view)

    # Empty a whole group -> its state row must disappear.
    source.delete(field("grp") == "d")
    mv.refresh()
    _check(mv, view)
    assert "d" not in _state(mv.read())

    # Sum returns to NULL when the last non-null value dies.
    source.delete(field("id") == 6)      # grp c now only... id 6 was c
    mv.refresh()
    _check(mv, view)

    # Overwrite replaces everything.
    source.overwrite(_rows(spark, [(1, "z", 3), (2, "z", None)]))
    mv.refresh()
    _check(mv, view)
    st = _state(mv.read())
    assert set(st) == {"z"} and st["z"] == (2, 1, 3, 3.0, 3, 3)


def test_refresh_is_replay_safe_and_labeled(spark, source, tmp_location):
    view = source.aggregate_view(["grp"], AGGS)
    mv = view.materialize(spark, tmp_location + "_mv")
    mv.refresh()
    before = _state(mv.read())
    assert mv.refresh() == []          # nothing new: no-op
    assert _state(mv.read()) == before
    ops = {r.operation for r in mv.dataset.history().collect()}
    assert "MV REFRESH" in ops
    # Per-snapshot markers: a second handle refreshes from disk state.
    source.append(_rows(spark, [(9, "a", 1)]))
    again = MaterializedAggregate.load(spark, tmp_location + "_mv")
    assert again.refresh() == [2]
    _check(again, view)


def test_load_roundtrip_and_dispatch(spark, source, tmp_location):
    view = source.aggregate_view(["grp"], {"n": ("count", "*"),
                                           "sum_x": ("sum", "x")})
    mv = view.materialize(spark, tmp_location + "_mv")
    mv.refresh()
    # MaterializedView.load dispatches to the aggregate loader.
    loaded = MaterializedView.load(spark, tmp_location + "_mv")
    assert isinstance(loaded, MaterializedAggregate)
    assert sorted(loaded.read().columns) == ["grp", "n", "sum_x"]
    got = {r.grp: (r.n, r.sum_x) for r in loaded.read().collect()}
    want = {r.grp: (r.n, r.sum_x) for r in view.read().collect()}
    assert got == want


def test_min_repair_only_recomputes_damaged_groups(
    spark, source, tmp_location
):
    """Deleting a NON-extreme value must not trigger the holistic
    repair; deleting the stored min must repair exactly."""
    view = source.aggregate_view(["grp"], {"min_x": ("min", "x"),
                                           "max_x": ("max", "x")})
    mv = view.materialize(spark, tmp_location + "_mv")
    mv.refresh()
    # id=2 (x=20) is grp a's MAX: repair path for max, not min.
    source.delete(field("id") == 2)
    mv.refresh()
    _check_cols = {r.grp: (r.min_x, r.max_x) for r in mv.read().collect()}
    assert _check_cols["a"] == (10, 10)
    # Delete a's remaining row -> group gone.
    source.delete(field("grp") == "a")
    mv.refresh()
    assert "a" not in {r.grp for r in mv.read().collect()}


def test_null_group_key_rejected(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, [(1, None, 5)]))
    view = ds.aggregate_view(["grp"], {"n": ("count", "*")})
    mv = view.materialize(spark, tmp_location + "_mv")
    with pytest.raises(UserInputError, match="[Nn]ull"):
        mv.refresh()


def test_internal_alias_namespace_cannot_collide(spark, source, tmp_location):
    """A count output named 'rows' (or any name echoing the fold's
    delta columns) must work — internal columns live under the
    rejected-for-users '__' prefix (round-13 review)."""
    view = source.aggregate_view(["grp"], {"rows": ("count", "*"),
                                           "d_rows": ("count", "x"),
                                           "sum_x": ("sum", "x")})
    mv = view.materialize(spark, tmp_location + "_mv")
    mv.refresh()
    source.delete(field("id") == 1)
    mv.refresh()
    got = {r.grp: (r.rows, r.d_rows, r.sum_x)
           for r in mv.read().collect()}
    want = {r.grp: (r.rows, r.d_rows, r.sum_x)
            for r in view.read().collect()}
    assert got == want
    with pytest.raises(UserInputError, match="collides"):
        source.aggregate_view(["grp"], {"__agg_rows": ("count", "*")})


def test_aggregate_over_group_by_column(spark, source, tmp_location):
    """min/max over a column that IS a group key (constant per group)
    used to duplicate the delta select (round-13 review)."""
    view = source.aggregate_view(["grp"], {"g_min": ("min", "grp"),
                                           "n": ("count", "*")})
    mv = view.materialize(spark, tmp_location + "_mv")
    mv.refresh()
    source.delete(field("id") == 3)
    mv.refresh()
    got = {r.grp: (r.g_min, r.n) for r in mv.read().collect()}
    want = {r.grp: (r.g_min, r.n) for r in view.read().collect()}
    assert got == want


def test_long_sums_stay_exact_past_double_precision(
    spark, tmp_location
):
    """The sum accumulator keeps Spark's sum type (long for longs): a
    double accumulator silently loses integers past 2^53 (round-13
    review)."""
    big = 1 << 53
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, [(1, "a", big), (2, "a", 1), (3, "a", 1)]))
    view = ds.aggregate_view(["grp"], {"s": ("sum", "x")})
    mv = view.materialize(spark, tmp_location + "_mv")
    mv.refresh()
    ds.delete(field("id") == 3)
    mv.refresh()
    got = mv.read().collect()[0]
    assert got.s == big + 1  # a double accumulator would round to big
    assert view.read().collect()[0].s == big + 1


def test_concurrent_refresh_cannot_double_fold(
    spark, source, tmp_location
):
    """The synced marker is verified INSIDE the commit critical
    section: a refresher whose marker expectation is stale fails fast
    instead of folding an already-applied delta twice (round-13
    review)."""
    from space_spark.errors import SpaceError

    view = source.aggregate_view(["grp"], {"n": ("count", "*")})
    mv = view.materialize(spark, tmp_location + "_mv")
    mv.refresh()
    source.append(_rows(spark, [(10, "a", 1)]))
    snap = source.metadata.snapshot(source.current_snapshot_id)
    # Simulate another process applying snapshot 2 between this
    # handle's marker read and its commit.
    mv._set_synced(2, expected_prev=1)
    with pytest.raises(SpaceError, match="Concurrent refresh"):
        mv._apply_snapshots(source, [snap], expected_prev=1)
    # State did not double-fold; a clean refresh picks up nothing new.
    mv2 = MaterializedAggregate.load(spark, tmp_location + "_mv")
    assert mv2.refresh() == []
    # The marker-only guard fires too.
    with pytest.raises(SpaceError, match="Concurrent refresh"):
        mv2._set_synced(3, expected_prev=1)


def test_batched_fold_repairs_group_created_within_batch(
    spark, source, tmp_location
):
    """r14 batch fold: a group CREATED in snapshot i whose batch-add
    extreme is DELETED in snapshot j of the SAME refresh has no stored
    state row — the repair trigger must fire on a NULL stored extreme
    with batch deletes, or the candidate would keep the deleted
    value."""
    view = source.aggregate_view(["grp"], AGGS)
    mv = view.materialize(spark, tmp_location + "_mv")
    mv.refresh()
    # New group 'e' born in snapshot 2; its min (x=3) dies in 3 and its
    # max (x=9) in 4 — one refresh folds all three.
    source.append(_rows(spark, [(10, "e", 3), (11, "e", 5),
                                (12, "e", 9)]))
    source.delete(field("id") == 10)
    source.delete(field("id") == 12, rewrite=False)
    assert mv.refresh() == [2, 3, 4]
    _check(mv, view)
    st = _state(mv.read())
    assert st["e"] == (1, 1, 5, 5.0, 5, 5)


def test_refresh_commits_once_per_batch(spark, source, tmp_location):
    """r14-opt structural contract: a refresh folding N pending source
    snapshots lands as ONE MV commit (the per-snapshot fold paid the
    full dagg/point-read/merge/commit fixed cost N times)."""
    view = source.aggregate_view(["grp"], AGGS)
    mv = view.materialize(spark, tmp_location + "_mv")
    mv.refresh()
    versions_before = mv.dataset.current_snapshot_id
    source.append(_rows(spark, [(20, "a", 1)]))
    source.delete(field("id") == 1)
    source.upsert(_rows(spark, [(2, "a", 99)]))
    assert len(mv.refresh()) == 3
    assert mv.dataset.current_snapshot_id == versions_before + 1
    _check(mv, view)


def test_read_fields_projection(spark, source, tmp_location):
    view = source.aggregate_view(["grp"], {"n": ("count", "*"),
                                           "s": ("sum", "x")})
    mv = view.materialize(spark, tmp_location + "_mv")
    mv.refresh()
    assert sorted(mv.read(fields=["grp", "n"]).columns) == ["grp", "n"]
    with pytest.raises(UserInputError, match="Unknown fields"):
        mv.read(fields=["__agg_rows"])


def test_rowwise_mv_guard_against_stale_marker(spark, tmp_location):
    """The row-wise MV's marker advance carries the same stale-handle
    guard (round-13 review: a blind re-append would duplicate rows)."""
    from space_spark.errors import SpaceError

    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, [(1, "a", 1)]))
    view = ds.filter_view(lambda row: row["x"] >= 0)
    mv = view.materialize(spark, tmp_location + "_mv")
    mv.refresh()
    with pytest.raises(SpaceError, match="Concurrent refresh"):
        mv._set_synced(2, expected_prev=0)  # marker is actually 1
