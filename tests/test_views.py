"""Views, join views, materialized views + incremental refresh (mirrors
reference tests/ray/test_runners.py:183-509)."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from space_spark import Dataset, MaterializedView, field
from space_spark.errors import SpaceError, UserInputError

SIMPLE = T.StructType(
    [
        T.StructField("int64", T.LongType()),
        T.StructField("float64", T.DoubleType()),
    ]
)

RIGHT = T.StructType(
    [
        T.StructField("int64", T.LongType()),
        T.StructField("string", T.StringType()),
    ]
)


def simple_df(spark, ids):
    return spark.createDataFrame(
        [Row(int64=i, float64=i / 10.0) for i in ids], SIMPLE
    )


def right_df(spark, ids):
    return spark.createDataFrame(
        [Row(int64=i, string=f"s{i}") for i in ids], RIGHT
    )


def make_double_udf():
    # Defined as a closure so cloudpickle serializes it BY VALUE — a
    # module-level function in a test file isn't importable on executors.
    def double_udf(batch):
        return {"int64": batch["int64"], "double": batch["float64"] * 2}

    return double_udf


DOUBLE_SCHEMA = T.StructType(
    [
        T.StructField("int64", T.LongType()),
        T.StructField("double", T.DoubleType()),
    ]
)


def test_map_batches_view(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    ds.append(simple_df(spark, range(10)))
    view = ds.map_batches(make_double_udf(), DOUBLE_SCHEMA, input_fields=["int64", "float64"])
    got = view.read().orderBy("int64").collect()
    assert [r.double for r in got] == [i / 5.0 for i in range(10)]


def test_map_batches_must_keep_pk(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    bad_schema = T.StructType([T.StructField("double", T.DoubleType())])
    with pytest.raises(UserInputError):
        ds.map_batches(lambda b: b, bad_schema)


def test_filter_view(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    ds.append(simple_df(spark, range(10)))
    view = ds.filter_view(lambda row: row["int64"] % 2 == 0)
    got = view.read().orderBy("int64").collect()
    assert [r.int64 for r in got] == [0, 2, 4, 6, 8]


def test_join_view(spark, tmp_location):
    left = Dataset.create(spark, tmp_location + "_l", SIMPLE, ["int64"])
    right = Dataset.create(spark, tmp_location + "_r", RIGHT, ["int64"])
    # Partially overlapping ranges (FIXTURES.md F4).
    left.append(simple_df(spark, range(0, 100)))
    right.append(right_df(spark, list(range(-10, 5)) + list(range(90, 105))))

    view = left.join(right, keys="int64")
    got = view.read().orderBy("int64").collect()
    assert [r.int64 for r in got] == list(range(0, 5)) + list(range(90, 100))
    assert got[0].float64 == 0.0 and got[0].string == "s0"

    with pytest.raises(UserInputError):
        left.join(right, keys=["int64", "float64"])
    with pytest.raises(UserInputError):
        left.join(right, keys="float64")  # not a PK


def test_materialized_view_refresh(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    view = ds.map_batches(make_double_udf(), DOUBLE_SCHEMA)
    mv = view.materialize(spark, tmp_location + "_mv")

    ds.append(simple_df(spark, range(10)))
    applied = mv.refresh()
    assert applied == [1]
    got = mv.read().orderBy("int64").collect()
    assert [r.double for r in got] == [i / 5.0 for i in range(10)]

    # Incremental: delete + append on source, refresh applies per snapshot.
    ds.delete(field("int64") < 5)
    ds.append(simple_df(spark, range(100, 105)))
    applied = mv.refresh()
    assert applied == [2, 3]
    got = mv.read().orderBy("int64").collect()
    assert [r.int64 for r in got] == list(range(5, 10)) + list(range(100, 105))

    # MV history mirrors source history: one commit per source snapshot.
    reloaded = MaterializedView.load(spark, tmp_location + "_mv")
    assert reloaded.read().count() == 10
    # And the recomputed view (slow path) agrees with materialized storage.
    recomputed = reloaded.view.read().orderBy("int64").collect()
    assert [r.int64 for r in recomputed] == [r.int64 for r in got]


def test_mv_refresh_crash_midway_resumes_without_duplicates(
    spark, tmp_location
):
    """The synced marker lands ATOMICALLY with each source snapshot's
    final MV commit, so a refresh that dies between snapshots resumes
    from the first unapplied snapshot — never re-appending one it
    already applied (which would duplicate PK rows)."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    view = ds.map_batches(make_double_udf(), DOUBLE_SCHEMA)
    mv = view.materialize(spark, tmp_location + "_mv")
    ds.append(simple_df(spark, range(5)))
    assert mv.refresh() == [1]

    # Two pending source snapshots; crash the MV commit for the SECOND.
    ds.append(simple_df(spark, range(10, 15)))
    ds.append(simple_df(spark, range(20, 25)))
    log = mv.dataset.log
    orig = log.commit_snapshot
    state = {"commits": 0}

    def crashing_commit(*a, **kw):
        state["commits"] += 1
        if state["commits"] == 2:
            raise RuntimeError("simulated crash mid-refresh")
        return orig(*a, **kw)

    log.commit_snapshot = crashing_commit
    try:
        with pytest.raises(RuntimeError, match="mid-refresh"):
            mv.refresh()
    finally:
        log.commit_snapshot = orig

    # A fresh process resumes: only the unapplied snapshot replays.
    recovered = MaterializedView.load(spark, tmp_location + "_mv")
    assert recovered.refresh() == [3]
    got = recovered.read().orderBy("int64").collect()
    assert [r.int64 for r in got] == (
        list(range(5)) + list(range(10, 15)) + list(range(20, 25))
    )
    assert [r.double for r in got] == [i / 5.0 for i in (
        list(range(5)) + list(range(10, 15)) + list(range(20, 25))
    )]


THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@pytest.fixture(params=["default", "-1"])
def write_side(request, spark):
    """Run at the default driver-write threshold, then with every
    refresh read and write on Spark."""
    prev = spark.conf.get(THRESHOLD)
    if request.param != "default":
        spark.conf.set(THRESHOLD, request.param)
    yield request.param
    spark.conf.set(THRESHOLD, prev)


def _mv_behind_an_upsert(spark, tmp_location):
    """A doubling MV synced at source snapshot 1, and an upsert (a
    delete plus an add) as source snapshot 2."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    mv = ds.map_batches(make_double_udf(), DOUBLE_SCHEMA).materialize(
        spark, tmp_location + "_mv")
    ds.append(simple_df(spark, range(5)))
    assert mv.refresh() == [1]
    ds.upsert(spark.createDataFrame(
        [Row(int64=1, float64=5.0), Row(int64=7, float64=0.7)], SIMPLE))
    return mv


UPSERTED = [(0, 0.0), (1, 10.0), (2, 0.4), (3, 0.6), (4, 0.8), (7, 1.4)]


def _mv_rows(mv):
    return [(r.int64, r.double)
            for r in mv.read().orderBy("int64").collect()]


def test_mv_refresh_upsert_snapshot_is_one_mv_commit(spark, tmp_location,
                                                     write_side):
    mv = _mv_behind_an_upsert(spark, tmp_location)
    before = len(mv.dataset.metadata.snapshots)
    assert mv.refresh() == [2]
    assert len(mv.dataset.metadata.snapshots) == before + 1
    assert _mv_rows(mv) == UPSERTED


def test_mv_refresh_failed_upsert_commit_leaves_mv_unchanged(
    spark, tmp_location, write_side
):
    """The upsert snapshot's delete and add land in one MV commit with
    the synced marker: if that commit fails, nothing of the snapshot is
    visible, and a fresh refresh applies it once."""
    mv = _mv_behind_an_upsert(spark, tmp_location)
    rows_before = _mv_rows(mv)
    log = mv.dataset.log
    orig = log.commit_snapshot

    def failing_commit(pinned, branch, snap, **kw):
        assert snap.deleted_pks_file and snap.added_files
        raise RuntimeError("simulated commit failure")

    log.commit_snapshot = failing_commit
    try:
        with pytest.raises(RuntimeError, match="commit failure"):
            mv.refresh()
    finally:
        log.commit_snapshot = orig

    fresh = MaterializedView.load(spark, tmp_location + "_mv")
    assert _mv_rows(fresh) == rows_before
    assert fresh.dataset.metadata.logical_plan["source_snapshot_synced"] == 1
    assert fresh.refresh() == [2]
    assert _mv_rows(fresh) == UPSERTED
    assert fresh.refresh() == []


def test_mv_refresh_after_source_expiry_fails_loudly(spark, tmp_location):
    """If retention expired the source snapshot an MV last synced at,
    incremental refresh is impossible — it must raise a clear error
    naming the expired sync point (NOT silently re-apply history, which
    would duplicate rows, and not the cryptic lineage-walk error)."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    view = ds.map_batches(make_double_udf(), DOUBLE_SCHEMA)
    mv = view.materialize(spark, tmp_location + "_mv")
    ds.append(simple_df(spark, range(5)))
    assert mv.refresh() == [1]
    for j in range(3):
        ds.append(simple_df(spark, range(10 + 5 * j, 15 + 5 * j)))
    ds.expire_snapshots(keep_last=1)
    with pytest.raises(SpaceError, match="last synced point.*expired"):
        mv.refresh()
    # The MV itself is untouched by the failed refresh.
    assert mv.read().count() == 5


def test_join_view_cannot_materialize(spark, tmp_location):
    left = Dataset.create(spark, tmp_location + "_l2", SIMPLE, ["int64"])
    right = Dataset.create(spark, tmp_location + "_r2", RIGHT, ["int64"])
    view = left.join(right, keys="int64")
    with pytest.raises(SpaceError):
        view.materialize(spark, tmp_location + "_mv2")


def test_chained_transforms_materialize_and_refresh(spark, tmp_location):
    """map -> filter chained plan must persist, reload, and refresh."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])

    def mk_map():
        def m(batch):
            return {"int64": batch["int64"], "double": batch["float64"] * 2}
        return m

    view = (
        ds.map_batches(mk_map(), DOUBLE_SCHEMA)
        .filter(lambda row: row["double"] >= 1.0, input_fields=["double"])
    )
    mv = view.materialize(spark, tmp_location + "_chain_mv")
    ds.append(simple_df(spark, range(10)))
    mv.refresh()
    got = mv.read().orderBy("int64").collect()
    # double = i/5; kept where >= 1.0 -> i >= 5
    assert [r.int64 for r in got] == [5, 6, 7, 8, 9]

    # Reload from disk: chained plan reconstructs and keeps refreshing.
    mv2 = MaterializedView.load(spark, tmp_location + "_chain_mv")
    ds.append(simple_df(spark, [20, 1]))
    mv2.refresh()
    got = mv2.read().orderBy("int64").collect()
    assert [r.int64 for r in got] == [5, 6, 7, 8, 9, 20]


def test_chained_view_lazy_read_applies_each_node_once(spark, tmp_location):
    """Regression (round 8): a chained view's LAZY read (eval) used to
    route through apply_to, which recursively re-applies the whole
    parent chain — so map -> filter read() fed the map's OWN OUTPUT
    back through the map (KeyError on the consumed input column). Only
    visible on a non-empty source; the materialize/refresh path was
    always correct."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    ds.append(simple_df(spark, range(10)))
    view = (
        ds.map_batches(make_double_udf(), DOUBLE_SCHEMA)
        .filter(lambda row: row["double"] >= 1.0, input_fields=["double"])
    )
    got = view.read().orderBy("int64").collect()
    assert [r.int64 for r in got] == [5, 6, 7, 8, 9]
    assert [r.double for r in got] == [i / 5.0 for i in (5, 6, 7, 8, 9)]
    # filter UNDER map: both orders must read lazily.
    from space_spark.core.views import View

    view2 = (
        View.source(ds)
        .filter(lambda row: row["int64"] % 2 == 0, input_fields=["int64"])
        .map_batches(make_double_udf(), DOUBLE_SCHEMA)
    )
    got2 = view2.read().orderBy("int64").collect()
    assert [r.int64 for r in got2] == [0, 2, 4, 6, 8]


def test_reference_read_join(spark, tmp_location):
    """J3: joining on record ADDRESSES instead of blob values (reference
    views.py:183-224) — builds joined training indexes without copying
    blobs; Spark joins struct columns natively (no flatten/refold hack,
    cf. transform/join.py:119-135)."""
    left_schema = T.StructType(
        [
            T.StructField("int64", T.LongType()),
            T.StructField("blob", T.BinaryType()),
        ]
    )
    left = Dataset.create(
        spark, tmp_location + "_refl", left_schema, ["int64"],
        record_fields=["blob"],
    )
    left.append(
        spark.createDataFrame(
            [(i, f"payload{i}".encode()) for i in range(10)], left_schema
        )
    )
    right = Dataset.create(spark, tmp_location + "_refr", RIGHT, ["int64"])
    right.append(right_df(spark, range(5, 15)))

    view = left.join(right, keys="int64", left_reference_read=True)
    got = view.read().orderBy("int64").collect()
    assert [r.int64 for r in got] == list(range(5, 10))
    # blob column holds ADDRESSES, not bytes.
    assert got[0].blob._FILE.startswith("records/blob_")
    assert isinstance(got[0].blob._ROW_ID, int)
    assert got[0].string == "s5"

    # Without the flag the same join resolves blob values.
    resolved = left.join(right, keys="int64").read().orderBy("int64").collect()
    assert resolved[0].blob == b"payload5"


def test_filter_view_mv_refresh_delete_semantics(spark, tmp_location):
    """Filter-view MVs: CDF deletes are PK-only and bypass the UDF, so the
    delete applies to the MV even for rows the filter never admitted
    (documented over-delete is a no-op there) — reference views.py:166-169,
    runners.py:79-96."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    view = ds.filter_view(lambda row: row["int64"] % 2 == 0)
    mv = view.materialize(spark, tmp_location + "_fmv")

    ds.append(simple_df(spark, range(10)))
    mv.refresh()
    assert [r.int64 for r in mv.read().orderBy("int64").collect()] == \
        [0, 2, 4, 6, 8]

    # Source deletes 3 (odd: never in MV) and 4 (even: in MV).
    ds.delete((field("int64") == 3) | (field("int64") == 4))
    mv.refresh()
    assert [r.int64 for r in mv.read().orderBy("int64").collect()] == \
        [0, 2, 6, 8]


def test_join_field_selection(spark, tmp_location):
    """Field-selection variants of the join view (reference parametrizes
    these, tests/ray/test_runners.py:356-460)."""
    left = Dataset.create(spark, tmp_location + "_fsl", SIMPLE, ["int64"])
    right = Dataset.create(spark, tmp_location + "_fsr", RIGHT, ["int64"])
    left.append(simple_df(spark, range(10)))
    right.append(right_df(spark, range(5, 15)))

    # Left side restricted to the key only; right keeps its value column.
    v1 = left.join(right, keys="int64", left_fields=["int64"])
    assert v1.read().columns == ["int64", "string"]

    # Explicit both-side selection; key auto-included.
    v2 = left.join(right, keys="int64", left_fields=["float64"],
                   right_fields=["string"])
    got = v2.read().orderBy("int64").collect()
    assert v2.read().columns == ["int64", "float64", "string"]
    assert got[0].float64 == 0.5 and got[0].string == "s5"

    # Swapped sides produce the mirrored schema.
    v3 = right.join(left, keys="int64")
    assert v3.read().columns[0] == "int64"
    assert set(v3.read().columns) == {"int64", "string", "float64"}


def test_mv_refresh_replays_overwrite(spark, tmp_location):
    """overwrite() keeps the change-feed contract: an incremental MV
    refresh across the overwrite applies the full delete stream then
    the new adds — storage converges to the view over the replacement
    content, never a stale mixture."""
    ds = Dataset.create(spark, tmp_location, SIMPLE, ["int64"])
    view = ds.map_batches(make_double_udf(), DOUBLE_SCHEMA)
    mv = view.materialize(spark, tmp_location + "_mv")
    ds.append(simple_df(spark, range(10)))
    mv.refresh()
    assert mv.read().count() == 10

    ds.overwrite(simple_df(spark, range(100, 103)))
    applied = mv.refresh()
    assert applied  # the overwrite snapshot was consumed incrementally
    got = sorted(r.int64 for r in mv.read().collect())
    assert got == [100, 101, 102]
