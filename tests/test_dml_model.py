"""Model-based DML check: a random sequence of append/insert/upsert/
delete/apply_changes/compact against a space table must agree with a
plain in-memory dict model, at every step and for every historical
snapshot (time travel).

This is the storage-engine analog of the oracle queries: the model is the
spec, hypothesis drives the op sequences.
"""

import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row
from pyspark.sql import types as T

from space_spark import Dataset, PrimaryKeyExistError, field
from space_spark.errors import UserInputError

SCHEMA = T.StructType(
    [
        T.StructField("pk", T.LongType()),
        T.StructField("v", T.LongType()),
    ]
)

# Ops: (kind, ids) — values derive deterministically from a step counter
# so upserts actually change rows.
OPS = st.lists(
    st.tuples(
        st.sampled_from(["append", "insert", "upsert", "delete_lt",
                         "delete_between", "apply_changes", "compact",
                         "merge_upd", "merge_del", "merge_multi",
                         "merge_bysrc", "update_lt", "overwrite",
                         "rollback"]),
        st.lists(st.integers(min_value=0, max_value=30), min_size=1,
                 max_size=5, unique=True),
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=OPS)
def test_dml_sequence_matches_model(spark, ops):
    location = tempfile.mkdtemp(prefix="space_model_") + "/t"
    try:
        ds = Dataset.create(spark, location, SCHEMA, ["pk"])
        model = {}  # pk -> v
        history = [dict(model)]  # model state per snapshot id

        def df_for(ids, step):
            return spark.createDataFrame(
                [Row(pk=i, v=i * 1000 + step) for i in ids], SCHEMA
            )

        for step, (kind, ids) in enumerate(ops):
            before = ds.current_snapshot_id
            if kind == "append":
                # Blind append doesn't enforce PKs; appending an existing
                # pk would fork the dict model into a multiset, so only
                # append fresh ids (un-enforced-PK duplication is covered
                # separately below).
                ids = [i for i in ids if i not in model]
                if not ids:
                    continue
                ds.append(df_for(ids, step))
                for i in ids:
                    model[i] = i * 1000 + step
            elif kind == "insert":
                try:
                    ds.insert(df_for(ids, step))
                    for i in ids:
                        assert i not in model
                        model[i] = i * 1000 + step
                except PrimaryKeyExistError:
                    assert any(i in model for i in ids)
            elif kind == "upsert":
                ds.upsert(df_for(ids, step))
                for i in ids:
                    model[i] = i * 1000 + step
            elif kind == "delete_lt":
                bound = ids[0]
                ds.delete(field("pk") < bound)
                model = {k: v for k, v in model.items() if not k < bound}
            elif kind == "delete_between":
                lo, hi = min(ids), max(ids)
                ds.delete((field("pk") >= lo) & (field("pk") <= hi))
                model = {k: v for k, v in model.items()
                         if not (lo <= k <= hi)}
            elif kind == "apply_changes":
                # CDC merge: first half of ids are net ADDs, second half
                # net DELETE keys — one atomic snapshot for both.
                mid = (len(ids) + 1) // 2
                adds, dels = ids[:mid], ids[mid:]
                dels_df = spark.createDataFrame(
                    [Row(pk=i) for i in dels], "pk long"
                )
                ds.apply_changes(df_for(adds, step), dels_df)
                for i in dels:
                    model.pop(i, None)
                for i in adds:
                    model[i] = i * 1000 + step
            elif kind == "merge_upd":
                # MERGE with a condition exercising BOTH branches:
                # matched rows update only when the incoming v is even
                # (step parity varies), unmatched rows insert.
                ds.merge(
                    df_for(ids, step),
                    matched_condition=lambda s, t: s["v"] % 2 == 0,
                )
                for i in ids:
                    nv = i * 1000 + step
                    if i not in model or nv % 2 == 0:
                        model[i] = nv
            elif kind == "merge_del":
                # Conditional expiry: drop matched rows whose CURRENT
                # value is odd; new keys are ignored.
                ds.merge(
                    df_for(ids, step),
                    when_matched="delete", when_not_matched="ignore",
                    matched_condition=lambda s, t: t["v"] % 2 == 1,
                )
                for i in ids:
                    if i in model and model[i] % 2 == 1:
                        del model[i]
            elif kind == "merge_multi":
                # r10 multi-clause: first-match-wins — update (partial
                # set) when the incoming v is even, else delete matched
                # rows whose CURRENT v is divisible by 3; new keys
                # insert.
                ds.merge(
                    df_for(ids, step),
                    when_matched=[
                        {"action": "update",
                         "condition": lambda s, t: s["v"] % 2 == 0,
                         "set": {"v": lambda s, t: s["v"]}},
                        {"action": "delete",
                         "condition": lambda s, t: t["v"] % 3 == 0},
                    ],
                )
                for i in ids:
                    nv = i * 1000 + step
                    if i in model:
                        if nv % 2 == 0:
                            model[i] = nv
                        elif model[i] % 3 == 0:
                            del model[i]
                    else:
                        model[i] = nv
            elif kind == "merge_bysrc":
                # r10 WHEN NOT MATCHED BY SOURCE: matched rows update,
                # target rows ABSENT from the source expire when their
                # current v is odd; unmatched source rows are ignored
                # (pure reconcile).
                ds.merge(
                    df_for(ids, step),
                    when_matched="update",
                    when_not_matched="ignore",
                    when_not_matched_by_source=[
                        {"action": "delete",
                         "condition": lambda t: t["v"] % 2 == 1},
                    ],
                )
                for i in ids:
                    if i in model:
                        model[i] = i * 1000 + step
                for k in list(model):
                    if k not in ids and model[k] % 2 == 1:
                        del model[k]
            elif kind == "update_lt":
                # r10 UPDATE ... SET ... WHERE: increment v for pk <
                # bound; assignments read the OLD row by contract.
                from pyspark.sql import functions as F

                bound = ids[0]
                ds.update(field("pk") < bound, {"v": F.col("v") + 1})
                for k in list(model):
                    if k < bound:
                        model[k] += 1
            elif kind == "overwrite":
                # r10 INSERT OVERWRITE: full replacement, one commit.
                ds.overwrite(df_for(ids, step))
                model = {i: i * 1000 + step for i in ids}
            elif kind == "rollback":
                # r10 branch rewind to the nearest RECORDED ancestor;
                # the model state snaps back with it.
                target = ds.metadata.snapshot(
                    ds.current_snapshot_id
                ).parent_snapshot_id
                while target is not None and (
                    target >= len(history) or history[target] is None
                ):
                    target = ds.metadata.snapshot(
                        target
                    ).parent_snapshot_id
                if target is None:
                    continue
                ds.rollback(target)
                model = dict(history[target])
            elif kind == "compact":
                # Maintenance is a NO-CHANGE commit (or a no-op when
                # nothing qualifies): the model must be unaffected.
                ds.compact(target_bytes=64 * 1024 * 1024)
            # Record model state for every snapshot committed by this op
            # (upsert commits up to twice: delete then append).
            after = ds.current_snapshot_id
            while len(history) <= after:
                history.append(None)
            history[after] = dict(model)

            got = {
                r.pk: r.v
                for r in ds.read().collect()
            }
            # Blind appends of existing pks create duplicates the dict
            # model can't hold; restrict comparison to count parity first.
            assert got == model, f"step {step} {kind} {ids}"

            # Whenever this op committed past the previous head, its
            # change feed replayed onto the previous state must give
            # the new one: the DELETE stream names exactly the removed
            # or replaced keys, the ADD stream the new values.
            if after != before and _descends(ds, after, before):
                replayed = dict(history[before])
                changes = sorted(
                    ds.diff(before, after).collect(),
                    key=lambda r: (r["_snapshot_id"], r["_change_order"]),
                )
                for r in changes:
                    if r["_change_type"] == "DELETE":
                        replayed.pop(r["pk"], None)
                    else:
                        replayed[r["pk"]] = r["v"]
                assert replayed == model, f"step {step} {kind} diff"

        # Time travel: every recorded snapshot state must replay.
        for sid, state in enumerate(history):
            if state is None:
                continue
            got = {r.pk: r.v for r in ds.read(version=sid).collect()}
            assert got == state, f"snapshot {sid}"
    finally:
        shutil.rmtree(location, ignore_errors=True)


def _descends(ds, sid, ancestor):
    """Whether snapshot ``sid`` has ``ancestor`` in its parent chain."""
    while sid is not None and sid != ancestor:
        sid = ds.metadata.snapshot(sid).parent_snapshot_id
    return sid == ancestor


def test_blind_append_allows_duplicate_pks(spark):
    """PKs are declared but UN-enforced for append (reference
    metadata.proto:80, datasets.py:51): blind-appending the same pk twice
    yields two rows."""
    location = tempfile.mkdtemp(prefix="space_dup_") + "/t"
    try:
        ds = Dataset.create(spark, location, SCHEMA, ["pk"])
        ds.append(spark.createDataFrame([Row(pk=1, v=10)], SCHEMA))
        ds.append(spark.createDataFrame([Row(pk=1, v=20)], SCHEMA))
        rows = sorted(r.v for r in ds.read().collect())
        assert rows == [10, 20]
    finally:
        shutil.rmtree(location, ignore_errors=True)
