"""Forced commit conflicts, one per writer: a second handle appends a
row just before the writer's first commit attempt, so that attempt
conflicts. Every writer must retry against the new head and end with
exactly the intruder's row plus its own effect (a dict model of the
table); an insert of the intruder's own key must fail its re-probe."""

import pytest
from pyspark.sql import types as T

from space_spark import Dataset, PrimaryKeyExistError, field

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
])
BASE = {i: f"a{i}" for i in range(10)}
INTRUDER = (100, "intruder")


def _rows(spark, pairs):
    values = ", ".join(f"({k}, '{v}')" for k, v in pairs)
    return spark.sql(
        f"SELECT CAST(col1 AS BIGINT) AS k, col2 AS v FROM VALUES {values}"
    )


def _keys(spark, ks):
    return _rows(spark, [(k, "") for k in ks]).select("k")


def _without(model, *ks):
    return {k: v for k, v in model.items() if k not in ks}


def _mor_deletes(ds):
    ds.delete(field("k") == 7, rewrite=False)
    ds.delete(field("k") == 8, rewrite=False)
    return _without(BASE, 7, 8)


# name -> (setup(ds) -> model before the op, op(ds, spark),
#          expected(model) -> model after, or the exception to raise)
CASES = {
    "append": (
        None,
        lambda ds, s: ds.append(_rows(s, [(20, "n20")])),
        lambda m: {**m, 20: "n20"},
    ),
    "insert": (
        None,
        lambda ds, s: ds.insert(_rows(s, [(30, "n30")])),
        lambda m: {**m, 30: "n30"},
    ),
    "insert_intruder_key": (
        None,
        lambda ds, s: ds.insert(_rows(s, [(INTRUDER[0], "mine")])),
        PrimaryKeyExistError,
    ),
    "overwrite": (
        None,
        lambda ds, s: ds.overwrite(_rows(s, [(40, "o40"), (41, "o41")])),
        lambda m: {40: "o40", 41: "o41"},
    ),
    "upsert": (
        None,
        lambda ds, s: ds.upsert(_rows(s, [(1, "u1"), (50, "n50")])),
        lambda m: {**m, 1: "u1", 50: "n50"},
    ),
    "apply_changes": (
        None,
        lambda ds, s: ds.apply_changes(_rows(s, [(2, "u2")]), _keys(s, [3])),
        lambda m: {**_without(m, 3), 2: "u2"},
    ),
    "merge": (
        None,
        lambda ds, s: ds.merge(_rows(s, [(4, "u4"), (60, "n60")])),
        lambda m: {**m, 4: "u4", 60: "n60"},
    ),
    "delete": (
        None,
        lambda ds, s: ds.delete(field("k") < 2),
        lambda m: _without(m, 0, 1),
    ),
    "delete_mor": (
        None,
        lambda ds, s: ds.delete(field("k") < 2, rewrite=False),
        lambda m: _without(m, 0, 1),
    ),
    "delete_by_keys": (
        None,
        lambda ds, s: ds.delete_by_keys(_keys(s, [5, 6])),
        lambda m: _without(m, 5, 6),
    ),
    "compact": (
        None,
        lambda ds, s: ds.compact(),
        lambda m: m,
    ),
    "compact_delete_vectors": (
        _mor_deletes,
        lambda ds, s: ds.compact_delete_vectors(),
        lambda m: m,
    ),
    "add_constraint": (
        None,
        lambda ds, s: ds.add_constraint("k_nonneg", field("k") >= 0),
        lambda m: m,
    ),
    "add_not_null": (
        None,
        lambda ds, s: ds.add_not_null("v"),
        lambda m: m,
    ),
}


def _intrude_before_first_commit(ds, intruder_commit):
    """Wrap the handle's commit entry points so the intruder commits
    just before the first attempt; returns the attempt counter."""
    attempts = {"n": 0}
    log = ds.log

    def wrap(orig):
        def wrapper(*args, **kwargs):
            attempts["n"] += 1
            if attempts["n"] == 1:
                intruder_commit()
            return orig(*args, **kwargs)

        return wrapper

    log.commit_snapshot = wrap(log.commit_snapshot)
    log.update_refs = wrap(log.update_refs)
    return attempts


@pytest.mark.parametrize("name", sorted(CASES))
def test_writer_retries_after_forced_conflict(spark, tmp_location, name):
    setup, op, expected = CASES[name]
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["k"])
    # Two files, so compact() has work before the intruder lands.
    ds.append(_rows(spark, sorted(BASE.items())).repartition(2))
    model = setup(ds) if setup else dict(BASE)
    intruder = Dataset.load(spark, tmp_location)
    attempts = _intrude_before_first_commit(
        ds, lambda: intruder.append(_rows(spark, [INTRUDER]))
    )
    model[INTRUDER[0]] = INTRUDER[1]
    if isinstance(expected, type):
        with pytest.raises(expected):
            op(ds, spark)
        assert attempts["n"] == 1  # the re-probe refused to re-commit
        want = model
    else:
        op(ds, spark)
        assert attempts["n"] >= 2, "no retry ran"
        want = expected(model)
    got = {r.k: r.v for r in Dataset.load(spark, tmp_location)
           .read().collect()}
    assert got == want


def test_compact_records_retries_after_forced_conflict(spark, tmp_location):
    ds = Dataset.create(
        spark, tmp_location,
        T.StructType([T.StructField("k", T.LongType()),
                      T.StructField("payload", T.BinaryType())]),
        ["k"], record_fields=["payload"],
    )

    def blobs(lo, hi, parts):
        return spark.sql(
            "SELECT id AS k, CAST(concat('p', id) AS BINARY) AS payload "
            f"FROM range({lo}, {hi}, 1, {parts})"
        )

    ds.append(blobs(0, 10, 2))  # two small blob files
    intruder = Dataset.load(spark, tmp_location)
    attempts = _intrude_before_first_commit(
        ds, lambda: intruder.append(blobs(100, 101, 1))
    )
    ds.compact_records()
    assert attempts["n"] >= 2, "no retry ran"
    got = {r.k: r.payload for r in Dataset.load(spark, tmp_location)
           .read().collect()}
    assert got == {k: f"p{k}".encode() for k in [*range(10), 100]}
