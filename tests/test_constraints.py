"""CHECK constraints: declared at create (or added later), enforced on
every row-adding path — append/insert/upsert/merge (write-first
pushed-down validation of the just-written files), the format('space')
batch and streaming sinks (per-batch Arrow evaluation on executors),
and zero-copy external loads. SQL semantics: violation = expression
FALSE; NULL passes."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from space_spark import ConstraintViolationError, Dataset, field
from space_spark.core import write_path
from space_spark.errors import UserInputError

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("qty", T.LongType()),
        T.StructField("tag", T.StringType()),
    ]
)


def _rows(spark, triples):
    return spark.createDataFrame(
        [Row(id=i, qty=q, tag=t) for i, q, t in triples], SCHEMA
    )


@pytest.fixture()
def constrained(spark, tmp_location):
    return Dataset.create(
        spark, tmp_location, SCHEMA, ["id"],
        check_constraints={"qty_nonneg": field("qty") >= 0},
    )


def test_append_rejects_violations_and_commits_nothing(
    spark, constrained
):
    ds = constrained
    ds.append(_rows(spark, [(1, 5, "a"), (2, 0, "b")]))
    with pytest.raises(ConstraintViolationError, match="qty_nonneg"):
        ds.append(_rows(spark, [(3, 7, "c"), (4, -1, "d")]))
    ds.reload()
    assert sorted(r.id for r in ds.read().collect()) == [1, 2]
    # The rejected shard files are orphans; vacuum reclaims them.
    removed = ds.vacuum(metadata_grace_sec=0.0)
    assert removed
    assert sorted(r.id for r in ds.read().collect()) == [1, 2]


def test_null_passes_per_sql_semantics(spark, constrained):
    ds = constrained
    ds.append(_rows(spark, [(1, None, "a")]))
    assert ds.read().count() == 1


def test_insert_upsert_merge_enforce(spark, constrained):
    ds = constrained
    ds.append(_rows(spark, [(1, 5, "a")]))
    with pytest.raises(ConstraintViolationError):
        ds.insert(_rows(spark, [(9, -2, "x")]))
    with pytest.raises(ConstraintViolationError):
        ds.upsert(_rows(spark, [(1, -3, "x")]))
    with pytest.raises(ConstraintViolationError):
        ds.merge(_rows(spark, [(7, -4, "x")]))
    ds.reload()
    assert sorted((r.id, r.qty) for r in ds.read().collect()) == [(1, 5)]


def test_multiple_constraints_named_in_error(spark, tmp_location):
    ds = Dataset.create(
        spark, tmp_location, SCHEMA, ["id"],
        check_constraints={
            "qty_nonneg": field("qty") >= 0,
            "qty_cap": field("qty") <= 100,
            "tag_set": (field("tag") == "a") | (field("tag") == "b"),
        },
    )
    ds.append(_rows(spark, [(1, 50, "a")]))
    with pytest.raises(ConstraintViolationError, match="qty_cap"):
        ds.append(_rows(spark, [(2, 500, "a")]))
    with pytest.raises(ConstraintViolationError, match="tag_set"):
        ds.append(_rows(spark, [(3, 5, "z")]))


def test_add_constraint_validates_existing_rows(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, [(1, -5, "a"), (2, 3, "b")]))
    with pytest.raises(ConstraintViolationError):
        ds.add_constraint("qty_nonneg", field("qty") >= 0)
    assert not ds.metadata.constraints
    ds.delete(field("qty") < 0)
    ds.add_constraint("qty_nonneg", field("qty") >= 0)
    with pytest.raises(ConstraintViolationError):
        ds.append(_rows(spark, [(9, -1, "z")]))
    # Reloaded handles see and enforce it too.
    ds2 = Dataset.load(spark, ds.location)
    with pytest.raises(ConstraintViolationError):
        ds2.append(_rows(spark, [(10, -1, "z")]))
    ds2.drop_constraint("qty_nonneg")
    ds2.append(_rows(spark, [(10, -1, "z")]))
    assert ds2.read().count() == 2


def test_constraint_declaration_validation(spark, tmp_location):
    with pytest.raises(UserInputError, match="unknown"):
        Dataset.create(
            spark, tmp_location, SCHEMA, ["id"],
            check_constraints={"bad": field("nope") > 0},
        )
    with pytest.raises(UserInputError):
        Dataset.create(
            spark, tmp_location, SCHEMA, ["id"],
            check_constraints={"bad": "qty >= 0"},  # not an Expr
        )


def test_rename_column_follows_constraint(spark, tmp_location):
    ds = Dataset.create(
        spark, tmp_location, SCHEMA, ["id"],
        check_constraints={"qty_nonneg": field("qty") >= 0},
    )
    ds.rename_column("qty", "quantity")
    assert "quantity" in ds.metadata.constraints["qty_nonneg"]
    bad = spark.createDataFrame(
        [Row(id=1, quantity=-1, tag="a")],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("quantity", T.LongType()),
            T.StructField("tag", T.StringType()),
        ]),
    )
    with pytest.raises(ConstraintViolationError):
        ds.append(bad)


def test_datasink_batch_write_enforces(spark, constrained):
    from space_spark.sources.datasource import register_space_source

    register_space_source(spark)
    ds = constrained
    ok = _rows(spark, [(1, 5, "a")])
    ok.write.format("space").mode("append").save(ds.location)
    ds.reload()
    assert ds.read().count() == 1
    bad = _rows(spark, [(2, -1, "b")])
    with pytest.raises(Exception, match="qty_nonneg"):
        bad.write.format("space").mode("append").save(ds.location)
    ds.reload()
    assert ds.read().count() == 1


def test_zero_copy_load_enforces(spark, constrained, tmp_location):
    from space_spark.sources.loaders import append_parquet

    ext = tmp_location + "_ext"
    _rows(spark, [(1, 3, "a"), (2, -9, "b")]).coalesce(1) \
        .write.parquet(ext)
    with pytest.raises(ConstraintViolationError):
        append_parquet(constrained, ext + "/*.parquet")
    assert constrained.read().count() == 0


def test_clone_carries_constraints(spark, tmp_location):
    ds = Dataset.create(
        spark, tmp_location, SCHEMA, ["id"],
        check_constraints={"qty_nonneg": field("qty") >= 0},
    )
    ds.append(_rows(spark, [(1, 5, "a")]))
    clone = ds.clone(tmp_location + "_clone")
    assert clone.metadata.constraints == ds.metadata.constraints
    with pytest.raises(ConstraintViolationError):
        clone.append(_rows(spark, [(2, -1, "b")]))
    import shutil

    shutil.rmtree(tmp_location + "_clone", ignore_errors=True)


def test_drop_column_refuses_while_constraint_references_it(
    spark, tmp_location
):
    ds = Dataset.create(
        spark, tmp_location, SCHEMA, ["id"],
        check_constraints={"qty_nonneg": field("qty") >= 0},
    )
    with pytest.raises(UserInputError, match="qty_nonneg"):
        ds.drop_column("qty")
    ds.drop_constraint("qty_nonneg")
    ds.drop_column("qty")
    assert "qty" not in ds.schema.fieldNames()


def test_violation_error_names_all_constraints(spark, tmp_location):
    """One batch where DIFFERENT rows violate DIFFERENT constraints:
    the error must name both (review finding: a limit(1) sample named
    only the first row's violations)."""
    ds = Dataset.create(
        spark, tmp_location, SCHEMA, ["id"],
        check_constraints={
            "qty_nonneg": field("qty") >= 0,
            "qty_cap": field("qty") <= 100,
        },
    )
    import re

    with pytest.raises(
        ConstraintViolationError,
        match=re.compile(r"qty_cap.*qty_nonneg"),
    ):
        ds.append(_rows(spark, [(1, -5, "a"), (2, 500, "b")]))


# ------------------------------------------------- add_constraint TOCTOU
def test_add_constraint_detects_racing_violating_append(
    spark, tmp_location, monkeypatch
):
    """A write landing BETWEEN validation and the constraint commit
    validated against the OLD constraint set — the head pin inside
    update_refs must force re-validation, which then sees the
    violating row and refuses the constraint (instead of committing a
    durably-broken invariant)."""
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, [(1, 5, "a")]))
    racer = Dataset.load(spark, tmp_location)

    orig = Dataset._constraint_violation_names
    state = {"raced": False}

    def patched(self, df):
        out = orig(self, df)
        if not state["raced"]:
            state["raced"] = True
            # Simulates an append already past ITS constraint check
            # (the old, empty set) committing before ours.
            racer.append(_rows(spark, [(2, -9, "x")]))
        return out

    monkeypatch.setattr(
        Dataset, "_constraint_violation_names", patched
    )
    with pytest.raises(ConstraintViolationError, match="qty_nonneg"):
        ds.add_constraint("qty_nonneg", field("qty") >= 0)
    ds.reload()
    assert "qty_nonneg" not in (ds.metadata.constraints or {})
    assert sorted(r.id for r in ds.read().collect()) == [1, 2]


def test_add_constraint_retries_past_benign_racing_append(
    spark, tmp_location, monkeypatch
):
    """A racing append of NON-violating rows just costs one retry —
    the constraint lands after re-validation against the new head."""
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, [(1, 5, "a")]))
    racer = Dataset.load(spark, tmp_location)

    orig = Dataset._constraint_violation_names
    state = {"raced": False}

    def patched(self, df):
        out = orig(self, df)
        if not state["raced"]:
            state["raced"] = True
            racer.append(_rows(spark, [(2, 3, "x")]))
        return out

    monkeypatch.setattr(
        Dataset, "_constraint_violation_names", patched
    )
    ds.add_constraint("qty_nonneg", field("qty") >= 0)
    ds.reload()
    assert "qty_nonneg" in ds.metadata.constraints
    with pytest.raises(ConstraintViolationError):
        ds.append(_rows(spark, [(3, -1, "y")]))


# ------------------------------------------------------------- NOT NULL
def test_not_null_rejected_on_every_write_path(spark, tmp_location):
    """NOT NULL is a distinct constraint type because SQL CHECK passes
    NULL rows — append/upsert/merge must all reject NULL in a declared
    column, naming it."""
    ds = Dataset.create(
        spark, tmp_location, SCHEMA, ["id"], not_null=["qty"]
    )
    ds.append(_rows(spark, [(1, 5, "a")]))
    with pytest.raises(ConstraintViolationError, match=r"NOT NULL\(qty\)"):
        ds.append(_rows(spark, [(2, None, "b")]))
    with pytest.raises(ConstraintViolationError, match=r"NOT NULL\(qty\)"):
        ds.upsert(_rows(spark, [(1, None, "x")]))
    with pytest.raises(ConstraintViolationError):
        ds.merge(_rows(spark, [(3, None, "c")]))
    assert sorted(r.id for r in ds.read().collect()) == [1]


def test_not_null_and_check_report_together(spark, tmp_location):
    from space_spark import lit

    ds = Dataset.create(
        spark, tmp_location, SCHEMA, ["id"],
        check_constraints={"qty_cap": field("qty") <= lit(100)},
        not_null=["tag"],
    )
    import re

    with pytest.raises(
        ConstraintViolationError,
        match=re.compile(r"qty_cap.*NOT NULL\(tag\)"),
    ):
        ds.append(_rows(spark, [(1, 500, None)]))


def test_add_not_null_validates_and_enforces(spark, tmp_location):
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, [(1, 5, "a"), (2, None, "b")]))
    with pytest.raises(ConstraintViolationError, match="existing"):
        ds.add_not_null("qty")
    ds.delete(field("id") == 2)
    ds.add_not_null("qty")
    with pytest.raises(ConstraintViolationError):
        ds.append(_rows(spark, [(3, None, "c")]))
    ds.drop_not_null("qty")
    ds.append(_rows(spark, [(3, None, "c")]))
    assert ds.read().count() == 2


def test_not_null_sink_enforcement_and_rename(spark, tmp_location):
    from space_spark.sources.datasource import register_space_source

    register_space_source(spark)
    ds = Dataset.create(
        spark, tmp_location, SCHEMA, ["id"], not_null=["qty"]
    )
    good = _rows(spark, [(1, 2, "a")])
    good.write.format("space").mode("append").save(ds.location)
    bad = _rows(spark, [(2, None, "b")])
    with pytest.raises(Exception, match=r"NOT NULL\(qty\)"):
        bad.write.format("space").mode("append").save(ds.location)
    assert ds.reload().read().count() == 1
    # rename follows the constraint
    ds.rename_column("qty", "amount")
    assert ds.metadata.not_null == ["amount"]
    with pytest.raises(ConstraintViolationError, match="amount"):
        ds.append(ds.read().limit(1).withColumn(
            "amount", F.lit(None).cast("long")
        ))


def test_not_null_declaration_validation(spark, tmp_location):
    with pytest.raises(UserInputError, match="not in the schema"):
        Dataset.create(
            spark, tmp_location, SCHEMA, ["id"], not_null=["ghost"]
        )


# --------------------------------------- reverse TOCTOU (round 12)
def test_inflight_append_revalidates_after_concurrent_add_constraint(
    spark, tmp_location
):
    """The OTHER direction of the add_constraint race: an append that
    validated its rows BEFORE the constraint committed must not land
    them unchecked afterwards. add_constraint bumps
    constraints_version without moving the branch head, so the head
    pin alone cannot see it — commit_snapshot conflicts on the version
    pin and the writer re-validates its files against the live set."""
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, [(1, 5, "a")]))
    writer = Dataset.load(spark, tmp_location)
    # The writer is past its own (empty-set) validation: files written,
    # commit not yet attempted.
    writer.reload()
    man, files, rows, nbytes = write_path.write_data_files(
        writer, _rows(spark, [(2, -9, "x")])
    )
    # The constraint lands first — existing rows are clean, so it
    # commits and bumps constraints_version (head does NOT move).
    other = Dataset.load(spark, tmp_location)
    other.add_constraint("qty_nonneg", field("qty") >= 0)
    assert other.metadata.constraints_version == 1
    assert other.current_snapshot_id == writer.current_snapshot_id
    # The in-flight commit must conflict on the version pin,
    # re-validate, and refuse the violating rows.
    with pytest.raises(ConstraintViolationError, match="qty_nonneg"):
        writer._commit_change("APPEND", written=(man, files, rows, nbytes))
    ds.reload()
    assert sorted(r.id for r in ds.read().collect()) == [1]


def test_inflight_append_of_clean_rows_survives_concurrent_constraint(
    spark, tmp_location
):
    """Same race with COMPLIANT rows: the conflict costs one
    re-validation pass and the commit then lands."""
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, [(1, 5, "a")]))
    writer = Dataset.load(spark, tmp_location)
    writer.reload()
    man, files, rows, nbytes = write_path.write_data_files(
        writer, _rows(spark, [(2, 7, "x")])
    )
    Dataset.load(spark, tmp_location).add_constraint(
        "qty_nonneg", field("qty") >= 0
    )
    writer._commit_change("APPEND", written=(man, files, rows, nbytes))
    ds.reload()
    assert sorted(r.id for r in ds.read().collect()) == [1, 2]
    # Enforcement continues on the landed constraint.
    with pytest.raises(ConstraintViolationError):
        ds.append(_rows(spark, [(3, -1, "y")]))


def test_inflight_append_revalidates_after_concurrent_add_not_null(
    spark, tmp_location
):
    """add_not_null bumps the same version counter — NULLs validated
    against the old set cannot land after it commits."""
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ds.append(_rows(spark, [(1, 5, "a")]))
    writer = Dataset.load(spark, tmp_location)
    writer.reload()
    man, files, rows, nbytes = write_path.write_data_files(
        writer, _rows(spark, [(2, None, "x")])
    )
    Dataset.load(spark, tmp_location).add_not_null("qty")
    with pytest.raises(ConstraintViolationError, match="NOT NULL"):
        writer._commit_change("APPEND", written=(man, files, rows, nbytes))
    ds.reload()
    assert sorted(r.id for r in ds.read().collect()) == [1]


def test_constraints_version_roundtrip_and_drop_no_bump(
    spark, tmp_location
):
    """Version semantics: adds (tightenings) bump; drops do not (a
    writer that validated against a superset is still safe); the
    counter survives the metadata JSON round-trip."""
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    assert ds.metadata.constraints_version == 0
    ds.add_constraint("qty_nonneg", field("qty") >= 0)
    ds.add_constraint("qty_cap", field("qty") <= 100)
    assert ds.metadata.constraints_version == 2
    ds.drop_constraint("qty_cap")
    assert ds.metadata.constraints_version == 2
    reloaded = Dataset.load(spark, tmp_location)
    assert reloaded.metadata.constraints_version == 2


def test_not_null_only_table_rejects_zero_copy_load(spark, tmp_location):
    """A table with ONLY NOT NULL columns (empty CHECK set) must still
    validate zero-copy external files — gating on metadata.constraints
    alone let external NULLs through (ADVICE r12)."""
    from space_spark.sources.loaders import append_parquet

    ds = Dataset.create(
        spark, tmp_location, SCHEMA, ["id"], not_null=["qty"]
    )
    ext = tmp_location + "_ext"
    _rows(spark, [(1, 5, "a"), (2, None, "b")]).coalesce(1) \
        .write.parquet(ext)
    with pytest.raises(ConstraintViolationError, match=r"NOT NULL\(qty\)"):
        append_parquet(ds, ext + "/*.parquet")
    assert ds.reload().read().count() == 0
    # Clean external files still load.
    ext2 = tmp_location + "_ext2"
    _rows(spark, [(1, 5, "a"), (2, 6, "b")]).coalesce(1) \
        .write.parquet(ext2)
    append_parquet(ds, ext2 + "/*.parquet")
    assert ds.reload().read().count() == 2


def test_zero_copy_load_revalidates_after_concurrent_add_not_null(
    spark, tmp_location, monkeypatch
):
    """Reverse TOCTOU on the zero-copy path: a constraint that lands
    between the load's validation and its commit must send the load
    through re-validation (loaders now commit via _commit_change with
    the constraints_version pin — ADVICE r12)."""
    from space_spark.core import manifests as mf
    from space_spark.sources.loaders import append_parquet

    ds = Dataset.create(spark, tmp_location, SCHEMA, ["id"])
    ext = tmp_location + "_ext"
    _rows(spark, [(1, 5, "a"), (2, None, "b")]).coalesce(1) \
        .write.parquet(ext)

    real = mf.write_manifest
    fired = []

    def inject(*a, **k):
        out = real(*a, **k)
        if not fired:
            fired.append(True)
            # Lands AFTER the load validated (no constraints then),
            # BEFORE its commit: bumps constraints_version only.
            Dataset.load(spark, tmp_location).add_not_null("qty")
        return out

    monkeypatch.setattr(
        "space_spark.sources.loaders.mf.write_manifest", inject
    )
    with pytest.raises(ConstraintViolationError, match=r"NOT NULL\(qty\)"):
        append_parquet(ds, ext + "/*.parquet")
    assert fired
    assert ds.reload().read().count() == 0


def test_sink_revalidation_rejects_absent_not_null_column(tmp_location):
    """_validate_files_live: a NOT NULL column ABSENT from a shard file
    (concurrent add_column + add_not_null racing the write) reads as
    all-NULL on the scan path, so the sink's conflict re-validation
    must reject it like the Dataset path does (ADVICE r12)."""
    import os
    from types import SimpleNamespace

    import pyarrow as pa
    import pyarrow.parquet as pq

    from space_spark.sources.datasink import _validate_files_live

    os.makedirs(tmp_location, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64())}),
        os.path.join(tmp_location, "shard.parquet"),
    )
    meta = SimpleNamespace(constraints={}, not_null=["qty"], renames={})
    with pytest.raises(ConstraintViolationError, match="absent"):
        _validate_files_live(tmp_location, ["shard.parquet"], meta)
    # CHECK constraints keep the skip: NULL (absent column) passes CHECK.
    from space_spark import field
    from space_spark.core.expressions import expr_to_json

    meta2 = SimpleNamespace(
        constraints={"qty_pos": expr_to_json(field("qty") > 0)},
        not_null=[], renames={},
    )
    _validate_files_live(tmp_location, ["shard.parquet"], meta2)
