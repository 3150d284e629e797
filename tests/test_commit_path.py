"""One commit path: every data snapshot is built by
``Dataset._commit_rewrite``, and no commit leaves a manifest that no
snapshot links."""

import ast
import os

import pytest
from pyspark.sql import types as T

import space_spark
from space_spark import Dataset, field

# (file under space_spark/, enclosing function) of every Snapshot(...)
# call allowed: decoding, a new table's root, the format("space") sink's
# append (its commit worker has no SparkSession), the one data-snapshot
# builder and a clone's root.
ALLOWED = {
    ("core/metadata.py", "Snapshot.from_dict"),
    ("core/metadata.py", "initial_metadata"),
    ("core/metadata.py", "append_snapshot"),
    ("core/dataset.py", "Dataset._commit_rewrite"),
    ("core/dataset.py", "Dataset.clone"),
}

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("x", T.LongType()),
])

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _snapshot_calls(path):
    """(qualified name of the enclosing function, line) of each call of
    ``Snapshot`` or ``<module>.Snapshot`` in the file at ``path``."""
    out = []

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                walk(child, scope + [child.name])
                continue
            if isinstance(child, ast.Call):
                fn = child.func
                name = fn.id if isinstance(fn, ast.Name) else \
                    fn.attr if isinstance(fn, ast.Attribute) else None
                if name == "Snapshot":
                    out.append((".".join(scope), child.lineno))
            walk(child, scope)

    with open(path) as f:
        walk(ast.parse(f.read()), [])
    return out


def test_commit_rewrite_is_the_only_data_snapshot_builder():
    root = os.path.dirname(space_spark.__file__)
    found = set()
    stray = []
    for dirpath, _, names in os.walk(root):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            for scope, line in _snapshot_calls(path):
                if (rel, scope) in ALLOWED:
                    found.add((rel, scope))
                else:
                    stray.append(f"{rel}:{line} in {scope or '<module>'}")
    assert not stray, "Snapshot(...) built outside the one builder: " \
        + ", ".join(stray)
    assert found == ALLOWED


def _unlinked_manifests(ds):
    linked = set()
    for snap in ds.reload().metadata.snapshots.values():
        linked.update(snap.manifest_files)
        linked.update(snap.record_manifest_files)
    mdir = ds.log.abs_path(os.path.join("_space", "manifests"))
    on_disk = {os.path.join("_space", "manifests", n)
               for n in os.listdir(mdir)}
    return sorted(on_disk - linked)


@pytest.mark.parametrize("threshold", [None, "-1"])
def test_delete_and_overwrite_leave_no_unlinked_manifest(
        spark, tmp_location, threshold):
    """A delete that empties one of four files writes neither a
    manifest of its zero survivors nor, at -1, one of Spark's empty part
    file; an overwrite, which affects every file, writes no carry
    manifest."""
    prev = spark.conf.get(THRESHOLD)
    if threshold is not None:
        spark.conf.set(THRESHOLD, threshold)
    try:
        ds = Dataset.create(spark, tmp_location, SCHEMA, ["k"])
        for i in range(4):
            ds.append(spark.sql(
                f"SELECT id AS k, id AS x FROM range({i * 10}, "
                f"{i * 10 + 10}, 1, 1)"))
        assert len(ds.data_files()) == 4
        ds.delete(field("k") < 10)
        assert ds.read().count() == 30
        assert _unlinked_manifests(ds) == []
        ds.overwrite(spark.sql("SELECT id AS k, id AS x FROM range(5)"))
        assert ds.read().count() == 5
        assert _unlinked_manifests(ds) == []
    finally:
        spark.conf.set(THRESHOLD, prev)
