"""Spark jobs per write op, pinned exactly on a tiny clustered table.

A job is a scheduling round trip and a barrier: on small commits it is
the fixed cost that dominates, and wall time on a shared host cannot
see one more or one fewer. A refactor of a write path must keep these
counts; a change that means to move one updates its pin and says why.
Counts are StatusTracker deltas over ungrouped jobs (the engine sets no
job group), as in ``test_scale_planning.test_dml_spark_action_budget``.
"""

from pyspark.sql import types as T

from space_spark import Dataset, field

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("g", T.StringType()),
    T.StructField("x", T.LongType()),
])

# Outputs within spark.sql.autoBroadcastJoinThreshold are written by the
# driver: a local append is one collect (was a range sample and a write),
# upsert's dup check reads the written keys with pyarrow, and every CoW
# delete is one candidate read split on the driver (was a probe write and
# a survivor write). An overwrite writes its local input the way append
# does, and the driver dumps the old keys. A view refresh reads its
# source delta with pyarrow: the row-wise MV's one job is the upsert
# snapshot's MV candidate read; the aggregate MV collects its fold once
# and splits its state on the driver. apply_changes writes its local
# adds as upsert does (one collect, was a Spark write) and checks them
# for duplicates with pyarrow. An insert commits as upsert does, its
# split the clash check (5 -> 1: its fused dup+clash job and that job's
# retry loop are gone; the written keys' dup check is pyarrow, and the
# split reads its candidates with pyarrow), so only the input's collect
# is left.
#
# Keys the driver built (a LocalRelation) are collected to Arrow once
# and bounded there (KeySet.from_local), where an aggregate took two
# jobs under AQE and the split then collected them again:
# delete_by_keys 4 -> 2 (the keys' collect, the candidate read),
# apply_changes 5 -> 3 (the adds' collect, the delete keys' collect, the
# candidate read) and read_by_keys 4 -> 3 (the keys' collect, the
# broadcast of the keys, the scan). A merge of a local source runs on
# the driver, 12 -> 3 in either clause shape: the source's collect, one
# collect of the clause cascade over a pyarrow join of the source and
# the driver-read candidates, and the split's candidate read.
#
# A keyed split within the driver bound reads its candidates with
# pyarrow (write_path.read_arrow), where a Spark read collected them:
# upsert 2 -> 1 (the written keys' dup check is pyarrow too, so only
# the input's collect is left), delete_by_keys 2 -> 1 (the keys'
# collect), merge and merge_clauses 3 -> 2 (the source's collect, the
# cascade's collect), apply_changes 3 -> 2 (the adds' and the delete
# keys' collects), mv_refresh 1 -> 0 (the MV's split was its one job)
# and agg_mv_refresh 4 -> 3 (the state split). A predicate delete keeps
# its one job: the predicate runs over the pyarrow read as a
# LocalRelation, in one collect. A merge-on-read delete splits the same
# way and commits the matched positions as a delete vector: the same one
# collect. The overwrite after it dumps the old keys with pyarrow, delete
# vector applied.
PINNED_JOBS = {
    "append": 1,
    "upsert": 1,
    "mv_refresh": 0,
    "agg_mv_refresh": 3,
    "delete_by_keys": 1,
    "delete": 1,
    "merge": 2,
    "merge_clauses": 2,
    "apply_changes": 2,
    "delete_mor": 1,
    "insert": 1,
    "read_by_keys": 3,
    "overwrite": 1,
}

# The same ops with spark.sql.autoBroadcastJoinThreshold=-1, where every
# output goes through Spark's writer. An insert commits through the
# same split as upsert (5 -> 1, as above). merge and apply_changes each
# lost a
# job when the fused dup-check aggregate (a groupBy over the written
# and delete keys, then a count) became a pyarrow check of the written
# keys and one aggregate over the delete keys. That aggregate now also
# counts merge's distinct delete keys, so that several source rows
# matching one target row raise: the distinct count is one more shuffle
# stage, merge and merge_clauses 17 -> 18.
PINNED_JOBS_SPARK = {
    "append": 3,
    "upsert": 5,
    "mv_refresh": 9,
    "agg_mv_refresh": 17,
    "delete_by_keys": 6,
    "delete": 2,
    "merge": 18,
    "merge_clauses": 18,
    "apply_changes": 7,
    "delete_mor": 1,
    "insert": 1,
    "read_by_keys": 7,
    "overwrite": 5,
}


def _rows(spark, triples):
    values = ", ".join(f"({k}, '{g}', {x})" for k, g, x in triples)
    return spark.sql(
        "SELECT CAST(col1 AS BIGINT) AS k, col2 AS g, "
        f"CAST(col3 AS BIGINT) AS x FROM VALUES {values}"
    )


def _jobs(spark, fn):
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    fn()
    return len(set(tracker.getJobIdsForGroup(None)) - before)


def _run_ops(spark, tmp_location, mor_before):
    """Job counts of each write op on a fresh clustered table, and the
    row-wise MV's keys after its last refresh. The merge-on-read delete
    runs right before the op ``mor_before``; the reads after it apply
    its delete vector."""
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["k"],
                        cluster_by=["k"])
    ds.append(_rows(spark, [(i, f"g{i % 3}", i) for i in range(40)]))

    def double(batch):
        return {"k": batch["k"], "x": batch["x"] * 2}

    mv = ds.map_batches(double, T.StructType([
        T.StructField("k", T.LongType()), T.StructField("x", T.LongType()),
    ])).materialize(spark, tmp_location + "_mv")
    agg = ds.aggregate_view(["g"], {"n": ("count", "*"),
                                    "s": ("sum", "x")}
                            ).materialize(spark, tmp_location + "_agg")
    mv.refresh()
    agg.refresh()

    # The views refresh over two source snapshots: an append and an
    # upsert (a delete plus an add).
    ops = {
        "append": lambda: ds.append(_rows(spark, [(100, "g0", 1)])),
        "upsert": lambda: ds.upsert(
            _rows(spark, [(1, "g1", 10), (101, "g2", 2)])),
        "mv_refresh": mv.refresh,
        "agg_mv_refresh": agg.refresh,
        "delete_by_keys": lambda: ds.delete_by_keys(
            _rows(spark, [(2, "", 0)]).select("k")),
        "delete": lambda: ds.delete(field("k") == 3),
        "merge": lambda: ds.merge(
            _rows(spark, [(4, "g1", 40), (102, "g0", 3)])),
        # perfbench's clause shape: a conditional delete, then an
        # update, then an insert
        "merge_clauses": lambda: ds.merge(
            _rows(spark, [(9, "g0", 0), (10, "g1", 99), (104, "g2", 4)]),
            when_matched=[
                {"action": "delete", "condition": lambda s, t: s["x"] == 0},
                {"action": "update"}],
            when_not_matched="insert"),
        "apply_changes": lambda: ds.apply_changes(
            _rows(spark, [(5, "g2", 50)]),
            _rows(spark, [(6, "", 0)]).select("k")),
    }
    ops["insert"] = lambda: ds.insert(_rows(spark, [(103, "g1", 7)]))
    ops["read_by_keys"] = lambda: ds.read_by_keys(
        _rows(spark, [(8, "", 0)]).select("k")).collect()
    ops["overwrite"] = lambda: ds.overwrite(
        _rows(spark, [(i, "o", i) for i in range(5)]))
    order = list(ops)
    order.insert(order.index(mor_before), "delete_mor")
    ops["delete_mor"] = lambda: ds.delete(field("k") == 7, rewrite=False)
    got = {name: _jobs(spark, ops[name]) for name in order}
    return got, {r.k for r in mv.read().collect()}


def test_write_ops_spark_job_pins(spark, tmp_location):
    got, mv_keys = _run_ops(spark, tmp_location, mor_before="overwrite")
    assert got == PINNED_JOBS, str(got)
    assert mv_keys == set(range(40)) | {100, 101}


def test_write_ops_spark_side_job_pins(spark, tmp_location):
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try:
        got, mv_keys = _run_ops(spark, tmp_location, mor_before="insert")
    finally:
        spark.conf.set(threshold, prev)
    assert got == PINNED_JOBS_SPARK, str(got)
    assert mv_keys == set(range(40)) | {100, 101}


def test_spark_side_pins_each_plan_once(spark, tmp_location, monkeypatch):
    """At threshold -1, a key set over a plan that already reads pinned
    blocks only is not pinned again (``KeySet.from_frame``). Counted
    are the persisted RDDs live when the commit starts, and all of them
    are released once the op returns. The aggregate fold pins its
    delta aggregate and its projection, once each (the key sets over
    them were two more pins, and the first one outlived the refresh);
    the keys its deleted rows are read by, a read of the immutable
    deletes log, are not pinned (they were one more); a
    merge pins its source and its delete keys, which its clauses may
    derive nondeterministically (the probe keys over the source were
    one more)."""
    from space_spark.core import dataset as dataset_mod

    jsc = spark.sparkContext._jsc
    live = []
    real = dataset_mod.Dataset._commit_change

    def counting(self, *a, **kw):
        live.append(jsc.getPersistentRDDs().size())
        return real(self, *a, **kw)

    monkeypatch.setattr(dataset_mod.Dataset, "_commit_change", counting)
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try:
        ds = Dataset.create(spark, tmp_location, SCHEMA, ["k"])
        ds.append(_rows(spark, [(i, f"g{i % 3}", i) for i in range(20)]))
        agg = ds.aggregate_view(["g"], {"n": ("count", "*"),
                                        "s": ("sum", "x")}
                                ).materialize(spark, tmp_location + "_agg")
        agg.refresh()
        ds.upsert(_rows(spark, [(1, "g1", 10), (101, "g2", 2)]))

        def pinned_at_commit(fn):
            before = jsc.getPersistentRDDs().size()
            live.clear()
            fn()
            assert len(live) == 1, live
            assert jsc.getPersistentRDDs().size() == before  # released
            return live[0] - before

        assert pinned_at_commit(agg.refresh) == 2
        assert pinned_at_commit(lambda: ds.merge(
            _rows(spark, [(4, "g1", 40), (102, "g0", 3)]))) == 2
    finally:
        spark.conf.set(threshold, prev)


def test_bloom_equality_planning_takes_no_job(spark, tmp_location):
    """Bloom pruning of an equality filter canonicalizes its literals in
    Python (``blooms.probe_values``): planning a bloom-indexed table's
    files launches no job (was one, a ``spark.range(1)`` collect of the
    canonicalized literals), and a read is its scan alone (was two)."""
    ds = Dataset.create(spark, tmp_location, SCHEMA, ["k"],
                        bloom_filters=True)
    for lo in (0, 20, 40):
        ds.append(_rows(spark, [(i, f"g{i % 3}", i)
                                for i in range(lo, lo + 20, 2)]))
        ds.append(_rows(spark, [(i, f"g{i % 3}", i)
                                for i in range(lo + 1, lo + 20, 2)]))
    files = []
    assert _jobs(spark, lambda: files.extend(
        ds.data_files(field("k") == 49))) == 0
    assert len(files) == 1 < len(ds.data_files())
    rows = []
    assert _jobs(spark, lambda: rows.extend(
        ds.read(field("k") == 49).toArrow().to_pylist())) == 1
    assert rows == [{"k": 49, "g": "g1", "x": 49}]
