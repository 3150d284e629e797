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
# for duplicates with pyarrow; its delete keys take one aggregate (two
# jobs under AQE). An insert's local input is one collect too, then its
# fused dup+clash job; read_by_keys is the keys' bounds aggregate (two
# jobs), the broadcast of the keys and the scan.
PINNED_JOBS = {
    "append": 1,
    "upsert": 2,
    "mv_refresh": 1,
    "agg_mv_refresh": 4,
    "delete_by_keys": 4,
    "delete": 1,
    "merge": 12,
    "apply_changes": 5,
    "insert": 5,
    "read_by_keys": 4,
    "overwrite": 1,
}

# The same ops with spark.sql.autoBroadcastJoinThreshold=-1, where every
# output goes through Spark's writer, plus a merge-on-read delete, which
# is a Spark write on either side. merge and apply_changes each lost a
# job when the fused dup-check aggregate (a groupBy over the written
# and delete keys, then a count) became a pyarrow check of the written
# keys and one aggregate over the delete keys.
PINNED_JOBS_SPARK = {
    "append": 3,
    "upsert": 5,
    "mv_refresh": 9,
    "agg_mv_refresh": 17,
    "delete_by_keys": 6,
    "delete": 2,
    "merge": 17,
    "apply_changes": 7,
    "delete_mor": 1,
    "insert": 5,
    "read_by_keys": 7,
    "overwrite": 5,
}


def _rows(spark, triples):
    values = ", ".join(f"({k}, '{g}', {x})" for k, g, x in triples)
    return spark.sql(
        "SELECT CAST(col1 AS BIGINT) AS k, col2 AS g, "
        f"CAST(col3 AS BIGINT) AS x FROM VALUES {values}"
    )


def _run_ops(spark, tmp_location, mor=False):
    """Job counts of each write op on a fresh clustered table, and the
    row-wise MV's keys after its last refresh."""
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

    tracker = spark.sparkContext._jsc.sc().statusTracker()

    def jobs(fn):
        before = set(tracker.getJobIdsForGroup(None))
        fn()
        return len(set(tracker.getJobIdsForGroup(None)) - before)

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
        "apply_changes": lambda: ds.apply_changes(
            _rows(spark, [(5, "g2", 50)]),
            _rows(spark, [(6, "", 0)]).select("k")),
    }
    if mor:
        ops["delete_mor"] = lambda: ds.delete(field("k") == 7,
                                              rewrite=False)
    ops["insert"] = lambda: ds.insert(_rows(spark, [(103, "g1", 7)]))
    ops["read_by_keys"] = lambda: ds.read_by_keys(
        _rows(spark, [(8, "", 0)]).select("k")).collect()
    ops["overwrite"] = lambda: ds.overwrite(
        _rows(spark, [(i, "o", i) for i in range(5)]))
    got = {name: jobs(fn) for name, fn in ops.items()}
    return got, {r.k for r in mv.read().collect()}


def test_write_ops_spark_job_pins(spark, tmp_location):
    got, mv_keys = _run_ops(spark, tmp_location)
    assert got == PINNED_JOBS, str(got)
    assert mv_keys == set(range(40)) | {100, 101}


def test_write_ops_spark_side_job_pins(spark, tmp_location):
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try:
        got, mv_keys = _run_ops(spark, tmp_location, mor=True)
    finally:
        spark.conf.set(threshold, prev)
    assert got == PINNED_JOBS_SPARK, str(got)
    assert mv_keys == set(range(40)) | {100, 101}
