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
# a survivor write).
PINNED_JOBS = {
    "append": 1,
    "upsert": 2,
    "mv_refresh": 7,
    "agg_mv_refresh": 14,
    "delete_by_keys": 4,
    "delete": 1,
    "merge": 12,
    "apply_changes": 6,
}


def _rows(spark, triples):
    values = ", ".join(f"({k}, '{g}', {x})" for k, g, x in triples)
    return spark.sql(
        "SELECT CAST(col1 AS BIGINT) AS k, col2 AS g, "
        f"CAST(col3 AS BIGINT) AS x FROM VALUES {values}"
    )


def test_write_ops_spark_job_pins(spark, tmp_location):
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
    got = {name: jobs(fn) for name, fn in ops.items()}
    assert got == PINNED_JOBS, str(got)
    assert {r.k for r in mv.read().collect()} == set(range(40)) | {100, 101}
