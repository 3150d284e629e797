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

PINNED_JOBS = {
    "append": 3,
    "upsert": 8,
    "mv_refresh": 9,
    "agg_mv_refresh": 16,
    "delete_by_keys": 6,
    "delete": 2,
    "merge": 14,
    "apply_changes": 8,
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
