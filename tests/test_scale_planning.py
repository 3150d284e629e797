"""Planning cost at large file counts: manifest pruning over a 10k-file
table must stay sub-second and driver-light (the SCALE.md contract).

The manifest is synthesized directly (pruning never opens data files, so
none need to exist) — this is exactly the planning input a 10k-file table
produces."""

import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from space_spark import field
from space_spark.core import manifests as mf

N_FILES = 10_000
ROWS_PER_FILE = 100_000


@pytest.fixture(scope="module")
def big_manifest(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("manifests") / "manifest-big.parquet")
    lo = [i * ROWS_PER_FILE for i in range(N_FILES)]
    hi = [(i + 1) * ROWS_PER_FILE - 1 for i in range(N_FILES)]
    tbl = pa.table(
        {
            mf.FILE_PATH_COL: [f"data/part-{i:05d}.parquet"
                               for i in range(N_FILES)],
            mf.NUM_ROWS_COL: pa.array([ROWS_PER_FILE] * N_FILES, pa.int64()),
            mf.SIZE_BYTES_COL: pa.array([64 << 20] * N_FILES, pa.int64()),
            mf.STATS_PREFIX + "id": pa.StructArray.from_arrays(
                [pa.array(lo, pa.int64()), pa.array(hi, pa.int64())],
                names=[mf.MIN_COL, mf.MAX_COL],
            ),
        }
    )
    pq.write_table(tbl, path)
    return path


STATS_FIELDS = [("id", T.LongType())]


def test_10k_file_pruning_subsecond(spark, big_manifest):
    # Warm-up excluded from timing (module imports, first parquet read).
    mf.prune_files(spark, [big_manifest], None, STATS_FIELDS)

    start = time.perf_counter()
    pruned = mf.prune_files(
        spark, [big_manifest],
        field("id") >= (N_FILES - 3) * ROWS_PER_FILE,
        STATS_FIELDS,
    )
    elapsed = time.perf_counter() - start
    assert sorted(pruned) == [
        f"data/part-{i:05d}.parquet" for i in range(N_FILES - 3, N_FILES)
    ]
    assert elapsed < 1.0, f"planning took {elapsed:.3f}s for 10k files"


def test_10k_file_point_lookup_planning(spark, big_manifest):
    start = time.perf_counter()
    pruned = mf.prune_files(
        spark, [big_manifest], field("id") == 123_456_789, STATS_FIELDS
    )
    elapsed = time.perf_counter() - start
    assert pruned == ["data/part-01234.parquet"]
    assert elapsed < 1.0


def test_10k_file_no_filter_lists_all(spark, big_manifest):
    start = time.perf_counter()
    pruned = mf.prune_files(spark, [big_manifest], None, STATS_FIELDS)
    elapsed = time.perf_counter() - start
    assert len(pruned) == N_FILES
    assert elapsed < 1.0


def test_datasource_grouping_10k_files_subsecond():
    """_group_files over 10k paths (os.stat per file is the only IO;
    missing files fall back to max_bytes) must stay fast and must not
    open parquet footers for normal-sized files."""
    import time as _time

    from space_spark.sources.datasource import _group_files

    paths = [f"/nonexistent/data/part-{i:05d}.parquet"
             for i in range(10_000)]
    start = _time.perf_counter()
    groups = list(_group_files(paths, 256 << 20))
    elapsed = _time.perf_counter() - start
    assert elapsed < 1.0, f"grouping took {elapsed:.2f}s"
    # Unknown-size files are assumed max_bytes: one partition each.
    assert len(groups) == 10_000
    assert sum(len(g) for g in groups) == 10_000


def test_dml_spark_action_budget(spark, tmp_path):
    """Commit-path job budget: each DML op costs a bounded number of
    Spark jobs (AQE stage materializations included), independent of
    table size — the driver-side overhead lever for trickle-commit
    workloads. insert = write + read-back dup check + probe (its
    clash check); upsert = write + read-back dup check + probe +
    survivor rewrite. A regression
    that adds an action per op multiplies streaming-ingest latency."""
    from pyspark.sql import types as T

    from space_spark import Dataset

    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("v", T.StringType()),
    ])
    ds = Dataset.create(spark, str(tmp_path / "t"), schema, ["k"])
    ds.append(spark.createDataFrame(
        [(i, "x") for i in range(1000)], schema).coalesce(1))
    tracker = spark.sparkContext._jsc.sc().statusTracker()

    def jobs(fn):
        before = len(list(tracker.getJobIdsForGroup(None)))
        fn()
        return len(list(tracker.getJobIdsForGroup(None))) - before

    n_ins = jobs(lambda: ds.insert(
        spark.createDataFrame([(2000, "y"), (2001, "z")], schema)))
    assert n_ins <= 5, f"insert ran {n_ins} Spark jobs (budget 5)"
    n_up = jobs(lambda: ds.upsert(
        spark.createDataFrame([(1, "u"), (2002, "w")], schema)))
    assert n_up <= 9, f"upsert ran {n_up} Spark jobs (budget 9)"
