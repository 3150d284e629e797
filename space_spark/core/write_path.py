"""The write path: how a commit's outputs become data files, and the one
place that decides whether the driver writes an output with pyarrow or
Spark's file committer does (the reference's runner picks ``ds.local()``
or ``ds.ray()`` once, core/runners.py:203-287). Entry points:
``write_input`` (a commit's input rows), ``KeySet`` (the primary keys a
keyed change deletes), ``cow_split`` (a copy-on-write delete's
survivors, deletes log and deleted positions, from one split —
reference ops/delete.py:56-228) and ``write_data_files``. The driver
reads bounded table files with ``read_arrow``, each file through
``manifests.read_data_file``, the reader the ``format("space")`` tasks
use too.

Manifest and parquet calls go through their module attributes
(``mf.write_manifest``, ``pq.read_table``), so that a tracer or a test
that patches those names sees every call.
"""

from __future__ import annotations

import os
from typing import List, NamedTuple, Optional, Union

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from space_spark.core import bitmaps as bm
from space_spark.core import manifests as mf
from space_spark.core import records as rec
from space_spark.core import schema as sc
from space_spark.errors import ConstraintViolationError, UserInputError

# A key set under this many rows is broadcast to the probe side; above
# it, a shuffle-hash join (a bulk upsert's key set can exceed executor
# memory — an unconditional broadcast would OOM at scale).
BROADCAST_KEYS_MAX = 500_000

# Candidate Parquet bytes up to which the driver's split of a CoW
# delete beats Spark's probe and survivor jobs. Measured crossover
# (one candidate file, two keys, median of 6 alternating reps,
# local[4] on a shared 4-core VM): 3.0 MB 0.78 s vs 1.02 s, 4.0 MB
# 0.88 s vs 0.87 s, 5.1 MB 1.11 s vs 1.08 s, 9.7 MB 2.04 s vs 1.53 s.
DRIVER_SPLIT_MAX_BYTES = 4 << 20


class CowSplit(NamedTuple):
    """A copy-on-write delete's split: the affected rel files, their
    survivors (a DataFrame, or Arrow tables one per output file), the
    written deletes log's relpath, and the deleted rows' ``__file`` (data
    file URI) and ``__pos`` (row position) as an Arrow table. The log
    holds the same ``__file``/``__pos`` next to the keys; the positions
    give the affected files, and a MoR delete's vector."""
    affected: List[str]
    survivors: Union[DataFrame, List[pa.Table], None]
    deletes_rel: Optional[str]
    positions: Optional[pa.Table]


NO_MATCH = CowSplit([], None, None, None)

DUPLICATE_KEYS = "Input data has duplicate primary keys"


# ------------------------------------------------------------- size rule
def _has_ntz(dt: T.DataType) -> bool:
    """Whether ``dt`` is or nests a TimestampNTZType."""
    if isinstance(dt, T.StructType):
        return any(_has_ntz(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _has_ntz(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_ntz(dt.keyType) or _has_ntz(dt.valueType)
    return isinstance(dt, T.TimestampNTZType)


def _int96_timestamps(ds) -> bool:
    return ds.spark.conf.get(
        "spark.sql.parquet.outputTimestampType") == "INT96"


def _driver_bytes_max(ds) -> int:
    """Largest output, in bytes, the driver writes itself: Spark's own
    ``spark.sql.autoBroadcastJoinThreshold``, the size Spark agrees to
    collect to the driver. -1 turns driver writes off, as it turns off
    broadcasts.

    Also -1 when the session writes INT96 and the table holds a
    TimestampNTZ column: pyarrow writes every timestamp column INT96
    or none, while Spark writes TimestampNTZ as INT64 (an INT96 one
    has no footer min/max), so such a table stays on Spark's
    writer."""
    if _int96_timestamps(ds) and _has_ntz(ds._physical_schema()):
        return -1
    return int(ds.spark._jsparkSession.sessionState().conf()
               .autoBroadcastJoinThreshold())


def local_arrow(ds, df: DataFrame) -> Optional[pa.Table]:
    """``df`` collected to Arrow when its optimized plan is a
    ``LocalRelation`` (rows the driver built) within
    ``_driver_bytes_max``; None otherwise."""
    limit = _driver_bytes_max(ds)
    if limit < 0:
        return None
    plan = _local_plan(df)
    if plan is None or plan.stats().sizeInBytes() > limit:
        return None
    return df.toArrow()


def _local_plan(df: DataFrame):
    """``df``'s plan when it optimizes to a ``LocalRelation`` (rows the
    driver built), else None. A frame built straight from driver rows
    is one already analyzed, which spares running the optimizer."""
    qe = df._jdf.queryExecution()
    plan = qe.analyzed()
    if plan.getClass().getSimpleName() != "LocalRelation":
        plan = qe.optimizedPlan()
    return plan if plan.getClass().getSimpleName() == "LocalRelation" \
        else None


def _pinned(ds, df: DataFrame) -> bool:
    """Whether ``df``'s plan is deterministic and reads only RDDs held
    in block storage (``localCheckpoint``s), or is one scan of ``ds``'s
    files (a deletes log: no commit rewrites a table file), so every
    evaluation sees the same rows and a pin would only copy them."""
    plan = df._jdf.queryExecution().analyzed()
    if not plan.deterministic():
        return False
    leaves = plan.collectLeaves()
    leaves = [leaves.apply(i) for i in range(leaves.size())]
    if len(leaves) == 1 and leaves[0].getClass().getSimpleName() \
            == "LogicalRelation" and leaves[0].relation().getClass() \
            .getSimpleName() == "HadoopFsRelation":
        roots = leaves[0].relation().location().rootPaths()
        return not any(ds._abs_to_rel_file(roots.apply(i).toString())
                       .startswith("..") for i in range(roots.size()))
    return all(leaf.getClass().getSimpleName() == "LogicalRDD"
               and leaf.rdd().isLocallyCheckpointed() for leaf in leaves)


def _driver_fits(ds, files) -> bool:
    """Whether probe candidates (``Dataset._probe_candidates`` pairs) are
    small enough for the driver to read and split them itself: within
    ``_driver_bytes_max`` and ``DRIVER_SPLIT_MAX_BYTES``."""
    return sum(size for _, size in files) <= min(
        _driver_bytes_max(ds), DRIVER_SPLIT_MAX_BYTES)


def _file_sizes(ds, rel_paths) -> List[tuple]:
    """(rel file, bytes) of the parquet files at ``rel_paths``: data
    files, and deletes-log directories expanded to their part files."""
    out = []
    for rel in rel_paths:
        path = ds.log.abs_path(rel)
        out += [(rel if p == path else os.path.join(rel, os.path.basename(p)),
                 os.path.getsize(p)) for p in mf.parquet_files(path)]
    return out


def fits_driver(ds, rel_paths, into=()) -> bool:
    """Whether the driver reads the files at ``rel_paths`` of ``ds``
    (data files, deletes logs) with ``read_arrow`` and writes what they
    yield into each table of ``into`` itself — a view refresh's source
    delta and its MV output. The files must fit ``_driver_fits`` of
    every table, none of which may hold record fields (a blob read is
    Spark's) or a z-order layout (a Spark sort)."""
    tables = [ds, *into]
    if any(t.record_fields or (t.metadata.cluster_spec or {}).get("kind")
           == "zorder" for t in tables):
        return False
    files = _file_sizes(ds, rel_paths)
    return all(_driver_fits(t, files) for t in tables)


def keys_join_side(keys_df: DataFrame, n_keys: int) -> DataFrame:
    """``keys_df`` (``n_keys`` rows) hinted for a join against table
    files: broadcast up to ``BROADCAST_KEYS_MAX`` keys, shuffle-hash
    above."""
    if n_keys <= BROADCAST_KEYS_MAX:
        return keys_df.hint("broadcast")
    return keys_df.hint("shuffle_hash")


# ---------------------------------------------------------- input write
def resolve_layout(ds, cluster_by, zorder_by):
    """The (cluster_by, zorder_by) a write lays its rows out by: the
    caller's, else the table's declared clustering (Delta CLUSTER BY
    analog), checked against each other and the schema."""
    if cluster_by is None and zorder_by is None:
        spec = ds.metadata.cluster_spec
        if spec:
            if spec.get("kind") == "zorder":
                zorder_by = list(spec["cols"])
            else:
                cluster_by = list(spec["cols"])
    if cluster_by and zorder_by:
        raise UserInputError(
            "cluster_by and zorder_by are mutually exclusive"
        )
    unknown = set(cluster_by or zorder_by or ()) \
        - set(ds.schema.fieldNames())
    if unknown:
        raise UserInputError(
            f"Unknown {'zorder' if zorder_by else 'cluster'} "
            f"columns: {unknown}")
    return cluster_by, zorder_by


def lay_out(df: DataFrame, cluster_by, zorder_by, n: int) -> DataFrame:
    """``df`` in ``n`` partitions: Morton-interleaved on ``zorder_by``
    (operators/zorder.py), or range-partitioned and sorted on
    ``cluster_by``, so each output file covers a compact key range."""
    if zorder_by:
        from space_spark.operators.zorder import zorder_layout

        return zorder_layout(df, zorder_by, n)
    return df.repartitionByRange(n, *cluster_by).sortWithinPartitions(
        *cluster_by
    )


def write_input(ds, df: Union[DataFrame, pa.Table], cluster_by=None,
                zorder_by=None, target_files: Optional[int] = None):
    """Write a commit's input rows (``df`` already aligned to the table)
    as data files; returns ``write_data_files``' (manifest_rel, files,
    rows, bytes).

    Rows the driver built (a LocalRelation within the driver-write
    bound, or an Arrow table ``fits_driver`` bounded) are written by
    the driver: clustering is a local sort, and the output is one file
    unless ``target_files`` asks for more. A z-order layout and a table
    with record fields stay on Spark, which writes one file per
    partition of the laid-out rows."""
    if isinstance(df, pa.Table):
        local = df
    else:
        local = None if zorder_by or ds.record_fields \
            else local_arrow(ds, df)
    if local is not None:
        if cluster_by:
            local = local.sort_by([(c, "ascending") for c in cluster_by],
                                  null_placement="at_start")
        per_file = -(-local.num_rows // (target_files or 1))
        return write_data_files(ds, [local.slice(i * per_file, per_file)
                                     for i in range(target_files or 1)])
    if cluster_by or zorder_by:
        df = lay_out(df, cluster_by, zorder_by, target_files
                     or ds.spark.sparkContext.defaultParallelism)
    elif target_files:
        df = df.repartition(target_files)
    return write_data_files(ds, df)


def _arrow_schema(ds, columns=None) -> pa.Schema:
    """The Arrow schema ``read_arrow`` gives ``columns`` of ``ds``
    (default: every column): logical names, the types Spark hands a
    ``mapInArrow`` task for the physical schema (record fields as
    address structs), every column nullable."""
    from pyspark.sql.pandas.types import to_arrow_schema

    phys = sc.physical_schema(ds.schema, ds.record_fields)
    return pa.schema([f.with_nullable(True) for f in to_arrow_schema(
        T.StructType([phys[c] for c in columns or phys.fieldNames()]))])


def read_arrow(ds, rel_paths=(), columns=None, positions=None,
               tag: bool = False, snapshot=None) -> pa.Table:
    """Rows of ``ds``'s files at ``rel_paths`` (data files, deletes-log
    directories) read by the driver, each file with
    ``mf.read_data_file`` under ``_arrow_schema(ds, columns)`` — the
    driver's twin of ``ds._read_files`` for files ``fits_driver``
    bounds.

    ``tag`` adds each row's ``__file`` and ``__pos``, as
    ``probe_frame`` does. ``positions`` (``__file``/``__pos`` rows, a
    deletes log's provenance) reads only those rows, grouped per file,
    in place of ``rel_paths``. ``snapshot`` drops the rows its
    merge-on-read delete vectors mask, as ``Dataset._apply_vectors``
    does."""
    schema = _arrow_schema(ds, columns)

    def read(rel, **kw):
        return mf.read_data_file(ds.log.abs_path(rel), schema,
                                 ds.metadata.renames, **kw)

    if positions is not None:
        per_file = positions.group_by("__file").aggregate(
            [("__pos", "list")])
        parts = [read(ds._abs_to_rel_file(uri), rows=rows)
                 for uri, rows in zip(per_file["__file"].to_pylist(),
                                      per_file["__pos_list"].to_pylist())]
    else:
        masks = bm.vector_masks(ds.log, snapshot)
        parts = [read(f, tag=tag, mask=masks.get(ds.log.abs_path(f)))
                 for f, _ in _file_sizes(ds, rel_paths)]
    return pa.concat_tables(parts) if parts else schema.empty_table()


def deleted_positions(ds, deletes_rel: str) -> Optional[pa.Table]:
    """A deletes log's ``__file``/``__pos`` provenance (each deleted
    row's data file and position in its parent version), or None for a
    log written before every log carried it."""
    part = ds.log.abs_path(_file_sizes(ds, [deletes_rel])[0][0])
    if not {"__file", "__pos"} <= set(pq.read_schema(part).names):
        return None
    return pq.read_table(ds.log.abs_path(deletes_rel),
                         columns=["__file", "__pos"])


def local_frame(spark, tbl: pa.Table, schema: T.StructType) -> DataFrame:
    """``tbl`` as a LocalRelation DataFrame. The chunks are combined
    first: ``createDataFrame`` drops the rows that follow a zero-row
    batch of an Arrow table (Spark 4.1: batches of 1, 1, 0 and 1 rows
    give 2 rows), and a per-file read or take leaves such chunks."""
    return spark.createDataFrame(tbl.combine_chunks(), schema)


# ------------------------------------------------------------ key sets
class KeySet(NamedTuple):
    """The primary keys a keyed change deletes from ``ds`` (upsert's
    written keys, ``apply_changes``' delete keys, a view refresh's
    deletes log or touched groups): ``df`` the PK columns as a
    DataFrame, ``n`` their count (an upper bound once a key may
    repeat), ``prune`` the manifest prune expression of their min/max
    box (None: no pruning), and ``arrow`` the same keys when the driver
    holds them. ``a | b`` is the union; its prune ORs the two boxes."""
    df: Optional[DataFrame]
    n: int
    prune: object
    arrow: Optional[pa.Table] = None

    @classmethod
    def from_arrow(cls, ds, keys: pa.Table, unique: str = "") -> "KeySet":
        """Keys the driver holds: bounds by ``pc.min_max``, no Spark
        job. A ``unique`` message is raised as ``UserInputError`` when a
        key repeats."""
        pks = ds.primary_keys
        keys = keys.select(pks).cast(_arrow_schema(ds, ds.primary_keys))
        if unique and keys.group_by(pks).aggregate([]).num_rows \
                < keys.num_rows:
            raise UserInputError(unique)
        bounds = {}
        for k in pks:
            mm = pc.min_max(keys[k])
            bounds[f"mn_{k}"] = mm["min"].as_py()
            bounds[f"mx_{k}"] = mm["max"].as_py()
        df = local_frame(ds.spark, keys,
                         T.StructType([ds.schema[k] for k in pks]))
        return cls(df, keys.num_rows, ds._keys_range_expr(bounds), keys)

    @classmethod
    def from_written(cls, ds, written) -> "KeySet":
        """The keys of a commit's written data files (``write_input``'s
        (manifest_rel, files, rows, bytes)), bounded by the manifest's
        footer stats with no job. A key set the probe would broadcast
        anyway (``BROADCAST_KEYS_MAX``) is read by the driver from the
        files' key columns; a larger one is counted by one Spark
        aggregate. Raises ``UserInputError`` when a key repeats."""
        manifest_rel, files, rows, _ = written
        if not rows:
            return NO_KEYS
        pks = ds.primary_keys
        df = ds._read_files(files).select(*pks)
        arrow = None
        if rows <= BROADCAST_KEYS_MAX:
            arrow = read_arrow(ds, files, columns=pks)
            n = arrow.group_by(pks).aggregate([]).num_rows
        else:
            n = int(df.groupBy(*pks).count().agg(F.count(F.lit(1)))
                    .collect()[0][0])
        if n < rows:
            raise UserInputError(DUPLICATE_KEYS)
        return cls(df, n, ds._keys_range_expr(
            ds._bounds_from_manifest(manifest_rel)), arrow)

    @classmethod
    def from_local(cls, ds, keys: DataFrame, unique: str = "") -> "KeySet":
        """The keys of a DataFrame holding the PK columns. Keys the
        driver built (a LocalRelation within the driver-write bound, of
        the table's PK types) are collected to Arrow once and bounded by
        ``from_arrow``: one job, where ``from_frame``'s aggregate takes
        two under AQE, and the split then needs no collect of its own.
        Other frames go to ``from_frame``. ``unique`` as there."""
        pks = ds.primary_keys
        df = keys if keys.columns == pks else keys.select(*pks)
        if all(df.schema[k].dataType == ds.schema[k].dataType
               for k in pks):
            arrow = local_arrow(ds, df)
            if arrow is not None:
                return cls.from_arrow(ds, arrow, unique)
        return cls.from_frame(ds, df, unique)

    @classmethod
    def from_frame(cls, ds, keys: DataFrame, unique: str = "") -> "KeySet":
        """The keys of a DataFrame holding the PK columns, counted and
        bounded by ONE aggregate, which also counts the distinct keys
        when a ``unique`` message is to be raised on a repeat. A plan
        other than a LocalRelation is pinned first (``localCheckpoint``,
        materialized by that aggregate) unless ``_pinned`` finds a pin
        needless (pinned blocks, a scan of ``ds``'s files), so the
        bounds, the probe and a conflict retry see one evaluation: a
        nondeterministic plan re-run after the bounds could emit a key
        outside them, which pruning would skip. The caller releases the
        pinned blocks (``Dataset._release_new_blocks``) once nothing
        reads them."""
        pks = ds.primary_keys
        df = keys if keys.columns == pks else keys.select(*pks)
        if _local_plan(df) is None and not _pinned(ds, df):
            df = df.localCheckpoint(eager=False)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.min(k).alias(f"mn_{k}") for k in pks],
            *[F.max(k).alias(f"mx_{k}") for k in pks],
            *([F.count_distinct(F.struct(*pks)).alias("u")] if unique
              else []),
        ).collect()[0]
        if unique and row["u"] < row["n"]:
            raise UserInputError(unique)
        return cls(df, int(row["n"]), ds._keys_range_expr(row))

    def __or__(self, other: "KeySet") -> "KeySet":
        if not other.n:
            return self
        if not self.n:
            return other
        prune = None if self.prune is None or other.prune is None \
            else self.prune | other.prune
        arrow = None if self.arrow is None or other.arrow is None \
            else pa.concat_tables([self.arrow, other.arrow])
        return KeySet(self.df.unionByName(other.df), self.n + other.n,
                      prune, arrow)


NO_KEYS = KeySet(None, 0, None)


class PredicateSplit(NamedTuple):
    """A predicate delete's match: the rows where the Column ``pred`` is
    true, in the files whose manifest stats pass ``prune``."""
    prune: object
    pred: object


# ------------------------------------------------------------ CoW split
def probe_frame(ds, snapshot, files) -> DataFrame:
    """The probe candidates' rows with their existing delete vectors
    applied (already-deleted rows are never re-logged), each tagged
    with its source file (``__file``) and row position (``__pos``)."""
    # Provenance columns BEFORE the vector mask: input_file_name()
    # must bind to the single parquet source, not the mask join.
    return ds._apply_vectors(
        ds._read_files([f for f, _ in files])
        .withColumn("__file", F.input_file_name())
        .withColumn("__pos", F.col("_metadata.row_index")),
        snapshot,
    )


def cow_split(ds, match) -> CowSplit:
    """Split a change's delete over the head snapshot's files whose
    manifest stats pass ``match.prune``: the rows whose PKs are in
    ``match`` (a ``KeySet``), or else the rows where ``match.pred`` (a
    ``PredicateSplit``) is true, become the deletes log, and the other
    rows of the files holding a match become the survivors. Writes the
    deletes log, never commits; ``NO_MATCH`` when nothing matches, and
    with no I/O for ``NO_KEYS``. ``Dataset._commit_change`` rewrites
    the matched rows' files from the survivors, masks the matched
    positions with a delete vector, or raises on a match (insert).

    The split runs on the driver when the candidates fit
    ``_driver_fits`` (and a key set fits a broadcast): ``read_arrow``
    reads the candidates, delete vectors applied, and pyarrow splits
    them — by a join against the keys, or by ``match.pred`` evaluated
    over the read as a LocalRelation. Otherwise one distributed probe
    job writes the deletes and the survivors are a DataFrame."""
    keyed = isinstance(match, KeySet)
    if keyed and not match.n:
        return NO_MATCH
    snapshot = ds.metadata.snapshot(ds.current_snapshot_id)
    files = ds._probe_candidates(snapshot, match.prune)
    if not files:
        return NO_MATCH
    pks = ds.primary_keys
    if _driver_fits(ds, files) and not (keyed
                                        and match.n > BROADCAST_KEYS_MAX):
        keys_arrow = match.arrow if keyed else None
        if keyed and keys_arrow is None and all(
                match.df.schema[k].dataType == ds.schema[k].dataType
                for k in pks):
            keys_arrow = match.df.toArrow()
        if not keyed or keys_arrow is not None:
            cand = read_arrow(ds, [f for f, _ in files], tag=True,
                              snapshot=snapshot)
            if keyed:
                matched = _keys_match(ds, cand, keys_arrow)
            else:
                matched = local_frame(
                    ds.spark, cand.drop_columns(["__file", "__pos"]),
                    sc.physical_schema(ds.schema, ds.record_fields)
                ).select(match.pred).toArrow().column(0)
            return _split_on_driver(ds, cand, matched)
    probe = probe_frame(ds, snapshot, files)
    if keyed:
        keys = keys_join_side(match.df, match.n)
        split = probe_deletes(ds, probe.join(keys, on=pks, how="left_semi"))
    else:
        split = probe_deletes(ds, probe.where(match.pred))
    if not split.affected:
        return NO_MATCH
    kept = ds._apply_vectors(ds._read_files(split.affected), snapshot)
    kept = kept.join(keys, on=pks, how="left_anti") if keyed \
        else kept.where(~match.pred)
    return split._replace(survivors=kept)


def _keys_match(ds, cand: pa.Table, keys: pa.Table) -> pa.Array:
    """Mask of the candidate rows whose PKs appear in ``keys``. The
    join carries only the key columns and a row index — Acero's join
    cannot carry struct payloads such as record-field addresses —
    and a left-semi join neither repeats a row for a repeated key
    nor matches a NULL key, as Spark's does not."""
    import numpy as np

    pks = ds.primary_keys
    narrow = cand.select(pks).append_column(
        "__row", pa.array(np.arange(cand.num_rows)))
    key_types = pa.schema([narrow.schema.field(k).with_nullable(True)
                           for k in pks])
    hit = narrow.join(keys.select(pks).cast(key_types),
                      keys=pks, join_type="left semi")["__row"]
    return pc.is_in(narrow["__row"], value_set=hit)


def left_join_rows(ds, left: pa.Table, right: pa.Table) -> pa.Table:
    """``__l``/``__r``: the row indices of ``left`` LEFT joined to
    ``right`` (unique on the PKs) on ``ds``'s PK columns, in ``left``'s
    row order; ``__r`` is NULL where no right row matches. As in
    ``_keys_match``, the join carries only the keys and row indices,
    and a NULL key matches nothing."""
    import numpy as np

    pks = ds.primary_keys
    key_types = _arrow_schema(ds, ds.primary_keys)

    def narrow(tbl, name):
        return tbl.select(pks).cast(key_types).append_column(
            name, pa.array(np.arange(tbl.num_rows)))

    return narrow(left, "__l").join(
        narrow(right, "__r"), keys=pks, join_type="left outer"
    ).select(["__l", "__r"]).sort_by("__l")


def _split_on_driver(ds, cand: pa.Table, matched) -> CowSplit:
    """A CoW delete's split over a candidate read held on the
    driver (``read_arrow`` rows tagged with ``__file``/``__pos``,
    ``matched`` a boolean mask): the
    matched rows become the deletes log, written with pyarrow, and
    the unmatched rows of the files holding a match become the
    survivors, one Arrow table per output file.

    Like Spark's file packing, which bounds the survivor rewrite's
    width, the survivors go to at most ``defaultParallelism`` files:
    the affected files, ordered by their lead cluster (else key)
    column, are packed in runs of neighbours, each in row order. A
    few affected files keep one output each, and so their key
    ranges."""
    import numpy as np

    deleted = cand.filter(matched)
    if deleted.num_rows == 0:
        return NO_MATCH
    hit_files = pc.unique(deleted["__file"])
    lead = ((ds.metadata.cluster_spec or {}).get("cols")
            or ds.primary_keys)[0]
    order = cand.filter(pc.is_in(cand["__file"], value_set=hit_files)) \
        .group_by("__file").aggregate([(lead, "min")]) \
        .sort_by(f"{lead}_min")["__file"].to_pylist()
    kept = cand.filter(pc.invert(matched))
    survivors = [
        pa.concat_tables([
            kept.filter(pc.equal(kept["__file"], order[i]))
            .sort_by("__pos") for i in run
        ]).drop_columns(["__file", "__pos"])
        for run in np.array_split(np.arange(len(order)), min(
            len(order), ds.spark.sparkContext.defaultParallelism))
    ]
    positions = deleted.select(["__file", "__pos"])
    return CowSplit(affected_files(ds, positions), survivors,
                    write_deletes_log(ds, deleted), positions)


def write_deletes_log(ds, deleted: pa.Table) -> str:
    """Write a deletes log with pyarrow: the PK columns of ``deleted``
    (logical names, written physical) and its ``__file``/``__pos``
    provenance. Returns the log's relpath."""
    deletes_rel = ds.log.new_deletes_reldir()
    log_tbl = _physical_arrow(ds, deleted.select(ds.primary_keys))
    for c in ("__file", "__pos"):
        log_tbl = log_tbl.append_column(c, deleted[c])
    _write_arrow_file(
        ds, os.path.join(ds.log.abs_path(deletes_rel), "part-00000.parquet"),
        log_tbl)
    return deletes_rel


def affected_files(ds, positions: pa.Table) -> List[str]:
    """The sorted rel paths of the data files ``positions`` touches."""
    uris = pc.unique(positions["__file"].combine_chunks()).to_pylist()
    return sorted({ds._abs_to_rel_file(u) for u in uris})


def probe_deletes(ds, matches: DataFrame) -> CowSplit:
    """The distributed probe of a split over the driver bound. ONE job
    materializes it: matched rows' (PKs, source file, row position)
    land directly as the change-log deletes file; the affected files
    and the deleted positions are then one driver-side read of that
    output's ``__file``/``__pos`` columns, which a MoR delete also
    encodes as its delete vector.
    Readers of the deletes file select the PK columns, so the
    provenance columns ride along for free. ``survivors`` is left
    None."""
    pks = ds.primary_keys
    deletes_rel = ds.log.new_deletes_reldir()
    abs_del = ds.log.abs_path(deletes_rel)
    # Changelog PK files are written under PHYSICAL names too, so the
    # delete stream stays uniform across column renames.
    matches.select(
        *[F.col(k).alias(ds._phys_name(k)) for k in pks],
        "__file", "__pos",
    ).write.parquet(abs_del)
    # Only a write with no part file at all (zero partitions) means
    # "no matches"; any failure to read the log back must surface —
    # read as empty, it would commit the delete as a no-op.
    parts = [n for n in os.listdir(abs_del) if n.endswith(".parquet")]
    tbl = pq.read_table(abs_del, columns=["__file", "__pos"]) \
        if parts else None
    if tbl is None or tbl.num_rows == 0:
        import shutil

        shutil.rmtree(abs_del, ignore_errors=True)
        return NO_MATCH
    return CowSplit(affected_files(ds, tbl), None, deletes_rel, tbl)


# -------------------------------------------------------- file write
def _physical_arrow(ds, tbl: pa.Table) -> pa.Table:
    """Logical-named Arrow rows (a local input, a collected read) cast
    to the table's PHYSICAL file layout; every top-level column
    nullable, as Spark writes parquet."""
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(ds._physical_schema())
    target = pa.schema([
        target.field(ds._phys_name(n)).with_nullable(True)
        for n in tbl.column_names
    ])
    return tbl.rename_columns(target.names).cast(target)


def _write_arrow_file(ds, abs_path: str, tbl: pa.Table) -> None:
    """Driver-side write of rows already in the physical layout."""
    mf.write_data_file(abs_path, tbl,
                       int96_timestamps=_int96_timestamps(ds))


def write_data_files(ds, data, physical: bool = False):
    """Write data files for one commit; returns (manifest_rel, files,
    rows, bytes), with no manifest (None) when the output has no row.

    ``data`` is a DataFrame or a list of Arrow tables. Spark writes a
    DataFrame, one file per partition (the reference's sharded
    writers, ray/ops/append.py:32-120). Arrow tables are an output
    the driver already holds within ``_driver_bytes_max`` (slices of
    a local input, a CoW delete's survivors); the
    driver writes each non-empty one as a file with pyarrow, with no
    Spark job (the reference's in-process ``LocalAppendOp``,
    core/ops/append.py:164-244). Either way the driver then reads the
    footer stats and writes the manifest.

    ``physical=True`` means the rows already carry record-field
    ADDRESS structs (the copy-on-write survivor rewrite) — blobs are
    NOT rewritten, addresses carry over (reference ops/delete.py:
    42-45)."""
    commit_reldir = ds.log.new_commit_data_reldir()
    absdir = ds.log.abs_path(commit_reldir)
    if isinstance(data, list):
        for i, part in enumerate(data):
            if part.num_rows:
                _write_arrow_file(
                    ds, os.path.join(absdir, f"part-{i:05d}.parquet"),
                    _physical_arrow(ds, part))
    else:
        if ds.record_fields and not physical:
            data = rec.write_record_fields(data, ds.location,
                                           ds.record_fields)
        # Write half of the rename boundary: files always land under
        # the immutable PHYSICAL names, keeping every data file
        # uniform across renames (stats/pruning stay consistent
        # table-wide).
        ds._to_physical(data).write.parquet(absdir)
    rel_files = sorted(
        os.path.join(commit_reldir, name)
        for name in (os.listdir(absdir) if os.path.isdir(absdir)
                     else [])
        if name.endswith(".parquet")
    )
    stat_names = [n for n, _ in ds._stats_fields()]
    bloom_pks = ds._bloom_pks()
    stats = mf.collect_file_stats(
        ds.spark,
        [ds.log.abs_path(f) for f in rel_files],
        stat_names,
        bloom_pks=bloom_pks,
        bloom_bpk=ds._bloom_bpk(),
    )
    # Primary keys are NOT NULL (reference schema contract): a null
    # key row can never be matched by upsert/delete-by-key/point
    # reads, so it must be rejected loudly at ingress, not ingested
    # as unreachable data. Detection is free — the footer stats
    # just collected carry per-column null counts. (The written
    # files are uncommitted orphans; vacuum reclaims them.)
    ds._reject_null_pks(stats)
    if not sum(s["num_rows"] for s in stats):
        # No snapshot links a zero-row output, so write no manifest.
        return None, rel_files, 0, 0
    manifest_rel = ds.log.new_manifest_relpath()
    rows, nbytes = mf.write_manifest(
        ds.spark,
        ds.log.abs_path(manifest_rel),
        rel_files,
        stats,
        ds._stats_fields(),
        bloom_pks=bloom_pks,
    )
    if not physical and (ds.metadata.constraints
                         or ds.metadata.not_null):
        # Write-first CHECK enforcement: validate the files just
        # written (still uncommitted orphans) with ONE pushed-down
        # scan — row-group stats of compliant files falsify the
        # violation predicate, so clean data costs footer reads.
        # The input DataFrame is never re-evaluated (the same
        # double-evaluation hazard merge() pins against).
        violated = ds._constraint_violation_names(
            ds._read_files(rel_files)
        )
        if violated:
            raise ConstraintViolationError(
                f"Constraint(s) {violated} violated by "
                "incoming rows; write aborted before commit (the "
                "shard files are uncommitted orphans — vacuum "
                "reclaims them)"
            )
    return manifest_rel, rel_files, rows, nbytes
