"""Spark Python DataSource for space tables: ``spark.read.format("space")``
and ``spark.readStream.format("space")``.

This is the DataSourceV2 "escape hatch" SCALE.md describes, working today:

- **Batch**: planning happens entirely over manifest metadata (the same
  Spark-free pyarrow pruning path interactive reads use), pushed-down
  filters skip whole files, and each ``InputPartition`` is a size-bounded
  file group that EXECUTORS read directly with pyarrow — the driver never
  materializes a ``spark.read.parquet(*paths)`` list, so planning cost is
  O(manifest rows), not O(path-list bytes). Every reader here reads a
  file with ``manifests.read_data_file``, the one pyarrow reader of
  table rows the driver's reads (``write_path.read_arrow``) use too.
- **Streaming**: offsets are snapshot ids; each micro-batch reads exactly
  the data files ADDED between two snapshots (append-driven, the same
  contract as Spark's file streaming source; CoW survivor rewrites carry
  ``added_files=[]`` so deletes/upserts never re-emit old rows).

Reference parity: ray/data_sources.py:38-151 exposes the same shape to Ray
(block-level read tasks from the storage layer); here the blocks are Spark
``InputPartition``s and Catalyst drives the scan.

Filters are reported back as unsupported even though they drive BOTH
file-level manifest pruning and executor-scan row-group filtering: Spark
re-applies every predicate row-level, so both uses stay optimizations,
never correctness dependencies. Column pruning comes from the read schema
(``.schema(...)`` or ``option("fields", ...)``) — Spark's Python data
source API has no required-columns pushdown to forward automatically.
"""

from __future__ import annotations

import os
from typing import Iterator, List, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from space_spark.core import bitmaps as bm
from space_spark.core import manifests as mf
from space_spark.core import metadata as md
from space_spark.core import schema as sc
from space_spark.core.expressions import Expr, field

DEFAULT_PARTITION_BYTES = 128 << 20


# ---------------------------------------------------------------- helpers --
def _load(location: str):
    log = md.MetadataLog(location)
    return log, log.read_metadata()


# Change-feed column names — same values as core/dataset.py's
# CHANGE_TYPE_COL/CHANGE_SNAPSHOT_COL/CHANGE_ORDER_COL (defined locally:
# executors unpickle this module standalone, and core.dataset pulls in the
# whole driver-side surface).
_CDF_TYPE = "_change_type"
_CDF_SNAPSHOT = "_snapshot_id"
_CDF_ORDER = "_change_order"


def _truthy(options, key: str) -> bool:
    return str(options.get(key, "")).lower() in ("true", "1", "yes")


def _physical(meta) -> T.StructType:
    return sc.physical_schema(meta.schema, meta.record_fields)


def _arrow_schema(spark_schema: T.StructType) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def _filters_to_expr(filters: List[Filter],
                     renames: Optional[dict] = None) -> Optional[Expr]:
    """Translate Spark's pushed filters into the falsifiable-pruning Expr
    DSL (conjunction of the recognizable comparisons; anything else is
    simply not used for pruning). Attribute names arrive LOGICAL from
    Spark; ``renames`` maps them to the PHYSICAL names manifest stats are
    keyed by."""
    renames = renames or {}
    ops = {
        EqualTo: lambda f, v: f == v,
        GreaterThan: lambda f, v: f > v,
        GreaterThanOrEqual: lambda f, v: f >= v,
        LessThan: lambda f, v: f < v,
        LessThanOrEqual: lambda f, v: f <= v,
    }
    expr = None
    for flt in filters:
        build = ops.get(type(flt))
        attr = getattr(flt, "attribute", None)
        if build is None or attr is None or len(attr) != 1:
            continue
        term = build(field(renames.get(attr[0], attr[0])), flt.value)
        expr = term if expr is None else (expr & term)
    return expr


def _prune(log, meta, snapshot_id: int, expr: Optional[Expr],
           with_sizes: bool = False) -> List:
    """Manifest pruning without a SparkSession (pyarrow backend; falls back
    to the unpruned list rather than failing planning). ``with_sizes``
    returns (rel_path, size_bytes) pairs straight from the manifests so
    partition planning never stats data files."""
    snap = meta.snapshot(snapshot_id)
    paths = [log.abs_path(p) for p in snap.manifest_files]
    if not paths:
        return []
    ren = getattr(meta, "renames", {}) or {}
    stat_names = {
        n for n, _ in sc.stats_fields(
            sc.rename_struct(meta.schema, ren),
            [ren.get(f, f) for f in meta.record_fields],
        )
    }
    try:
        return mf._prune_files_arrow(paths, expr, stat_names,
                                     with_sizes=with_sizes)
    except Exception:
        return mf._prune_files_arrow(paths, None, stat_names,
                                     with_sizes=with_sizes)


def _bloom_equality_prune_sized(log, meta, snapshot_id: int,
                                sized: List[tuple],
                                expr) -> List[tuple]:
    """Bloom membership pruning for partition planning: drop (rel,
    bytes) entries whose per-file filters prove a top-level equality
    conjunct's literal absent — ``blooms.probe_values``, the values a
    ``Dataset`` read probes (``expr``, pushFilters plus prune_expr,
    already carries PHYSICAL names). Never raises into planning: any
    failure degrades to the stats-pruned list."""
    from space_spark.core import blooms as _bl

    try:
        bloom = getattr(meta, "bloom", None)
        if (expr is None or not sized or not bloom
                or bloom.get("v") != _bl.BLOOM_VERSION):
            return sized
        # Same probe-size discipline as Dataset.BLOOM_PROBE_MAX_KEYS.
        probe = _bl.probe_values(expr, meta.schema,
                                 getattr(meta, "renames", {}) or {},
                                 set(bloom.get("pks", ())), 10_000)
        if not probe:
            return sized
        snap = meta.snapshot(snapshot_id)
        by_file = mf.read_file_blooms(
            [log.abs_path(p) for p in snap.manifest_files],
            sorted(probe),
            only_files={rel for rel, _ in sized},
        )
        return [
            (rel, b) for rel, b in sized
            if _bl.file_matches_value_sets(by_file.get(rel, {}), probe)
        ]
    except Exception:  # pragma: no cover — planning must never fail here
        return sized


def _split_row_groups(path: str, max_bytes: int) -> List[tuple]:
    """Split one over-sized file into row-group-aligned units
    ``(path, [row-group indices])`` of ~max_bytes each — the reference's
    row-range ReadTask splitting (ray/options.py enable_row_range_block,
    runtime.proto:43-52 row slices), aligned to parquet's natural block
    boundary. One driver-side footer read per over-sized file only."""
    meta = pq.ParquetFile(path).metadata
    units, group, size = [], [], 0
    for i in range(meta.num_row_groups):
        b = meta.row_group(i).total_byte_size
        if group and size + b > max_bytes:
            units.append((path, group))
            group, size = [], 0
        group.append(i)
        size += b
    if group:
        units.append((path, group))
    return units if len(units) > 1 else [path]


def _group_sized(sized_paths, max_bytes: int) -> Iterator[List[object]]:
    """``_group_files`` with KNOWN sizes (from manifest rows): planning
    makes zero filesystem stat/HEAD calls — at 100k surviving files
    that's the difference between one manifest scan and 100k object-
    store round-trips. Only an over-sized file (> max_bytes) opens its
    footer, to split on row-group boundaries."""
    group, size = [], 0
    for p, b in sized_paths:
        if b is None:
            b = max_bytes
        if b > max_bytes:
            for unit in _split_row_groups(p, max_bytes):
                yield [unit]
            continue
        if group and size + b > max_bytes:
            yield group
            group, size = [], 0
        group.append(p)
        size += b
    if group:
        yield group


def _group_files(abs_paths: List[str], max_bytes: int
                 ) -> Iterator[List[object]]:
    """``_group_sized`` with sizes from os.stat — for callers holding
    bare paths (stream readers over per-snapshot file lists); the batch
    reader passes manifest sizes instead and never stats."""
    def stat_size(p):
        try:
            return os.path.getsize(p)
        except OSError:
            return None  # _group_sized's one-file-per-partition default

    return _group_sized(((p, stat_size(p)) for p in abs_paths), max_bytes)


# Spark types whose comparison semantics match pyarrow's exactly — safe to
# evaluate executor-side. Floats are EXCLUDED (Spark orders NaN above all
# values; arrow comparisons return null), as are timestamps (session-TZ
# coupling) and decimals.
_ARROW_SAFE_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.StringType, T.BooleanType, T.DateType,
)


def _filters_to_arrow(filters: List[Filter], table_schema: T.StructType,
                      renames: Optional[dict] = None):
    """(pyarrow dataset filter expression, referenced column names) from
    the pushed Spark filters — conjunction of the recognizable comparisons
    over arrow-safe column types; (None, set()) when nothing qualifies.

    Purely an optimization: Spark re-applies every filter row-level (we
    report them all back as unsupported), so a skipped term can never
    change results — only an over-eager one could, hence the strict type
    gate."""
    import pyarrow.dataset as pads

    safe_cols = {
        f.name for f in table_schema
        if isinstance(f.dataType, _ARROW_SAFE_TYPES)
    }
    ops = {
        EqualTo: lambda f, v: f == v,
        GreaterThan: lambda f, v: f > v,
        GreaterThanOrEqual: lambda f, v: f >= v,
        LessThan: lambda f, v: f < v,
        LessThanOrEqual: lambda f, v: f <= v,
    }
    expr, names = None, set()
    for flt in filters:
        build = ops.get(type(flt))
        attr = getattr(flt, "attribute", None)
        if build is None or attr is None or len(attr) != 1:
            continue
        name = attr[0]
        if name not in safe_cols:
            continue
        import datetime

        if not isinstance(flt.value, (bool, int, str, datetime.date)):
            continue  # floats and exotic literals: let Spark handle them
        # Executor scans address files under PHYSICAL column names.
        phys = (renames or {}).get(name, name)
        term = build(pads.field(phys), flt.value)
        expr = term if expr is None else (expr & term)
        names.add(phys)
    return expr, names


def _read_units(units, schema: pa.Schema, renames: dict, masks=None,
                **kw) -> Iterator[pa.RecordBatch]:
    """Batches of the file units ``_group_files`` planned (a path, or
    (path, [row-group indices]) of an over-sized file) under the read
    schema, each read by ``manifests.read_data_file`` with its delete
    vector's mask from ``masks``."""
    for unit in units:
        path, row_groups = unit if isinstance(unit, tuple) else (unit, None)
        yield from mf.read_data_file(
            path, schema, renames, row_groups=row_groups,
            mask=(masks or {}).get(path), **kw).to_batches()


# ------------------------------------------------------------------ batch --
class SpaceBatchReader(DataSourceReader):
    def __init__(self, location: str, options, read_schema: T.StructType):
        self.location = location
        self.version = options.get("version")
        self.max_bytes = int(options.get("partition_bytes",
                                         DEFAULT_PARTITION_BYTES))
        # The read schema (user-specified via .schema()/option("fields")
        # or the full physical schema) is resolved ONCE on the driver and
        # shipped in the pickled reader — executors never re-read
        # metadata, and only these columns are scanned.
        self.read_schema = read_schema
        self._expr: Optional[Expr] = None
        self._arrow_filter_src: List[Filter] = []
        # Full falsifiable pruning expression forwarded by
        # Dataset._datasource_read (option("prune_expr", <json>)):
        # Catalyst re-pushes only simple comparison conjuncts, so
        # OR/IN predicates would otherwise prune nothing on this path.
        # ANDed with whatever pushFilters later recognizes. Declarative
        # JSON, NOT pickle: options are plain strings reachable from
        # SQL (CREATE TABLE ... USING space OPTIONS (...)), so this is
        # a trust boundary — expr_from_json rejects anything outside
        # the closed Field/Literal/Comparison/And/Or/Not algebra and
        # can never execute code (ADVICE r9 medium). A malformed value
        # raises ValueError here rather than degrading to a full scan.
        self._base_expr: Optional[Expr] = None
        raw = options.get("prune_expr")
        if raw:
            from space_spark.core.expressions import expr_from_json

            self._base_expr = expr_from_json(raw)
        # Pin the snapshot AND load its merge-on-read delete-vector blobs
        # HERE: Spark pickles the reader at construction, so state set in
        # partitions() (which runs on a driver-side copy) never reaches
        # executors. The blobs are O(deleted) bytes (roaring-compact) and
        # decode per file in the executor's read.
        log, meta = _load(location)
        version = int(self.version) if self.version is not None else None
        self.snap_id = meta.resolve_version(version)
        self._masks = bm.vector_masks(log, meta.snapshot(self.snap_id))
        # logical -> physical column names (rename_column support); ships
        # in the pickled reader so executors translate without metadata.
        self.renames = dict(getattr(meta, "renames", {}) or {})

    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        self._expr = _filters_to_expr(filters, self.renames)
        self._arrow_filter_src = list(filters)
        # File-level pruning + executor-scan filtering only — every filter
        # must still run row-level in Spark.
        return iter(filters)

    def partitions(self) -> List[InputPartition]:
        log, meta = _load(self.location)
        expr = self._base_expr
        if self._expr is not None:
            expr = self._expr if expr is None else (expr & self._expr)
        sized = _prune(log, meta, self.snap_id, expr,
                       with_sizes=True)
        sized = _bloom_equality_prune_sized(log, meta, self.snap_id,
                                            sized, expr)
        groups = list(_group_sized(
            ((log.abs_path(p), b) for p, b in sized), self.max_bytes
        ))
        return [InputPartition(g) for g in groups] or [InputPartition([])]

    def read(self, partition: InputPartition) -> Iterator[pa.RecordBatch]:
        filt, names = _filters_to_arrow(self._arrow_filter_src,
                                        self.read_schema, self.renames)
        yield from _read_units(partition.value,
                               _arrow_schema(self.read_schema), self.renames,
                               self._masks, arrow_filter=filt,
                               filter_names=names)


# -------------------------------------------------------------- streaming --
class SpaceStreamReader(DataSourceStreamReader):
    """Snapshot-id offsets; micro-batches read added files only."""

    def __init__(self, location: str, options, read_schema: T.StructType):
        self.location = location
        self.start_version = int(options.get("startingversion", 0))
        self.max_bytes = int(options.get("partition_bytes",
                                         DEFAULT_PARTITION_BYTES))
        self.read_schema = read_schema
        _, meta = _load(location)
        self.renames = dict(getattr(meta, "renames", {}) or {})

    def initialOffset(self) -> dict:
        return {"snapshot_id": self.start_version}

    def latestOffset(self) -> dict:
        _, meta = _load(self.location)
        return {"snapshot_id": meta.resolve_version(None)}

    def _added_files(self, start: int, end: int) -> List[str]:
        log, meta = _load(self.location)
        out: List[str] = []
        snap_id = end
        while snap_id > start:
            snap = meta.snapshot(snap_id)
            out.extend(log.abs_path(p) for p in snap.added_files)
            if snap.parent_snapshot_id is None:
                break
            snap_id = snap.parent_snapshot_id
        out.reverse()  # oldest first
        return out

    def partitions(self, start: dict, end: dict) -> List[InputPartition]:
        files = self._added_files(start["snapshot_id"], end["snapshot_id"])
        groups = list(_group_files(files, self.max_bytes))
        return [InputPartition(g) for g in groups] or [InputPartition([])]

    def read(self, partition: InputPartition) -> Iterator[pa.RecordBatch]:
        yield from _read_units(partition.value,
                               _arrow_schema(self.read_schema), self.renames)

    def commit(self, end: dict) -> None:
        pass  # progress is tracked by the stream's own checkpoint


class SpaceChangeFeedStreamReader(DataSourceStreamReader):
    """CDC streaming read of the change feed (Delta-CDF-style
    ``option("readChangeFeed", "true")``): each micro-batch emits the
    change rows of the snapshots between the offsets — ADD rows with full
    columns, DELETE rows with primary keys only (other columns null), plus
    ``_change_type`` / ``_snapshot_id`` / ``_change_order`` (deletes sort
    before adds within a snapshot — the replay order MV refresh requires,
    reference core/ops/change_data.py:123-127).

    Offsets are snapshot ids (monotone); partitions ship only file paths
    and constants, and executors read parquet directly — per-snapshot
    DELETE changelogs are O(deleted) parquet, ADD files are grouped under
    the same size ceiling as the batch reader. The reference's change feed
    is batch-only (SURVEY.md §2.9); this is the Structured-Streaming
    continuous form of it."""

    def __init__(self, location: str, options, cdf_schema: T.StructType):
        self.location = location
        self.start_version = int(options.get("startingversion", 0))
        self.max_bytes = int(options.get("partition_bytes",
                                         DEFAULT_PARTITION_BYTES))
        # cdf_schema = physical schema + the three change columns (built by
        # SpaceDataSource.schema()); the table part drives file reads.
        self.cdf_schema = cdf_schema
        names = cdf_schema.fieldNames()
        cut = names.index(_CDF_TYPE)
        self.table_schema = T.StructType(cdf_schema.fields[:cut])
        _, meta = _load(location)
        self.primary_keys = list(meta.primary_keys)
        self.renames = dict(getattr(meta, "renames", {}) or {})
        md.warn_if_cdf_starts_at_clone_origin(meta, self.start_version)

    def initialOffset(self) -> dict:
        return {"snapshot_id": self.start_version}

    def latestOffset(self) -> dict:
        _, meta = _load(self.location)
        return {"snapshot_id": meta.resolve_version(None)}

    def partitions(self, start: dict, end: dict) -> List[InputPartition]:
        log, meta = _load(self.location)
        lo, hi = start["snapshot_id"], end["snapshot_id"]
        snaps = []
        sid = hi
        while sid > lo:
            snap = meta.snapshot(sid)
            snaps.append(snap)
            if snap.parent_snapshot_id is None:
                break
            sid = snap.parent_snapshot_id
        snaps.reverse()  # oldest first
        parts: List[InputPartition] = []
        for snap in snaps:
            if snap.deleted_pks_file:
                parts.append(InputPartition(
                    ("D", snap.snapshot_id,
                     mf.parquet_files(log.abs_path(snap.deleted_pks_file)))
                ))
            added = [log.abs_path(p) for p in snap.added_files]
            for group in _group_files(added, self.max_bytes):
                parts.append(InputPartition(("A", snap.snapshot_id, group)))
        return parts or [InputPartition(("A", hi, []))]

    def read(self, partition: InputPartition) -> Iterator[pa.RecordBatch]:
        kind, sid, units = partition.value
        out_schema = _arrow_schema(self.cdf_schema)
        if kind == "D":
            schema = _arrow_schema(T.StructType(
                [self.table_schema[k] for k in self.primary_keys]))
            kind, order = "DELETE", 0
        else:
            schema = _arrow_schema(self.table_schema)
            kind, order = "ADD", 1
        for batch in _read_units(units, schema, self.renames):
            yield from _constants_appended(
                pa.Table.from_batches([batch]), out_schema, kind, sid, order)

    def commit(self, end: dict) -> None:
        pass  # progress is tracked by the stream's own checkpoint


def _constants_appended(
    tbl: pa.Table,
    out_schema: pa.Schema,
    change_type: str,
    snapshot_id: int,
    order: int,
) -> Iterator[pa.RecordBatch]:
    """Align ``tbl`` (read-schema columns) to the CDF output schema:
    missing table columns become nulls, the three change columns become
    constants."""
    n = len(tbl)
    consts = {
        _CDF_TYPE: pa.array([change_type] * n, pa.string()),
        _CDF_SNAPSHOT: pa.array([snapshot_id] * n, pa.int64()),
        _CDF_ORDER: pa.array([order] * n, pa.int32()),
    }
    cols = [consts[f.name] if f.name in consts
            else tbl.column(f.name) if f.name in tbl.column_names
            else pa.nulls(n, f.type) for f in out_schema]
    yield from pa.table(dict(zip(out_schema.names, cols)),
                        schema=out_schema).to_batches()


# ----------------------------------------------------------------- source --
# Field-metadata key smuggling the table location through the session
# catalog: for catalog tables (CREATE TABLE ... USING space), Spark's
# Python-data-source bridge constructs the DataSource with EMPTY options
# on every statement after the CREATE — but it does hand reader()/writer()
# the catalog-persisted schema, so schema() stamps the location onto the
# first field and later statements recover it from there.
LOCATION_METADATA_KEY = "space.location"


def _stamp_location(schema: T.StructType, location: str) -> T.StructType:
    fields = list(schema.fields)
    meta = dict(fields[0].metadata or {})
    meta[LOCATION_METADATA_KEY] = os.path.abspath(location)
    fields[0] = T.StructField(fields[0].name, fields[0].dataType,
                              fields[0].nullable, meta)
    return T.StructType(fields)


class SpaceDataSource(DataSource):
    """``format("space").option("path"| "location", <table dir>)``.

    Options: ``version`` (batch time travel), ``startingVersion``
    (streaming replay start, default 0 = full history),
    ``readChangeFeed`` (streaming CDC: emit ADD/DELETE change rows with
    ``_change_type``/``_snapshot_id``/``_change_order`` instead of
    appended rows — see SpaceChangeFeedStreamReader),
    ``partition_bytes`` (per-InputPartition ceiling), ``fields``
    (comma-separated column projection — Spark's Python data source API
    has no required-columns pushdown, so narrow reads are declared
    up-front here or via ``.schema(...)``; either way executors scan only
    the named columns).

    SQL surface: an EXISTING space table attaches to the session catalog
    with ``CREATE TABLE name USING space OPTIONS (table_path '<dir>')``
    (no column list — the schema comes from the table, carrying the
    location in field metadata); after that ``SELECT``/``INSERT INTO``/
    ``spark.table(name)`` work. ``path`` also works as the option key but
    Spark then treats it as the (reserved) table path; ``table_path``
    avoids the clash with an explicit ``LOCATION`` clause. CTAS is not
    supported: Spark hands the writer neither options nor an annotated
    schema there (create the table first, then ``INSERT INTO ... SELECT``).
    """

    @classmethod
    def name(cls) -> str:
        return "space"

    def _location(self, schema: Optional[T.StructType] = None) -> str:
        loc = (self.options.get("path") or self.options.get("location")
               or self.options.get("table_path"))
        if not loc and schema is not None and len(schema.fields) > 0:
            loc = (schema.fields[0].metadata or {}).get(
                LOCATION_METADATA_KEY
            )
        if not loc:
            raise ValueError(
                "space source requires .option('path', ...) or "
                ".load(<table location>); for SQL catalog tables, attach "
                "an existing table with CREATE TABLE <name> USING space "
                "OPTIONS (table_path '<dir>') and no column list (CTAS "
                "and column-list DDL cannot carry the table location "
                "through Spark's Python data source bridge)"
            )
        if loc.startswith("file:"):
            # Spark's catalog normalizes a reserved 'path' option to a
            # file: URI before handing it to INSERT INTO's writer —
            # without this strip the URI gets os.path.join'd as a
            # relative path and the table "disappears" for SQL DML.
            # unquote: the same normalization percent-escapes spaces
            # and friends; the raw path must come back byte-for-byte.
            from urllib.parse import unquote, urlparse

            loc = unquote(urlparse(loc).path)
        return loc

    def schema(self) -> T.StructType:
        loc = self._location()
        _, meta = _load(loc)
        phys = _physical(meta)
        fields_opt = self.options.get("fields")
        if fields_opt:
            names = [n.strip() for n in fields_opt.split(",") if n.strip()]
            missing = [n for n in names if n not in phys.fieldNames()]
            if missing:
                raise ValueError(f"Unknown fields {missing}; "
                                 f"table has {phys.fieldNames()}")
            phys = T.StructType([phys[n] for n in names])
        if _truthy(self.options, "readchangefeed"):
            phys = (
                phys.add(_CDF_TYPE, T.StringType())
                .add(_CDF_SNAPSHOT, T.LongType())
                .add(_CDF_ORDER, T.IntegerType())
            )
        return _stamp_location(phys, loc)

    def reader(self, schema: T.StructType) -> SpaceBatchReader:
        return SpaceBatchReader(self._location(schema), self.options,
                                schema)

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
        if _truthy(self.options, "readchangefeed"):
            return SpaceChangeFeedStreamReader(
                self._location(schema), self.options, schema
            )
        return SpaceStreamReader(self._location(schema), self.options,
                                 schema)

    def writer(self, schema: T.StructType, overwrite: bool):
        from space_spark.sources.datasink import SpaceBatchWriter

        return SpaceBatchWriter(self._location(schema), self.options,
                                schema, overwrite)

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        from space_spark.sources.datasink import SpaceStreamWriter

        return SpaceStreamWriter(self._location(schema), self.options,
                                 schema)


def register_space_source(spark) -> None:
    """Register the 'space' format on a session (idempotent). Also enables
    Python-data-source filter pushdown (off by default in Spark 4.1), which
    the reader requires for its file-level pruning hook.

    Ships the package zip BEFORE registering: Spark captures the session's
    python-includes list into the data-source wrapper at register() time,
    and the driver-side planner workers (create_data_source /
    plan_data_source_read / write_into_data_source) build sys.path from
    that captured list — a zip added after registration never reaches
    them, and ``import space_spark`` fails off-repo."""
    from space_spark.deploy import ensure_shipped

    ensure_shipped(spark)
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # static-conf sessions: pushFilters simply never fires
    spark.dataSource.register(SpaceDataSource)
