"""Write side of the ``space`` Spark data source: ``df.write.format("space")``
(batch append) and ``df.writeStream.format("space")`` (streaming append).

Storage is exposed to Spark symmetrically with the read side (reference
parity: ray/data_sources.py:38-151 + RayAppendOp, ray/ops/append.py:32-120
give Ray the same write shape) — a Spark user can land a changefeed with
``.writeStream`` instead of dropping to the ``Dataset`` API.

Spark's two-phase commit maps 1:1 onto the table's optimistic commit
protocol:

- ``write`` (executors): each task streams its Arrow batches into ONE
  parquet data file — the same distributed shard write ``Dataset.append``
  plans, without a driver round-trip.
- ``commit`` (driver): footer stats -> one manifest -> one append
  snapshot commit through ``metadata.retry_commit``.
- ``abort``: written shards are dropped; the table never referenced them.

Instance lifecycle (dictated by Spark's Python data source workers): the
BATCH writer object created at planning is pickled through to both the
executors and the commit worker, so it can carry a per-job commit
directory. The STREAMING commit worker constructs a FRESH writer per
micro-batch commit, so the streaming path is message-driven: tasks write
uniquely-named files and every path travels via commit messages.

Streaming exactly-once: the snapshot commit atomically records
``(sink_id -> batchId)`` in table metadata, so a micro-batch replayed
after a crash between sink-commit and checkpoint-advance is recognized
and its re-written shards are discarded (Spark's own file sink plays the
same trick with its log).
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Iterator, List, Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from space_spark.core import expressions as ex
from space_spark.core import manifests as mf
from space_spark.core import metadata as md
from space_spark.core import schema as sc
from space_spark.errors import (
    ConstraintViolationError,
    UserInputError,
)


@dataclass
class FilesCommitMessage(WriterCommitMessage):
    rel_files: List[str]
    # constraints_version of the metadata this task VALIDATED its
    # batches against (-1 = unknown/legacy). The driver pins the MIN
    # across tasks at commit, so a constraint that lands after any task
    # validated forces a driver-side re-validation (the reverse
    # add_constraint TOCTOU — see MetadataLog.commit_snapshot).
    constraints_version: int = -1


def _arrow_schema(spark_schema: T.StructType) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def _sink_generated(meta) -> List[tuple]:
    """Generated-column (name, expr-json) pairs for _write_shard —
    plain strings, safe to pickle to tasks."""
    return sorted((getattr(meta, "generated_columns", {}) or {}).items())


def _validated_table_arrow(location: str, input_schema: T.StructType
                           ) -> pa.Schema:
    """Validate the incoming DataFrame's columns against the table and
    return the table's Arrow schema (the write layout)."""
    meta = md.MetadataLog(location).read_metadata()
    if meta.record_fields:
        raise UserInputError(
            "format('space') writes do not support record (blob) fields "
            "yet — use Dataset.append for this table"
        )
    if getattr(meta, "identity_columns", {}) or {}:
        raise UserInputError(
            "format('space') writes do not support identity columns: "
            "value-range reservation needs the table's commit lock, "
            "which sink tasks cannot take — use Dataset.append (it "
            "reserves once per write, then assigns distributed)"
        )
    table_schema = sc.physical_schema(meta.schema, meta.record_fields)
    missing = set(table_schema.fieldNames()) - set(input_schema.fieldNames())
    extra = set(input_schema.fieldNames()) - set(table_schema.fieldNames())
    if missing or extra:
        raise UserInputError(
            f"Input schema mismatch: missing={sorted(missing)} "
            f"extra={sorted(extra)}; table has {table_schema.fieldNames()}"
        )
    return _arrow_schema(table_schema)


def _phys_arrow(logical_arrow: pa.Schema, meta) -> pa.Schema:
    """The parquet write schema: logical field order/types renamed to the
    immutable PHYSICAL column names data files are keyed by (the write
    half of the rename_column boundary — same as
    ``Dataset._write_data_files``)."""
    ren = getattr(meta, "renames", {}) or {}
    if not ren:
        return logical_arrow
    # with_name keeps nullability and field metadata — rebuilding with
    # pa.field(name, type) would silently drop non-null flags from
    # post-rename files that pre-rename files carry.
    return pa.schema(
        [f.with_name(ren.get(f.name, f.name)) for f in logical_arrow]
    )


# Batches a sink task holds before it streams the rest of its file: a
# file written whole gets an exact NaN note and a dictionary choice over
# all its rows, as parquet-mr buffers a whole row group.
SHARD_HOLD_BYTES = 64 << 20


def _write_shard(location: str, rel: str, table_arrow: pa.Schema,
                 iterator: Iterator[pa.RecordBatch],
                 write_arrow: Optional[pa.Schema] = None,
                 constraints: Optional[List[tuple]] = None,
                 generated: Optional[List[tuple]] = None,
                 not_null: Optional[List[str]] = None,
                 constraints_version: int = -1
                 ) -> FilesCommitMessage:
    """Executor side: write this task's batches as one parquet file,
    aligned to the table's column order/types. Up to
    ``SHARD_HOLD_BYTES`` of batches are held and written whole
    (``manifests.write_data_file``); past that the rest streams into the
    file one batch at a time. Returns no file for an
    empty task (no zero-row shards in the manifest). ``write_arrow``
    (default: ``table_arrow``) names the columns in the FILE — the
    physical names under a rename_column.

    ``constraints``: [(name, expr_to_json string)] CHECK constraints —
    evaluated per batch with Arrow compute BEFORE any bytes hit disk
    (the batch is already in memory, so enforcement costs zero IO;
    violation = expression FALSE, NULL passes). A violating task raises
    and the writer's abort() cleans the commit directory.

    ``generated``: [(column, expr_to_json string)] generated-column
    definitions — each column is RECOMPUTED per batch with Arrow
    compute before constraints run, mirroring Dataset._align (supplied
    values are overwritten, keeping the declared invariant)."""
    abs_path = os.path.join(location, rel)
    write_arrow = write_arrow or table_arrow
    checks = []
    if constraints:
        from space_spark.core.expressions import expr_from_json

        checks = [(n, expr_from_json(j)) for n, j in constraints]
    gens = []
    if generated:
        from space_spark.core.expressions import expr_from_json

        gens = [(n, expr_from_json(j)) for n, j in generated]
    held: List[pa.RecordBatch] = []
    held_bytes = 0
    writer: Optional[pq.ParquetWriter] = None
    try:
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            for gname, gexpr in gens:
                idx = batch.schema.get_field_index(gname)
                val = ex.eval_arrow_rows(gexpr, batch)
                if isinstance(val, pa.ChunkedArray):
                    val = val.combine_chunks()
                elif isinstance(val, pa.Scalar):  # constant expression
                    val = pa.array([val.as_py()] * batch.num_rows)
                val = pc.cast(val, batch.schema.field(idx).type)
                batch = batch.set_column(
                    idx, batch.schema.field(idx), val
                )
            for nname in (not_null or []):
                idx = batch.schema.get_field_index(nname)
                if idx >= 0 and batch.column(idx).null_count:
                    raise ConstraintViolationError(
                        f"NOT NULL({nname}) violated by "
                        f"{batch.column(idx).null_count} row(s) in "
                        "this write"
                    )
            for cname, cexpr in checks:
                mask = ex.eval_arrow_rows(cexpr, batch)
                bad = pc.sum(
                    pc.invert(pc.fill_null(mask, True))
                ).as_py() or 0
                if bad:
                    raise ConstraintViolationError(
                        f"CHECK constraint {cname!r} violated by "
                        f"{bad} row(s) in this write"
                    )
            cols = [
                batch.column(batch.schema.get_field_index(f.name)).cast(
                    f.type
                )
                for f in table_arrow
            ]
            aligned = pa.RecordBatch.from_arrays(cols, schema=write_arrow)
            if writer is not None:
                writer.write_batch(aligned)
                continue
            held.append(aligned)
            held_bytes += aligned.nbytes
            if held_bytes > SHARD_HOLD_BYTES:
                # The rest of the task is unseen: pick dictionary columns
                # from the held rows and note every float column as
                # possibly NaN (a NaN max only keeps the file in pruning).
                head = pa.Table.from_batches(held, write_arrow)
                writer = mf.open_data_file(
                    abs_path, head,
                    [f.name for f in write_arrow
                     if pa.types.is_floating(f.type)])
                writer.write_table(head)
                held = []
        if writer is None and held:
            mf.write_data_file(abs_path,
                               pa.Table.from_batches(held, write_arrow))
    finally:
        if writer is not None:
            writer.close()
    return FilesCommitMessage(rel_files=[rel] if writer or held else [],
                              constraints_version=constraints_version)


def _files_from(messages) -> List[str]:
    return sorted(
        rel for m in messages if m is not None for rel in m.rel_files
    )


def _pinned_cv(messages) -> Optional[int]:
    """MIN constraints_version any task validated against (None when no
    task reported one) — the pessimistic pin for the commit."""
    vs = [m.constraints_version for m in messages
          if m is not None and getattr(m, "constraints_version", -1) >= 0]
    return min(vs) if vs else None


def _validate_files_live(location: str, rel_files: List[str], meta) -> None:
    """Driver-side re-validation of already-written shard files against
    the LIVE constraint set — the retry arm of the reverse
    add_constraint TOCTOU (a task validated against version V; the
    commit found V' > V). Shards are small (one micro-batch / task), so
    one Arrow pass per file is cheap next to the conflict itself.
    Shard files carry PHYSICAL column names; constraints reference
    logical names, so columns are aliased back before evaluation."""
    from space_spark.core.expressions import expr_from_json

    checks = [(n, expr_from_json(j))
              for n, j in sorted((meta.constraints or {}).items())]
    nn = sorted(getattr(meta, "not_null", []) or [])
    if not checks and not nn:
        return
    ren = getattr(meta, "renames", {}) or {}
    inv = {p: l for l, p in ren.items()}
    for rel in rel_files:
        tbl = pq.read_table(os.path.join(location, rel))
        tbl = tbl.rename_columns(
            [inv.get(c, c) for c in tbl.column_names]
        )
        cols = set(tbl.column_names)
        for batch in tbl.to_batches():
            for nname in nn:
                idx = batch.schema.get_field_index(nname)
                # A NOT NULL column ABSENT from the shard (concurrent
                # add_column + add_not_null racing this write) reads as
                # all-NULL on the table's scan path, so it must reject
                # here too — the Dataset-path revalidation does (ADVICE
                # r13); only CHECK keeps the skip (NULL passes CHECK).
                if idx < 0 or batch.column(idx).null_count:
                    raise ConstraintViolationError(
                        f"NOT NULL({nname}) committed concurrently is "
                        "violated by this write's rows"
                        + (" (column absent from shard reads as NULL)"
                           if idx < 0 else "")
                        + "; commit aborted"
                    )
            for cname, cexpr in checks:
                if not cexpr.fields() <= cols:
                    # Constraint references a column this shard predates
                    # (concurrent add_column + add_constraint): the
                    # Dataset path reads the absent column as NULL and
                    # SQL CHECK passes NULL rows — skip, don't crash
                    # (round-12 review finding).
                    continue
                mask = ex.eval_arrow_rows(cexpr, batch)
                bad = pc.sum(
                    pc.invert(pc.fill_null(mask, True))
                ).as_py() or 0
                if bad:
                    raise ConstraintViolationError(
                        f"CHECK constraint {cname!r} committed "
                        f"concurrently is violated by {bad} row(s) of "
                        "this write; commit aborted"
                    )


def _commit_append(location: str, branch: str, rel_files: List[str],
                   mutate=None,
                   pinned_constraints_version: Optional[int] = None,
                   operation: str = "APPEND"
                   ) -> None:
    """Driver side: manifest from shard footers, then one optimistic
    append commit (``md.retry_commit``); a conflict re-validates the
    shards without Spark if the constraint set moved."""
    log = md.MetadataLog(location)
    meta = log.read_metadata()
    ren = getattr(meta, "renames", {}) or {}
    stat_fields = sc.stats_fields(
        sc.rename_struct(meta.schema, ren),
        [ren.get(f, f) for f in meta.record_fields],
    )
    stat_names = [n for n, _ in stat_fields]
    bloom_pks = tuple((getattr(meta, "bloom", None) or {}).get("pks", ()))
    bloom_bpk = (getattr(meta, "bloom", None) or {}).get("bpk")
    stats = [
        mf._footer_stats(log.abs_path(f), stat_names, bloom_pks,
                         bloom_bpk)
        for f in rel_files
    ]
    rows = sum(s["num_rows"] for s in stats)
    manifest_rel = None
    if rows > 0:
        manifest_rel = log.new_manifest_relpath()
        rows, nbytes = mf.write_manifest(
            None, log.abs_path(manifest_rel), rel_files, stats, stat_fields,
            bloom_pks=bloom_pks,
        )
    else:
        if mutate is None:
            return  # empty batch write: nothing to commit
        nbytes = 0

    def attempt():
        pinned = meta.resolve_version(None, branch)
        snap = md.append_snapshot(meta.snapshot(pinned), manifest_rel,
                                  rel_files, rows, nbytes,
                                  operation=operation)
        log.commit_snapshot(
            pinned, branch, snap, mutate=mutate,
            pinned_constraints_version=pinned_constraints_version,
        )

    def on_conflict():
        nonlocal meta, pinned_constraints_version
        meta = log.read_metadata()
        if (pinned_constraints_version is not None
                and meta.constraints_version
                != pinned_constraints_version):
            _validate_files_live(location, rel_files, meta)
            pinned_constraints_version = meta.constraints_version

    md.retry_commit(attempt, on_conflict)


def _drop_files(location: str, rel_files: List[str]) -> None:
    for rel in rel_files:
        try:
            os.remove(os.path.join(location, rel))
        except OSError:
            pass


# ------------------------------------------------------------------- batch --
class SpaceBatchWriter(DataSourceArrowWriter):
    """One write job -> one snapshot. The instance is pickled from
    planning to executors AND to the commit worker, so the per-job commit
    directory is shared state; abort can rmtree it (covering partial
    files from failed tasks, which never appear in commit messages)."""

    def __init__(self, location: str, options, input_schema: T.StructType,
                 overwrite: bool):
        if overwrite:
            raise UserInputError(
                "format('space') supports mode('append') only: the "
                "whole-table DELETE change-log entry needs a distributed "
                "PK dump the sink's commit worker cannot run; use "
                "Dataset.overwrite(df) — same semantics, one commit"
            )
        self.location = location
        self.branch = options.get("branch", md.MAIN_BRANCH)
        self.table_arrow = _validated_table_arrow(location, input_schema)
        meta = md.MetadataLog(location).read_metadata()
        self.write_arrow = _phys_arrow(self.table_arrow, meta)
        # (name, json) pairs — plain strings, safe to pickle to tasks.
        self.constraints = sorted(
            (getattr(meta, "constraints", {}) or {}).items()
        )
        self.generated = _sink_generated(meta)
        self.not_null = sorted(getattr(meta, "not_null", []) or [])
        self.constraints_version = getattr(meta, "constraints_version", 0)
        self.commit_reldir = md.MetadataLog(location).new_commit_data_reldir()

    def write(self, iterator: Iterator[pa.RecordBatch]
              ) -> FilesCommitMessage:
        rel = os.path.join(self.commit_reldir,
                           f"part-{uuid.uuid4().hex[:16]}.parquet")
        return _write_shard(self.location, rel, self.table_arrow, iterator,
                            self.write_arrow, self.constraints,
                            self.generated, self.not_null,
                            constraints_version=self.constraints_version)

    def commit(self, messages) -> None:
        _commit_append(self.location, self.branch, _files_from(messages),
                       pinned_constraints_version=_pinned_cv(messages))

    def abort(self, messages) -> None:
        shutil.rmtree(os.path.join(self.location, self.commit_reldir),
                      ignore_errors=True)


# --------------------------------------------------------------- streaming --
class SpaceStreamWriter(DataSourceStreamArrowWriter):
    """Micro-batch appends; one snapshot per non-empty micro-batch.

    ``option("sink_id", ...)`` names the progress slot for exactly-once
    dedup — two different streaming queries appending to one table should
    use distinct ids (default: "default").

    Spark constructs a fresh instance of this class for every micro-batch
    COMMIT while executors keep the planning-time instance for writes, so
    no per-batch state lives on ``self`` — shard paths travel exclusively
    in commit messages."""

    def __init__(self, location: str, options, input_schema: T.StructType):
        self.location = location
        self.branch = options.get("branch", md.MAIN_BRANCH)
        self.sink_id = options.get("sink_id", "default")
        self.table_arrow = _validated_table_arrow(location, input_schema)
        meta = md.MetadataLog(location).read_metadata()
        self.write_arrow = _phys_arrow(self.table_arrow, meta)
        self.constraints = sorted(
            (getattr(meta, "constraints", {}) or {}).items()
        )
        self.generated = _sink_generated(meta)
        self.not_null = sorted(getattr(meta, "not_null", []) or [])
        self.constraints_version = getattr(meta, "constraints_version", 0)

    def write(self, iterator: Iterator[pa.RecordBatch]
              ) -> FilesCommitMessage:
        rel = os.path.join(
            "data", f"stream-{uuid.uuid4().hex[:16]}.parquet"
        )
        # Constraints are re-read HERE, not from the planning-time
        # snapshot on self: a long-running stream must enforce an
        # add_constraint() that lands mid-stream on every later
        # micro-batch (and stop enforcing a dropped one). One small
        # metadata-JSON read per task per batch — noise next to the
        # shard write itself. The write schema stays planning-time
        # pinned: mid-stream schema evolution is a restart, not a
        # silent remap.
        try:
            live = md.MetadataLog(self.location).read_metadata()
            constraints = sorted(
                (getattr(live, "constraints", {}) or {}).items()
            )
            not_null = sorted(getattr(live, "not_null", []) or [])
            cv = getattr(live, "constraints_version", 0)
        except OSError:  # pragma: no cover - metadata briefly unreadable
            constraints = self.constraints
            not_null = self.not_null
            cv = self.constraints_version
        return _write_shard(self.location, rel, self.table_arrow, iterator,
                            self.write_arrow, constraints,
                            self.generated, not_null,
                            constraints_version=cv)

    def commit(self, messages, batchId: int) -> None:
        rel_files = _files_from(messages)
        meta = md.MetadataLog(self.location).read_metadata()
        if meta.stream_progress.get(self.sink_id, -1) >= batchId:
            # Replayed micro-batch (crash between sink commit and
            # checkpoint advance): the data is already in the table —
            # discard the re-written shards.
            _drop_files(self.location, rel_files)
            return

        def mark(m, _sid=self.sink_id, _bid=batchId):
            m.stream_progress[_sid] = _bid

        _commit_append(self.location, self.branch, rel_files, mutate=mark,
                       pinned_constraints_version=_pinned_cv(messages),
                       operation="STREAMING APPEND")

    def abort(self, messages, batchId: int) -> None:
        _drop_files(self.location, _files_from(messages))
