"""Zero-copy ingestion: register external files into a space table without
rewriting them.

Parity (reference paths relative to /root/reference/python/src/space/):
- ``append_parquet``: register foreign Parquet files by writing manifest
  rows only — data files are referenced in place
  (core/loaders/parquet.py:30-74). The schema must match the table's index
  schema; stats come from the files' own footers.
- ``append_binary_files``: analog of the reference's external ArrayRecord
  load (core/loaders/array_record.py:36-109): for each external blob file,
  run a user ``index_fn`` over the payload to derive index columns; only
  the index Parquet (+ addresses pointing at the ORIGINAL files) is
  written — blobs are never copied. Here a "blob file" is any file whose
  bytes are one record (the common image/audio layout).
"""

from __future__ import annotations

import glob
import os
from typing import Callable, Dict, List

from pyspark.sql import functions as F
from pyspark.sql import types as T

from space_spark.core import manifests as mf
from space_spark.core import write_path
from space_spark.core.schema import ADDRESS_STRUCT, FILE_COL, ROW_ID_COL
from space_spark.errors import SpaceError, UserInputError


def append_parquet(dataset, pattern: str) -> None:
    """Zero-copy append: add external Parquet files matching ``pattern`` to
    the table via manifest entries only."""
    if dataset.record_fields:
        raise UserInputError(
            "Zero-copy Parquet load requires a table without record fields"
        )
    paths = sorted(glob.glob(pattern))
    if not paths:
        raise UserInputError(f"No files match {pattern!r}")
    dataset.reload()

    # Validate schema compatibility cheaply (names + types via one footer).
    # Driver-side footer read (r14-opt): spark.read.parquet(...).schema
    # launches a Spark schema-inference JOB even for one file; pyarrow
    # reads the same footer with none. Timestamp columns fall back to
    # the Spark path — parquet INT96 and isAdjustedToUTC handling
    # diverge between arrow's reader and Spark's inference, and the
    # whole point of this check is to reproduce exactly what Spark
    # would accept.
    want = dataset._physical_schema()
    got = None
    try:
        import pyarrow.parquet as _pq

        file_arrow = _pq.read_schema(paths[0])
        if "timestamp" not in str(file_arrow).lower() \
                and "timestamp" not in want.simpleString():
            from pyspark.sql.pandas.types import from_arrow_schema

            got = from_arrow_schema(file_arrow)
    except Exception:
        got = None  # exotic footer/type: let Spark's own reader decide
    if got is None:
        got = dataset.spark.read.parquet(paths[0]).schema
    if {f.name for f in got.fields} != {f.name for f in want.fields}:
        raise UserInputError(
            f"External schema {got.fieldNames()} != table "
            f"{want.fieldNames()}"
        )
    for f in want.fields:
        if got[f.name].dataType != f.dataType:
            raise UserInputError(
                f"External column {f.name!r} has type "
                f"{got[f.name].dataType.simpleString()}, table expects "
                f"{f.dataType.simpleString()}"
            )

    rel_paths = [os.path.relpath(p, dataset.location) for p in paths]
    stat_names = [n for n, _ in dataset._stats_fields()]
    bloom_pks = dataset._bloom_pks()
    stats = mf.collect_file_stats(dataset.spark, paths, stat_names,
                                  bloom_pks=bloom_pks,
                                  bloom_bpk=dataset._bloom_bpk())
    # External files must honor the table's contract too: null primary
    # keys are unreachable by every key-matching operation. Internal
    # writes always carry footer statistics, but a FOREIGN writer may
    # omit them — then the footer check proves nothing, so fall back to
    # a column-pruned scan of the PK columns in just those files (ADVICE
    # r6: best-effort footer stats silently admitted null PKs).
    dataset._reject_null_pks(stats)
    pk_phys = [dataset._phys_name(k) for k in dataset.primary_keys]
    unproven = [
        p for p, s in zip(paths, stats)
        if s["num_rows"] > 0
        and any(k not in s.get("null_counts_complete", ())
                for k in pk_phys)
    ]
    if unproven:
        row = (
            dataset.spark.read.parquet(*unproven)
            .select([
                F.count(F.when(F.col(k).isNull(), 1)).alias(k)
                for k in pk_phys
            ])
            .collect()[0]
        )
        for key, phys in zip(dataset.primary_keys, pk_phys):
            if row[phys]:
                raise UserInputError(
                    f"Primary key column {key!r} contains {row[phys]} "
                    "null value(s) in statistics-free external file(s); "
                    "space primary keys are NOT NULL"
                )
    if dataset.metadata.constraints or dataset.metadata.not_null:
        # External files must honor CHECK *and* NOT NULL constraints
        # like any write. Gating on CHECK alone let a NOT-NULL-only
        # table admit external NULLs (ADVICE r12): the shared checker
        # validates both kinds.
        #
        # Footer short-circuit (r14-opt, guide §6 / r13 verdict #5):
        # NOT NULL is provable from the files' own footers — a column
        # whose per-row-group null counts are COMPLETE (every group
        # recorded one; the same trust the validation scan's row-group
        # pushdown places in these footers) and total 0 cannot
        # violate. Files so proven skip the validation scan job
        # entirely; CHECK constraints (min/max stats cannot prove an
        # expression holds for ALL rows in the closed algebra) still
        # scan, as does any file whose footer can't prove a NOT NULL
        # column.
        nn_phys = [dataset._phys_name(c)
                   for c in (dataset.metadata.not_null or [])]

        def _nn_proven(s: dict) -> bool:
            return all(
                p in s["null_counts_complete"]
                and s.get("null_counts", {}).get(p, 0) == 0
                for p in nn_phys
            )

        if dataset.metadata.constraints:
            to_scan = list(rel_paths)
        else:
            to_scan = [rp for rp, s in zip(rel_paths, stats)
                       if s["num_rows"] > 0 and not _nn_proven(s)]
        violated = dataset._constraint_violation_names(
            dataset._read_files(to_scan)
        ) if to_scan else []
        if violated:
            from space_spark.errors import ConstraintViolationError

            raise ConstraintViolationError(
                f"Constraint(s) {violated} violated by external "
                "file(s); zero-copy load rejected"
            )
    if sum(s["num_rows"] for s in stats) == 0:
        # All matched files are empty: registering them would only add
        # dead entries to every future plan, and the shared commit loop
        # links no manifest for rows == 0 — writing one first would
        # orphan it (round-13 review). Documented no-op, like an empty
        # append.
        return
    manifest_rel = dataset.log.new_manifest_relpath()
    rows, nbytes = mf.write_manifest(
        dataset.spark, dataset.log.abs_path(manifest_rel), rel_paths, stats,
        dataset._stats_fields(), bloom_pks=bloom_pks,
    )
    # A row-adding commit like any other: the shared change commit
    # pins the constraint set and re-validates on conflict.
    dataset._commit_change("ZERO-COPY LOAD",
                           written=(manifest_rel, rel_paths, rows, nbytes))


def append_binary_files(
    dataset,
    pattern: str,
    index_fn: Callable[[bytes, str], Dict],
    record_field: str,
) -> None:
    """Zero-copy blob ingestion: each matching file becomes one row whose
    ``record_field`` address points at the ORIGINAL file (row_id 0); index
    columns come from ``index_fn(payload, path)``.

    The scan + index_fn run distributed over Spark's binaryFile source, so
    a 100 TB blob corpus indexes in parallel without copying a byte."""
    if record_field not in dataset.record_fields:
        raise UserInputError(f"{record_field!r} is not a record field")
    spark = dataset.spark

    bin_df = spark.read.format("binaryFile").load(pattern)
    index_schema = T.StructType(
        [
            f for f in dataset.schema.fields
            if f.name != record_field
        ]
    )
    location = dataset.location
    fn = index_fn

    out_schema = T.StructType(
        list(index_schema.fields)
        + [T.StructField(record_field, ADDRESS_STRUCT, True)]
    )

    def task(iterator):
        import pyarrow as pa_

        for batch in iterator:
            paths = batch.column(batch.schema.names.index("path")).to_pylist()
            contents = batch.column(
                batch.schema.names.index("content")
            ).to_pylist()
            cols: Dict[str, list] = {f.name: [] for f in index_schema.fields}
            files, row_ids = [], []
            for path, payload in zip(paths, contents):
                from urllib.parse import urlparse

                local = urlparse(path).path if "://" in path or \
                    path.startswith("file:") else path
                row = fn(payload, local)
                for f in index_schema.fields:
                    cols[f.name].append(row[f.name])
                files.append(os.path.relpath(local, location))
                row_ids.append(0)
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_out = to_arrow_schema(out_schema)
            arrays = []
            for f in arrow_out:
                if f.name == record_field:
                    arrays.append(
                        pa_.StructArray.from_arrays(
                            [pa_.array(files, pa_.string()),
                             pa_.array(row_ids, pa_.int32())],
                            names=[FILE_COL, ROW_ID_COL],
                        )
                    )
                else:
                    arrays.append(pa_.array(cols[f.name], type=f.type))
            yield pa_.RecordBatch.from_arrays(arrays, schema=arrow_out)

    physical_rows = bin_df.select("path", "content").mapInArrow(
        task, out_schema
    )
    # The index rows (with addresses) are written as normal data files;
    # blobs stay where they are.
    dataset.reload()
    manifest_rel, files, rows, nbytes = write_path.write_data_files(
        dataset, physical_rows, physical=True
    )
    if rows == 0:
        raise UserInputError(f"No files match {pattern!r}")
    if dataset.metadata.constraints or dataset.metadata.not_null:
        # physical=True skips the write-first check inside
        # write_path.write_data_files (its other caller re-writes
        # SURVIVOR rows, already validated when first admitted) — but
        # these index rows come from a user index_fn and were never
        # checked, so run the same one pushed-down scan here (ADVICE r12
        # follow-through).
        violated = dataset._constraint_violation_names(
            dataset._read_files(files)
        )
        if violated:
            from space_spark.errors import ConstraintViolationError

            raise ConstraintViolationError(
                f"Constraint(s) {violated} violated by index_fn rows; "
                "zero-copy load rejected (the index files are "
                "uncommitted orphans — vacuum reclaims them)"
            )
    dataset._commit_change("ZERO-COPY LOAD",
                           written=(manifest_rel, files, rows, nbytes))
