"""Runner compatibility shim: the reference splits execution into
``ds.local()`` (single-process) and ``ds.ray()`` (distributed) runners
(core/runners.py:203-287, ray/runners.py:52-316). Here ONE engine — Spark
— covers both, so both entry points return the same thin adapter whose
methods map 1:1 onto the reference runner surface; existing call sites
port verbatim.

Reads can come back as Arrow (the reference's batch convention) or as the
DataFrame itself for further Spark-side composition.
"""

from __future__ import annotations

import os
from typing import Iterator, List, Optional

import pyarrow as pa

# Default per-block ceiling for streaming reads: a block is a group of
# data files whose on-disk size sums to at most this many bytes, so the
# driver never holds more than ~one block of decoded rows at a time.
DEFAULT_BLOCK_BYTES = 128 << 20


class SparkRunner:
    """Adapter exposing the reference runner API over a Dataset/View."""

    def __init__(self, target):
        self._t = target

    # -- reads (reference core/runners.py:207-227) -------------------------
    def read(self, filter_=None, fields=None, version=None,
             reference_read: bool = False,
             batch_size: Optional[int] = None) -> Iterator[pa.RecordBatch]:
        """Iterator of Arrow record batches (the reference's read shape).
        ``batch_size`` re-slices batches; None keeps Spark's batching.

        Datasets stream block-by-block (see ``read_blocks``) so the whole
        result is never materialized at once; Views (UDF pipelines) fall
        back to a single-result reader."""
        from space_spark.core.views import View

        if not isinstance(self._t, View):
            return self.read_blocks(
                filter_=filter_, fields=fields, version=version,
                reference_read=reference_read, batch_size=batch_size,
            )
        df = self._df(filter_, fields, version, reference_read)
        reader = df.toArrow().to_reader() if batch_size is None else \
            df.toArrow().to_reader(max_chunksize=batch_size)
        return iter(reader)

    def read_blocks(self, filter_=None, fields=None, version=None,
                    reference_read: bool = False,
                    batch_size: Optional[int] = None,
                    max_block_bytes: int = DEFAULT_BLOCK_BYTES,
                    ) -> Iterator[pa.RecordBatch]:
        """Block-level streaming read (reference hands Ray per-file /
        per-row-range read tasks, ray/data_sources.py:105-126): the pruned
        file list is split into groups of at most ``max_block_bytes``
        on-disk bytes, and each group is read (filter + field selection +
        record resolution all apply) and yielded as Arrow batches before
        the next group starts. Driver memory is bounded by one block
        regardless of table size; planning is manifest-metadata only."""
        ds = self._t
        snap_id = ds.metadata.resolve_version(version, ds.branch)
        files = ds.data_files(filter_=filter_, version=snap_id)
        snapshot = ds.metadata.snapshot(snap_id)
        for block in self._split_blocks(ds, files, max_block_bytes):
            df = ds.read_files(
                block, filter_=filter_, fields=fields,
                reference_read=reference_read, snapshot=snapshot,
            )
            tbl = df.toArrow()
            reader = (tbl.to_reader() if batch_size is None
                      else tbl.to_reader(max_chunksize=batch_size))
            yield from reader

    @staticmethod
    def _split_blocks(ds, rel_files: List[str], max_block_bytes: int
                      ) -> Iterator[List[str]]:
        group, group_bytes = [], 0
        for f in rel_files:
            try:
                size = os.path.getsize(ds.log.abs_path(f))
            except OSError:
                size = max_block_bytes  # unknown: isolate the file
            if group and group_bytes + size > max_block_bytes:
                yield group
                group, group_bytes = [], 0
            group.append(f)
            group_bytes += size
        if group:
            yield group

    def read_all(self, filter_=None, fields=None, version=None,
                 reference_read: bool = False) -> pa.Table:
        """Whole result as one Arrow table (core/runners.py:58-77)."""
        return self._df(filter_, fields, version, reference_read).toArrow()

    def _df(self, filter_=None, fields=None, version=None,
            reference_read: bool = False):
        from space_spark.core.views import View

        if isinstance(self._t, View):
            return self._t.read()
        kwargs = {}
        if filter_ is not None:
            kwargs["filter_"] = filter_
        if fields is not None:
            kwargs["fields"] = fields
        if version is not None:
            kwargs["version"] = version
        if reference_read:
            kwargs["reference_read"] = True
        return self._t.read(**kwargs)

    # -- mutations (reference core/runners.py:239-287) ----------------------
    def append(self, data) -> None:
        self._t.append(self._to_df(data))

    def insert(self, data) -> None:
        self._t.insert(self._to_df(data))

    def upsert(self, data) -> None:
        self._t.upsert(self._to_df(data))

    def delete(self, filter_) -> None:
        self._t.delete(filter_)

    def diff(self, start_version, end_version) -> pa.Table:
        return self._t.diff(start_version, end_version).toArrow()

    def refresh(self, target_version=None):
        return self._t.refresh(target_version)

    def _to_df(self, data):
        """Accept a DataFrame, Arrow table, pandas frame, or dict-of-lists
        (the reference's InputData union). Arrow input becomes a
        LocalRelation through ``write_path.local_frame`` — no pandas
        round-trip, which both copied every column and let pandas dtype
        coercion mangle nested/extension types, and no row lost after a
        zero-row batch."""
        from pyspark.sql import DataFrame

        from space_spark.core import write_path as wp

        if isinstance(data, DataFrame):
            return data
        spark = self._t.spark
        if isinstance(data, dict):
            data = pa.Table.from_pydict(data)
        if isinstance(data, pa.Table):
            return wp.local_frame(spark, data, self._t.schema)
        return spark.createDataFrame(data, schema=self._t.schema)
