"""The workloads: how each builds its tables and runs each op
through the public ``space_spark`` API, and how the oracle checks it.

``run_op`` prepares an op's inputs, runs the engine call (including
the Spark action that materializes a read) inside ``timed()``, and
then checks the result against the model outside the timed part.
"""

from __future__ import annotations

import io
import os
from typing import Callable, ContextManager, Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from space_spark import Dataset, field
from space_spark.core.random_access import RandomAccessDataSource

import gen
from model import TableModel, group_totals, same_rows, table_rows

Timed = Callable[[], ContextManager]


def spark_schema(table: pa.Table) -> T.StructType:
    def dtype(t):
        if pa.types.is_integer(t):
            return T.LongType()
        if pa.types.is_binary(t):
            return T.BinaryType()
        return T.StringType()
    return T.StructType([T.StructField(f.name, dtype(f.type))
                         for f in table.schema])


def parquet_bytes(table: pa.Table) -> int:
    """Size of ``table`` written once as one snappy Parquet file."""
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.tell()


def dir_files(path: str) -> Dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def _sorted_rows(table: pa.Table, key: str) -> List[tuple]:
    return table_rows(table.sort_by(key))


class Workload:
    name = ""

    def __init__(self, spark, plan: gen.Plan):
        self.spark = spark
        self.plan = plan
        self.sizes = plan.sizes

    def df(self, table: pa.Table):
        return self.spark.createDataFrame(table, spark_schema(table))

    def measure_layout(self) -> None:
        """Files under a quarter of the bulk load's mean file size count
        as small (``storage.small_files_ratio``)."""
        ds = self.main
        sizes = [os.path.getsize(os.path.join(ds.location, f))
                 for f in ds.data_files()]
        self.small_file_bytes = sum(sizes) / len(sizes) / 4

    def keys_df(self, keys, name: str):
        return self.df(pa.table({name: np.asarray(keys, dtype=np.int64)}))

    # subclasses: setup(loc), run_op(op, timed) -> bool,
    # final_check(main table contents) -> bool,
    # tables() -> [(location, live contents)], main -> Dataset

    def stored_per_user_byte(self) -> float:
        stored = user = 0
        for loc, contents in self.tables():
            stored += sum(dir_files(loc).values())
            user += parquet_bytes(contents)
        return stored / user


GROUP_BY = ["l_returnflag", "l_shipmode"]


class IngestCdc(Workload):
    """Write path: appends, upserts, keyed deletes and MERGE into
    lineitem, with a row-wise MV and an aggregate MV over it that are
    refreshed incrementally every few batches and read back."""
    name = "ingest_cdc"

    def setup(self, loc: str) -> None:
        base = self.plan.base
        self.model = TableModel(base, "l_id")
        ds = Dataset.create(self.spark, os.path.join(loc, "lineitem"),
                            spark_schema(base), ["l_id"],
                            cluster_by=["l_id"])
        ds.append(self.df(base), target_files=self.sizes.base_files)
        self.main = ds
        self.measure_layout()
        self.mv = ds.filter_view(lambda r: r["l_returnflag"] == "R") \
            .materialize(self.spark, os.path.join(loc, "returned"))
        self.agg = ds.aggregate_view(
            GROUP_BY, {"n": ("count", "*"),
                       "total": ("sum", "l_price_cents")}
        ).materialize(self.spark, os.path.join(loc, "by_flag_mode"))
        self.mv.refresh()
        self.agg.refresh()
        # the source rows the views were last brought up to date with
        self.synced = dict(self.model.rows)

    def run_op(self, op: gen.Op, timed: Timed) -> bool:
        ds, model = self.main, self.model
        if op.kind == "refresh":
            with timed():
                self.mv.refresh()
                self.agg.refresh()
            self.synced = dict(model.rows)
            return True
        if op.kind == "mv_read":
            keys = [int(k) for k in op.keys]
            with timed():
                agg = self.agg.read().toArrow()
                got = self.mv.dataset.read_by_keys(keys).toArrow()
            return self._agg_ok(agg) and \
                same_rows(got, model, self.returned(keys))
        if op.kind == "delete":
            kdf = self.keys_df(op.keys, "l_id")
            with timed():
                ds.delete_by_keys(kdf)
            model.delete(op.keys)
            return True
        rows = gen.op_rows(op, self.sizes)
        df = self.df(rows)
        if op.kind == "append":
            with timed():
                ds.append(df)
        elif op.kind == "upsert":
            with timed():
                ds.upsert(df)
        elif op.kind == "merge":
            with timed():
                ds.merge(df, when_matched=[
                    {"action": "delete",
                     "condition": lambda s, t: s["l_discount"] == 0},
                    {"action": "update"}], when_not_matched="insert")
            gone = gen.merge_deletes(op, self.sizes)
            rows = rows.filter(pc.invert(
                pc.is_in(rows["l_id"], pa.array(gone))))
            model.delete(gone)
        else:
            raise ValueError(op.kind)
        model.put(rows)
        return True

    def returned(self, keys) -> Dict[int, tuple]:
        """Expected filter-view rows for ``keys`` as of the last refresh."""
        flag = self.model.col("l_returnflag")
        return {int(k): self.synced[int(k)] for k in keys
                if int(k) in self.synced
                and self.synced[int(k)][flag] == "R"}

    def agg_rows(self) -> Dict[tuple, Tuple[int, int]]:
        return group_totals(self.model, self.synced.values(), GROUP_BY,
                            "l_price_cents")

    def _agg_ok(self, got: pa.Table) -> bool:
        rows = table_rows(got.select(GROUP_BY + ["n", "total"]))
        return {r[:2]: r[2:] for r in rows} == self.agg_rows()

    def final_check(self, got: pa.Table) -> bool:
        """Main table as scanned; both views as of the last refresh."""
        mv = self.mv.read().toArrow()
        return _sorted_rows(got.select(self.model.columns), "l_id") == \
            table_rows(self.model.to_table()) and \
            _sorted_rows(mv.select(self.model.columns), "l_id") == \
            [r for _, r in sorted(self.returned(self.synced).items())] \
            and self._agg_ok(self.agg.read().toArrow())

    def tables(self):
        live = self.model.to_table()
        returned = self.returned(self.synced)
        groups = self.agg_rows()
        agg = pa.table({
            "l_returnflag": [g[0] for g in groups],
            "l_shipmode": [g[1] for g in groups],
            "n": [v[0] for v in groups.values()],
            "total": [v[1] for v in groups.values()],
        })
        return [(self.main.location, live),
                (self.mv.dataset.location, pa.table(
                    {c: [r[i] for r in returned.values()]
                     for i, c in enumerate(self.model.columns)},
                    schema=live.schema)),
                (self.agg.dataset.location, agg)]


class LookupScan(Workload):
    """Read path over a table built by the engine's own small commits,
    plus random access to record-field blobs."""
    name = "lookup_scan"

    def setup(self, loc: str) -> None:
        base = self.plan.base
        self.model = TableModel(base, "l_id")
        ds = Dataset.create(self.spark, os.path.join(loc, "lineitem"),
                            spark_schema(base), ["l_id"],
                            cluster_by=["l_id"],
                            bloom_filters=["l_id", "l_partkey"])
        ds.append(self.df(base), target_files=self.sizes.base_files)
        self.main = ds
        self.measure_layout()
        self.versions = [(ds.current_snapshot_id, self.model.checksum())]
        for op in self.plan.setup_commits:
            rows = gen.op_rows(op, self.sizes)
            if op.kind == "append":
                ds.append(self.df(rows))
            else:
                ds.upsert(self.df(rows))
            self.model.put(rows)
            self.versions.append((ds.current_snapshot_id,
                                  self.model.checksum()))
        self.main = ds
        docs = self.plan.docs
        self.docs = Dataset.create(self.spark, os.path.join(loc, "docs"),
                                   spark_schema(docs), ["doc_id"],
                                   record_fields=["text"])
        self.docs.append(self.df(docs).repartition(self.sizes.doc_files))
        self.reader = RandomAccessDataSource(self.docs, ["text"])
        self.texts = docs["text"].to_pylist()
        self.keys = np.sort(np.fromiter(self.model.rows, np.int64))

    def run_op(self, op: gen.Op, timed: Timed) -> bool:
        ds, model = self.main, self.model
        if op.kind == "point_read":
            keys = [int(k) for k in op.keys]
            with timed():
                got = ds.read_by_keys(keys).toArrow()
            return same_rows(got, model, model.get(keys))
        if op.kind == "range_scan":
            lo, hi = op.value, op.value + 2 * self.sizes.range_keys
            with timed():
                got = ds.read((field("l_id") >= lo)
                              & (field("l_id") < hi)).toArrow()
            want = self.keys[(self.keys >= lo) & (self.keys < hi)]
            return same_rows(got, model, model.get(want))
        if op.kind == "full_scan":
            with timed():
                row = ds.read(field("l_quantity") > op.value).agg(
                    F.count(F.lit(1)), F.sum("l_price_cents")).collect()[0]
            a = model.arrays()
            m = a["l_quantity"] > op.value
            return (row[0], row[1] or 0) == (int(m.sum()),
                                             int(a["l_price_cents"][m].sum()))
        if op.kind == "bloom_read":
            with timed():
                got = ds.read(field("l_partkey") == op.value).toArrow()
            a = model.arrays()
            want = a["l_id"][a["l_partkey"] == op.value]
            return same_rows(got, model, model.get(want))
        if op.kind == "time_travel":
            version, want = self.versions[op.value - 1]
            ints = list(model.arrays())
            with timed():
                row = ds.read(version=version).agg(
                    F.count(F.lit(1)), *[F.sum(c) for c in ints]).collect()[0]
            return (row[0], sum(row[1:])) == want
        if op.kind == "random_access":
            idx = [int(i) for i in op.keys]
            with timed():
                got = self.reader.__getitems__(idx)
            return got == [self.texts[i] for i in idx]
        raise ValueError(op.kind)

    def final_check(self, got: pa.Table) -> bool:
        docs = self.docs.read().toArrow()
        return _sorted_rows(got.select(self.model.columns), "l_id") == \
            table_rows(self.model.to_table()) and \
            docs.sort_by("doc_id")["text"].to_pylist() == self.texts

    def tables(self):
        return [(self.main.location, self.model.to_table()),
                (self.docs.location, self.plan.docs)]


WORKLOADS = {w.name: w for w in (IngestCdc, LookupScan)}
