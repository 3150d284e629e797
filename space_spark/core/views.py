"""Views: lazy UDF/join transform DAGs over datasets, and materialized
views with incremental, change-feed-driven refresh.

Parity (reference paths relative to /root/reference/python/src/space/):
- View.map_batches / View.filter / View.join -> core/views.py:42-244
- Plan persistence: the reference serializes a Substrait Plan + cloudpickled
  UDFs (core/transform/plans.py:37-117). Substrait is an encoding detail,
  not a capability: we persist a JSON op tree + cloudpickled UDFs under
  ``_space/udfs/`` (views.py:296-303), reloaded to rebuild the DAG
  (core/transform/udfs.py:216-266).
- materialize() -> core/views.py:113-123,293-307
- Incremental refresh -> ray/runners.py:174-260: per source snapshot,
  deletes FIRST then adds (required order, core/ops/change_data.py:123-127);
  deletes arrive as PK-only rows and bypass UDFs (runners.py:79-96 — filter
  views may over-delete, documented at core/views.py:166-169); adds flow
  through the transform chain then append.
- Join views cannot be materialized (core/transform/join.py:128-129) and
  join results cannot be joined again (ray/ops/utils.py:30-40).

Spark-first: UDF transforms run as ``mapInArrow`` stages (Arrow-batched,
pipelined inside a Spark stage, no extra shuffle); the join is a plain
DataFrame equi-join that Catalyst plans (broadcast/SMJ/AQE).
"""

from __future__ import annotations

import json
import os
from typing import Callable, Iterator, List, Optional, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

try:
    from pyspark import cloudpickle  # vendored, matches executor pickling
except ImportError:  # pragma: no cover
    import pickle as cloudpickle  # type: ignore

from space_spark.core import metadata as md
from space_spark.core import schema as sc
from space_spark.errors import SpaceError, UserInputError


# --------------------------------------------------------------------- nodes
class _Node:
    def schema(self) -> T.StructType:
        raise NotImplementedError

    def primary_keys(self) -> List[str]:
        raise NotImplementedError

    def record_fields(self) -> List[str]:
        return []

    def sources(self) -> List["object"]:
        raise NotImplementedError

    def eval(self) -> DataFrame:
        """Recompute the view as a DataFrame."""
        raise NotImplementedError

    def apply_to(self, df: DataFrame) -> DataFrame:
        """Apply only this DAG's transforms to an externally supplied source
        DataFrame (the refresh path: core/transform/udfs.py:102-104)."""
        raise NotImplementedError

    def to_dict(self, udf_sink) -> dict:
        raise NotImplementedError


class _SourceNode(_Node):
    def __init__(self, dataset):
        self.dataset = dataset

    def schema(self):
        return self.dataset.schema

    def primary_keys(self):
        return self.dataset.primary_keys

    def record_fields(self):
        return self.dataset.record_fields

    def sources(self):
        return [self.dataset]

    def eval(self):
        return self.dataset.read()

    def apply_to(self, df):
        return df

    def to_dict(self, udf_sink):
        return {"op": "source", "location": self.dataset.location}


def _arrow_batches_adapter(
    fn: Callable, out_schema: T.StructType, batch_size: Optional[int]
):
    """Wrap a reference-style batch UDF (dict[str, np.ndarray] -> dict) into
    a mapInArrow task (core/views.py:126-159 batch convention)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_out = to_arrow_schema(out_schema)

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            slices = [batch]
            if batch_size and batch.num_rows > batch_size:
                slices = [
                    batch.slice(i, batch_size)
                    for i in range(0, batch.num_rows, batch_size)
                ]
            for b in slices:
                data = {
                    name: b.column(i).to_numpy(zero_copy_only=False)
                    for i, name in enumerate(b.schema.names)
                }
                result = fn(data)
                arrays = [
                    pa.array(np.asarray(result[f.name]), type=f.type)
                    for f in arrow_out
                ]
                yield pa.RecordBatch.from_arrays(arrays, schema=arrow_out)

    return task


class _MapBatchesNode(_Node):
    def __init__(self, parent, fn, output_schema, input_fields,
                 output_record_fields, batch_size):
        self.parent = parent
        self.fn = fn
        self.output_schema = output_schema
        self.input_fields = input_fields
        self.output_record_fields = list(output_record_fields or [])
        self.batch_size = batch_size
        for pk in parent.primary_keys():
            if pk not in output_schema.fieldNames():
                raise UserInputError(
                    f"map_batches output must retain primary key {pk!r}"
                )

    def schema(self):
        return self.output_schema

    def primary_keys(self):
        return self.parent.primary_keys()

    def record_fields(self):
        return self.output_record_fields

    def sources(self):
        return self.parent.sources()

    def _project(self, df):
        if self.input_fields:
            return df.select(*self.input_fields)
        return df

    def eval(self):
        # _apply_self on the parent's EVALUATED output: routing through
        # apply_to here would re-apply every intermediate transform (it
        # recurses the whole parent chain itself) — the chained-view
        # read() defect the stream_refresh tests exposed.
        return self._apply_self(self.parent.eval())

    def apply_to(self, df):
        return self._apply_self(self.parent.apply_to(df))

    def _apply_self(self, df):
        task = _arrow_batches_adapter(self.fn, self.output_schema,
                                      self.batch_size)
        return self._project(df).mapInArrow(task, self.output_schema)

    def to_dict(self, udf_sink):
        return {
            "op": "map_batches",
            "parent": self.parent.to_dict(udf_sink),
            "udf": udf_sink(self.fn),
            "output_schema": json.loads(self.output_schema.json()),
            "input_fields": self.input_fields,
            "output_record_fields": self.output_record_fields,
            "batch_size": self.batch_size,
        }


class _FilterNode(_Node):
    def __init__(self, parent, fn, input_fields):
        self.parent = parent
        self.fn = fn
        self.input_fields = input_fields

    def schema(self):
        return self.parent.schema()

    def primary_keys(self):
        return self.parent.primary_keys()

    def record_fields(self):
        return self.parent.record_fields()

    def sources(self):
        return self.parent.sources()

    def eval(self):
        # See _MapBatchesNode.eval: single application of THIS node on
        # the parent's evaluated output. This is also what lets a
        # filter/map chain sit ON TOP OF a join view for lazy reads
        # (apply_to still rejects joins — they can't refresh
        # incrementally — but eval never needs apply_to).
        return self._apply_self(self.parent.eval())

    def apply_to(self, df):
        return self._apply_self(self.parent.apply_to(df))

    def _apply_self(self, df):
        fn = self.fn
        visible = self.input_fields or df.columns
        out_schema = df.schema

        def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                rows = batch.select(
                    [c for c in visible if c in batch.schema.names]
                ).to_pylist()
                mask = pa.array([bool(fn(r)) for r in rows], pa.bool_())
                yield batch.filter(mask)

        return df.mapInArrow(task, out_schema)

    def to_dict(self, udf_sink):
        return {
            "op": "filter",
            "parent": self.parent.to_dict(udf_sink),
            "udf": udf_sink(self.fn),
            "input_fields": self.input_fields,
        }


class _JoinNode(_Node):
    def __init__(self, left, right, keys, left_fields, right_fields,
                 left_reference_read, right_reference_read):
        if isinstance(keys, str):
            keys = [keys]
        if len(keys) != 1:
            # Parity: exactly one join key (core/views.py:195-201). Spark
            # joins on many keys trivially; lift after parity tests pass.
            raise UserInputError("join supports exactly one key")
        self.left, self.right, self.keys = left, right, list(keys)
        for side, name in ((left, "left"), (right, "right")):
            if self.keys[0] not in side.primary_keys():
                raise UserInputError(
                    f"Join key must be a primary key of the {name} side"
                )
        self.left_fields = left_fields
        self.right_fields = right_fields
        self.left_reference_read = left_reference_read
        self.right_reference_read = right_reference_read

    def _side_df(self, node, fields, reference_read):
        ds = node.dataset if isinstance(node, _SourceNode) else None
        if ds is not None:
            sel = fields or ds.schema.fieldNames()
            if self.keys[0] not in sel:
                sel = self.keys + list(sel)
            return ds.read(fields=sel, reference_read=reference_read)
        df = node.eval()
        if fields:
            sel = fields if self.keys[0] in fields else self.keys + list(fields)
            df = df.select(*sel)
        return df

    def schema(self):
        key = self.keys[0]
        fields = []
        lsch, rsch = self.left.schema(), self.right.schema()
        lsel = self.left_fields or lsch.fieldNames()
        rsel = self.right_fields or rsch.fieldNames()
        fields.append(lsch[key])
        for n in lsel:
            if n != key:
                f = lsch[n]
                if n in self.left.record_fields() and self.left_reference_read:
                    f = T.StructField(n, sc.ADDRESS_STRUCT, True)
                fields.append(f)
        for n in rsel:
            if n != key:
                f = rsch[n]
                if n in self.right.record_fields() and self.right_reference_read:
                    f = T.StructField(n, sc.ADDRESS_STRUCT, True)
                fields.append(f)
        return T.StructType(fields)

    def primary_keys(self):
        return self.keys

    def record_fields(self):
        out = []
        if not self.left_reference_read:
            out += [f for f in self.left.record_fields()
                    if f in (self.left_fields or self.left.schema().fieldNames())]
        if not self.right_reference_read:
            out += [f for f in self.right.record_fields()
                    if f in (self.right_fields or self.right.schema().fieldNames())]
        return out

    def sources(self):
        return self.left.sources() + self.right.sources()

    def eval(self):
        # Inner equi-join; Catalyst picks broadcast vs sort-merge, AQE
        # handles skew — replaces the reference's manual key-range
        # partitioning (ray/ops/join.py:67-101). Struct (address) columns
        # join fine in Spark: no flatten/refold hack needed
        # (cf. transform/join.py:119-135).
        ldf = self._side_df(self.left, self.left_fields,
                            self.left_reference_read)
        rdf = self._side_df(self.right, self.right_fields,
                            self.right_reference_read)
        return ldf.join(rdf, on=self.keys, how="inner")

    def apply_to(self, df):
        raise SpaceError("Join views cannot be incrementally refreshed")

    def to_dict(self, udf_sink):
        raise SpaceError(
            "Join views cannot be materialized"  # transform/join.py:128-129
        )


# ---------------------------------------------------------------------- View
class View:
    """A lazy transform DAG; ``read()`` recomputes from current sources."""

    def __init__(self, node: _Node):
        self._node = node

    @staticmethod
    def source(dataset) -> "View":
        return View(_SourceNode(dataset))

    @staticmethod
    def join(left_ds, right_ds, keys, left_fields=None, right_fields=None,
             left_reference_read=False, right_reference_read=False) -> "View":
        return View(
            _JoinNode(
                _SourceNode(left_ds), _SourceNode(right_ds), keys,
                left_fields, right_fields,
                left_reference_read, right_reference_read,
            )
        )

    # -- transform builders (core/views.py:126-181) -------------------------
    def map_batches(self, fn, output_schema, input_fields=None,
                    output_record_fields=(), batch_size=None) -> "View":
        return View(
            _MapBatchesNode(self._node, fn, output_schema, input_fields,
                            output_record_fields, batch_size)
        )

    def filter(self, fn, input_fields=None) -> "View":
        return View(_FilterNode(self._node, fn, input_fields))

    # -- execution -----------------------------------------------------------
    @property
    def schema(self) -> T.StructType:
        return self._node.schema()

    @property
    def primary_keys(self) -> List[str]:
        return self._node.primary_keys()

    def read(self) -> DataFrame:
        return self._node.eval()

    to_df = read

    def process_source(self, df: DataFrame) -> DataFrame:
        return self._node.apply_to(df)

    # -- materialization ------------------------------------------------------
    def materialize(self, spark: SparkSession, location: str
                    ) -> "MaterializedView":
        from space_spark.core.dataset import Dataset

        if isinstance(self._node, _JoinNode):
            raise SpaceError("Join views cannot be materialized")
        srcs = self._node.sources()
        if len(set(s.location for s in srcs)) != 1:
            raise SpaceError("Materialize requires a single source dataset")
        source = srcs[0]

        log = md.MetadataLog(location)
        if log.exists():
            raise SpaceError(f"Table already exists at {location}")
        log.init_location()

        udf_registry = {}

        def udf_sink(fn) -> str:
            # uuid in the NAME (the plan references it and the loader
            # derives the path from it): deterministic names would let
            # the loser of a create/create race overwrite the winner's
            # pickled UDFs before its exclusive publish fails.
            name = f"udf_{len(udf_registry)}_{md.new_uuid()}"
            rel = os.path.join("_space", "udfs", f"{name}.pkl")
            with open(log.abs_path(rel), "wb") as f:
                cloudpickle.dump(fn, f)
            udf_registry[name] = rel
            return name

        plan = self._node.to_dict(udf_sink)
        schema = sc.assign_field_ids(self.schema)
        meta = md.initial_metadata(
            md.TYPE_MATERIALIZED_VIEW,
            schema,
            self.primary_keys,
            self._node.record_fields(),
            sc.field_id_map(schema),
            logical_plan={
                "plan": plan,
                "source_location": source.location,
                "source_snapshot_synced": 0,
            },
            udf_registry=udf_registry,
        )
        log.write_metadata(meta, create=True)
        mv_ds = Dataset(spark, log, meta)
        return MaterializedView(mv_ds, self)


def _load_plan_node(spark, plan: dict, log: md.MetadataLog) -> _Node:
    op = plan["op"]
    if op == "source":
        from space_spark.core.dataset import Dataset

        return _SourceNode(Dataset.load(spark, plan["location"]))
    parent = _load_plan_node(spark, plan["parent"], log)

    def load_udf(name: str):
        rel = os.path.join("_space", "udfs", f"{name}.pkl")
        with open(log.abs_path(rel), "rb") as f:
            return cloudpickle.load(f)

    if op == "map_batches":
        return _MapBatchesNode(
            parent,
            load_udf(plan["udf"]),
            T.StructType.fromJson(plan["output_schema"]),
            plan.get("input_fields"),
            plan.get("output_record_fields") or [],
            plan.get("batch_size"),
        )
    if op == "filter":
        return _FilterNode(parent, load_udf(plan["udf"]),
                           plan.get("input_fields"))
    raise SpaceError(f"Unknown plan op {op!r}")


def sync_marker_mutate(snapshot_id: int, expected_prev: int):
    """Metadata mutate advancing a materialized view's source-synced
    marker to ``snapshot_id``. It REFUSES unless the stored marker still
    equals ``expected_prev``: another refresher (or this handle, if
    stale) got there first, and folding the same source snapshot twice
    would duplicate rows. The check runs inside the commit critical
    section, so the commit aborts before any metadata is written."""

    def mutate(meta: md.StorageMetadata):
        cur = int(meta.logical_plan.get("source_snapshot_synced", 0))
        if cur != expected_prev:
            raise SpaceError(
                "Concurrent refresh detected: expected this view to be "
                f"synced at source snapshot {expected_prev} but the "
                f"stored marker is {cur}; reload and refresh again"
            )
        meta.logical_plan["source_snapshot_synced"] = snapshot_id

    return mutate


class MaterializedView:
    """A view with its own storage; ``refresh()`` incrementally syncs from
    the source's change feed (ray/runners.py:135-260)."""

    def __init__(self, dataset, view: View):
        self.dataset = dataset
        self.view = view

    @staticmethod
    def load(spark: SparkSession, location: str) -> "MaterializedView":
        from space_spark.core.dataset import Dataset

        ds = Dataset.load(spark, location)
        if ds.metadata.table_type != md.TYPE_MATERIALIZED_VIEW:
            raise SpaceError(f"{location} is not a materialized view")
        if ds.metadata.logical_plan["plan"].get("op") == "aggregate":
            # Aggregate MVs share the table type but not the row-wise
            # refresh algebra — dispatch (round 13, core/agg_views.py),
            # reusing the metadata load just performed.
            from space_spark.core.agg_views import MaterializedAggregate

            return MaterializedAggregate._from_loaded(ds)
        node = _load_plan_node(spark, ds.metadata.logical_plan["plan"], ds.log)
        return MaterializedView(ds, View(node))

    @property
    def spark(self):
        return self.dataset.spark

    def local(self):
        """Reference-compat runner (mv.ray().refresh() etc.)."""
        from space_spark.core.runners import SparkRunner

        return SparkRunner(self)

    ray = local

    def read(self, **kwargs) -> DataFrame:
        """Fast path: read materialized storage (ray/runners.py:147-172)."""
        return self.dataset.read(**kwargs)

    def refresh(self, target_version=None) -> List[int]:
        """Sync with the source, one MV commit per source snapshot so MV
        history mirrors source history (ray/runners.py:200-215). Returns the
        list of source snapshot ids applied."""
        from space_spark.core.dataset import Dataset

        # Pick up the LIVE marker: a stale handle must not re-apply
        # snapshots another process already synced (round-13 review —
        # a blind re-append would duplicate MV rows).
        self.dataset.reload()
        info = self.dataset.metadata.logical_plan
        source = Dataset.load(self.spark, info["source_location"])
        start = int(info.get("source_snapshot_synced", 0))
        if start not in source.metadata.snapshots:
            # Retention keeps a contiguous recent suffix (+ snapshot 0
            # and refs), so a missing sync point means the change
            # history this MV needs is gone — fail with the remedy
            # rather than the ancestor-walk's cryptic lineage error.
            raise SpaceError(
                f"Source snapshot {start} (this view's last synced "
                f"point) has been expired from {source.location}; "
                "incremental refresh is impossible. Re-materialize the "
                "view, or expire the source with enough history "
                "(keep_last/older_than) to cover its slowest consumer."
            )
        end = source.metadata.resolve_version(target_version)
        applied: List[int] = []
        prev = start
        for snap in source._ancestors(start, end):
            # The synced marker must land ATOMICALLY with the final MV
            # commit for this source snapshot — a crash between an append
            # commit and a separate marker update would blind-re-append the
            # same source snapshot on restart, duplicating PK rows.
            # Replaying the steps BEFORE the marked commit is safe: a
            # re-run delete matches nothing new.
            sync_mut = sync_marker_mutate(snap.snapshot_id, prev)

            marked = False
            # Deletes first, then adds (change_data.py:123-127).
            if snap.deleted_pks_file:
                pks_df = source.read_deleted_pks(snap)
                # PK-only stream: applied directly to MV storage, skipping
                # UDFs (runners.py:79-96).
                delete_mut = None if snap.added_files else sync_mut
                marked = self.dataset._delete_matching(
                    pks_df, commit_mutate=delete_mut
                ) and delete_mut is not None
            if snap.added_files:
                add_df = source._read_files(snap.added_files)
                if source.record_fields:
                    from space_spark.core import records as rec_mod

                    add_df = rec_mod.resolve_record_fields(
                        add_df, source.location, source.record_fields,
                        source.schema,
                        bases=source.record_search_bases,
                    )
                out = self.view.process_source(add_df)
                self.dataset.append(out, commit_mutate=sync_mut,
                                    operation="MV REFRESH")
                marked = True
            if not marked:
                # Nothing committed (no-op snapshot): marker-only update is
                # safe — replaying a no-op is a no-op.
                self._set_synced(snap.snapshot_id, expected_prev=prev)
            prev = snap.snapshot_id
            applied.append(snap.snapshot_id)
        return applied

    def _set_synced(self, source_snapshot_id: int,
                    expected_prev: int) -> None:
        self.dataset.metadata = self.dataset.log.update_refs(
            sync_marker_mutate(source_snapshot_id, expected_prev)
        )
