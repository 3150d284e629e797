"""Incremental aggregate materialized views: GROUP BY rollups whose
storage is maintained from the source's change feed instead of being
recomputed.

The reference has no aggregate-view surface (its views are row-wise
UDF/filter/join DAGs, core/views.py:42-244); this is north-star scope
for the 100 TB target, where "recompute the rollup" is the single most
expensive query a pipeline runs repeatedly. The refresh applies the
classic incremental view-maintenance algebra (Gray et al., "Data Cube",
and the distributive/algebraic/holistic taxonomy):

- ``count``/``sum``/``avg`` are DISTRIBUTIVE/ALGEBRAIC: a per-snapshot
  delta of signed rows (+1 adds, -1 deletes) folds into the stored
  state exactly. Deleted rows are PK-only in the change log, so their
  VALUES are recovered with one ``read_by_keys`` against the PARENT
  version (range+bloom pruned: O(files containing those keys)). The
  sum accumulator keeps Spark's OWN sum output type (long for integral
  inputs — exact, never a double that loses integers past 2^53;
  round-13 review).
- ``min``/``max`` are distributive on INSERTS (fold with
  least/greatest) but HOLISTIC on deletes: when a deleted value ties
  the stored extreme, only the affected GROUPS are recomputed from the
  source at that snapshot — with the damaged keys pushed down as an
  isin filter so manifest stats prune the repair scan too.

Scale shape per refresh: O(changed rows) for the delta, one pruned
point read of the old state rows for exactly the touched groups (group
keys are the state table's PRIMARY KEYS), one ``apply_changes`` commit
(upserts + emptied-group deletes, atomic with the source-synced
marker). Groups whose keys never appear in a snapshot's delta are
never read, shuffled, or rewritten.

SQL semantics: ``count(col)``/``sum``/``avg``/``min``/``max`` ignore
NULLs; ``count(*)`` counts rows; a group whose last non-null value is
deleted returns to NULL (the hidden non-null counters make that exact,
not approximate). Group keys must be NON-NULL — they become the state
table's primary keys (space PKs are NOT NULL); a null key raises the
standard null-PK error at refresh.

Concurrency: ``refresh`` reloads the marker first, and the state
commit's ``commit_mutate`` verifies the stored marker still equals the
fold batch's start before advancing it to the batch end — two handles
refreshing the same MV cannot double-fold a delta (the loser fails
fast with SpaceError; its uncommitted shards are vacuum-reclaimable).
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from space_spark.core import metadata as md
from space_spark.core import schema as sc
from space_spark.core.views import sync_marker_mutate
from space_spark.errors import SpaceError, UserInputError

_AGG_FNS = ("count", "sum", "avg", "min", "max")
_ROWS_COL = "__agg_rows"
_SIGN = "__agg_sign"
# Above this many damaged groups, the min/max repair scan skips the
# per-column isin pushdown and relies on the join alone: Expr.isin is
# an Or-of-equals CHAIN, so the bound also caps expression depth (the
# recursive falsifiable/compile walks would hit Python's recursion
# limit near ~1000), and past a few hundred values most files match
# anyway.
_REPAIR_PUSHDOWN_MAX_KEYS = 200


def _validate_spec(schema: T.StructType, group_by: Sequence[str],
                   aggs: Dict[str, Tuple[str, str]]) -> None:
    names = set(schema.fieldNames())
    if not group_by:
        raise UserInputError("aggregate view needs at least one "
                             "group-by column")
    for g in group_by:
        if g not in names:
            raise UserInputError(f"Unknown group-by column {g!r}")
    if not aggs:
        raise UserInputError("aggregate view needs at least one "
                             "aggregate")
    for out, spec in aggs.items():
        if not (isinstance(spec, (tuple, list)) and len(spec) == 2):
            raise UserInputError(
                f"Aggregate {out!r} must be (fn, column), got {spec!r}"
            )
        fn, col = spec
        if fn not in _AGG_FNS:
            raise UserInputError(
                f"Unknown aggregate fn {fn!r} for {out!r}; supported: "
                f"{_AGG_FNS}"
            )
        if col == "*":
            if fn != "count":
                raise UserInputError(f"{fn}(*) is not a thing; only "
                                     "count(*)")
        elif col not in names:
            raise UserInputError(f"Unknown aggregate column {col!r}")
        if out in group_by or out.startswith("__"):
            # "__" wholesale: every internal state/delta column lives
            # under a dunder prefix, so a user name can never alias-
            # collide with the fold machinery (round-13 review: a
            # count named 'rows' collided with the row-count delta).
            raise UserInputError(f"Output name {out!r} collides with a "
                                 "group-by column or the reserved "
                                 "'__' prefix")


def _user_exprs(aggs: Dict[str, Tuple[str, str]]) -> List:
    """The plain recompute expressions (AggregateView.read / oracles)."""
    out = []
    for name, (fn, col) in sorted(aggs.items()):
        if fn == "count":
            e = F.count(F.lit(1)) if col == "*" else F.count(F.col(col))
        else:
            e = getattr(F, fn)(F.col(col))
        out.append(e.alias(name))
    return out


class AggregateView:
    """Lazy GROUP BY rollup over a dataset; ``materialize`` gives it
    incrementally-maintained storage."""

    def __init__(self, dataset, group_by: Sequence[str],
                 aggs: Dict[str, Tuple[str, str]]):
        if dataset.record_fields:
            raise UserInputError(
                "aggregate views over record (blob) fields are not "
                "supported; aggregate the index columns"
            )
        _validate_spec(dataset.schema, group_by, dict(aggs))
        self.dataset = dataset
        self.group_by = list(group_by)
        self.aggs = {k: (fn, col) for k, (fn, col) in aggs.items()}

    # -- full recompute (the slow path / semantics anchor) ---------------
    def read(self) -> DataFrame:
        return (self.dataset.read()
                .groupBy(*self.group_by)
                .agg(*_user_exprs(self.aggs)))

    def _state_exprs(self) -> List:
        """Recompute expressions for the FULL state row (user + hidden
        columns) — used to derive the state schema and nowhere else
        (refresh never recomputes whole groups except min/max repair).
        The sum accumulator deliberately keeps Spark's sum output type
        (coalesce's lit(0) coerces to it): integral sums stay exact."""
        exprs = list(_user_exprs(self.aggs))
        exprs.append(F.count(F.lit(1)).alias(_ROWS_COL))
        for name, (fn, col) in sorted(self.aggs.items()):
            if fn in ("sum", "avg"):
                exprs.append(F.coalesce(
                    F.sum(F.col(col)), F.lit(0)
                ).alias(f"__agg_sum_{name}"))
                exprs.append(F.count(F.col(col))
                             .alias(f"__agg_nn_{name}"))
        return exprs

    def materialize(self, spark: SparkSession,
                    location: str) -> "MaterializedAggregate":
        from space_spark.core.dataset import Dataset

        log = md.MetadataLog(location)
        if log.exists():
            raise SpaceError(f"Table already exists at {location}")
        log.init_location()
        state_schema = (self.dataset.read().limit(0)
                        .groupBy(*self.group_by)
                        .agg(*self._state_exprs())).schema
        schema = sc.assign_field_ids(state_schema)
        meta = md.initial_metadata(
            md.TYPE_MATERIALIZED_VIEW,
            schema,
            list(self.group_by),
            [],
            sc.field_id_map(schema),
            logical_plan={
                "plan": {
                    "op": "aggregate",
                    "group_by": list(self.group_by),
                    "aggs": {k: list(v) for k, v in self.aggs.items()},
                },
                "source_location": self.dataset.location,
                "source_snapshot_synced": 0,
            },
            udf_registry={},
        )
        log.write_metadata(meta, create=True)
        mv_ds = Dataset(spark, log, meta)
        return MaterializedAggregate(mv_ds, self)


class MaterializedAggregate:
    """An AggregateView with its own storage; ``refresh()`` folds the
    source change feed into the stored per-group state."""

    def __init__(self, dataset, view: AggregateView):
        self.dataset = dataset
        self.view = view

    @staticmethod
    def load(spark: SparkSession, location: str) -> "MaterializedAggregate":
        from space_spark.core.dataset import Dataset

        ds = Dataset.load(spark, location)
        if ds.metadata.table_type != md.TYPE_MATERIALIZED_VIEW:
            raise SpaceError(f"{location} is not a materialized view")
        plan = ds.metadata.logical_plan["plan"]
        if plan.get("op") != "aggregate":
            raise SpaceError(
                f"{location} is a row-wise materialized view; use "
                "MaterializedView.load"
            )
        return MaterializedAggregate._from_loaded(ds)

    @staticmethod
    def _from_loaded(ds) -> "MaterializedAggregate":
        """Build from an already-loaded state Dataset (the
        MaterializedView.load dispatch path — avoids re-reading the
        metadata it just parsed; round-13 review)."""
        from space_spark.core.dataset import Dataset

        plan = ds.metadata.logical_plan["plan"]
        source = Dataset.load(
            ds.spark, ds.metadata.logical_plan["source_location"]
        )
        view = AggregateView(
            source, plan["group_by"],
            {k: tuple(v) for k, v in plan["aggs"].items()},
        )
        return MaterializedAggregate(ds, view)

    @property
    def spark(self):
        return self.dataset.spark

    def read(self, fields=None, **kwargs) -> DataFrame:
        """Materialized state, USER columns only (group keys + named
        aggregates; the fold accumulators stay internal). ``fields``
        projects within the user columns."""
        user = self.view.group_by + sorted(self.view.aggs)
        if fields is not None:
            unknown = set(fields) - set(user)
            if unknown:
                raise UserInputError(
                    f"Unknown fields: {sorted(unknown)}; this view "
                    f"exposes {user}"
                )
        out = self.dataset.read(**kwargs).select(*user)
        return out.select(*fields) if fields is not None else out

    # ------------------------------------------------------------ refresh
    def refresh(self, target_version=None) -> List[int]:
        """ONE MV commit per refresh: every pending source snapshot's
        delta is netted into a single signed aggregate and folded with a
        single ``apply_changes`` commit (r14-opt — the per-snapshot fold
        paid the full fixed cost of dagg checkpoint + state point read +
        merge join + commit N times; CDC signs net across adjacent
        snapshots exactly like within one). The source-synced marker
        still lands atomically with the state commit (apply_changes'
        commit_mutate), so a crash never double-folds — it just replays
        the whole batch, which nets to the same state. Returns applied
        source snapshot ids."""
        from space_spark.core.dataset import Dataset

        # Pick up the LIVE marker: a stale handle must not re-fold
        # snapshots another process already applied (round-13 review).
        self.dataset.reload()
        info = self.dataset.metadata.logical_plan
        source = Dataset.load(self.spark, info["source_location"])
        start = int(info.get("source_snapshot_synced", 0))
        if start not in source.metadata.snapshots:
            raise SpaceError(
                f"Source snapshot {start} (this view's last synced "
                f"point) has been expired from {source.location}; "
                "incremental refresh is impossible. Re-materialize, or "
                "expire the source with enough history to cover its "
                "slowest consumer."
            )
        end = source.metadata.resolve_version(target_version)
        snaps = source._ancestors(start, end)
        if not snaps:
            return []
        self._apply_snapshots(source, snaps, expected_prev=start)
        return [s.snapshot_id for s in snaps]

    def _set_synced(self, snapshot_id: int, expected_prev: int) -> None:
        self.dataset.metadata = self.dataset.log.update_refs(
            sync_marker_mutate(snapshot_id, expected_prev)
        )

    def _apply_snapshots(self, source, snaps, expected_prev: int) -> None:
        gb = self.view.group_by
        aggs = self.view.aggs
        # Group-by columns ride along as keys; never re-select them as
        # inputs (a min over a group key would otherwise duplicate the
        # column in the delta select — round-13 review).
        in_cols = sorted({c for _fn, c in aggs.values()
                          if c != "*"} - set(gb))
        # Signed multiset union over the WHOLE batch (r14-opt): adds and
        # deletes from every pending snapshot net in one aggregate — a
        # row added in snapshot i and deleted in snapshot j contributes
        # +v and -v (the delete's values are read at j's parent, where
        # the add is visible), so count/sum/avg fold exactly; min/max
        # keep the holistic repair, evaluated once at the batch END
        # version (recomputing a damaged group from the live rows at end
        # IS the final answer — intermediate repairs would be folded
        # over anyway).
        parts = []
        for snap in snaps:
            if snap.deleted_pks_file:
                # Deleted rows are PK-only in the log; their VALUES
                # lived in the parent version — one range+bloom-pruned
                # point read per snapshot (versioned: cannot batch).
                pks_df = source.read_deleted_pks(snap)
                del_rows = source.read_by_keys(
                    pks_df, version=snap.parent_snapshot_id
                )
                parts.append(del_rows.select(*gb, *in_cols)
                             .withColumn(_SIGN, F.lit(-1)))
            if snap.added_files:
                add_df = source._read_files(snap.added_files)
                parts.append(add_df.select(*gb, *in_cols)
                             .withColumn(_SIGN, F.lit(1)))
        last = snaps[-1]
        if not parts:
            self._set_synced(last.snapshot_id, expected_prev)
            return
        delta = parts[0]
        for p in parts[1:]:
            delta = delta.unionByName(p)

        sign = F.col(_SIGN)
        dexprs = [F.sum(sign).alias("__agg_delta_nrows")]
        for name, (fn, col) in sorted(aggs.items()):
            c = F.col(col) if col != "*" else None
            if fn == "count":
                e = (F.sum(sign) if c is None
                     else F.sum(F.when(c.isNotNull(), sign)
                                .otherwise(F.lit(0))))
                dexprs.append(e.alias(f"__agg_d_{name}"))
            elif fn in ("sum", "avg"):
                # sign * value in the INPUT's arithmetic (long stays
                # long — exact past 2^53; round-13 review).
                dexprs.append(
                    F.sum(F.when(c.isNotNull(), sign * c))
                    .alias(f"__agg_dsum_{name}"))
                dexprs.append(
                    F.sum(F.when(c.isNotNull(), sign)
                          .otherwise(F.lit(0)))
                    .alias(f"__agg_dnn_{name}"))
            elif fn == "min":
                dexprs.append(F.min(F.when(sign > 0, c))
                              .alias(f"__agg_dadd_{name}"))
                dexprs.append(F.min(F.when(sign < 0, c))
                              .alias(f"__agg_ddel_{name}"))
            else:  # max
                dexprs.append(F.max(F.when(sign > 0, c))
                              .alias(f"__agg_dadd_{name}"))
                dexprs.append(F.max(F.when(sign < 0, c))
                              .alias(f"__agg_ddel_{name}"))
        has_deletes = any(s.deleted_pks_file for s in snaps)

        # Blocks released after the commit (the same leak guard as
        # merge/apply_changes — a long multi-snapshot refresh would
        # otherwise pin one checkpointed RDD per snapshot).
        with self.dataset._release_new_blocks():
            # Pin the delta aggregate ONCE: read_by_keys' bounds probe,
            # the merge join, and the commit would otherwise each
            # re-execute the whole delta plan — including the parent-
            # version point read (round-13 review: 3x waste).
            # Lazy (r13-opt): read_by_keys' bounds probe below is a
            # full pass over dagg — it materializes the checkpoint in
            # the same job instead of paying a dedicated
            # pre-materialization job per snapshot.
            dagg = (delta.groupBy(*gb).agg(*dexprs)
                    .localCheckpoint(eager=False))

            # Old state rows for exactly the touched groups: group keys
            # are the state PKs, so this is a pruned point read.
            old = self.dataset.read_by_keys(dagg.select(*gb))
            old_pref = old.select(
                *gb, *[F.col(c).alias(f"__agg_o_{c}")
                       for c in old.columns if c not in gb]
            )
            merged = dagg.join(old_pref, on=gb, how="left")

            def o(cname):
                return F.col(f"__agg_o_{cname}")

            new_rows = (F.coalesce(o(_ROWS_COL), F.lit(0))
                        + F.col("__agg_delta_nrows"))
            out_cols = [F.col(g) for g in gb] + [
                new_rows.alias(_ROWS_COL)
            ]
            repair_flags = []
            for name, (fn, col) in sorted(aggs.items()):
                if fn == "count":
                    out_cols.append(
                        (F.coalesce(o(name), F.lit(0))
                         + F.col(f"__agg_d_{name}")).alias(name))
                elif fn in ("sum", "avg"):
                    acc = (F.coalesce(o(f"__agg_sum_{name}"), F.lit(0))
                           + F.coalesce(F.col(f"__agg_dsum_{name}"),
                                        F.lit(0)))
                    nn = (F.coalesce(o(f"__agg_nn_{name}"), F.lit(0))
                          + F.col(f"__agg_dnn_{name}"))
                    acc_dt = self.dataset.schema[
                        f"__agg_sum_{name}"].dataType
                    out_cols.append(
                        acc.cast(acc_dt).alias(f"__agg_sum_{name}"))
                    out_cols.append(nn.alias(f"__agg_nn_{name}"))
                    if fn == "sum":
                        dt = self.dataset.schema[name].dataType
                        out_cols.append(
                            F.when(nn > 0, acc).cast(dt).alias(name))
                    else:
                        out_cols.append(
                            F.when(nn > 0,
                                   acc.cast("double") / nn).alias(name))
                else:  # min / max
                    fold = F.least if fn == "min" else F.greatest
                    candidate = fold(o(name), F.col(f"__agg_dadd_{name}"))
                    if not has_deletes:
                        # Insert-only snapshot: min/max are
                        # distributive, no repair machinery.
                        out_cols.append(candidate.alias(name))
                        continue
                    # The stored extreme may have been deleted only
                    # when a deleted value TIES OR BEATS it — only
                    # those groups recompute. A NULL stored extreme
                    # with batch deletes also repairs (r14-opt batch
                    # fold): a group CREATED within the batch has no
                    # stored row, yet a delete inside the same batch
                    # may have removed the batch-add extreme — in the
                    # single-snapshot fold this case cannot arise (a
                    # snapshot's deletes existed at its parent, so the
                    # state row exists), so the extra disjunct never
                    # fires there.
                    dele = F.col(f"__agg_ddel_{name}")
                    beats = (dele <= o(name)) if fn == "min" \
                        else (dele >= o(name))
                    needs = (dele.isNotNull()
                             & (o(name).isNull() | beats))
                    repair_flags.append(needs.alias(f"__agg_fix_{name}"))
                    out_cols.append(
                        F.when(needs, F.lit(None).cast(
                            self.dataset.schema[name].dataType
                        )).otherwise(candidate).alias(name))

            proj = (merged.select(*out_cols, *repair_flags)
                    if repair_flags else merged.select(*out_cols))
            fix_cols = [n for n, (fn, _c) in sorted(aggs.items())
                        if fn in ("min", "max")] if has_deletes else []
            self._fold_commit(source, last, proj, fix_cols, gb, aggs,
                              expected_prev)

    def _fold_commit(self, source, snap, proj, fix_cols, gb, aggs,
                     expected_prev: int):
        # ``snap`` is the LAST snapshot of the fold batch: the repair
        # scan reads the source at its version (the live rows at batch
        # end ARE the final answer) and the synced marker advances to
        # its id.
        # Lazy when there is no repair branch: the first action (the
        # upsert shard write) scans every partition and materializes
        # the checkpoint in the same job. EAGER when fix_cols is
        # non-empty (ADVICE r13): the first action there is
        # fix_keys.limit(N+1).collect(), and CollectLimit early-exits
        # after enough partitions — a lazy checkpoint would be only
        # PARTIALLY materialized, re-executing the merge join for the
        # unmaterialized partitions in every later consumer.
        proj = proj.localCheckpoint(eager=bool(fix_cols))
        if fix_cols:
            any_fix = None
            for n in fix_cols:
                flag = F.coalesce(F.col(f"__agg_fix_{n}"), F.lit(False))
                any_fix = flag if any_fix is None else (any_fix | flag)
            fix_keys = proj.where(any_fix).select(*gb)
            # Damaged groups are few by construction; collect them so
            # the repair scan can PUSH an isin filter into the source
            # read — manifest stats then prune the repair to files
            # containing those groups instead of scanning the table
            # (round-13 review). Past the cap, fall back to join-only.
            key_rows = fix_keys.limit(
                _REPAIR_PUSHDOWN_MAX_KEYS + 1).collect()
            if key_rows:
                flt = None
                if len(key_rows) <= _REPAIR_PUSHDOWN_MAX_KEYS:
                    from space_spark.core.expressions import field

                    for g in gb:
                        vals = list({r[g] for r in key_rows})
                        e = field(g).isin(vals)
                        flt = e if flt is None else (flt & e)
                src_now = source.read(
                    flt, version=snap.snapshot_id
                ).join(fix_keys, on=gb, how="inner")
                rec = src_now.groupBy(*gb).agg(*[
                    (F.min(F.col(aggs[n][1])) if aggs[n][0] == "min"
                     else F.max(F.col(aggs[n][1]))).alias(f"__agg_r_{n}")
                    for n in fix_cols
                ])
                proj = proj.join(rec, on=gb, how="left")
                repl = [
                    F.coalesce(
                        F.col(n),
                        F.col(f"__agg_r_{n}").cast(
                            self.dataset.schema[n].dataType)
                    ).alias(n)
                    if n in fix_cols else F.col(n)
                    for n in self.dataset.schema.fieldNames()
                    if n not in gb
                ]
                proj = proj.select(*gb, *repl)

        state_cols = self.dataset.schema.fieldNames()
        upserts = (proj.where(F.col(_ROWS_COL) > 0)
                   .select(*state_cols))
        deletes = proj.where(F.col(_ROWS_COL) <= 0).select(*gb)
        # upserts/deletes both project `proj` — one groupBy(gb) output,
        # unique on the MV's primary keys (= gb) by construction — so
        # the dup-check aggregate is skippable (r13-opt: one groupBy
        # exchange + written-files re-scan saved per fold; the unique
        # path is private because that proof is this caller's burden,
        # ADVICE r13).
        self.dataset._apply_changes_unique(
            upserts, deletes,
            commit_mutate=sync_marker_mutate(snap.snapshot_id,
                                             expected_prev),
            operation="MV REFRESH",
        )
