"""Streaming-style consumption of the change-data feed, plus Structured
Streaming ingestion into space tables.

The reference's only streaming-analog is the change feed (SURVEY.md §2.9);
we keep its semantics (deletes replay before adds within a version) and add
two Spark-native pieces the reference lacks:

- ``ChangeFeedProcessor``: an incremental consumer with durable progress
  (the ``foreachBatch`` pattern) — each ``process_available()`` call hands
  the batches between the last-seen snapshot and the head to a callback,
  exactly once per snapshot, committing progress only after the callback
  returns (at-least-once on crash, like a streaming checkpoint).
- ``stream_append``: run a Structured Streaming query whose sink is a
  space table — each micro-batch becomes one table snapshot (transactional
  per-batch appends via foreachBatch; epoch ids recorded for idempotent
  restarts).
"""

from __future__ import annotations

import json
import os
from typing import Callable, List, Optional

from pyspark.sql import DataFrame

from space_spark.core.dataset import CHANGE_ADD, CHANGE_DELETE


class ChangeFeedProcessor:
    """Incremental, checkpointed consumption of a table's change feed.

    ``fn(batch_df, snapshot_id, change_type)`` is invoked per snapshot:
    first with the DELETE rows (primary keys only), then the ADD rows —
    the same replay order MV refresh requires (reference
    core/ops/change_data.py:123-127)."""

    def __init__(self, dataset, checkpoint_path: str):
        self.dataset = dataset
        self.checkpoint_path = checkpoint_path

    def _load_progress(self) -> int:
        if os.path.exists(self.checkpoint_path):
            with open(self.checkpoint_path, "r", encoding="utf-8") as f:
                return int(json.load(f)["last_snapshot_id"])
        return 0

    def _save_progress(self, snapshot_id: int) -> None:
        os.makedirs(os.path.dirname(self.checkpoint_path) or ".",
                    exist_ok=True)
        tmp = self.checkpoint_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"last_snapshot_id": snapshot_id}, f)
        os.replace(tmp, self.checkpoint_path)

    def process_available(
        self, fn: Callable[[DataFrame, int, str], None]
    ) -> List[int]:
        """Feed every unprocessed snapshot to ``fn``; returns the snapshot
        ids processed."""
        ds = self.dataset.reload()
        start = self._load_progress()
        end = ds.current_snapshot_id
        processed: List[int] = []
        for snap in ds._ancestors(start, end):
            if snap.deleted_pks_file:
                fn(
                    ds.read_deleted_pks(snap),
                    snap.snapshot_id,
                    CHANGE_DELETE,
                )
            if snap.added_files:
                fn(ds._read_files(snap.added_files), snap.snapshot_id,
                   CHANGE_ADD)
            self._save_progress(snap.snapshot_id)
            processed.append(snap.snapshot_id)
        return processed


def stream_append(
    stream_df: DataFrame,
    dataset,
    checkpoint_dir: str,
    trigger_once: bool = True,
    query_name: Optional[str] = None,
):
    """Sink a streaming DataFrame into a space table: one snapshot per
    micro-batch, committed through the normal transactional append.

    Returns the StreamingQuery; callers own ``awaitTermination``/``stop``.
    """

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dataset.append(batch_df)

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_upsert(
    stream_df: DataFrame,
    dataset,
    checkpoint_dir: str,
    trigger_once: bool = True,
    query_name: Optional[str] = None,
):
    """CDC-style streaming ingestion: each micro-batch UPSERTS into the
    space table (replace matching primary keys + append the rest) as ONE
    snapshot — the merge half of a streaming pipeline, next to
    ``stream_append``'s insert-only half.

    Exactly-once-by-idempotence: a replayed micro-batch (crash between
    the sink commit and the checkpoint advance) re-applies the SAME rows
    to the SAME keys, so the table converges to the identical state —
    upsert is idempotent for identical input, unlike blind append.
    Micro-batches carrying several rows per key keep the last by input
    order only if the caller pre-deduplicates; upsert itself rejects
    duplicate keys within one batch (the Dataset invariant), which is the
    safe default for CDC feeds that should be keyed.

    At scale each micro-batch costs one range-pruned probe + commit
    (``write_path.cow_split`` of the batch's key set): a trickle of
    small upserts touches the few overlapping files, never the table."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dataset.upsert(batch_df)

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_apply_changes(
    cdf_stream: DataFrame,
    dataset,
    checkpoint_dir: str,
    trigger_once: bool = True,
    query_name: Optional[str] = None,
):
    """Apply a space CDC stream (``readStream.format("space")`` with
    ``option("readChangeFeed", "true")``) onto another space table —
    the full replication loop: mutate table A, stream its change feed,
    and table B converges to A's state.

    A micro-batch may span SEVERAL source snapshots (an ``availableNow``
    catch-up replays the whole feed in one batch), so the batch is first
    reduced to the LATEST change per primary key — ``max(struct(
    _snapshot_id, _change_order, ...))`` per key, a partial-aggregable
    groupBy, no window — and the net ADDs and net DELETEs then apply as
    ONE snapshot commit (``Dataset.apply_changes``): a reader of the
    target never observes a deletes-applied-but-adds-missing
    intermediate state. Within a source snapshot deletes order before
    adds (``_change_order`` 0 vs 1), so an upsert's delete+add nets to
    the add, matching replay semantics.

    Idempotent under replay (crash before the checkpoint advance):
    re-applying the same net changes to the same keys converges to the
    identical table state."""
    from pyspark.sql import functions as F

    pks = list(dataset.primary_keys)
    cdf_cols = ("_change_type", "_snapshot_id", "_change_order")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cols = [c for c in batch_df.columns if c not in cdf_cols]
        non_pk = [c for c in cols if c not in pks]
        latest = batch_df.groupBy(*pks).agg(
            F.max(
                F.struct("_snapshot_id", "_change_order", "_change_type",
                         *non_pk)
            ).alias("__c")
        ).persist()  # read by both branches: reduce the batch once
        try:
            dels = latest.where(
                F.col("__c._change_type") == CHANGE_DELETE
            ).select(*pks)
            adds = latest.where(
                F.col("__c._change_type") == CHANGE_ADD
            ).select(
                *[F.col(c) if c in pks else F.col(f"__c.{c}").alias(c)
                  for c in cols]
            )
            dataset.apply_changes(adds, dels)
        finally:
            latest.unpersist()

    writer = (
        cdf_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_refresh(
    mv,
    checkpoint_dir: str,
    trigger_once: bool = True,
    query_name: Optional[str] = None,
    starting_version: Optional[int] = None,
):
    """Drive a MaterializedView's incremental maintenance off the
    source's CDC readStream END-TO-END: mutate the source table, and a
    running ``stream_refresh`` converges the MV — the streaming form of
    ``MaterializedView.refresh()`` (which walks snapshots in a batch
    loop). One micro-batch = one MV commit.

    Per micro-batch (which may span several source snapshots under an
    ``availableNow`` catch-up):

    1. net the change rows to the LATEST change per primary key
       (``max(struct(_snapshot_id, _change_order, ...))`` — the same
       partial-aggregable reduction ``stream_apply_changes`` uses; an
       upsert's delete+add nets to the add);
    2. push the net ADD rows through the view's transformation
       (``view.process_source`` — the map_batches/filter pipeline);
    3. apply in ONE commit: delete keys = net DELETEs plus ALL net-ADD
       keys (pre-transform — a row UPDATED to fail a filter view must
       vanish from the MV even though the transform emits nothing for
       it), adds = the transformed rows (``Dataset.apply_changes``);
    4. the MV's ``source_snapshot_synced`` marker lands via
       ``commit_mutate`` INSIDE that same commit, so a later BATCH
       ``refresh()`` never re-applies what the stream already did —
       the two maintenance modes interleave safely.

    Exactly-once-by-idempotence under replay (crash before the stream
    checkpoint advances): re-applying the same net changes converges to
    the same MV state, and the marker is monotone (``max`` guard).

    Scale: each micro-batch costs one netting shuffle bounded by the
    batch's change volume plus one range-pruned probe/commit on the MV
    — a trickle of source commits maintains a petabyte MV by touching
    only overlapping files. Record-field (blob) sources work too: the
    CDC stream carries physical address structs, which the sink
    resolves to blob bytes (``records.resolve_record_fields`` — one
    blob-file read per file per batch, exactly the batch ``refresh()``
    discipline, views.py) before the view transformation runs.
    """
    from pyspark.sql import functions as F

    from space_spark.core.dataset import Dataset

    info = mv.dataset.metadata.logical_plan
    source = Dataset.load(mv.spark, info["source_location"])
    pks = list(source.primary_keys)
    cdf_cols = ("_change_type", "_snapshot_id", "_change_order")
    start = (int(info.get("source_snapshot_synced", 0))
             if starting_version is None else int(starting_version))

    feed = (
        mv.spark.readStream.format("space")
        .option("readChangeFeed", "true")
        .option("startingVersion", str(start))
        .load(source.location)
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cols = [c for c in batch_df.columns if c not in cdf_cols]
        non_pk = [c for c in cols if c not in pks]
        latest = batch_df.groupBy(*pks).agg(
            F.max(
                F.struct("_snapshot_id", "_change_order", "_change_type",
                         *non_pk)
            ).alias("__c"),
        ).persist()  # consumed by three branches: reduce the batch once
        try:
            max_sid = latest.agg(
                F.max("__c._snapshot_id").alias("m")
            ).collect()[0]["m"]
            dels = latest.where(
                F.col("__c._change_type") == CHANGE_DELETE
            ).select(*pks)
            raw_adds = latest.where(
                F.col("__c._change_type") == CHANGE_ADD
            ).select(
                *[F.col(c) if c in pks else F.col(f"__c.{c}").alias(c)
                  for c in cols]
            )
            view_in = raw_adds
            if source.record_fields:
                # The feed carries address STRUCTS for blob columns;
                # resolve to bytes exactly like batch refresh does
                # (views.py refresh) so the view sees logical blobs.
                from space_spark.core import records as rec_mod

                view_in = rec_mod.resolve_record_fields(
                    raw_adds, source.location, source.record_fields,
                    source.schema,
                    bases=source.record_search_bases,
                )
            out_adds = mv.view.process_source(view_in)
            # Net-ADD keys ride the delete set so a transformed-away
            # row (filter view) is removed, and an updated row is
            # replaced, in the one commit.
            delete_keys = dels.unionByName(raw_adds.select(*pks))

            def sync_mut(meta, _sid=int(max_sid)):
                prev = int(meta.logical_plan.get(
                    "source_snapshot_synced", 0))
                meta.logical_plan["source_snapshot_synced"] = max(
                    prev, _sid)

            mv.dataset.apply_changes(out_adds, delete_keys,
                                     commit_mutate=sync_mut)
        finally:
            latest.unpersist()

    writer = (
        feed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    spark,
    events_dir: str,
    schema,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    group_col: str = "event_type",
) -> DataFrame:
    """Structured Streaming windowed aggregation with late-data watermark
    (capability the reference lacks; SURVEY.md §2.9 'absent' row).

    Returns a streaming DataFrame; drive it with ``writeStream`` (tests use
    the memory sink + availableNow trigger)."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "8")
        .load(events_dir)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(group_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            group_col,
            "n",
        )
    )


def session_agg(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    extra_aggs=None,
) -> DataFrame:
    """Streaming gap-based sessionization with watermark-BOUNDED state
    (``F.session_window`` — the event-time session operator behind user
    journeys, crawl-visit grouping, interaction-log windowing). A
    session is the maximal run of a key's events where each event
    arrives within ``gap`` of the previous one; the emitted window spans
    [first event, last event + gap). Sessions MERGE across micro-batches
    while open (an event landing between two open sessions fuses them —
    state-store session merge, not something a batch window can do
    incrementally), and a session finalizes — emits exactly once, in
    append mode — when the watermark passes its end, which also evicts
    its state: state size tracks concurrently-OPEN sessions (rate x
    gap + watermark horizon), never stream lifetime.

    Returns (key, session_start, session_end, n_events, *extra_aggs) as
    a streaming DataFrame; drive it with ``writeStream``. ``extra_aggs``
    are additional aggregate Columns (each must carry an alias); the
    batch-side sibling of the whole operator is the gaps-and-islands
    cumulative-sum plan (``__spark_entry__.q_sessionize``)."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("n_events")]
    aggs += list(extra_aggs or [])
    grouped = (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(*aggs)
    )
    rest = [c for c in grouped.columns
            if c not in (key_col, "session_window")]
    return grouped.select(
        key_col,
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *rest,
    )


def stream_dedup(
    stream_df: DataFrame,
    key_cols,
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact deduplication with bounded state: keep the FIRST
    arrival per key within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — duplicate ingestion events,
    at-least-once upstream producers, crawler re-fetches). The watermark
    bounds the dedup state store: a key older than the horizon is
    forgotten, so state size tracks the event rate x horizon, never the
    stream's lifetime — the property that keeps a 100 TB/day ingest's
    state finite (an unbounded ``dropDuplicates`` grows forever).

    Batch-side sibling: ``operators/dedup.py exact_dedup``. Returns a
    streaming DataFrame; drive it with ``writeStream`` (e.g. into
    ``stream_append``)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return stream_df.withWatermark(ts_col, watermark) \
        .dropDuplicatesWithinWatermark(keys)
