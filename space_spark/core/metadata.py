"""Transaction log: JSON metadata + entrypoint swap + optimistic commits.

Shape mirrors the reference's metadata layer (all paths relative to
/root/reference/python/src/space/):
- EntryPoint file pointing at the current metadata file, swapped atomically
  per mutation (core/proto/metadata.proto:30-33; write-temp-then-rename in
  core/fs/arrow.py). Locally we use ``os.replace``; on an object store this
  becomes a conditional PUT (compare-and-swap on the entrypoint ETag) — the
  single piece that needs porting for S3/GCS.
- StorageMetadata: type, schema, snapshots, refs (metadata.proto:39-71).
- Snapshot: integer id, parent pointer, manifest-file list, stats, change
  log (metadata.proto:90-112).
- Tags and branches are named refs; ``main`` is the default branch and is
  reserved (core/storage.py:52-56,238-313).

All file paths stored in metadata are RELATIVE to the table location for
portability (reference docs/design.md:24-26).
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid
from dataclasses import dataclass, field as dc_field
from datetime import datetime, timezone
from typing import Dict, Iterator, List, Optional

from pyspark.sql import types as T

from space_spark.errors import (
    SpaceError,
    TransactionConflictError,
    UserInputError,
    VersionNotFoundError,
)

MAIN_BRANCH = "main"
TYPE_DATASET = "DATASET"
TYPE_MATERIALIZED_VIEW = "MATERIALIZED_VIEW"


def _now_iso() -> str:
    return datetime.now(timezone.utc).isoformat()


def new_uuid() -> str:
    return uuid.uuid4().hex[:20]


def warn_if_cdf_starts_at_clone_origin(meta: "StorageMetadata",
                                       start_id: int) -> None:
    """Change-feed reads walk (start, head] — a shallow clone's origin
    snapshot carries the table's rows via manifests but has NO
    added_files (lineage was cut at the clone boundary), so a CDC
    consumer bootstrapping from it silently receives zero rows for a
    non-empty table. Surface that instead of staying quiet; consumers
    that want the pre-existing rows should seed from ``read()`` at the
    origin version and stream changes from there.

    Scoped to SNAPSHOT 0 specifically: only a clone writes a
    rows-but-no-change-log origin AS snapshot 0 (a regular create's
    snapshot 0 is empty). A non-zero snapshot whose parent pointer was
    severed by expire_snapshots keeps its own change log and must not
    trigger a spurious clone warning."""
    snap = meta.snapshots.get(start_id)
    if (
        snap is not None
        and snap.snapshot_id == 0
        and snap.parent_snapshot_id is None
        and (snap.num_rows or 0) > 0
        and not (snap.added_files or [])
    ):
        import warnings

        warnings.warn(
            f"Change feed starts at snapshot {start_id}, a lineage "
            f"origin holding {snap.num_rows} rows with no change log "
            "(shallow clone boundary): those pre-existing rows will "
            "NOT appear in the feed. Seed the consumer with "
            f"read(version={start_id}) first, then stream changes.",
            UserWarning,
            stacklevel=3,
        )


@dataclass
class Snapshot:
    """One immutable table version (metadata.proto:90-112)."""

    snapshot_id: int
    parent_snapshot_id: Optional[int]
    created_at: str
    manifest_files: List[str] = dc_field(default_factory=list)
    num_rows: int = 0
    data_bytes: int = 0
    # Change log (metadata.proto:160-191 analog): files added by this commit
    # and a Parquet deletes log holding the primary keys of rows deleted by
    # it (a split's log also holds each row's ``__file``/``__pos``). The
    # deletes log is the one delete changelog: O(deleted * pk_width) bytes,
    # read by diff, MV refresh and CDC without re-scanning data files.
    # Metadata written before the bitmap changelog was removed may still
    # name a bitmap sidecar; from_dict ignores that key and vacuum
    # reclaims the sidecar as an orphan.
    added_files: List[str] = dc_field(default_factory=list)
    deleted_pks_file: Optional[str] = None
    # ACTIVE merge-on-read delete vectors (Iceberg-v2-style positional
    # deletes; beyond the reference, which is CoW-only): bitmap-sidecar
    # files whose (file, positions) entries mask rows OUT of every read of
    # this snapshot without rewriting data files. Carried forward by
    # appends; dropped/rewritten by CoW rewrites of the covered files.
    delete_vector_files: List[str] = dc_field(default_factory=list)
    # Record-file manifests (reference record_manifest, manifests/record.py:
    # 27-32): one row per blob file added by this commit's appends.
    record_manifest_files: List[str] = dc_field(default_factory=list)
    # What produced this version (Delta DESCRIBE HISTORY analog,
    # round 12): "CREATE", "APPEND", "INSERT", "UPSERT", "MERGE",
    # "DELETE", "OVERWRITE", "COMPACT", ... None on snapshots written
    # by older clients — history() surfaces it as null, never guesses.
    operation: Optional[str] = None

    def to_dict(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_snapshot_id": self.parent_snapshot_id,
            "created_at": self.created_at,
            "manifest_files": self.manifest_files,
            "num_rows": self.num_rows,
            "data_bytes": self.data_bytes,
            "added_files": self.added_files,
            "deleted_pks_file": self.deleted_pks_file,
            "delete_vector_files": self.delete_vector_files,
            "record_manifest_files": self.record_manifest_files,
            "operation": self.operation,
        }

    @staticmethod
    def from_dict(d: dict) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_snapshot_id=d.get("parent_snapshot_id"),
            created_at=d["created_at"],
            manifest_files=list(d.get("manifest_files", [])),
            num_rows=d.get("num_rows", 0),
            data_bytes=d.get("data_bytes", 0),
            added_files=list(d.get("added_files", [])),
            deleted_pks_file=d.get("deleted_pks_file"),
            delete_vector_files=list(d.get("delete_vector_files", [])),
            record_manifest_files=list(d.get("record_manifest_files", [])),
            operation=d.get("operation"),
        )


@dataclass
class StorageMetadata:
    """Full table metadata — one immutable JSON file per committed version."""

    table_type: str
    schema: T.StructType
    primary_keys: List[str]
    record_fields: List[str]
    field_ids: Dict[str, int]
    snapshots: Dict[int, Snapshot]
    branches: Dict[str, int]  # branch name -> head snapshot id ("main" incl.)
    tags: Dict[str, int]  # tag name -> snapshot id (immutable)
    next_snapshot_id: int
    logical_plan: Optional[dict] = None  # set for MATERIALIZED_VIEW
    udf_registry: Dict[str, str] = dc_field(default_factory=dict)
    # record field name -> relpath of a cloudpickled FieldSerializer
    # (TfFeatures-analog; reference metadata.proto:195-202 registry shape).
    serializers: Dict[str, str] = dc_field(default_factory=dict)
    # Names dropped by schema evolution; never reusable (old data files
    # still carry their bytes under the old type).
    retired_columns: List[str] = dc_field(default_factory=list)
    # Column renames: current LOGICAL name -> immutable PHYSICAL name (the
    # name data files/manifest stats were and will be written under —
    # fixed at create/add_column time, keyed by field id). Only renamed
    # columns appear; everything else is identity. Rename is therefore a
    # metadata-only commit: no file is rewritten, old and new files are
    # uniformly physical, and reads alias physical -> logical at the API
    # boundary (reference field-id design note, core/schema/arrow.py:28-31
    # — 'to enable schema evolution later').
    renames: Dict[str, str] = dc_field(default_factory=dict)
    # Streaming-sink exactly-once bookkeeping: sink id -> last committed
    # micro-batch id. Updated atomically with the batch's snapshot, so a
    # replayed micro-batch (restart between sink commit and checkpoint
    # advance) is detected and skipped.
    stream_progress: Dict[str, int] = dc_field(default_factory=dict)
    # Per-file primary-key Bloom filters (core/blooms.py), opt-in at
    # create: {"pks": [...]} — every data-file write also builds one
    # filter per listed PK column into the manifest, and read_by_keys
    # prunes files by key membership. None = table has no Bloom index.
    bloom: Optional[dict] = None
    # CHECK constraints: name -> expr_to_json(Expr) string. Enforced on
    # every row-adding write (write_path.write_data_files write-first
    # validation; datasink per-batch Arrow evaluation; zero-copy load
    # external-file scan). SQL semantics: a row violates only when the
    # expression evaluates to FALSE — NULL passes.
    constraints: Dict[str, str] = dc_field(default_factory=dict)
    # Record-blob search bases for shallow clones of record-field
    # tables: extra table roots (paths relative to THIS table's
    # location; absolute passes through) consulted when a blob address
    # ("records/<file>") does not exist under this table. A clone
    # prepends its source's root (and inherits the source's bases, so
    # clone-of-clone chains resolve); uuid blob filenames make
    # collisions across roots impossible. Same retention caveat as
    # cloned DATA files: the source must not expire the pinned
    # snapshot's blobs while the clone references them;
    # compact_records() on the clone localizes small blobs.
    record_bases: List[str] = dc_field(default_factory=list)
    # Generated columns (Delta GENERATED ALWAYS AS (expr) analog):
    # column name -> expr_to_json of a value expression over the
    # table's plain columns. Recomputed by Dataset._align on EVERY
    # row-adding write path, so the invariant col == expr holds by
    # construction; user-supplied values are overwritten.
    generated_columns: Dict[str, str] = dc_field(default_factory=dict)
    # Identity columns (Delta GENERATED ALWAYS AS IDENTITY analog):
    # column name -> {"start": s, "step": d, "watermark": next}.
    # ``watermark`` is the next unissued value; writers reserve
    # [watermark, watermark + n*step) atomically under the commit lock
    # BEFORE assigning (update_refs), so concurrent writers never
    # collide. A failed write leaks its reservation as a gap — ANSI
    # identity semantics (unique, increasing per writer, gaps allowed).
    identity_columns: Dict[str, dict] = dc_field(default_factory=dict)
    # NOT NULL constraints (Delta's second constraint type): CHECK
    # cannot express them (SQL CHECK passes NULL rows), so they are a
    # distinct column-name list enforced on every row-adding write.
    not_null: List[str] = dc_field(default_factory=list)
    # Monotonic counter bumped whenever the enforced constraint set
    # TIGHTENS (add_constraint / add_not_null; drops do not bump — a
    # writer that validated against a superset is still safe). Row-
    # adding commits pin the version they validated against and
    # commit_snapshot conflicts on a mismatch, closing the reverse
    # TOCTOU: without it, a write that loaded metadata before a
    # constraint committed could land never-checked rows afterwards,
    # because constraint commits do not move the branch head.
    constraints_version: int = 0
    # Persistent clustering declaration (Delta CLUSTER BY analog):
    # {"cols": [...], "kind": "range"|"zorder"} — appends and
    # compactions apply this layout BY DEFAULT (explicit per-call
    # arguments still override), so the write-side pruning layout is a
    # table property, not a per-writer convention every ingest job has
    # to remember. None = no declared clustering.
    cluster_spec: Optional[dict] = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "format_version": 1,
                "type": self.table_type,
                "schema": json.loads(self.schema.json()),
                "primary_keys": self.primary_keys,
                "record_fields": self.record_fields,
                "field_ids": self.field_ids,
                "snapshots": {
                    str(k): v.to_dict() for k, v in self.snapshots.items()
                },
                "branches": self.branches,
                "tags": self.tags,
                "next_snapshot_id": self.next_snapshot_id,
                "logical_plan": self.logical_plan,
                "udf_registry": self.udf_registry,
                "serializers": self.serializers,
                "retired_columns": self.retired_columns,
                "renames": self.renames,
                "stream_progress": self.stream_progress,
                "bloom": self.bloom,
                "constraints": self.constraints,
                "record_bases": self.record_bases,
                "generated_columns": self.generated_columns,
                "identity_columns": self.identity_columns,
                "not_null": self.not_null,
                "constraints_version": self.constraints_version,
                "cluster_spec": self.cluster_spec,
            },
            indent=1,
        )

    @staticmethod
    def from_json(text: str) -> "StorageMetadata":
        d = json.loads(text)
        version = d.get("format_version", 1)
        if version > 1:
            # Fail fast: silently .get()-defaulting through an unknown
            # future format would read wrong data AND destroy the newer
            # fields on the next commit's rewrite.
            raise SpaceError(
                f"Table metadata is format_version {version}; this "
                "client reads format_version 1 only"
            )
        return StorageMetadata(
            table_type=d["type"],
            schema=T.StructType.fromJson(d["schema"]),
            primary_keys=d["primary_keys"],
            record_fields=d["record_fields"],
            field_ids={k: int(v) for k, v in d["field_ids"].items()},
            snapshots={
                int(k): Snapshot.from_dict(v) for k, v in d["snapshots"].items()
            },
            branches={k: int(v) for k, v in d["branches"].items()},
            tags={k: int(v) for k, v in d["tags"].items()},
            next_snapshot_id=d["next_snapshot_id"],
            logical_plan=d.get("logical_plan"),
            udf_registry=d.get("udf_registry", {}),
            serializers=d.get("serializers", {}),
            retired_columns=list(d.get("retired_columns", [])),
            renames=dict(d.get("renames", {})),
            stream_progress={
                k: int(v)
                for k, v in d.get("stream_progress", {}).items()
            },
            bloom=d.get("bloom"),
            constraints=dict(d.get("constraints", {})),
            record_bases=list(d.get("record_bases", [])),
            generated_columns=dict(d.get("generated_columns", {})),
            identity_columns={
                k: dict(v)
                for k, v in d.get("identity_columns", {}).items()
            },
            not_null=list(d.get("not_null", [])),
            constraints_version=int(d.get("constraints_version", 0)),
            cluster_spec=d.get("cluster_spec"),
        )

    # -- version resolution (core/storage.py:224-236) -----------------------
    def resolve_version(self, version, branch: str = MAIN_BRANCH) -> int:
        if version is None:
            if branch not in self.branches:
                raise VersionNotFoundError(f"Branch {branch!r} not found")
            return self.branches[branch]
        if isinstance(version, int):
            if version not in self.snapshots:
                raise VersionNotFoundError(f"Snapshot {version} not found")
            return version
        if version in self.tags:
            return self.tags[version]
        if version in self.branches:
            return self.branches[version]
        raise VersionNotFoundError(f"Version {version!r} not found")

    def snapshot(self, snapshot_id: int) -> Snapshot:
        if snapshot_id not in self.snapshots:
            raise VersionNotFoundError(f"Snapshot {snapshot_id} not found")
        return self.snapshots[snapshot_id]


class MetadataLog:
    """Driver-side IO for the transaction log under ``<location>/_space/``."""

    def __init__(self, location: str):
        # Spark SQL (CREATE TABLE ... USING space) hands the path option
        # back as a file: URI; normalize it so all entry points accept
        # both plain paths and file:/file:///-prefixed ones.
        if location.startswith("file:"):
            from urllib.parse import urlparse
            from urllib.request import url2pathname

            # url2pathname percent-DECODES: Spark hands the path option
            # back as a java.net.URI string, so '/tmp/my table' arrives
            # as 'file:/tmp/my%20table' — keeping '%20' literally would
            # split one table into two locations.
            location = url2pathname(urlparse(location).path)
        self.location = os.path.abspath(location)
        self.log_dir = os.path.join(self.location, "_space")
        self.entrypoint_path = os.path.join(self.log_dir, "entrypoint.json")

    # -- path helpers --------------------------------------------------------
    def abs_path(self, rel: str) -> str:
        return os.path.join(self.location, rel)

    def rel_path(self, abs_path: str) -> str:
        return os.path.relpath(abs_path, self.location)

    def new_metadata_relpath(self) -> str:
        return os.path.join("_space", f"metadata_{new_uuid()}.json")

    def new_manifest_relpath(self) -> str:
        return os.path.join("_space", "manifests", f"manifest_{new_uuid()}.parquet")

    def new_deletes_reldir(self) -> str:
        return os.path.join("_space", "changes", f"deletes_{new_uuid()}")

    def new_bitmap_relpath(self) -> str:
        return os.path.join("_space", "changes", f"bitmap_{new_uuid()}.parquet")

    def new_commit_data_reldir(self) -> str:
        return os.path.join("data", f"commit_{new_uuid()}")

    def exists(self) -> bool:
        return os.path.exists(self.entrypoint_path)

    # -- entrypoint protocol ---------------------------------------------------
    def init_location(self) -> None:
        for sub in ("", "manifests", "changes", "udfs"):
            os.makedirs(os.path.join(self.log_dir, sub), exist_ok=True)
        os.makedirs(os.path.join(self.location, "data"), exist_ok=True)

    def read_metadata(self) -> StorageMetadata:
        if not self.exists():
            raise SpaceError(f"No space table at {self.location}")
        with open(self.entrypoint_path, "r", encoding="utf-8") as f:
            entry = json.load(f)
        with open(self.abs_path(entry["metadata_file"]), "r", encoding="utf-8") as f:
            return StorageMetadata.from_json(f.read())

    def write_metadata(self, metadata: StorageMetadata,
                       create: bool = False,
                       json_text: Optional[str] = None) -> str:
        """Write a new immutable metadata file + atomically swap the
        entrypoint.

        Crash-durable, not just atomic: both files are fsync'd BEFORE
        the swap and the directory entry after it. Without the fsyncs,
        a power loss after the rename could leave the entrypoint
        pointing at a zero-length metadata file (rename metadata can
        reach the journal before file data on XFS and friends),
        bricking the table the "atomic swap" claims to protect.

        ``create=True`` publishes the entrypoint with an atomic
        EXCLUSIVE link instead of a replace, closing the create/create
        TOCTOU race: two concurrent ``Dataset.create`` calls on one
        location would otherwise both pass the exists() check and the
        last writer's schema would silently clobber the first's.
        """
        rel = self.new_metadata_relpath()
        with open(self.abs_path(rel), "w", encoding="utf-8") as f:
            f.write(json_text if json_text is not None
                    else metadata.to_json())
            f.flush()
            os.fsync(f.fileno())
        tmp = self.entrypoint_path + f".tmp.{new_uuid()}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"metadata_file": rel}, f)
            f.flush()
            os.fsync(f.fileno())
        if create:
            self._publish_exclusive(tmp, rel)
        else:
            os.replace(tmp, self.entrypoint_path)  # atomic on POSIX
        dir_fd = os.open(self.log_dir, os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)
        return rel

    def _publish_exclusive(self, tmp: str, rel: str) -> None:
        """Publish the entrypoint only if none exists. os.link is the
        atomic primitive; filesystems without hard links (CIFS, exFAT,
        FUSE mounts) fall back to check-then-replace under the commit
        lock. The loser's already-written files are removed — vacuum
        never sweeps a table it lost the race to create."""

        def lose():
            os.unlink(tmp)
            with contextlib.suppress(OSError):
                os.unlink(self.abs_path(rel))
            raise SpaceError(
                f"Space table already exists at {self.location} "
                "(concurrent create?)"
            )

        try:
            os.link(tmp, self.entrypoint_path)
        except FileExistsError:
            lose()
        except OSError:
            with self.commit_lock():
                if self.exists():
                    lose()
                os.replace(tmp, self.entrypoint_path)
            return
        os.unlink(tmp)

    # -- optimistic concurrency ------------------------------------------------
    @contextlib.contextmanager
    def commit_lock(self) -> Iterator[None]:
        """Serialize the validate+swap critical section for local FS writers.

        Object-store port: replace with conditional-PUT on the entrypoint
        (no lock file needed); the optimistic validate stays identical.
        """
        # Deferred import: fcntl is POSIX-only, and the read-only paths
        # (read_metadata, resolve_version) must stay importable on
        # platforms without it.
        import fcntl

        lock_path = os.path.join(self.log_dir, ".commit.lock")
        with open(lock_path, "w", encoding="utf-8") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def commit_snapshot(
        self,
        pinned_head: int,
        branch: str,
        new_snapshot: Snapshot,
        mutate=None,
        pinned_constraints_version: Optional[int] = None,
    ) -> StorageMetadata:
        """Optimistic commit (reference core/storage.py:315-367,545-596):
        re-read the log under the lock, abort if the branch head moved from
        ``pinned_head``, else append the snapshot and advance the branch.

        ``mutate(metadata)`` optionally applies extra metadata edits (refs,
        udf registry) atomically with the snapshot.

        ``pinned_constraints_version``: row-adding writers pass the
        ``constraints_version`` of the metadata they VALIDATED their rows
        against. Constraint commits go through ``update_refs`` and do not
        move the branch head, so the head pin alone cannot see them — a
        version mismatch aborts the commit and the writer re-validates
        its (still uncommitted) files against the live constraint set
        before retrying. ``None`` skips the check (metadata-only commits,
        physical rewrites of already-validated rows)."""
        with self.commit_lock():
            meta = self.read_metadata()
            head = meta.branches.get(branch)
            if head != pinned_head:
                raise TransactionConflictError(
                    f"Branch {branch!r} moved from snapshot {pinned_head} "
                    f"to {head}; transaction aborted"
                )
            if (pinned_constraints_version is not None
                    and meta.constraints_version
                    != pinned_constraints_version):
                raise TransactionConflictError(
                    "Constraint set tightened (version "
                    f"{pinned_constraints_version} -> "
                    f"{meta.constraints_version}) after this write "
                    "validated its rows; transaction aborted for "
                    "re-validation"
                )
            new_snapshot.snapshot_id = meta.next_snapshot_id
            new_snapshot.parent_snapshot_id = pinned_head
            new_snapshot.created_at = _now_iso()
            meta.snapshots[new_snapshot.snapshot_id] = new_snapshot
            meta.branches[branch] = new_snapshot.snapshot_id
            meta.next_snapshot_id += 1
            if mutate is not None:
                mutate(meta)
            self.write_metadata(meta)
            return meta

    def update_refs(self, mutate) -> StorageMetadata:
        """Non-snapshot metadata update applied atomically under the
        commit lock: refs (tags/branches), schema evolution
        (add/drop/rename column), serializer registration, snapshot
        expiry. Note these do NOT go through ``commit_snapshot``'s
        pinned-head conflict check — they re-read and mutate the
        CURRENT metadata, so they cannot conflict with a concurrent
        append (schema changes are metadata-only by design). A mutate
        that changes nothing skips the write — no orphan metadata file
        per no-op call."""
        with self.commit_lock():
            meta = self.read_metadata()
            before = meta.to_json()
            mutate(meta)
            after = meta.to_json()
            if after != before:
                # Hand the serialized text down — a third O(snapshots)
                # json.dumps per maintenance call is pure waste.
                self.write_metadata(meta, json_text=after)
            return meta


# Conflicting attempts re-run this many times before the conflict
# surfaces (six attempts in all).
COMMIT_RETRIES = 5


def retry_commit(attempt, on_conflict=None):
    """The one optimistic-retry loop every writer commits through.

    ``attempt()`` plans against the handle's loaded metadata and ends
    in ``commit_snapshot`` or ``update_refs``; its return value is
    returned. When it raises ``TransactionConflictError`` (the branch
    head or the constraint set moved under it), ``on_conflict()``
    brings the writer up to the new head and the attempt re-runs, up to
    ``COMMIT_RETRIES`` times; the last conflict is then re-raised.

    What a retry redoes depends on the writer: an append only rebuilds
    its snapshot record (appends commute, the written files stay
    valid); DML re-runs its probe against the new head, since that head
    may hold rows it never saw; a row-adding write whose rows were
    validated against an older constraint set re-validates them
    (``on_conflict`` raises ``ConstraintViolationError`` if they now
    fail). Writers that reload at the start of each attempt pass no
    ``on_conflict``."""
    for n in range(COMMIT_RETRIES + 1):
        try:
            return attempt()
        except TransactionConflictError:
            if n == COMMIT_RETRIES:
                raise
            if on_conflict is not None:
                on_conflict()


def append_snapshot(parent: Snapshot, manifest_rel: Optional[str],
                    files: List[str], rows: int, nbytes: int,
                    record_manifest: Optional[str] = None,
                    operation: str = "APPEND") -> Snapshot:
    """Child of ``parent`` that adds already-written data files (and
    their manifest) to it; a zero-row append carries the parent's files
    unchanged. Ids and timestamp are set by ``commit_snapshot``."""
    rec_manifests = list(parent.record_manifest_files)
    if record_manifest:
        rec_manifests.append(record_manifest)
    return Snapshot(
        snapshot_id=-1,
        parent_snapshot_id=parent.snapshot_id,
        created_at="",
        manifest_files=(parent.manifest_files + [manifest_rel]
                        if rows > 0 else list(parent.manifest_files)),
        num_rows=parent.num_rows + rows,
        data_bytes=parent.data_bytes + nbytes,
        added_files=list(files) if rows > 0 else [],
        record_manifest_files=rec_manifests,
        delete_vector_files=list(parent.delete_vector_files),
        operation=operation,
    )


def initial_metadata(
    table_type: str,
    schema: T.StructType,
    primary_keys: List[str],
    record_fields: List[str],
    field_ids: Dict[str, int],
    logical_plan: Optional[dict] = None,
    udf_registry: Optional[Dict[str, str]] = None,
    serializers: Optional[Dict[str, str]] = None,
    bloom: Optional[dict] = None,
    constraints: Optional[Dict[str, str]] = None,
) -> StorageMetadata:
    snap = Snapshot(
        snapshot_id=0, parent_snapshot_id=None, created_at=_now_iso(),
        operation="CREATE",
    )
    return StorageMetadata(
        table_type=table_type,
        schema=schema,
        primary_keys=list(primary_keys),
        record_fields=list(record_fields),
        field_ids=dict(field_ids),
        snapshots={0: snap},
        branches={MAIN_BRANCH: 0},
        tags={},
        next_snapshot_id=1,
        logical_plan=logical_plan,
        udf_registry=dict(udf_registry or {}),
        serializers=dict(serializers or {}),
        bloom=bloom,
        constraints=dict(constraints or {}),
    )
