"""Benchmark-side tracing: spans around calls into each engine module.

Nothing here edits the engine. ``install_engine_wrappers`` replaces
public module functions and methods with wrappers that record a span per
call, and ``Tracer.uninstall`` puts the originals back. Spans stay in memory; ``to_json``
writes them out when the run ends. Functions that run inside Spark tasks
cannot be timed from the driver: their cost shows up under ``spark.*``.
"""

from __future__ import annotations

import functools
import inspect
import json
import threading
import time
from dataclasses import asdict, dataclass, field
from typing import Callable, Dict, List, Optional, Tuple


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    op_id: Optional[int]
    info: dict = field(default_factory=dict)


def _covered(intervals: List[Tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: List[Span]) -> Dict[int, float]:
    """span_id -> duration minus the part of it its child spans cover.
    Children are clipped to their parent's interval, and overlapping
    children (other threads) are counted once."""
    children: Dict[int, List[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        kids = [(max(c.start, sp.start), min(c.end, sp.end))
                for c in children.get(sp.span_id, ())]
        kids = [(s, e) for s, e in kids if e > s]
        out[sp.span_id] = (sp.end - sp.start) - _covered(kids)
    return out


class Tracer:
    """Records spans with a per-thread parent stack. ``op_id`` is the
    benchmark op the spans belong to; the caller sets it per op."""

    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: List[Span] = []
        self.op_id: Optional[int] = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: List[Tuple[object, str, object]] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> Span:
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, self.clock(), 0.0,
                      stack[-1].span_id if stack else None, self.op_id)
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = self.clock()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    def call(self, name: str, fn, args, kwargs, on_result=None):
        sp = self.begin(name)
        try:
            result = fn(*args, **kwargs)
        except BaseException as e:
            sp.info["error"] = type(e).__name__
            raise
        finally:
            self.end(sp)
        if on_result is not None:
            on_result(sp, args, kwargs, result)
        return result

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        with a span-recording wrapper."""
        static = inspect.getattr_static(owner, attr)
        if isinstance(static, (staticmethod, classmethod)):
            raise TypeError(f"cannot wrap {name}: {type(static).__name__}")
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(name, orig, args, kwargs, on_result)

        own = attr in vars(owner)
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig if own else None))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)

    def to_json(self) -> str:
        return "\n".join(json.dumps(asdict(s)) for s in self.spans)


def _prune_result(sp, args, kwargs, result):
    # prune_files(spark, manifest_abs_paths, ...) -> kept rel paths
    paths = kwargs.get("manifest_abs_paths", args[1] if len(args) > 1 else ())
    sp.info["manifests"] = list(paths or ())
    sp.info["n_out"] = len(result or ())


def _bool_result(sp, args, kwargs, result):
    sp.info["match"] = bool(result)


def _len_result(sp, args, kwargs, result):
    sp.info["n_out"] = len(result or ())


def install_engine_wrappers(tracer: Tracer) -> None:
    """Wrap each engine layer's public entry points (by module) and the
    public pyspark calls that launch Spark work."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    from space_spark.core import agg_views, blooms, manifests, metadata
    from space_spark.core import random_access, records, views

    w = tracer.wrap
    w(DataFrameWriter, "parquet", "spark.write_parquet")
    w(DataFrameWriter, "save", "spark.write_parquet")
    for attr in ("collect", "count", "toPandas", "toArrow"):
        w(DataFrame, attr, "spark.action")
    w(manifests, "prune_files", "manifests.prune_files", _prune_result)
    w(manifests, "collect_file_stats", "manifests.collect_file_stats")
    w(manifests, "write_manifest", "manifests.write_manifest")
    w(manifests, "read_file_blooms", "manifests.read_file_blooms")
    w(blooms, "file_matches_any", "blooms.file_matches", _bool_result)
    w(blooms, "file_matches_value_sets", "blooms.file_matches", _bool_result)
    log = metadata.MetadataLog
    w(log, "commit_snapshot", "metadata.commit_snapshot")
    w(log, "read_metadata", "metadata.read_metadata")
    w(log, "write_metadata", "metadata.write_metadata")
    w(log, "update_refs", "metadata.update_refs")
    w(records, "read_blob_column", "records.read_blob_column")
    w(random_access.RandomAccessDataSource, "__getitems__",
      "random_access.getitems")
    w(views.MaterializedView, "refresh", "views.refresh", _len_result)
    w(agg_views.MaterializedAggregate, "refresh", "agg_views.refresh")


class JobCounter:
    """Spark jobs, stages and tasks launched between ``mark`` and
    ``delta``: StatusTracker deltas over the jobs that carry no job
    group (the engine sets none)."""

    def __init__(self, spark):
        self._jt = spark.sparkContext._jsc.sc().statusTracker()
        self._before: set = set()

    def _ids(self) -> set:
        return set(self._jt.getJobIdsForGroup(None))

    def mark(self) -> None:
        self._before = self._ids()

    def delta(self) -> Tuple[int, int, int]:
        new_jobs = sorted(self._ids() - self._before)
        n_stages = n_tasks = 0
        for j in new_jobs:
            info = self._jt.getJobInfo(j)
            if info.isEmpty():
                continue
            for sid in info.get().stageIds():
                si = self._jt.getStageInfo(sid)
                if not si.isEmpty():
                    n_stages += 1
                    n_tasks += si.get().numTasks()
        return len(new_jobs), n_stages, n_tasks
