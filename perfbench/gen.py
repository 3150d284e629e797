"""Seeded input generator: tables, op schedules and op inputs.

Everything a run feeds the engine comes from here and from ``--seed``:
the same seed gives the same tables, the same op sequence and the same
inputs. The tables are synthetic stand-ins with the shape of TPC-H
lineitem plus a text corpus, generated in the process so a
run reads nothing outside its checkout.

The op-class schedule of a workload is a fixed round robin over the
classes of its mix, one op of each class per round, the same for every
seed; the seed draws the keys, values and parameters of each op. A
window therefore runs the same classes in the same order on every seed,
and every class has as many latency samples as the rarest one, so the
spread between runs measures the engine and not the luck of the draw.
The mix shares weight the class latencies into the nominal mix's
throughput (``run.Window.ops_per_s``); they do not set how often a class
runs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa


@dataclass(frozen=True)
class Sizes:
    lineitem_rows: int = 20_000
    base_files: int = 8
    append_rows: int = 1_000
    upsert_keys: int = 200
    delete_keys: int = 50
    merge_rows: int = 100
    # lookup_scan setup: small commits whose files overlap in key range
    setup_appends: int = 2
    setup_append_rows: int = 500
    setup_upserts: int = 1
    read_keys: int = 10
    range_keys: int = 500
    docs: int = 512
    doc_files: int = 8  # more than RandomAccessDataSource's 4-file cache
    ra_batch: int = 64
    # ops generated per run; a window stops early when its time is up
    max_ops: int = 300


TINY = Sizes(lineitem_rows=2_000, base_files=4, append_rows=50,
             upsert_keys=20, delete_keys=5, merge_rows=10,
             setup_appends=2, setup_append_rows=40, setup_upserts=1,
             read_keys=4, range_keys=50, docs=96, doc_files=6,
             ra_batch=8, max_ops=200)

# class -> share of the nominal mix; a round runs the classes in this
# order, so "mv_read" always follows its "refresh"
MIXES: Dict[str, List[Tuple[str, int]]] = {
    # CDC batches into lineitem, and every few batches the downstream
    # views are refreshed ("refresh") and read back ("mv_read")
    "ingest_cdc": [("append", 36), ("upsert", 24), ("delete", 12),
                   ("merge", 8), ("refresh", 10), ("mv_read", 10)],
    "lookup_scan": [("point_read", 40), ("range_scan", 20),
                    ("full_scan", 10), ("bloom_read", 10),
                    ("time_travel", 5), ("random_access", 15)],
}

COMMIT_OPS = ("append", "upsert", "delete", "merge")

FLAGS = np.array(["A", "N", "R"])
MODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP",
                  "TRUCK"])
WORDS = np.array(["carefully", "final", "deposits", "detect", "slyly",
                  "regular", "accounts", "ironic", "packages", "haggle",
                  "quickly", "express", "requests", "boost", "furiously",
                  "pending", "theodolites", "sleep", "blithely", "even"])


def schedule(mix: Sequence[Tuple[str, int]], n: int) -> List[str]:
    """Round robin: each round runs every class of ``mix`` once, in the
    mix's order. The order does not depend on any seed."""
    order = [kind for kind, _ in mix]
    return [order[i % len(order)] for i in range(n)]


def _words(rng, n: int, lo: int, hi: int) -> List[str]:
    lens = rng.integers(lo, hi, n)
    picks = rng.integers(0, len(WORDS), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(WORDS[picks[at:at + k]]))
        at += k
    return out


def lineitem(rng, ids, n_parts: int) -> pa.Table:
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    return pa.table({
        "l_id": ids,
        "l_orderkey": ids // 4,
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_quantity": rng.integers(1, 51, n),
        "l_price_cents": rng.integers(90_000, 10_500_000, n),
        "l_discount": rng.integers(0, 11, n),
        "l_returnflag": FLAGS[rng.integers(0, len(FLAGS), n)],
        "l_shipmode": MODES[rng.integers(0, len(MODES), n)],
        "l_comment": _words(rng, n, 2, 6),
    })


def documents(rng, n: int) -> pa.Table:
    text = [t.encode() for t in _words(rng, n, 40, 160)]
    return pa.table({"doc_id": np.arange(n, dtype=np.int64),
                     "text": pa.array(text, pa.binary())})


class KeyPool:
    """Live keys with O(1) draw and removal, in a deterministic order."""

    def __init__(self, keys):
        self.keys = [int(k) for k in keys]
        self.pos = {k: i for i, k in enumerate(self.keys)}

    def draw(self, rng, k: int, exclude=()) -> np.ndarray:
        exclude = set(int(x) for x in exclude)
        idx = rng.choice(len(self.keys), min(len(self.keys),
                                             k + len(exclude)),
                         replace=False)
        out = [self.keys[i] for i in idx if self.keys[i] not in exclude]
        return np.array(out[:k], dtype=np.int64)

    def add(self, keys) -> None:
        for k in keys:
            k = int(k)
            if k not in self.pos:
                self.pos[k] = len(self.keys)
                self.keys.append(k)

    def remove(self, keys) -> None:
        for k in keys:
            i = self.pos.pop(int(k), None)
            if i is None:
                continue
            last = self.keys.pop()
            if i < len(self.keys):
                self.keys[i] = last
                self.pos[last] = i


@dataclass
class Op:
    index: int
    kind: str
    keys: Optional[np.ndarray] = None      # keys read, rewritten or deleted
    new_keys: Optional[np.ndarray] = None  # keys the op inserts
    value: int = 0                         # range start, threshold, ...
    seed: int = 0                          # draws the op's row values

    def rows_rng(self):
        return np.random.default_rng(self.seed)


@dataclass
class Plan:
    """A workload's generated inputs: setup tables and commits, then the
    op sequence of the timed window."""
    workload: str
    sizes: Sizes
    base: pa.Table
    setup_commits: List[Op] = field(default_factory=list)
    docs: Optional[pa.Table] = None
    ops: List[Op] = field(default_factory=list)


def op_rows(op: Op, sizes: Sizes) -> pa.Table:
    """The rows an op writes: new rows for its ``new_keys`` and fresh
    values for the existing ``keys`` it rewrites."""
    rng = op.rows_rng()
    keys = [k for k in (op.keys, op.new_keys) if k is not None]
    return lineitem(rng, np.concatenate(keys), _parts(sizes))


# MERGE clauses: a matched source row with no discount deletes its
# target row, any other matched row replaces it, unmatched rows insert.
def merge_deletes(op: Op, sizes: Sizes) -> np.ndarray:
    rows = op_rows(op, sizes)
    matched = np.isin(rows["l_id"].to_numpy(), op.keys)
    gone = matched & (rows["l_discount"].to_numpy() == 0)
    return rows["l_id"].to_numpy()[gone]


def _op_seed(rng) -> int:
    return int(rng.integers(0, 2 ** 62))


def make_plan(workload: str, seed: int, sizes: Sizes = Sizes()) -> Plan:
    rng = np.random.default_rng([seed, sorted(MIXES).index(workload)])
    kinds = schedule(MIXES[workload], sizes.max_ops)
    if workload == "ingest_cdc":
        return _ingest_plan(rng, kinds, sizes)
    if workload == "lookup_scan":
        return _lookup_plan(rng, kinds, sizes)
    raise ValueError(f"unknown workload {workload!r}")


def _parts(sizes: Sizes) -> int:
    return max(sizes.lineitem_rows // 4, 1)


def _ingest_plan(rng, kinds, sizes: Sizes) -> Plan:
    n = sizes.lineitem_rows
    base = lineitem(rng, np.arange(n), _parts(sizes))
    pool = KeyPool(range(n))
    recent: List[np.ndarray] = []
    # keys inserted, rewritten and deleted since the last refresh
    touched: Dict[str, List[int]] = {"new": [], "changed": [], "gone": []}
    next_id = n
    ops = []
    for i, kind in enumerate(kinds):
        op = Op(i, kind, seed=_op_seed(rng))
        if kind == "mv_read":
            # read back a few keys of each change kind since the refresh
            k = max(1, sizes.read_keys // 3)
            op.keys = np.array(
                [x for part in touched.values() for x in part[-k:]],
                dtype=np.int64)
            touched = {"new": [], "changed": [], "gone": []}
        elif kind == "append":
            op.new_keys = np.arange(next_id, next_id + sizes.append_rows,
                                    dtype=np.int64)
            next_id += sizes.append_rows
            pool.add(op.new_keys)
            recent = (recent + [op.new_keys])[-5:]
            touched["new"] += op.new_keys.tolist()
        elif kind == "upsert":
            # CDC favours recent rows: half the keys from recent appends
            live_recent = [k for batch in recent for k in batch
                           if int(k) in pool.pos]
            half = min(sizes.upsert_keys // 2, len(live_recent))
            hot = (rng.choice(live_recent, half, replace=False)
                   if half else np.array([], dtype=np.int64))
            cold = pool.draw(rng, sizes.upsert_keys - half, exclude=hot)
            op.keys = np.concatenate([hot, cold]).astype(np.int64)
            touched["changed"] += op.keys.tolist()
        elif kind == "delete":
            op.keys = pool.draw(rng, sizes.delete_keys)
            pool.remove(op.keys)
            touched["gone"] += op.keys.tolist()
        elif kind == "merge":
            op.keys = pool.draw(rng, sizes.merge_rows // 2)
            op.new_keys = np.arange(
                next_id, next_id + sizes.merge_rows - len(op.keys),
                dtype=np.int64)
            next_id += len(op.new_keys)
            pool.add(op.new_keys)
            gone = merge_deletes(op, sizes)
            pool.remove(gone)
            touched["new"] += op.new_keys.tolist()
            touched["changed"] += op.keys.tolist()
            touched["gone"] += gone.tolist()
        ops.append(op)
    return Plan("ingest_cdc", sizes, base, ops=ops)


def _lookup_plan(rng, kinds, sizes: Sizes) -> Plan:
    n = sizes.lineitem_rows
    # even keys in bulk; odd keys arrive later in small commits spread
    # across the whole key range, so their files overlap every bulk file
    base = lineitem(rng, np.arange(n) * 2, _parts(sizes))
    odd = rng.permutation(n) * 2 + 1
    live = KeyPool(np.arange(n) * 2)
    total = sizes.setup_appends + sizes.setup_upserts
    upsert_at = {(k + 1) * total // (sizes.setup_upserts + 1)
                 for k in range(sizes.setup_upserts)}
    commits = []
    at = 0
    for c in range(total):
        op = Op(c, "append", seed=_op_seed(rng))
        if c in upsert_at:
            op.kind = "upsert"
            op.keys = live.draw(rng, sizes.setup_append_rows // 2)
        else:
            op.new_keys = np.sort(odd[at:at + sizes.setup_append_rows])
            at += sizes.setup_append_rows
            live.add(op.new_keys)
        commits.append(op)
    absent = odd[at:]
    docs = documents(rng, sizes.docs)
    n_versions = len(commits) + 1
    ops = []
    for i, kind in enumerate(kinds):
        op = Op(i, kind, seed=_op_seed(rng))
        if kind == "point_read":
            k_abs = max(1, sizes.read_keys // 5)
            op.keys = np.concatenate([
                live.draw(rng, sizes.read_keys - k_abs),
                rng.choice(absent, k_abs, replace=False),
            ]).astype(np.int64)
        elif kind == "range_scan":
            op.value = int(rng.integers(0, max(1, 2 * n - 2 * sizes.range_keys)))
        elif kind == "full_scan":
            op.value = int(rng.integers(1, 50))
        elif kind == "bloom_read":
            # about four rows carry each part key, anywhere in the table
            op.value = int(rng.integers(0, _parts(sizes)))
        elif kind == "time_travel":
            op.value = int(rng.integers(1, n_versions))
        elif kind == "random_access":
            # skewed: low doc ids are hot, and hot docs are spread over
            # every blob file, more files than the reader's file cache
            u = rng.random(sizes.ra_batch)
            op.keys = np.floor(sizes.docs * u ** 3).astype(np.int64)
        ops.append(op)
    return Plan("lookup_scan", sizes, base, setup_commits=commits,
                docs=docs, ops=ops)
