"""Per-file primary-key Bloom filters for point-read pruning.

Range (min/max) manifest stats prune point lookups well only when the
table is clustered on the probed key; on an unclustered table every
file's range covers almost every key and a single-row lookup still
scans the table. A small Bloom filter per (file, PK column) — built at
write time from the file's actual key values, stored as a binary
manifest column — lets ``read_by_keys`` skip files that provably do
not contain ANY probed key, turning point reads on unclustered tables
from O(table) into O(matching files + false positives).

Design for 100 TB:
- build cost rides the existing footer-stats pass (the per-file stat
  collection is already distributed for large commits); one extra
  columnar read of the PK columns per newly written file, never a
  table scan;
- the build is VECTORIZED: integral / date / timestamp keys are
  canonicalized to int64 arrow-side and hashed with a numpy
  splitmix64 double hash — zero per-row Python work for the common
  (numeric-PK) case. String/binary keys hash per value (md5) but fold
  their bit positions vectorized;
- size ~10 bits/key (k=7 double-hashed probes -> ~0.8% false-positive
  rate), capped at 1 MiB per filter so a 10M-row file degrades to a
  coarser filter instead of bloating the manifest;
- probing is driver-side over manifest rows (one row per data file —
  the same driver-scale object the planner already holds) against a
  BOUNDED key set; large key sets skip Bloom pruning and keep the
  broadcast semi-join path.

Cross-side determinism (the v1 bug): build-side values come from
pyarrow, probe-side values from a Spark collect; hashing their
``str()`` renderings silently diverged for timestamps (tz-aware UTC vs
naive session-time), producing FALSE NEGATIVES — a pruned file that
actually held the key. v2 fixes this by hashing CANONICAL values only:

- integral / boolean          -> int64 (value)
- date                        -> int64 epoch DAYS
- timestamp (instant)         -> int64 epoch MICROS (UTC)
- string                      -> utf-8 bytes
- binary                      -> raw bytes
- anything else (float, decimal, TIMESTAMP_NTZ, nested): UNSUPPORTED —
  no filter is built (None filters never prune), so exotic PK types
  degrade to the semi-join path instead of risking divergence.

A key-set probe (``read_by_keys`` of a DataFrame) performs the
temporal->int64 casts in Spark (``unix_micros`` / ``unix_date``) before
collecting, and Arrow-held keys map tz-aware values to the same
integers, so no naive Python datetime ever reaches the hash. An
equality literal of a read's filter canonicalizes in Python
(``canonicalize_literal``), replicating what ``F.lit`` does with it.
Filters are versioned (metadata ``bloom.v``); a probe that sees any
other version never prunes, so pre-v2 filters are inert rather than
wrong.

int64 hashing is two independent splitmix64 mixes (public-domain
finalizer from Steele et al., "Fast Splittable Pseudorandom Number
Generators"); bytes hashing is Kirsch-Mitzenmacher double hashing over
the two 64-bit halves of md5. Opt-in per table
(``Dataset.create(..., bloom_filters=True)``) because every append
pays the PK re-read; existing tables and default tables are
byte-identical to before.
"""

from __future__ import annotations

import hashlib
from datetime import date, datetime, timezone
from typing import Dict, List, Optional, Sequence

import numpy as np

BLOOM_VERSION = 2

BITS_PER_KEY = 10
NUM_HASHES = 7
MIN_BITS = 1024
MAX_BITS = 1 << 23  # 1 MiB per filter

_M64 = 0xFFFFFFFFFFFFFFFF
# Distinct pre-mix XOR seeds give two independent 64-bit hash streams.
_SEED1 = 0x9E3779B97F4A7C15
_SEED2 = 0xC2B2AE3D27D4EB4F

_EPOCH_DT = datetime(1970, 1, 1, tzinfo=timezone.utc)
_EPOCH_D = date(1970, 1, 1)


def _splitmix64(x: int) -> int:
    x &= _M64
    x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & _M64
    x = (x ^ (x >> 27)) * 0x94D049BB133111EB & _M64
    return x ^ (x >> 31)


def _canon(value):
    """Canonicalize one probe/build value to int or bytes (the only two
    hash domains). Temporal types use the SAME epoch integers the
    arrow-side vectorized build produces."""
    if isinstance(value, bool):
        return int(value)
    if isinstance(value, (int, np.integer)):
        return int(value)
    if isinstance(value, bytes):
        return value
    if isinstance(value, (bytearray, memoryview)):
        return bytes(value)
    if isinstance(value, str):
        return value.encode("utf-8")
    if isinstance(value, datetime):
        v = value if value.tzinfo else value.replace(tzinfo=timezone.utc)
        d = v - _EPOCH_DT
        return (d.days * 86_400_000_000 + d.seconds * 1_000_000
                + d.microseconds)
    if isinstance(value, date):
        return (value - _EPOCH_D).days
    raise TypeError(f"Unsupported bloom key type: {type(value).__name__}")


def _hash_pair(value) -> tuple:
    v = _canon(value)
    if isinstance(v, int):
        u = v & _M64  # two's complement for negatives, matches uint64 view
        return _splitmix64(u ^ _SEED1), _splitmix64(u ^ _SEED2) | 1
    d = hashlib.md5(v).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1  # odd: full-period stride
    return h1, h2


def sized_bits(n_keys: int, bits_per_key: Optional[int] = None) -> int:
    """Bitmap size for ``n_keys`` values. ``bits_per_key`` is a BUILD-
    side-only knob (round 12, table option "bpk"): probes read the
    bitmap's own length, so tables sized differently interoperate and
    re-sizing only affects files written afterwards. NUM_HASHES stays
    fixed at 7 — near-optimal across the allowed 5..20 range (FPP
    ~2.2% at 8 b/k, ~0.8% at 10, ~0.1% at 16)."""
    bpk = BITS_PER_KEY if bits_per_key is None else bits_per_key
    bits = max(MIN_BITS, min(MAX_BITS, n_keys * bpk))
    return (bits + 7) // 8 * 8


def _splitmix64_np(x: "np.ndarray") -> "np.ndarray":
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _fold(bitmap: bytearray, h1: "np.ndarray", h2: "np.ndarray",
          bits: int) -> None:
    """OR the k probe positions of every (h1, h2) pair into ``bitmap``
    with numpy — no per-key Python loop. Scatter into a bool array and
    packbits (LSB-first, matching the scalar probe's 1 << (pos & 7))
    rather than bitwise_or.at, whose unbuffered scatter is ~50x slower."""
    flags = np.zeros(bits, dtype=bool)
    ubits = np.uint64(bits)
    for i in range(NUM_HASHES):
        pos = (h1 + np.uint64(i) * h2) % ubits  # wraps mod 2^64, like scalar
        flags[pos] = True
    view = np.frombuffer(bitmap, dtype=np.uint8)
    view |= np.packbits(flags, bitorder="little")


def _int_hashes(vals: "np.ndarray") -> tuple:
    u = vals.astype(np.uint64, copy=False)
    h1 = _splitmix64_np(u ^ np.uint64(_SEED1))
    h2 = _splitmix64_np(u ^ np.uint64(_SEED2)) | np.uint64(1)
    return h1, h2


def build(values, n_keys: Optional[int] = None,
          bits_per_key: Optional[int] = None) -> bytes:
    """Bloom bitmap over ``values`` (NULLs skipped — PKs reject nulls at
    ingress anyway). Scalar path; the write path uses the vectorized
    ``build_arrow``."""
    vals = [v for v in values if v is not None]  # size AFTER null-drop,
    bits = sized_bits(n_keys if n_keys is not None else len(vals),
                      bits_per_key)
    # matching build_arrow's drop_null-first sizing bit for bit.
    bitmap = bytearray(bits // 8)
    pairs = [_hash_pair(v) for v in vals]
    if pairs:
        arr = np.asarray(pairs, dtype=np.uint64)
        _fold(bitmap, arr[:, 0], arr[:, 1], bits)
    return bytes(bitmap)


def build_arrow(col, n_keys: Optional[int] = None,
                naive_is_utc: bool = False,
                bits_per_key: Optional[int] = None) -> Optional[bytes]:
    """Vectorized build from a pyarrow (Chunked)Array, as read straight
    off the just-written Parquet file in the footer-stats pass.

    Integral / boolean / date / timestamp columns canonicalize to int64
    arrow-side and hash fully vectorized in numpy (the v1 per-row
    Python md5 loop is gone). String/binary columns still md5 per value
    but fold positions vectorized. Returns None (= no filter, never
    prunes) for unsupported types, so probes stay exact.

    ``naive_is_utc``: the caller has proven from the Parquet footer
    that a tz-naive arrow timestamp column actually stores UTC
    INSTANTS — the INT96 case: Spark's DEFAULT
    ``spark.sql.parquet.outputTimestampType`` is INT96, whose epoch
    nanos are UTC by the format spec, but pyarrow surfaces them as
    ``timestamp[ns]`` with ``tz=None``. Without the flag those columns
    would silently build no filter (every append pays the PK re-read
    for zero pruning — ADVICE r9 medium)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = col.type
    col = pc.drop_null(col)
    n = n_keys if n_keys is not None else len(col)
    bits = sized_bits(n, bits_per_key)
    bitmap = bytearray(bits // 8)
    if len(col) == 0:
        return bytes(bitmap)
    if pa.types.is_boolean(t) or pa.types.is_integer(t):
        ints = col.cast(pa.int64())
    elif pa.types.is_timestamp(t):
        if t.tz is None and naive_is_utc:
            # INT96 epoch nanos read back tz-naive; the values ARE UTC
            # instants, so epoch micros = the probe's unix_micros.
            # Spark writes micro-precision instants (ns % 1000 == 0);
            # a foreign INT96 writer with true sub-micro nanos would
            # make this cast lossy — degrade to no-filter rather than
            # risk rounding divergence against the probe.
            try:
                ints = col.cast(pa.timestamp("us")).cast(pa.int64())
            except pa.lib.ArrowInvalid:
                return None
        elif t.tz is None:
            # isAdjustedToUTC=false (a foreign writer's wall-clock
            # timestamps): the stored micros are NOT an instant, while
            # the probe hashes session-resolved UTC micros — hashing
            # them would build filters that FALSE-NEGATIVE under any
            # non-UTC session. No filter: degrade to the semi-join —
            # loudly, because the table keeps paying the build-side PK
            # re-read for zero pruning.
            import warnings

            warnings.warn(
                "bloom filter degraded to none for a tz-naive "
                "(isAdjustedToUTC=false) timestamp PK column: point "
                "reads fall back to the semi-join; write with "
                "spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS"
                " (or INT96) for bloom pruning",
                RuntimeWarning,
                stacklevel=2,
            )
            return None
        # Arrow stores instants as epoch offsets; normalize to micros.
        # (Spark writes isAdjustedToUTC micros, so this IS unix_micros.)
        ints = col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    elif pa.types.is_date32(t):
        ints = col.cast(pa.int32()).cast(pa.int64())  # epoch days
    elif pa.types.is_date64(t):
        ints = col.cast(pa.date32()).cast(pa.int32()).cast(pa.int64())
    elif (pa.types.is_string(t) or pa.types.is_large_string(t)
          or pa.types.is_binary(t) or pa.types.is_large_binary(t)):
        utf8 = pa.types.is_string(t) or pa.types.is_large_string(t)
        pairs = np.empty((len(col), 2), dtype=np.uint64)
        i = 0
        for v in col.to_pylist():
            d = hashlib.md5(v.encode("utf-8") if utf8 else v).digest()
            pairs[i, 0] = int.from_bytes(d[:8], "little")
            pairs[i, 1] = int.from_bytes(d[8:], "little") | 1
            i += 1
        _fold(bitmap, pairs[:, 0], pairs[:, 1], bits)
        return bytes(bitmap)
    else:
        return None  # unsupported PK type: no filter, never prunes
    if isinstance(ints, pa.ChunkedArray):
        ints = ints.combine_chunks()
    vals = ints.to_numpy(zero_copy_only=False)
    h1, h2 = _int_hashes(vals)
    _fold(bitmap, h1, h2, bits)
    return bytes(bitmap)


def probe_exprs(pks: Sequence[str], schema) -> Optional[list]:
    """Spark Column expressions canonicalizing each PK for probing —
    temporal casts happen IN SPARK so no ambiguous naive datetime ever
    reaches ``might_contain``. Returns None if any PK type is
    unsupported (its build-side filter is None too, so pruning would be
    a no-op anyway)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    out = []
    for pk in pks:
        dt = schema[pk].dataType
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType, T.BooleanType)):
            out.append(F.col(pk).cast("long").alias(pk))
        elif isinstance(dt, T.DateType):
            out.append(F.unix_date(F.col(pk)).alias(pk))
        elif isinstance(dt, T.TimestampType):
            out.append(F.unix_micros(F.col(pk)).alias(pk))
        elif isinstance(dt, (T.StringType, T.BinaryType)):
            out.append(F.col(pk))
        else:
            return None
    return out


def file_matches_value_sets(blooms: Dict[str, Optional[bytes]],
                            col_values: Dict[str, list]) -> bool:
    """Per-column INDEPENDENT membership (equality/IN conjuncts): a
    file survives iff, for EVERY constrained column, ANY listed value
    might be present. Differs from ``file_matches_any``'s tuple
    semantics (point-read key rows, where a whole row must co-occur).
    A column with a missing/absent filter never prunes."""
    for col, vals in col_values.items():
        bm = blooms.get(col)
        if bm in (None, b""):
            continue
        if not any(might_contain(bm, v) for v in vals):
            return False
    return True


def probe_values(expr, schema, renames, indexed, max_values: int
                 ) -> Dict[str, list]:
    """{physical column: canonical probe values} with which bloom
    membership prunes a read filtered by ``expr`` (an ``Expr`` over
    PHYSICAL names): its top-level equality and IN conjuncts
    (``expressions.equality_conjuncts``) on the ``indexed`` columns,
    each literal canonicalized against the column's type in the logical
    ``schema`` (``renames``: logical -> physical). A column holding a
    literal that does not canonicalize does not prune, and more than
    ``max_values`` values in all prune nothing (a huge IN list hits
    most files anyway). Shared by ``Dataset`` reads and the
    ``format("space")`` planner; no Spark job."""
    from space_spark.core.expressions import equality_conjuncts

    if expr is None or not indexed:
        return {}
    types = {renames.get(f.name, f.name): f.dataType for f in schema}
    out = {}
    for phys, vs in equality_conjuncts(expr).items():
        if phys not in indexed or phys not in types:
            continue
        canons = [canonicalize_literal(types[phys], v) for v in vs]
        if all(ok for ok, _ in canons):
            # All-None (col IN (NULL, ...)) matches no row: an empty
            # list prunes every file, which is correct.
            out[phys] = [c for _, c in canons if c is not None]
    return out if sum(map(len, out.values())) <= max_values else {}


def canonicalize_literal(dt, v):
    """Python canonicalization of an equality literal to the build-side
    hash domain, with no Spark job: the equality probe of ``Dataset``
    reads and of the ``format("space")`` planner (``probe_values``).
    Returns ``(ok, canonical)``; ``ok=False`` means "cannot
    canonicalize safely here" (an unsupported type, for which no
    filter was built, or a literal of another type than the column's).

    Timestamps (round 13 — the r12 skip is gone). The anchor is what
    Spark's ROW-LEVEL evaluation of the same literal does, measured
    empirically on pyspark 4.1.2:

    - An AWARE datetime is an unambiguous instant; its epoch micros
      ARE the build side's ``unix_micros``. This is also exactly what
      the variant decode hands ``pushFilters`` for every TIMESTAMP
      literal (pyspark's variant_utils localizes micros-since-epoch
      into an aware datetime), so the SQL-catalog route never needs
      timezone knowledge at all.
    - A NAIVE datetime (the ``prune_expr`` route: a space ``Expr``
      literal whose row filter runs through ``F.lit``) converts via
      ``TimestampType.toInternal`` = ``time.mktime`` — the SYSTEM
      timezone, NOT ``spark.sql.session.timeZone`` (session tz governs
      SQL text literals only; verified live: F.lit(naive) under a
      LA session on a UTC host gives the UTC-wall micros). The planner
      worker shares the host and TZ with the driver that will run the
      row filter, so replicating toInternal's arithmetic here agrees
      with the row anchor bit-for-bit, DST edges included."""
    import calendar as _cal
    import datetime as _dt
    import time as _time

    from pyspark.sql import types as T

    if v is None:
        return True, None  # might_contain(None) -> False: col == NULL
        # matches no row under SQL semantics, so full prune is correct.
    # The literal's Python type is gated per column type: a mismatched
    # literal (``string_col == 5``) would hash in the wrong domain and
    # prune files whose rows Spark's coercing comparison matches.
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                       T.LongType, T.BooleanType)) \
            and isinstance(v, (int, bool)):
        return True, int(v)
    if isinstance(dt, T.DateType) and isinstance(v, _dt.date) \
            and not isinstance(v, _dt.datetime):
        return True, (v - _dt.date(1970, 1, 1)).days
    if isinstance(dt, T.TimestampType) and isinstance(v, _dt.datetime):
        try:  # TimestampType.toInternal, replicated exactly
            seconds = (_cal.timegm(v.utctimetuple()) if v.tzinfo
                       else _time.mktime(v.timetuple()))
            return True, int(seconds) * 1_000_000 + v.microsecond
        except (OverflowError, OSError, ValueError):
            return False, None  # out of mktime's range: skip, don't guess
    if isinstance(dt, (T.StringType, T.BinaryType)) \
            and isinstance(v, (str, bytes)):
        return True, v
    return False, None


def might_contain(bitmap: bytes, value) -> bool:
    if value is None:
        # PKs are NOT NULL, so a NULL probe component can never be
        # present in any file. v1 hashed str(None) to the same effect;
        # raising here would crash read_by_keys on a key set with one
        # null row (e.g. derived from an outer join).
        return False
    if not bitmap:
        return True  # absent/empty filter: never prune
    bits = len(bitmap) * 8
    h1, h2 = _hash_pair(value)
    for i in range(NUM_HASHES):
        # & _M64 first: numpy's uint64 fold wraps mod 2^64 before % bits,
        # so the scalar probe must too or build/probe positions diverge.
        pos = ((h1 + i * h2) & _M64) % bits
        if not bitmap[pos >> 3] & (1 << (pos & 7)):
            return False
    return True


def file_matches_any(blooms: Dict[str, Optional[bytes]],
                     key_rows: Sequence[dict],
                     pks: List[str]) -> bool:
    """True if ANY probed key tuple may be present: for a tuple to be in
    the file, EVERY component must pass its column's filter. A file
    with any missing filter is never pruned."""
    if any(blooms.get(pk) in (None, b"") for pk in pks):
        return True
    return any(
        all(might_contain(blooms[pk], row[pk]) for pk in pks)
        for row in key_rows
    )
