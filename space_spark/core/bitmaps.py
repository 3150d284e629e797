"""Row-level delete bitmaps: compact per-file encodings of deleted row
positions, the format of merge-on-read delete vectors.

The reference's change log stores deletions as per-file roaring bitmaps
(metadata.proto:160-191 ``RowBitmap {file, all_rows, roaring_bitmap,
num_rows}``). Here the change log is the PK deletes log, which every
change consumer reads without a re-scan; the bitmaps serve the delete
vectors that mask rows out of reads without rewriting data files. The
encoding is dependency-free and matches roaring's small/dense split at
file granularity:

- SPARSE (tag 0): sorted uint32 positions — O(deleted rows) bytes. A
  1-row delete from a 1M-row file is 5 bytes, not 125 KB.
- DENSE (tag 1): raw bitset — O(file rows / 8) bytes, chosen when more
  than 1/32nd of the file is deleted (the crossover where 4-byte
  positions outgrow 1-bit membership).
- ALL (tag 2): every row of the file — zero payload, O(1) regardless of
  row count. This is the reference's ``RowBitmap.all_rows`` flag
  (metadata.proto:182): a vector that covers a whole file, or a fold
  that unions to one, costs 1 byte instead of rows/8.

Encoding is chosen per file by actual size, so bitmap bytes are always
min(4*k, num_rows/8, 1-if-full) + 1 — never O(rows) for a small delete
and O(1) for a full-file delete. Decoders expand ALL lazily at the
consumer (the MoR maskers run distributed, per-file).
"""

from __future__ import annotations

import numpy as np

_TAG_SPARSE = 0
_TAG_DENSE = 1
_TAG_ALL = 2


def encode_positions(positions: np.ndarray, num_rows: int) -> bytes:
    """Encode sorted deleted-row positions within a file of ``num_rows``.

    ``positions`` must be non-negative, strictly increasing, and less
    than ``num_rows`` (callers pass ``np.unique`` output).
    """
    pos = np.asarray(positions, dtype=np.uint32)
    if int(pos.size) == num_rows and num_rows > 0:
        return bytes([_TAG_ALL])
    sparse_bytes = 4 * int(pos.size)
    dense_bytes = (num_rows + 7) // 8
    if sparse_bytes <= dense_bytes:
        return bytes([_TAG_SPARSE]) + pos.tobytes()
    bits = np.zeros(num_rows, dtype=bool)
    bits[pos] = True
    return bytes([_TAG_DENSE]) + np.packbits(bits).tobytes()


def is_all(blob: bytes) -> bool:
    """True when the blob is the O(1) all-rows encoding."""
    return bool(blob) and blob[0] == _TAG_ALL


def decode_positions(blob: bytes, num_rows: int) -> np.ndarray:
    """Decode to a sorted uint32 array of deleted row positions.

    ALL-tag blobs expand to ``arange(num_rows)`` HERE — callers that
    only need a count must use :func:`count_positions`, and drivers
    must not decode ALL blobs for large files (the distributed readers
    decode per-file inside tasks, where O(file rows) is the same cost
    as reading the file)."""
    if not blob:
        return np.empty(0, dtype=np.uint32)
    tag, payload = blob[0], blob[1:]
    if tag == _TAG_SPARSE:
        return np.frombuffer(payload, dtype=np.uint32)
    if tag == _TAG_DENSE:
        bits = np.unpackbits(
            np.frombuffer(payload, dtype=np.uint8), count=num_rows
        )
        return np.nonzero(bits)[0].astype(np.uint32)
    if tag == _TAG_ALL:
        return np.arange(num_rows, dtype=np.uint32)
    raise ValueError(f"Unknown bitmap tag {tag}")


def count_positions(blob: bytes, num_rows: int) -> int:
    """Deleted-row count WITHOUT materializing positions — O(1) for
    SPARSE/ALL, O(rows/8) popcount for DENSE."""
    if not blob:
        return 0
    tag, payload = blob[0], blob[1:]
    if tag == _TAG_SPARSE:
        return len(payload) // 4
    if tag == _TAG_DENSE:
        # popcount of the bitset; the tail byte may carry pad bits but
        # encode_positions only ever sets bits < num_rows.
        return int(np.unpackbits(
            np.frombuffer(payload, dtype=np.uint8)
        ).sum())
    if tag == _TAG_ALL:
        return int(num_rows)
    raise ValueError(f"Unknown bitmap tag {tag}")


def merge_blobs(blobs, num_rows: int) -> tuple[bytes, int]:
    """Union several per-file bitmaps (same data file, same num_rows).
    Returns (merged blob, deleted count). Short-circuits O(1) when any
    input already covers the whole file."""
    blobs = list(blobs)
    if any(is_all(b) for b in blobs):
        return bytes([_TAG_ALL]), int(num_rows)
    merged = np.unique(
        np.concatenate([decode_positions(b, num_rows) for b in blobs])
    )
    return encode_positions(merged, num_rows), int(merged.size)


def write_sidecar(abs_path: str, files, num_rows, n_deleted,
                  blobs) -> None:
    """Write one bitmap sidecar: a row per data file with its table-
    relative path, row count, deleted-row count and encoded positions —
    the format ``read_sidecars`` reads for MoR delete vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "file": pa.array(files, pa.string()),
            "num_rows": pa.array(num_rows, pa.int64()),
            "n_deleted": pa.array(n_deleted, pa.int64()),
            "bitmap": pa.array(blobs, pa.binary()),
        }),
        abs_path,
    )


def fold_sidecars(paths):
    """Union the bitmaps N sidecars hold for each data file (positions
    deduped): the ``write_sidecar`` columns (files, num_rows, n_deleted,
    blobs) of one merged sidecar, files sorted."""
    tbl = read_sidecars(paths, columns=("file", "num_rows", "bitmap"))
    by_file: dict = {}
    nrows_of: dict = {}
    for f, nr, blob in zip(tbl["file"].to_pylist(),
                           tbl["num_rows"].to_pylist(),
                           tbl["bitmap"].to_pylist()):
        by_file.setdefault(f, []).append(blob)
        nrows_of[f] = nr
    files, nrows, ndels, blobs = [], [], [], []
    for f in sorted(by_file):
        nr = nrows_of[f]
        blob, nd = merge_blobs(by_file[f], nr)
        files.append(f)
        nrows.append(int(nr))
        ndels.append(nd)
        blobs.append(blob)
    return files, nrows, ndels, blobs


def vector_masks(log, snapshot) -> dict:
    """{abs data-file path: (bitmap blob, file num_rows)}: the rows
    ``snapshot``'s merge-on-read delete vectors mask, the vectors of one
    file merged. The blobs stay encoded, O(deleted) bytes to ship to
    executors, and decode per file as ``manifests.read_data_file``
    reads it. Empty for None or a snapshot without vectors."""
    rels = getattr(snapshot, "delete_vector_files", None) or []
    if not rels:
        return {}
    files, nrows, _, blobs = fold_sidecars([log.abs_path(r) for r in rels])
    return {log.abs_path(f): (b, n) for f, n, b in zip(files, nrows, blobs)}


def read_sidecars(paths, columns=("file", "num_rows", "n_deleted",
                                 "bitmap"), with_filename=False):
    """Read N delete-vector sidecar parquet files as ONE Arrow table.

    Above 8 files this is a single ``pyarrow.dataset`` scan (one IO plan,
    parallel fragment reads) instead of N sequential ``pq.read_table``
    opens — the difference between O(1) and O(trickle-deletes) planning
    IO on a table that has accumulated many small MoR sidecars.
    ``with_filename=True`` appends a ``__filename`` column holding each
    row's source sidecar path (for callers that need per-sidecar
    grouping)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(columns)
    if not paths:
        out_cols = cols + (["__filename"] if with_filename else [])
        return pa.table({c: pa.array([], pa.string() if c
                         in ("file", "__filename") else pa.int64())
                         for c in out_cols})
    if len(paths) > 8:
        import pyarrow.dataset as pds

        return pds.dataset(list(paths), format="parquet").to_table(
            columns=cols + (["__filename"] if with_filename else [])
        )
    parts = []
    for p in paths:
        t = pq.read_table(p, columns=cols)
        if with_filename:
            t = t.append_column(
                "__filename", pa.array([p] * t.num_rows, pa.string())
            )
        parts.append(t)
    return pa.concat_tables(parts, promote_options="permissive")
