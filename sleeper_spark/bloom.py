"""Per-file Bloom filters over the first row key, stored in the sketch
sidecar, powering exact-key FILE skipping at plan time.

The reference's headline access pattern is the point lookup ("many
thousands in parallel", README.md:22-24); its per-partition file list
means every point query opens EVERY file of its leaf partition even
though the key lives in at most a handful of them (one per LSM "run").
The classic LSM answer (RocksDB, Cassandra, HBase) is a per-file Bloom
filter: a point query consults ~10 bits/key of sidecar metadata and
skips every file that provably does not contain the key — no footer
read, no task, no IO.

Spark mapping: the filter is built ONCE per file, in the same pass
that writes the file and its quantile-sketch sidecar
(``sketches.write_sorted_file`` — the bloom adds zero IO), sized on
the rows the file got, and consulted at plan time on the DRIVER,
shrinking the file list handed to ``spark.read.parquet``. On a 1000-executor cluster this is
the difference between a point query scheduling one task per file of a
hot partition and scheduling one task per file that can actually
contain the key.

Safety: a Bloom filter has NO false negatives — every inserted value
sets all its k bits, so "some bit unset" proves absence. Skipping is
therefore exact, and it composes with aggregation-configured tables
(dropping files that contain NO row of the key never removes a
contributing row of any key group). False positives only KEEP extra
files. Absence of a bloom entry (pre-upgrade sidecars, non-hashable
key types) conservatively keeps the file.

Hashing must be stable across OS processes and Python runs (sidecars
are written by executors and read by any later driver) and must be
VECTORISABLE — a per-value Python loop (BLAKE2b ~1.7 µs, CRC32
~0.6 µs) made blooms the dominant cost of a 50M-row string-keyed
compaction. Integers go through a fixed splitmix64 finalizer; strings
(as UTF-8) and bytes hash as ``splitmix64(prefix8*P1 ^ suffix8*P2 ^
len*P3)`` — first/last 8 bytes gathered straight out of the Arrow
offsets/values buffers with numpy, no per-row Python at all. This is
deliberately a WEAK hash: weakness is SAFE in a Bloom filter (build
and probe share the function, so collisions only create false
positives — extra kept files — never false skips); only values
agreeing on first 8 + last 8 bytes + length collide at all.
``PYTHONHASHSEED``-style randomised hashes would silently break every
filter on restart. Serialised filters carry a scheme version ``v``; a
reader that sees an unknown version keeps the file (absence
semantics), so the scheme can evolve without ever risking a false
skip.
"""

from __future__ import annotations

import base64
import math
import zlib
from typing import Any

import numpy as np

#: serialised-scheme version (bump on any hashing/layout change; old
#: sidecars then degrade to "no bloom", never to wrong skips)
SCHEME_VERSION = 1

#: ~10 bits/key with k=7 gives ~0.9% false positives — the RocksDB
#: default trade-off; at 10 bits/key a 4M-row file costs a 5 MB bitmap
#: before compression, well under the data it lets a query skip
BITS_PER_VALUE = 10
#: bitmap cap per file: 2^27 bits = 16 MiB
MAX_BITS = 1 << 27
MIN_BITS = 1 << 9
#: above this row count no bloom is built at all: the capped bitmap
#: would be under ~6 bits/key, the false-positive rate climbs past the
#: point of pruning anything, and the build cost (~0.4 µs/row) is pure
#: waste — a 50M-row monolith gets "absence = keep" semantics instead.
#: Normal LSM file sizing (128-512 MB, ~1-5M rows) sits far below this.
MAX_USEFUL_ROWS = MAX_BITS // 6


def _size_bits(rows: int) -> int:
    # next power of two >= rows*bits, so probe positions use a bitmask
    # instead of a vector modulo (measured ~2x on the scatter path);
    # the <=2x bitmap overshoot only LOWERS the false-positive rate
    m = max(MIN_BITS, min(MAX_BITS, rows * BITS_PER_VALUE))
    return 1 << (m - 1).bit_length()


def _num_hashes(m_bits: int, rows: int) -> int:
    # optimal k = (m/n) ln2, capped at 6: build/probe cost is linear in
    # k, and at our >=12.8 bits/key (power-of-two overshoot) k=6 is
    # within ~0.1pp of the optimum's false-positive rate
    return max(1, min(6, round(m_bits / max(1, rows) * math.log(2))))


_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Fixed 64-bit finalizer (splitmix64) — vectorised, stable."""
    z = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
    return z ^ (z >> np.uint64(31))


#: odd multipliers decorrelating the three byte-window words
_P1 = np.uint64(0x9E3779B97F4A7C15)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_M64 = (1 << 64) - 1


def _bytes_raw(b: bytes) -> int:
    """Pre-finalizer word of a bytes value: prefix8*P1 ^ suffix8*P2 ^
    len*P3 (little-endian, zero-padded windows) — the scalar twin of
    the vectorised buffer-gather in ``_hash_array``."""
    n = len(b)
    pre = int.from_bytes(b[:8].ljust(8, b"\x00"), "little")
    suf = int.from_bytes(b[max(0, n - 8):].ljust(8, b"\x00"), "little")
    return ((pre * int(_P1)) & _M64) ^ ((suf * int(_P2)) & _M64) \
        ^ ((n * int(_P3)) & _M64)


def hash64_scalar(v: Any) -> int:
    """Stable 64-bit hash of one key value (the query-side probe)."""
    if isinstance(v, bool) or v is None:
        raise TypeError(f"unhashable key type for bloom: {type(v)}")
    if isinstance(v, (int, np.integer)):
        arr = np.array([np.int64(v)]).view(np.uint64)
        return int(_splitmix64(arr)[0])
    if isinstance(v, str):
        v = v.encode("utf-8")
    if isinstance(v, (bytes, bytearray)):
        arr = np.array([_bytes_raw(bytes(v))], dtype=np.uint64)
        return int(_splitmix64(arr)[0])
    raise TypeError(f"unhashable key type for bloom: {type(v)}")


def _bytes_raw_vector(arr) -> np.ndarray | None:
    """Vectorised pre-finalizer words for an Arrow string/binary array:
    gather the first/last 8 bytes of every value straight out of the
    offsets/values buffers — no per-row Python. Returns None for types
    without variable-length buffers (caller falls back to the loop)."""
    import pyarrow as pa

    t = arr.type
    if pa.types.is_string(t) or pa.types.is_binary(t):
        odt = np.int32
    elif pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        odt = np.int64
    else:
        return None
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=odt)[
        arr.offset: arr.offset + len(arr) + 1].astype(np.int64)
    data = (np.frombuffer(bufs[2], dtype=np.uint8)
            if bufs[2] is not None else np.zeros(0, np.uint8))
    data = np.concatenate([data, np.zeros(8, np.uint8)])
    starts, ends = off[:-1], off[1:]
    lens = ends - starts
    r8 = np.arange(8, dtype=np.int64)

    def win64(win_start, win_len, maybe_short):
        w = data[win_start[:, None] + r8[None, :]]
        if maybe_short:  # all-wide batches (fixed-width keys) skip the
            w[r8[None, :] >= win_len[:, None]] = 0  # zero-pad masking
        # one reinterpret to little-endian words ('<u8' is explicit, so
        # big-endian hosts read the same values), matching
        # int.from_bytes(..., "little") on the scalar side
        return np.ascontiguousarray(w).view("<u8").ravel().astype(
            np.uint64, copy=False)

    short = bool(len(lens)) and int(lens.min()) < 8
    pre = win64(starts, lens, short)
    suf = win64(np.maximum(starts, ends - 8),
                np.minimum(lens, np.int64(8)), short)
    return (pre * _P1) ^ (suf * _P2) ^ (lens.astype(np.uint64) * _P3)


def _hash_array(values) -> np.ndarray:
    """uint64 hashes of an arrow/numpy/list column; nulls dropped
    (row keys are non-null by schema; a null can match no point)."""
    import pyarrow as pa

    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        arr = values.combine_chunks() if isinstance(
            values, pa.ChunkedArray) else values
        if arr.null_count:
            arr = arr.drop_null()
        if pa.types.is_integer(arr.type):
            np_vals = arr.cast(pa.int64()).to_numpy(
                zero_copy_only=False).view(np.uint64)
            return _splitmix64(np_vals)
        raw = _bytes_raw_vector(arr)
        if raw is not None:
            return _splitmix64(raw)
        values = arr.to_pylist()
    elif isinstance(values, np.ndarray) and np.issubdtype(
            values.dtype, np.integer):
        return _splitmix64(values.astype(np.int64).view(np.uint64))
    # fill PRE-finalizer words (raw int64 bits / crc64), one splitmix64
    # pass over the whole array at the end — identical to the scalar
    # probe path for every element type
    out = np.empty(len(values), dtype=np.uint64)
    n = 0
    for v in values:
        if v is None:
            continue
        if isinstance(v, str):
            out[n] = _bytes_raw(v.encode("utf-8"))
        elif isinstance(v, (bytes, bytearray)):
            out[n] = _bytes_raw(bytes(v))
        elif isinstance(v, bool):
            raise TypeError(f"unhashable key type for bloom: {type(v)}")
        elif isinstance(v, (int, np.integer)):
            out[n] = np.int64(v).view(np.uint64)
        else:
            raise TypeError(f"unhashable key type for bloom: {type(v)}")
        n += 1
    return _splitmix64(out[:n])


def _positions(h: np.ndarray, k: int, m: int) -> np.ndarray:
    """k probe positions per hash via double hashing
    ``(h1 + i*h2) & (m-1)`` — m is always a power of two."""
    h1 = (h & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    h2 = ((h >> np.uint64(32)) | np.uint64(1)).astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) & np.uint64(m - 1)).ravel()


class BloomAccumulator:
    """Streaming builder: feed value chunks, serialise once.
    ``sketches.SidecarBuilder`` feeds it the first key of every table a
    data file is written from. A streaming writer cannot know a file's
    rows up front, so the fed values' hashes are kept and the bitmap is
    sized on their count in :meth:`to_dict`; past ``MAX_USEFUL_ROWS``
    the hashes are dropped and no Bloom is built."""

    def __init__(self, field: str):
        self.field = field
        self.disabled = False
        self._hashes: list[np.ndarray] = []
        self.n = 0

    #: hash+scatter chunk: keeps every intermediate (byte windows,
    #: hashes, probe positions) a few MB — cache-resident — instead of
    #: materialising hundreds of MB of temporaries for a whole batch
    _CHUNK = 262_144

    def update(self, values) -> None:
        if self.disabled:
            return
        total = len(values)
        is_arrow = hasattr(values, "slice")
        for lo in range(0, total, self._CHUNK):
            sz = min(self._CHUNK, total - lo)
            h = _hash_array(values.slice(lo, sz) if is_arrow
                            else values[lo:lo + sz])
            self._hashes.append(h)
            self.n += len(h)
            if self.n > MAX_USEFUL_ROWS:
                self.disabled = True
                self._hashes = []
                return

    def to_dict(self) -> dict | None:
        if self.disabled:
            return None
        m = _size_bits(self.n)
        k = _num_hashes(m, self.n)
        bits = _borrow_bits(m)
        mask = np.uint64(m - 1)
        for h in self._hashes:
            # incremental double-hash scatter: bits[(h1 + i*h2) & mask]
            # per i, identical positions to the probe side's _positions()
            # matrix but with O(n) temporaries instead of O(n*k) —
            # fresh multi-MB allocations fault pages, and on a
            # memory-pressured host a single first-touch of the n*k
            # matrix measured >1s (the chronic "cold bloom" stall)
            acc = h & np.uint64(0xFFFFFFFF)
            h2 = (h >> np.uint64(32)) | np.uint64(1)
            for _ in range(k):
                bits[acc & mask] = True
                acc += h2  # uint64 wrap == (h1 + i*h2) mod 2^64
        packed = np.packbits(bits).tobytes()
        return {
            "v": SCHEME_VERSION,
            "field": self.field,
            "m": m,
            "k": k,
            # zlib level 1: a half-empty bitmap (small file, capped m)
            # still shrinks a lot, a well-loaded one is ~incompressible
            # either way — and the serialise step was the DOMINANT cost
            # of the whole per-file bloom build at level 6 (46ms of a
            # 64ms 150k-row build; level 1 is ~4x faster within ~10% of
            # the size). Decode is level-agnostic.
            "bits": base64.b64encode(zlib.compress(packed, 1)).decode("ascii"),
        }


_ARENA = __import__("threading").local()


def _borrow_bits(m: int) -> np.ndarray:
    """Per-thread reusable bitmap, grown to the largest m seen and
    zeroed in place per borrow: a fresh np.zeros(m) faults m new pages
    per file, and on a memory-pressured host that first-touch measured
    ~1s for a 2MB bitmap. Valid until the thread's next borrow."""
    buf = getattr(_ARENA, "bits", None)
    if buf is None or buf.size < m:
        buf = np.zeros(m, dtype=bool)
        _ARENA.bits = buf
    else:
        buf[:m] = False
    return buf[:m]


def decode_bits(bloom: dict) -> np.ndarray:
    raw = zlib.decompress(base64.b64decode(bloom["bits"]))
    return np.unpackbits(np.frombuffer(raw, dtype=np.uint8))[:bloom["m"]]


def may_contain(bits: np.ndarray, bloom: dict, value: Any) -> bool:
    """True unless some probe bit is unset (proof of absence)."""
    if bloom.get("v") != SCHEME_VERSION:
        return True  # unknown hashing scheme -> unknown -> keep
    try:
        h = np.array([hash64_scalar(value)], dtype=np.uint64)
    except TypeError:
        return True  # unhashable probe type -> unknown -> keep
    return bool(bits[_positions(h, bloom["k"], bloom["m"])].all())
