"""Spark orchestration: distributed encode/decode of a table's columns.

Lifecycle (SURVEY.md §3.4): ``spark.read`` → size-aware bucketing on the
key (weight-balanced over-bucketing to absorb skew in row bytes) →
``sortWithinPartitions(key)`` (the reference's sort-to-compress advice
made mechanical, wills-columnar-format.org:302-313) → ``mapInArrow``
encode producing one manifest row per (partition, chunk, column) with the
blob + lineage (bounds, codec, bytes in/out, checksum, snapshot-id) →
checkpoint manifest parquet. Decode reverses via ``mapInArrow`` with the
reference's footer-first read path (src/decode.rs:26-50).

Everything crosses the JVM↔Python boundary as Arrow batches; all kernels
are numpy array programs (zero per-row Python). List columns (the token
arrays) are encoded as two sub-columns — ``name#lengths`` +
``name#values`` — mirroring how the reference treats a column as a flat
value stream (src/lib.rs:25-33).
"""

from __future__ import annotations

import functools
import hashlib
import os
import re
from typing import Iterator, NamedTuple

import numpy as np
import pyarrow as pa

# Allocator tuning for whatever process runs the kernels (Spark python
# worker, pytest, a bare driver): numpy's large temporaries sit above
# glibc malloc's default mmap threshold, so without this every big
# array is mmap'd on alloc and munmap'd on free — a fresh page-fault
# storm per task (measured up to ~10s on a fresh worker's first encode
# task vs ~1s warm). session.get_spark also sets the MALLOC_*_ env vars
# so workers start tuned; this mallopt covers processes that import the
# engine without going through get_spark (spark-submit, plain pytest).
try:  # pragma: no cover - platform-dependent
    import ctypes as _ctypes

    _libc = _ctypes.CDLL("libc.so.6")
    _libc.mallopt(-3, 64 << 20)  # M_MMAP_THRESHOLD
    _libc.mallopt(-1, 256 << 20)  # M_TRIM_THRESHOLD
except Exception:  # non-glibc platforms: default allocator behavior
    pass

from . import dtypes
from .codecs import BY_ID
from .codecs.base import ColumnValues
from .column import encode_column
from .format import DEFAULT_TARGET_PAGE_SIZE, read_footer

MANIFEST_FIELDS = [
    ("part_id", "int"),
    ("chunk_id", "int"),
    ("chunk_key", "string"),
    ("column", "string"),
    ("dtype_tag", "int"),
    ("codec", "string"),
    ("n_values", "bigint"),
    ("bytes_in", "bigint"),
    ("bytes_out", "bigint"),
    ("checksum", "string"),
    ("min_key", "string"),
    ("max_key", "string"),
    ("min_key_num", "double"),
    ("max_key_num", "double"),
    ("val_min", "double"),
    ("val_max", "double"),
    ("val_min_str", "string"),
    ("val_max_str", "string"),
    ("val_sum", "decimal(38,0)"),
    ("val_sum2", "decimal(38,0)"),
    ("val_hist", "binary"),
    ("val_ndv", "binary"),
    ("key_bloom", "binary"),
    ("val_bloom", "binary"),
    ("snapshot_id", "string"),
    ("blob", "binary"),
]
MANIFEST_DDL = ", ".join(f"{n} {t}" for n, t in MANIFEST_FIELDS)

_MANIFEST_PA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("chunk_id", pa.int32()),
        ("chunk_key", pa.string()),
        ("column", pa.string()),
        ("dtype_tag", pa.int32()),
        ("codec", pa.string()),
        ("n_values", pa.int64()),
        ("bytes_in", pa.int64()),
        ("bytes_out", pa.int64()),
        ("checksum", pa.string()),
        ("min_key", pa.string()),
        ("max_key", pa.string()),
        ("min_key_num", pa.float64()),
        ("max_key_num", pa.float64()),
        ("val_min", pa.float64()),
        ("val_max", pa.float64()),
        ("val_min_str", pa.string()),
        ("val_max_str", pa.string()),
        ("val_sum", pa.decimal128(38, 0)),
        ("val_sum2", pa.decimal128(38, 0)),
        ("val_hist", pa.large_binary()),
        ("val_ndv", pa.large_binary()),
        ("key_bloom", pa.large_binary()),
        ("val_bloom", pa.large_binary()),
        ("snapshot_id", pa.string()),
        ("blob", pa.large_binary()),
    ]
)

DEFAULT_CHUNK_ROWS = 65_536


# ---------------------------------------------------------------------------
# column <-> ColumnValues plumbing
# ---------------------------------------------------------------------------


def _arrow_to_columnvalues(arr: pa.Array) -> ColumnValues:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return ColumnValues.from_arrow(arr)


def _value_zone_map(cv: ColumnValues):
    """Per-chunk [min, max] of a numeric sub-column's VALUES — zone maps
    for every numeric column, not just the key (the reference's V1
    row-skipping wish, org:187-194, generalized: a value-range decode
    prunes chunks by any numeric column's lineage interval). NULL for
    non-numeric/empty columns (conservative keep on the read side).
    Bounds are widened to the enclosing float64 for >2^53 ints, and NaN
    values are ignored (NaN rows never match a range; an all-NaN chunk
    gets NULL maps)."""
    if cv.vals is None or not cv.n or not np.issubdtype(cv.vals.dtype, np.number):
        return None, None
    if np.issubdtype(cv.vals.dtype, np.floating):
        # NOT np.nanmin: its fmin reduction propagates SIGNALING NaNs
        # (IEEE fmin(x, sNaN) = NaN), so one sNaN payload in the chunk
        # would NULL the whole map where finite extremes exist — found
        # by hypothesis with 0x7ff4dff13c31b9d6. Mask explicitly:
        # isnan() is true for every NaN encoding.
        mask = np.isnan(cv.vals)
        if mask.any():
            fin = cv.vals[~mask]
            if fin.size == 0:
                return None, None
            return float(fin.min()), float(fin.max())
        return float(cv.vals.min()), float(cv.vals.max())
    # exact-int comparison (Python int vs float compares exactly):
    # comparing against the np.int64 would coerce BOTH sides to float64
    # and the >2^53 rounding guard would never fire
    mn_, mx_ = int(cv.vals.min()), int(cv.vals.max())
    vmin, vmax = float(mn_), float(mx_)
    if vmin > mn_:
        vmin = float(np.nextafter(vmin, -np.inf))
    if vmax < mx_:
        vmax = float(np.nextafter(vmax, np.inf))
    return vmin, vmax


def _value_sum(cv: ColumnValues):
    """Exact per-chunk sum of an INTEGER sub-column's values (Python
    arbitrary-precision, stored decimal(38,0)) — the metadata side of
    SUM/AVG/COUNT pushdown (``column_sums``). Integer-only ON PURPOSE:
    float addition is order-dependent, so a metadata float sum could
    never exactly match an engine's sequential SUM; integers (incl.
    bools as uint8, temporals as epoch ints, decimals unscaled, and
    ``#valid`` masks — whose sum IS the non-null count) are
    order-independent and exact. NULL for anything else. Pure function
    of the chunk values (rides the resume byte-identity contract)."""
    v = cv.vals
    if v is None or not v.size or not np.issubdtype(v.dtype, np.integer):
        return None
    mx = max(abs(int(v.min())), abs(int(v.max())))
    if mx and v.size > (2 ** 62) // mx:
        # magnitude*count could overflow int64: exact object-dtype sum
        return int(v.astype(object).sum())
    return int(v.sum(dtype=np.int64))


_SUM2_MAX = 10 ** 38  # decimal(38,0) capacity

# per-chunk equi-width histograms (opt-in: encode_table(histograms=True))
# — 64 uint32 buckets over the chunk's [val_min, val_max], 256 B of
# manifest metadata per eligible sub-column. The quantile-pushdown side:
# merged chunk histograms bound any quantile to one bucket width per
# chunk (column_quantiles returns a CERTIFIED [lo, hi] interval — never
# a point estimate pretending to be exact).
_HIST_BUCKETS = 64


def _value_hist(cv: ColumnValues, vmin, vmax) -> bytes | None:
    """uint32[64] little-endian bucket counts of a numeric sub-column
    over its zone-map interval, or None (= absent, conservative) for
    non-numeric/empty/NaN-bearing chunks. Deterministic numpy — a pure
    function of chunk values (resume byte-identity). The CALLER must
    withhold histograms for nullable columns: null slots store zero
    fillers that would poison bucket 0."""
    if cv.vals is None or not cv.n or vmin is None:
        return None
    v = cv.vals
    if v.dtype == np.bool_ or not np.issubdtype(v.dtype, np.number):
        return None
    x = v.astype(np.float64, copy=False)
    if np.isnan(x).any():
        return None
    if vmax <= vmin:
        counts = np.zeros(_HIST_BUCKETS, np.uint32)
        counts[0] = cv.n
    else:
        idx = np.clip(
            ((x - vmin) * (_HIST_BUCKETS / (vmax - vmin))).astype(np.int64),
            0, _HIST_BUCKETS - 1)
        counts = np.bincount(idx, minlength=_HIST_BUCKETS).astype(np.uint32)
    return counts.tobytes()


def _value_sum2(cv: ColumnValues):
    """Exact per-chunk sum of SQUARES of an INTEGER sub-column — the
    second-moment side of VARIANCE/STDDEV pushdown (``column_moments``:
    var = (n·Σx² − (Σx)²)/n², derived exactly from the decimal sums).
    Same exactness contract as ``_value_sum``: integer-only (order-
    independent addition), NULL for anything else, pure function of the
    chunk values. None also when the exact sum of squares exceeds the
    decimal(38,0) manifest slot — absent means 'decode to answer',
    never approximate."""
    v = cv.vals
    if v is None or not v.size or not np.issubdtype(v.dtype, np.integer):
        return None
    mx = max(abs(int(v.min())), abs(int(v.max())))
    if not mx:
        return 0
    if v.size <= (2 ** 62) // (mx * mx):
        x = v.astype(np.int64)
        s2 = int(np.dot(x, x))
    else:
        x = v.astype(object)
        s2 = int((x * x).sum())
    return s2 if s2 < _SUM2_MAX else None


# HyperLogLog NDV sketches (opt-in: encode_table(ndv_sketches=True)).
# p=10 -> 1024 uint8 registers per chunk per eligible sub-column
# (~1 KB of manifest metadata each, never in bytes_out), standard
# error ~3.25%. The register index takes the hash's low 10 bits and
# the rank scans a 32-bit tail — exact float64 bit_length up to 2^32,
# bounding the sketch to ~2^30 distincts per merged column (far above
# any per-chunk count; whole-column merges of genuinely >10^9-distinct
# columns would saturate — documented, not guarded).
_NDV_P = 10
_NDV_M = 1 << _NDV_P

# Metadata-aggregate eligibility: top-level scalars AND pure struct-leaf
# paths (every segment after the root is a `#f:` field hop). List/map
# internals (#lengths/#values/#valid/#mk/#mv) never match — a list's
# #values counts elements, not rows. Shared by the read-side aggregates
# (column_stats/sums/ndv) and the encode-side sketch gate.
_STATS_LEAF_RE = r"^[^#]+(#f:[^#]+)*$"
_STATS_LEAF_CRE = re.compile(_STATS_LEAF_RE)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constant set) —
    deterministic, so sketches stay a pure function of chunk values
    (the resume byte-identity contract)."""
    x = x.astype(np.uint64, copy=True)
    x += np.uint64(0x9E3779B97F4A7C15)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def _ndv_sketch(cv: ColumnValues) -> bytes | None:
    """Per-chunk HLL register array for an integer- or string-typed
    sub-column; None for floats (NaN/-0.0 canonicalization churn is not
    worth an approximate stat) and empty chunks. Strings hash their
    DICTIONARY once (blake2b-8) and fan out through the codes — one
    digest per unique, vectorized elsewhere."""
    if cv.n == 0:
        return None
    v = cv.vals
    if v is not None:
        if not np.issubdtype(v.dtype, np.integer):
            return None
        h = _splitmix64(v.astype(np.int64).view(np.uint64))
    else:
        arr = cv.to_arrow()
        if not (pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type)
                or pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type)):
            return None
        d = arr.dictionary_encode()
        uniq = d.dictionary.to_pylist()
        hs = np.fromiter(
            (int.from_bytes(
                hashlib.blake2b(
                    u if isinstance(u, bytes) else u.encode(),
                    digest_size=8).digest(), "little")
             for u in uniq),
            dtype=np.uint64, count=len(uniq))
        h = hs[d.indices.to_numpy(zero_copy_only=False)]
    idx = (h & np.uint64(_NDV_M - 1)).astype(np.int64)
    w = (h >> np.uint64(32)).astype(np.uint64)  # 32-bit rank tail
    rho = np.full(len(w), 33, dtype=np.uint8)
    nz = w > 0
    # floor(log2) is exact for 32-bit ints in float64 (1-ulp log2 can't
    # cross an integer boundary below 2^32)
    rho[nz] = (32 - np.floor(np.log2(w[nz].astype(np.float64)))).astype(np.uint8)
    regs = np.zeros(_NDV_M, dtype=np.uint8)
    np.maximum.at(regs, idx, rho)
    return regs.tobytes()


def _ndv_estimate(regs: np.ndarray) -> float:
    """Classic HLL estimator with the small-range linear-counting
    correction (Flajolet et al. 2007, public algorithm)."""
    m = len(regs)
    alpha = 0.7213 / (1 + 1.079 / m)
    est = alpha * m * m / float(
        np.sum(np.power(2.0, -regs.astype(np.float64))))
    zeros = int(np.count_nonzero(regs == 0))
    if est <= 2.5 * m and zeros:
        est = m * float(np.log(m / zeros))
    return est


# String bounds longer than this are not stored verbatim: the min
# truncates to a 256-char prefix (still a valid LOWER bound — a prefix
# sorts <= the full string), the max becomes NULL (read side treats a
# missing max as +inf). Document-sized strings would otherwise bloat
# the manifest metadata with megabyte bounds.
_STR_BOUND_MAX_CHARS = 256


def _value_zone_map_str(cv: ColumnValues):
    """Per-chunk [min, max] of a STRING sub-column's values — the string
    counterpart of ``_value_zone_map`` (VERDICT r3 #6: the manifest
    already carries string min/max for the KEY; these serve
    ``value_range`` slices on payload columns like ``source``/``lang``
    without re-keying). NULL for non-string columns; truncation rules in
    ``_STR_BOUND_MAX_CHARS`` keep the prune conservative (no false
    drops). Binary columns are skipped (bytes don't fit a utf-8 manifest
    column; their ordering rarely means anything anyway)."""
    if cv.tag != dtypes.STRING or not cv.n:
        return None, None
    import pyarrow.compute as pc

    mm = pc.min_max(cv.to_arrow())
    smin, smax = mm["min"].as_py(), mm["max"].as_py()
    if smin is None:
        return None, None
    if len(smin) > _STR_BOUND_MAX_CHARS:
        smin = smin[:_STR_BOUND_MAX_CHARS]
    if len(smax) > _STR_BOUND_MAX_CHARS:
        smax = None  # a truncated max is NOT an upper bound; NULL = +inf
    return smin, smax


# ---------------------------------------------------------------------------
# per-chunk key Bloom filters
# ---------------------------------------------------------------------------
#
# Zone maps prune point lookups only when the layout CLUSTERS keys — in
# the 'hash' resume layout every chunk spans essentially the full key
# range, so a keys= decode touches every chunk. A per-chunk Bloom filter
# over the key values restores the prune: ~1.25 B/key of manifest
# metadata (vs the multi-byte encoded key itself) takes a multi-point
# lookup from all-chunks to ~the chunks that actually hold the keys,
# with no false negatives (Bloom false positives only ever KEEP extra
# chunks — the conservative direction; the exact post-filter always
# applies).
#
# Hashing must agree bit-for-bit between the build side (chunk Arrow
# arrays inside the encode task) and the probe side (Python scalars on
# the driver): both canonicalize numerics to float64 (the zone maps'
# comparison domain — int64 above 2^53 rounds identically on both
# sides, an error only in the false-positive direction) and hash with
# pandas' vectorized siphash (`pd.util.hash_array`, fixed default key,
# deterministic across runs — resume re-encodes must reproduce blooms
# byte-identically). The second hash for double hashing is a splitmix64
# remix of the first, forced odd so the probe stride walks the whole
# power-of-two bit space.

BLOOM_BITS_PER_KEY = 10  # ~1% FPR at k=7
BLOOM_K = 7
BLOOM_MAX_BYTES = 1 << 18  # past this the filter is clipped (FPR rises)
# keep-set collect cap for the decode-side prune (mirrors
# VALUE_PRUNE_MAX_KEYS: past it, skip pruning rather than OOM the driver)
BLOOM_PRUNE_MAX_KEYS = 100_000


def _bloom_mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized over uint64 (wrapping)."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _bloom_hashes(vals: np.ndarray):
    """(h1, h2) uint64 hash pairs for double hashing. ``vals`` must
    already be canonicalized (float64 for numerics, object-of-str for
    strings) — int64(7) and float64(7.0) hash differently in pandas, so
    skipping the cast would silently break membership."""
    from pandas.util import hash_array

    h1 = hash_array(vals, categorize=False).astype(np.uint64, copy=False)
    h2 = _bloom_mix64(h1) | np.uint64(1)
    return h1, h2


def _key_bloom(keys: pa.Array) -> bytes | None:
    """Build the chunk's key Bloom filter from its key Arrow array.
    Returns None (= no filter, conservative keep on read) for empty
    chunks, null-bearing keys, and unhashable types."""
    n = len(keys)
    if n == 0 or keys.null_count:
        return None
    t = keys.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        vals = np.asarray(keys.to_pylist(), dtype=object)
    elif (pa.types.is_integer(t) or pa.types.is_floating(t)) and not pa.types.is_boolean(t):
        vals = keys.to_numpy(zero_copy_only=False).astype(np.float64)
        if np.isnan(vals).any():
            return None
    else:
        return None
    return _bloom_build(vals, n)


def _bloom_build(vals: np.ndarray, n_size: int) -> bytes:
    """Set the bits: ``vals`` are pre-canonicalized members (float64
    numerics / object strings), ``n_size`` the population the filter is
    sized for (key blooms size by chunk rows — their historical,
    byte-stable choice; value blooms by the DISTINCT count)."""
    h1, h2 = _bloom_hashes(vals)
    m_bits = 1 << max(6, int(np.ceil(np.log2(BLOOM_BITS_PER_KEY * n_size))))
    m_bits = min(m_bits, BLOOM_MAX_BYTES * 8)
    mask = np.uint64(m_bits - 1)
    bits = np.zeros(m_bits, dtype=bool)
    for i in range(BLOOM_K):
        with np.errstate(over="ignore"):
            bits[((h1 + np.uint64(i) * h2) & mask).astype(np.int64)] = True
    return np.packbits(bits, bitorder="little").tobytes()


def _value_bloom(cv: ColumnValues) -> bytes | None:
    """Per-chunk Bloom filter over a sub-column's DISTINCT values — the
    VALUE-membership analogue of the key bloom (opt-in:
    ``encode_table(value_blooms=...)``). On a list column's ``#values``
    leaf it answers "may this chunk's arrays contain token t?" — the
    prune behind ``contains=`` decodes (canary-token / contamination
    lookups over token arrays, where zone maps keep nearly everything:
    a 64k-token chunk spans most of the vocab). Sized by the distinct
    count, so low-cardinality chunks pay bytes ~ their dictionary, not
    their rows. Canonicalization matches the key blooms (float64
    numerics, object strings — ``_bloom_hashes``) so decode probes
    agree bit-for-bit; deterministic, hence a pure function of chunk
    values (the resume byte-identity contract). None (= conservative
    keep on read) for empty chunks, binary payloads, and bool masks."""
    if not cv.n:
        return None
    if cv.vals is not None:
        v = cv.vals
        if v.dtype == np.bool_ or not np.issubdtype(v.dtype, np.number):
            return None
        vals = np.unique(v.astype(np.float64, copy=False))
        if vals.size and np.isnan(vals[-1]):
            # NaN sorts last in np.unique; NaN probes are refused at
            # prepare time, so members need not record it
            vals = vals[: int(np.searchsorted(np.isnan(vals), True))]
        if not vals.size:
            return None
    elif cv.tag == dtypes.STRING:
        import pyarrow.compute as pc

        arr = pa.Array.from_buffers(
            pa.large_utf8(), cv.n,
            [None, pa.py_buffer(np.ascontiguousarray(cv.offsets)),
             pa.py_buffer(np.ascontiguousarray(cv.data))],
        )
        vals = pc.unique(arr).to_numpy(zero_copy_only=False)
        vals = np.asarray(vals, dtype=object)
    else:
        return None
    return _bloom_build(vals, vals.size)


def _bloom_eligible(sub_name: str, spec, key_col: str) -> bool:
    """Which sub-columns get value blooms. ``spec=True`` = every
    reportable stats leaf plus list-element ``#values`` leaves (the
    contains= targets), minus the key column (its key bloom already
    answers membership); an iterable names exact sub-columns (e.g.
    ``{"tokens#values"}``) and may include the key."""
    if spec is True:
        return sub_name != key_col and (
            _STATS_LEAF_CRE.match(sub_name) is not None
            or sub_name.endswith("#values"))
    return sub_name in spec


def _bloom_contains_any(blob: bytes, ph1: np.ndarray, ph2: np.ndarray) -> bool:
    """True iff ANY probe key may be in the filter (all k bits set for
    at least one probe). ``ph1``/``ph2`` are the probes' hash pairs."""
    buf = np.frombuffer(blob, dtype=np.uint8)
    m_bits = buf.size * 8
    mask = np.uint64(m_bits - 1)
    with np.errstate(over="ignore"):
        idx = (
            (ph1[:, None] + np.arange(BLOOM_K, dtype=np.uint64)[None, :] * ph2[:, None])
            & mask
        ).astype(np.int64)
    hit = (buf[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
    return bool(hit.all(axis=1).any())


def _checksum(col: ColumnValues) -> str:
    """Content hash of a sub-column's VALUES, canonicalized to
    class-widest dtypes (signed→int64, unsigned→uint64, float→float64,
    offsets→int64) so it is a function of the values, not the storage
    width. The decoder returns class-widened arrays (the reference's
    width coarsening, src/lib.rs:103-108), so a width-sensitive hash
    would false-positive ``verify_checksums`` on every narrow column
    (int32 lengths, uint8 validity masks). The widening casts are
    injective, so no distinct inputs collide."""
    h = hashlib.blake2b(digest_size=12)
    if col.vals is not None:
        v = col.vals
        if v.dtype.kind == "i":
            v = v.astype(np.int64, copy=False)
        elif v.dtype.kind in ("u", "b"):
            v = v.astype(np.uint64, copy=False)
        elif v.dtype.kind == "f":
            v = v.astype(np.float64, copy=False)
        h.update(np.ascontiguousarray(v).tobytes())
    else:
        h.update(np.ascontiguousarray(col.offsets.astype(np.int64, copy=False)).tobytes())
        h.update(np.ascontiguousarray(col.data).tobytes())
    return h.hexdigest()


def _encode_one(col: ColumnValues, codec: str, target_page_size: int):
    blob, footer = encode_column(col, codec=codec, target_page_size=target_page_size)
    return blob, footer


# ---------------------------------------------------------------------------
# encode path
# ---------------------------------------------------------------------------


def _normalize_temporal(arr: pa.Array) -> pa.Array:
    """Logical types ride the integer codecs: timestamps as int64 epoch
    units, dates as int32 days, booleans as uint8, decimals (precision
    <= 18) as int64 UNSCALED values (the reference's width-coarsening
    philosophy, src/lib.rs:103-108 — the footer stores the integer
    class; the table schema restores the logical type on decode).
    Monotonic event times then hit the delta codec's best case; bool
    flags hit RLE's; money columns (fixed scale, narrow dynamic range)
    hit frame-of-reference/bit-packing's."""
    t = arr.type
    if pa.types.is_boolean(t):
        return arr.cast(pa.uint8())
    if pa.types.is_timestamp(t) or pa.types.is_time64(t) or pa.types.is_duration(t):
        return arr.cast(pa.int64())
    if pa.types.is_date32(t) or pa.types.is_time32(t):
        return arr.cast(pa.int32())
    if pa.types.is_date64(t):
        return arr.cast(pa.int64())
    if pa.types.is_decimal(t):
        return _decimal_to_unscaled(arr)
    return arr


def _decimal_to_unscaled(arr: pa.Array) -> pa.Array:
    """decimal128(p<=18, s) -> int64 of the UNSCALED value, exactly (no
    float detour: 10^18 > 2^53). The decimal128 data buffer is 16-byte
    little-endian two's complement; for p<=18 every value fits int64, so
    the low word REINTERPRETED as int64 IS the value (the high word is
    its sign extension). Nulls are preserved (null slots' buffer bytes
    are garbage and masked out)."""
    t = arr.type
    if t.precision > 18:
        raise dtypes.UnsupportedDataType(
            f"decimal precision {t.precision} exceeds 18 — the unscaled "
            "value must fit the widest integer codec lane (int64)"
        )
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    buf = arr.buffers()[1]
    words = np.frombuffer(buf, dtype=np.int64, count=2 * (arr.offset + len(arr)))
    unscaled = words.reshape(-1, 2)[arr.offset:, 0].copy()
    if arr.null_count:
        mask = ~arr.is_valid().to_numpy(zero_copy_only=False)
        return pa.array(unscaled, type=pa.int64(), mask=mask)
    return pa.array(unscaled, type=pa.int64())


def _unscaled_to_decimal(vals: np.ndarray, t: pa.DataType) -> pa.Array:
    """int64 unscaled values -> decimal128(p, s), the inverse of
    ``_decimal_to_unscaled``: widen each value to its 16-byte two's
    complement (low word = value, high word = sign extension)."""
    v = vals.astype(np.int64)
    words = np.empty((len(v), 2), dtype=np.int64)
    words[:, 0] = v
    words[:, 1] = -(v < 0).astype(np.int64)
    return pa.Array.from_buffers(
        t, len(v), [None, pa.py_buffer(words.tobytes())]
    )


def _sub_columns(name: str, arr: pa.Array, allow_nulls: bool = False) -> list[tuple[str, ColumnValues]]:
    """Split a field into encodable flat sub-columns.

    With ``allow_nulls`` (an engine EXTENSION — the reference format has
    no Option<T>, src/lib.rs:59-66, and our default mirrors its
    reject-on-null contract), a nullable column becomes a ``name#valid``
    uint8 sub-column (RLE-friendly: nulls cluster) plus the values with
    nulls filled by the type's zero (empty list for list columns); decode
    re-applies the mask. Without ``allow_nulls`` any null — scalar OR
    list entry — raises (a nulled list would otherwise desync the
    lengths/values sub-columns: list_value_length yields null lengths
    while flatten() drops the null slots).
    """
    arr = _normalize_temporal(arr)
    out: list[tuple[str, ColumnValues]] = []
    if pa.types.is_struct(arr.type):
        # struct fields shred to one flat sub-column tree per child
        # (``name#f:<field>``, recursive) — the columnar-shredding view
        # of nested data: each leaf gets its own codec, checksum, and
        # value zone map like any top-level column. ``flatten()`` masks
        # child slots under null parents (canonical: garbage child
        # values under a null struct never reach the encoder).
        if arr.null_count:
            if not allow_nulls:
                raise dtypes.UnsupportedDataType(
                    f"column {name!r} contains nulls; the format is "
                    "null-free by default (reference src/lib.rs:59-66) — "
                    "pass allow_nulls=True"
                )
            valid = arr.is_valid().to_numpy(zero_copy_only=False).astype(np.uint8)
            out.append((f"{name}#valid", ColumnValues.from_numpy(valid)))
        for f, child in zip(arr.type, arr.flatten()):
            out.extend(_sub_columns(f"{name}#f:{f.name}", child, allow_nulls))
        return out
    if pa.types.is_map(arr.type):
        # maps shred like the list<struct<key,value>> they physically
        # are: ``name#lengths`` (entries per row) + one recursive
        # sub-column tree per side (``name#mk`` keys, ``name#mv``
        # values). Keys are non-null by Arrow spec; a null VALUE rides
        # the recursion's ``#mv#valid``. Viewed through a
        # list<struct> cast because MapArray.keys/.items ignore
        # slicing offsets (measured) while ListArray.flatten() honors
        # them.
        import pyarrow.compute as pc

        entry_t = pa.struct([
            pa.field("key", arr.type.key_type, nullable=False),
            pa.field("value", arr.type.item_type),
        ])
        lv = arr.cast(pa.list_(entry_t))
        if lv.null_count:
            if not allow_nulls:
                raise dtypes.UnsupportedDataType(
                    f"column {name!r} contains nulls; the format is "
                    "null-free by default (reference src/lib.rs:59-66) "
                    "— pass allow_nulls=True"
                )
            valid = lv.is_valid().to_numpy(zero_copy_only=False).astype(np.uint8)
            out.append((f"{name}#valid", ColumnValues.from_numpy(valid)))
            lv = pc.fill_null(lv, pa.scalar([], type=lv.type))
        lens = pc.list_value_length(lv).cast(pa.int64()).to_numpy(zero_copy_only=False)
        out.append((f"{name}#lengths", ColumnValues.from_numpy(lens.astype(np.int32))))
        entries = lv.flatten()
        out.extend(_sub_columns(f"{name}#mk", entries.field(0), allow_nulls))
        out.extend(_sub_columns(f"{name}#mv", entries.field(1), allow_nulls))
        return out
    is_list = pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
    if arr.null_count:
        if not allow_nulls:
            raise dtypes.UnsupportedDataType(
                f"column {name!r} contains nulls; the format is null-free by "
                "default (reference src/lib.rs:59-66) — pass allow_nulls=True"
            )
        import pyarrow.compute as pc

        valid = arr.is_valid().to_numpy(zero_copy_only=False).astype(np.uint8)
        out.append((f"{name}#valid", ColumnValues.from_numpy(valid)))
        if is_list:
            fill = pa.scalar([], type=arr.type)
        elif pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
            fill = ""
        elif pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type):
            fill = b""
        else:
            fill = 0
        arr = pc.fill_null(arr, fill)
    if is_list:
        import pyarrow.compute as pc

        lens = pc.list_value_length(arr).cast(pa.int64()).to_numpy(zero_copy_only=False)
        out.append((f"{name}#lengths", ColumnValues.from_numpy(lens.astype(np.int32))))
        values = arr.flatten()
        if (pa.types.is_struct(values.type) or pa.types.is_map(values.type)
                or pa.types.is_list(values.type)
                or pa.types.is_large_list(values.type)):
            # list<struct> / list<list> / list<map>: the flattened
            # element array shreds RECURSIVELY under ``name#values`` —
            # the lengths at each nesting level play the role of
            # Dremel's repetition levels (tokenizer-offset / span
            # schemas: list<struct<start,end>>). Flat element types
            # keep the direct leaf below, byte-identical to every
            # earlier encode.
            out.extend(_sub_columns(f"{name}#values", values, allow_nulls))
            return out
        out.append((f"{name}#values",
                    _arrow_to_columnvalues(_normalize_temporal(values))))
        return out
    out.append((name, _arrow_to_columnvalues(arr)))
    return out


DONE_COLUMN = "__done__"


def _iter_chunk_tables(batches: Iterator[pa.RecordBatch], chunk_rows: int) -> Iterator[pa.Table]:
    """Slice an Arrow batch stream into combined tables of exactly
    ``chunk_rows`` rows (last chunk short). THE chunking definition:
    shared by the encode pass and the keys-only resume planning pass —
    chunk identity is content-based on the row sequence, so both must
    slice bit-identically (a divergence would make resume silently skip
    real chunks)."""
    buf: list[pa.RecordBatch] = []
    nbuf = 0
    for b in batches:
        buf.append(b)
        nbuf += b.num_rows
        while nbuf >= chunk_rows:
            t = pa.Table.from_batches(buf)
            head = t.slice(0, chunk_rows).combine_chunks()
            rest = t.slice(chunk_rows)
            yield head
            buf = rest.to_batches(max_chunksize=max(rest.num_rows, 1)) if rest.num_rows else []
            nbuf = rest.num_rows
    if nbuf:
        yield pa.Table.from_batches(buf).combine_chunks()


def _chunk_content_key(sub_csums) -> str:
    """Chunk identity: a digest over EVERY sub-column's content checksum
    (sorted by sub-column name, so field order can't perturb it).

    Identity must cover the whole chunk content, not just the keys: two
    chunks with identical KEY vectors but different payloads are
    routine under a non-unique ``key_col`` (events keyed by
    ``event_type``; any hot key spanning > chunk_rows rows), and a
    keys-only hash would collide them — the decode-side
    ``dropDuplicates(chunk_key, column)`` then silently drops or MIXES
    whole chunks (measured: 116 of 500 rows survived a
    ``key_col='lang'`` roundtrip before this fix). Content identity
    keeps the properties the engine builds on: byte-identical resume
    re-encodes collapse (same content → same key), replayed streaming
    batches stay idempotent, and differing payloads always separate.
    The per-sub-column checksums are computed for the manifest anyway,
    so identity costs one extra tiny digest per chunk."""
    h = hashlib.blake2b(digest_size=12)
    for sub_name, csum in sorted(sub_csums):
        h.update(sub_name.encode())
        h.update(b"\x00")
        h.update(csum.encode())
        h.update(b"\x01")
    return h.hexdigest()


class _ChunkKeyTracker:
    """Disambiguate chunks whose FULL content repeats within one encode
    pass. Genuinely duplicate chunks (same keys AND same payloads — 128k
    identical event rows) are legitimate table content a single job must
    keep, so repeats get a partition-local ordinal suffix (``~1``,
    ``~2``…). Deterministic: within-partition chunk order is fixed
    (sortWithinPartitions / scan order), so planning and resume
    re-encodes reproduce the same ordinals. Partitioned layouts
    ('hash'/'range'/'weight'/'zorder') place equal keys in one partition
    — a multiset of identical rows can never straddle partitions — so
    the local ordinal is globally unique; the shuffle-free 'none' layout
    has no such guarantee and salts the partition id in (its identity
    was never placement-independent: chunk boundaries ARE the scan
    splits). Across separate append/streaming jobs identical content
    intentionally KEEPS one identity — that collapse is the idempotent-
    replay contract (streaming.py)."""

    def __init__(self, part_id: int, salt_part_id: bool):
        self._suffix = f"~p{part_id}" if salt_part_id else ""
        self._seen: dict[str, int] = {}

    def assign(self, raw: str) -> str:
        raw = raw + self._suffix
        n = self._seen.get(raw)
        if n is None:
            self._seen[raw] = 1
            return raw
        self._seen[raw] = n + 1
        return f"{raw}~{n}"


def _done_marker_batch(part_id: int, tag: str, n_chunks: int, snapshot_id) -> pa.RecordBatch:
    """Partition-completion marker row (resume bookkeeping, filtered out of
    every data path). chunk_key is unique per (tag, part) so markers from
    different partitions survive dropDuplicates(chunk_key, column)."""
    return pa.RecordBatch.from_pydict(
        {
            "part_id": [part_id],
            "chunk_id": [-1],
            "chunk_key": [f"{DONE_COLUMN}:{tag}:{part_id}"],
            "column": [DONE_COLUMN],
            "dtype_tag": [-1],
            "codec": [""],
            "n_values": [n_chunks],
            "bytes_in": [0],
            "bytes_out": [0],
            "checksum": [""],
            "min_key": [""],
            "max_key": [""],
            "min_key_num": [None],
            "max_key_num": [None],
            "val_min": [None],
            "val_max": [None],
            "val_min_str": [None],
            "val_max_str": [None],
            "val_sum": [None],
            "val_sum2": [None],
            "val_hist": [None],
            "val_ndv": [None],
            "key_bloom": [None],
            "val_bloom": [None],
            "snapshot_id": [snapshot_id],
            "blob": [b""],
        },
        schema=_MANIFEST_PA,
    )


def make_encode_fn(
    key_col: str,
    codec: str = "auto",
    allow_nulls: bool = False,
    target_page_size: int = DEFAULT_TARGET_PAGE_SIZE,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    snapshot_id: str | None = None,
    committed: frozenset | None = None,
    fail_parts: frozenset | None = None,
    done_marker_tag: str | None = None,
    todo: frozenset | None = None,
    ndv_sketches: bool = False,
    salt_part_id: bool = False,
    value_blooms=False,
    histograms: bool = False,
):
    """Build the mapInArrow encode function (pure closure, Spark-serializable).

    ``committed`` skips chunks already in the manifest by exact
    (chunk_key, column, checksum); ``todo`` is its INVERSE for huge
    manifests — only chunk_keys in the set are encoded (produced by the
    resume planning pass anti-joining planned keys against the
    manifest, so the driver ships the small not-yet-done set instead of
    the unbounded committed one). ``value_blooms`` opts into per-chunk
    VALUE Bloom filters (``_value_bloom``): True for the default leaf
    set, or an iterable of exact sub-column names."""
    vb_spec = value_blooms if isinstance(value_blooms, bool) \
        else frozenset(value_blooms)

    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else 0
        if fail_parts and part_id in fail_parts:
            # test hook: simulate a crashed executor — emit nothing
            return

        def encode_chunk(table: pa.Table, chunk_id: int,
                         tracker: _ChunkKeyTracker) -> pa.RecordBatch:
            rows = {name: [] for name, _ in MANIFEST_FIELDS}
            # normalize logical key types the same way value sub-columns
            # are (bool -> uint8, timestamps -> epoch ints): the chunk
            # checksum, zone maps, and bloom all see the integer form,
            # keeping them pure functions of the normalized chunk values
            keys = _normalize_temporal(table.column(key_col).combine_chunks())
            # rows are sorted by key within the partition, but a CHUNK of a
            # hash/weight-bucketed partition still spans arbitrary keys —
            # use true min/max, not first/last
            if len(keys):
                import pyarrow.compute as pc

                mm = pc.min_max(keys)
                kmin, kmax = mm["min"].as_py(), mm["max"].as_py()
            else:
                kmin = kmax = None
            min_key = str(kmin) if kmin is not None else ""
            max_key = str(kmax) if kmax is not None else ""
            if isinstance(kmin, (int, float)) and not isinstance(kmin, bool):
                min_num, max_num = float(kmin), float(kmax)
            else:
                # NULL (not NaN) for non-numeric keys: IS NULL is a
                # parquet-pushable predicate, so the decode-side
                # conservative keep for these chunks rides PushedFilters
                min_num = max_num = None
            # content-based chunk identity over ALL sub-column checksums
            # (_chunk_content_key): stable across runs even if the
            # physical partitioning drifted (resume correctness), and
            # collision-free for non-unique keys (a keys-only hash would
            # merge distinct chunks sharing a key vector)
            subs = []
            for field in table.schema:
                arr = table.column(field.name).combine_chunks()
                for sub_name, cv in _sub_columns(field.name, arr,
                                                 allow_nulls=allow_nulls):
                    subs.append((sub_name, cv, _checksum(cv)))
            chunk_key = tracker.assign(
                _chunk_content_key([(s, c) for s, _, c in subs]))
            if todo is not None and chunk_key not in todo:
                # committed in a previous run (anti-join planning pass):
                # skip the whole chunk — its values were hashed for
                # identity, but nothing is encoded
                return pa.RecordBatch.from_pydict(rows, schema=_MANIFEST_PA)
            # one bloom per chunk, attached to the key sub-column's row
            # (a chunk property, not a per-column one — storing it once
            # keeps the manifest metadata ~1.25 B/key total)
            kbloom = _key_bloom(keys)
            sub_names = {s for s, _, _ in subs} if histograms else ()
            for sub_name, cv, csum in subs:
                if committed and (chunk_key, sub_name, csum) in committed:
                    continue  # idempotent resume: chunk already encoded
                blob, footer = _encode_one(cv, codec, target_page_size)
                vmin, vmax = _value_zone_map(cv)
                rows["part_id"].append(part_id)
                rows["chunk_id"].append(chunk_id)
                rows["chunk_key"].append(chunk_key)
                rows["column"].append(sub_name)
                rows["dtype_tag"].append(footer.data_type)
                rows["codec"].append(BY_ID[footer.codec].name)
                rows["n_values"].append(cv.n)
                rows["bytes_in"].append(cv.input_nbytes())
                rows["bytes_out"].append(len(blob))
                rows["checksum"].append(csum)
                rows["min_key"].append(min_key)
                rows["max_key"].append(max_key)
                rows["min_key_num"].append(min_num)
                rows["max_key_num"].append(max_num)
                rows["val_min"].append(vmin)
                rows["val_max"].append(vmax)
                smin, smax = _value_zone_map_str(cv)
                rows["val_min_str"].append(smin)
                rows["val_max_str"].append(smax)
                rows["val_sum"].append(_value_sum(cv))
                rows["val_sum2"].append(_value_sum2(cv))
                rows["val_hist"].append(
                    _value_hist(cv, vmin, vmax)
                    if histograms
                    and _STATS_LEAF_CRE.match(sub_name)
                    and f"{sub_name}#valid" not in sub_names
                    # nullable columns: zero fillers would poison the
                    # buckets — quantiles stay approximate-or-absent
                    else None)
                rows["val_ndv"].append(
                    _ndv_sketch(cv)
                    if ndv_sketches and _STATS_LEAF_CRE.match(sub_name)
                    else None)  # internals are never reportable —
                # don't pay their hashing or ~1 KB/chunk metadata
                rows["key_bloom"].append(kbloom if sub_name == key_col else None)
                rows["val_bloom"].append(
                    _value_bloom(cv)
                    if vb_spec and _bloom_eligible(sub_name, vb_spec, key_col)
                    else None)
                rows["snapshot_id"].append(snapshot_id)
                rows["blob"].append(blob)
            return pa.RecordBatch.from_pydict(rows, schema=_MANIFEST_PA)

        chunk_id = 0
        tracker = _ChunkKeyTracker(part_id, salt_part_id)
        for tbl in _iter_chunk_tables(batches, chunk_rows):
            rb = encode_chunk(tbl, chunk_id, tracker)
            if rb.num_rows:
                yield rb
            chunk_id += 1
        if done_marker_tag is not None:
            # reached only when the partition fully encoded (a crashed task
            # never commits its output) — empty partitions mark too, so the
            # done-set converges to all partition ids
            yield _done_marker_batch(part_id, done_marker_tag, chunk_id, snapshot_id)

    return encode_fn


_BARE_SCAN_NODES = {
    "Project", "LogicalRelation", "Relation",
    "DataSourceV2Relation", "DataSourceV2ScanRelation",
}


def _is_bare_scan(df) -> bool:
    """True when the optimized logical plan contains only scan+project
    nodes — the precondition for the file-sampling fast path. Any other
    node (Filter, Sample, GlobalLimit, Join, ...) changes the row
    distribution, so re-reading raw files would sample a different
    population than the rows actually encoded. Walks plan node class
    names via py4j; unknown shapes or py4j errors report False (the
    caller falls back to the full-scan sample)."""
    try:
        stack = [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() not in _BARE_SCAN_NODES:
                return False
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return True
    except Exception:
        return False


_CHEAP_RESCAN_NODES = _BARE_SCAN_NODES | {"Filter"}


def _cheap_rescan(df) -> bool:
    """True when re-evaluating ``df`` is cheap AND deterministic: the
    optimized plan is scan/project/filter-only with every node's
    expressions deterministic. This is the gate for SKIPPING the
    auto-materialization before a multi-use subquery — a persisted
    manifest (parquet scan + the done-marker Filter) re-reads for
    pennies and always yields the same rows, while anything with an
    Exchange/mapInArrow (an in-flight encode) or a nondeterministic
    filter must be pinned first. Note `_is_bare_scan` is stricter on
    purpose (its file-sampling caller re-reads files RAW, so even a
    deterministic Filter changes the sampled population); here a Filter
    re-applies on re-evaluation and is fine."""
    try:
        stack = [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() not in _CHEAP_RESCAN_NODES:
                return False
            if not node.deterministic():
                return False
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return True
    except Exception:
        return False


def weight_balanced_bucket_expr(df, key_col: str, weight_col: str, num_buckets: int, sample_rows: int = 100_000):
    """Size-aware bucketing: sample (key, weight), pick key bounds at equal
    cumulative-weight quantiles, return a Column assigning each row its
    bucket. This is the explicit skew handling the north rule demands —
    plain ``repartitionByRange`` balances row COUNTS, but token rows skew
    in BYTES (Zipf lengths), so heavy ranges must get more buckets.

    At-scale sampling: when the input is file-backed with many files, the
    sample reads a deterministic subset of FILES (~20) instead of
    scanning the whole table — a 100 TB input must not pay a full pass
    (let alone the count + sample two-pass) just to pick bucket bounds.
    Caveat: this fast path re-reads the picked files RAW, ignoring any
    filters/projections on ``df`` — correct bounds require ``df`` to be a
    bare scan. A filtered input falls back to the full-scan sample.
    """
    from pyspark.sql import functions as F

    sample = None
    try:
        # the file fast path re-reads raw files; any row-distribution-
        # changing plan node (Filter/Sample/Limit/Join/...) would make
        # the sample diverge from the rows actually encoded, so it is
        # gated on a scan+project-only optimized plan
        files = df.inputFiles() if _is_bare_scan(df) else []
    except Exception:
        files = []
    if len(files) > 20:
        # strided pick over the sorted file list spreads key coverage;
        # a bare limit() would short-circuit into one file (biased)
        picked = sorted(files)[:: max(1, len(files) // 20)][:20]
        fdf = df.sparkSession.read.parquet(*picked).select(key_col, weight_col)
        sub_total = fdf.count()  # counts 20 files, not the table
        frac = min(1.0, sample_rows / max(sub_total, 1))
        sample = fdf.sample(fraction=frac, seed=42).toPandas()
        if len(sample) < 4 * num_buckets:
            sample = None  # fall through to the full-scan path
    if sample is None:
        total = df.count()
        frac = min(1.0, sample_rows / max(total, 1))
        sample = df.select(key_col, weight_col).sample(fraction=frac, seed=42).toPandas()
    if len(sample) == 0 or num_buckets <= 1:
        return F.lit(0)
    sample = sample.sort_values(key_col)
    w = sample[weight_col].to_numpy(dtype=np.float64)
    cum = np.cumsum(w)
    targets = cum[-1] * (np.arange(1, num_buckets) / num_buckets)
    idx = np.searchsorted(cum, targets)
    bounds = sorted(set(sample[key_col].to_numpy()[np.minimum(idx, len(sample) - 1)].tolist()))
    # bucket = number of bounds <= key (bounds list is small; JVM-side filter)
    bounds_arr = F.array(*[F.lit(b) for b in bounds])
    return F.size(F.filter(bounds_arr, lambda b: b <= F.col(key_col)))


ZORDER_BITS = 16  # bits per column in the interleaved z-value


def zorder_expr(df, zorder_cols: list[str]):
    """A JVM-side Z-ORDER (Morton) expression over 2+ numeric/temporal
    columns: each column is linearly scaled to ZORDER_BITS bits between
    its global min/max (one tiny aggregate job; skewed distributions
    only coarsen locality — row BALANCE comes from the range partition
    on the z-value, which is distribution-free), then the bit planes
    are interleaved. Entirely built-in expressions: ~ncols*16 shift/and
    terms, all inside whole-stage codegen — no UDF on the 100 TB path.

    Clustering by the z-value gives every listed column a LOCALLY
    NARROW value range per chunk, so the per-chunk value zone maps
    prune well on EVERY z-column at once — the multi-dimensional
    generalization of sort-by-key (Delta/Iceberg OPTIMIZE ZORDER BY,
    over this format's chunk zone maps instead of file stats)."""
    import math

    from pyspark.sql import functions as F

    if len(zorder_cols) < 2:
        raise ValueError("zorder takes >= 2 columns (one column = plain sort)")
    n = len(zorder_cols)
    # the interleaved value must fit a signed 64-bit long
    bits = min(ZORDER_BITS, 62 // n)
    aggs = []
    for c in zorder_cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"mx_{c}"),
                 F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}")]
    stats = df.agg(*aggs).first()
    top = (1 << bits) - 1
    planes = []
    for j, c in enumerate(zorder_cols):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        # partial nulls must raise too: least(lit(top), NULL) returns
        # top (Spark least SKIPS nulls), which would silently cluster
        # every null row into the max corner of the z-space
        if (stats[f"nn_{c}"] or 0) > 0:
            raise TypeError(
                f"zorder column {c!r} contains NULLs — zorder takes "
                "non-null, NaN-free numeric/temporal columns"
            )
        if mn is None or mx is None or math.isnan(mn) or math.isnan(mx):
            raise TypeError(
                f"zorder column {c!r} aggregates to NULL/NaN — zorder "
                "takes non-null, NaN-free numeric/temporal columns"
            )
        span = (mx - mn) or 1.0
        scaled = F.least(
            F.lit(top),
            F.floor((F.col(c).cast("double") - F.lit(float(mn)))
                    / F.lit(span) * F.lit(float(top + 1))).cast("long"),
        )
        planes.append((j, scaled))
    terms = [
        F.shiftleft(F.shiftright(scaled, i).bitwiseAND(F.lit(1)), i * n + j)
        for j, scaled in planes
        for i in range(bits)
    ]
    z = terms[0]
    for t in terms[1:]:
        z = z.bitwiseOR(t)
    return z


def _partition_for_encode(df, key_col: str, num_partitions: int, weight_col,
                          partitioner: str, sort_within: bool,
                          zorder_cols=None):
    """The encode layout: one shuffle chosen by ``partitioner``, then an
    in-partition sort on the key. Shared by the encode pass and the
    keys-only resume planning pass — chunk identity is content-based on
    the key sequence, so both must produce bit-identical layouts."""
    from pyspark.sql import functions as F

    if partitioner == "zorder":
        if not zorder_cols:
            raise ValueError('partitioner="zorder" requires zorder_cols=[...]')
        df = df.withColumn("__z", zorder_expr(df, list(zorder_cols)))
        df = df.repartitionByRange(num_partitions, "__z")
        if sort_within:
            df = df.sortWithinPartitions("__z")
        return df.drop("__z")
    if partitioner == "weight" and weight_col is not None and weight_col in df.columns:
        bucket = weight_balanced_bucket_expr(df, key_col, weight_col, num_buckets=4 * num_partitions)
        df = df.withColumn("__bucket", bucket)
        df = df.repartition(num_partitions, "__bucket").drop("__bucket")
    elif partitioner == "hash":
        df = df.repartition(num_partitions, F.col(key_col))
    elif partitioner == "none":
        pass  # trust the scan layout (already clustered on the key)
    else:
        df = df.repartitionByRange(num_partitions, key_col)
    if sort_within and partitioner != "none":
        df = df.sortWithinPartitions(key_col)
    return df


def encode_table(
    df,
    key_col: str = "doc_id",
    columns: list[str] | None = None,
    codec: str = "auto",
    num_partitions: int | None = None,
    target_page_size: int = DEFAULT_TARGET_PAGE_SIZE,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    weight_col: str | None = None,
    snapshot_id: str | None = None,
    committed: frozenset | None = None,
    fail_parts: frozenset | None = None,
    sort_within: bool = True,
    partitioner: str | None = None,
    allow_nulls: bool = False,
    done_marker_tag: str | None = None,
    todo: frozenset | None = None,
    zorder_cols: list[str] | None = None,
    ndv_sketches: bool = False,
    value_blooms=False,
    histograms: bool = False,
):
    """Encode ``df``'s columns into a blob+lineage manifest DataFrame.

    ``value_blooms=True`` (or an iterable of sub-column names, e.g.
    ``{"tokens#values"}``) records a per-chunk Bloom filter over each
    eligible sub-column's DISTINCT values (``val_bloom`` manifest
    metadata, never in bytes_out — compression-neutral). Powers the
    ``contains=`` decode prune on list columns and costs one hash pass
    per chunk at encode; off by default.

    Physical plan (explicit, per north rule): one shuffle chosen by
    ``partitioner`` —
      'weight' — weight-balanced bucketing on a sampled cumulative-weight
                 quantile of ``weight_col`` (over-bucketed 4× to absorb
                 byte skew from Zipf token lengths), deterministic
                 (seeded sample);
      'range'  — ``repartitionByRange(key)`` (row-balanced; Spark's
                 sampler is NOT deterministic across runs — fine for
                 one-shot encodes, not for resume);
      'hash'   — deterministic hash bucketing on the key (the resume
                 default: identical chunk boundaries on every run);
      'none'   — NO shuffle: encode partitions as scanned. The at-scale
                 fast path when the source table is already clustered /
                 write-ordered on the key (e.g. Iceberg sort-ordered
                 writes) — at 100 TB the shuffle IS the bottleneck, so
                 skipping it when the layout already serves compression
                 is the single biggest lever;
      'zorder' — range+sort on a Morton interleave of ``zorder_cols``
                 (>= 2 numeric/temporal columns): every listed column
                 gets locally narrow per-chunk value zone maps, so
                 conjunctive ``value_range`` queries prune on ALL of
                 them (multi-dimensional layout; one-shot like 'range'
                 — the z scaling samples global min/max);
    — then ``sortWithinPartitions(key)`` to lengthen runs (the
    reference's sort-to-compress advice made mechanical, org:302-313),
    then one ``mapInArrow`` pass.
    """
    from pyspark.sql import functions as F

    from pyspark.sql.types import DecimalType

    spark = df.sparkSession
    key_col, _, _ck_parts = _composite_args(key_col)
    if _ck_parts:
        # composite key: derive the canonical key sub-column ONCE
        # (JVM expression) — all downstream key machinery (range/hash
        # partitioning, zone maps, per-chunk Blooms, checksums, keys=
        # lookups, deletion marks) operates on it unchanged. Stored
        # under the reserved '#ck:' name; decode narrows it away free.
        df = df.withColumn(key_col, _composite_key_expr(df, _ck_parts))
    if key_col in df.columns and isinstance(
            df.schema[key_col].dataType, DecimalType):
        raise dtypes.UnsupportedDataType(
            f"key_col {key_col!r} is DECIMAL — decimal columns encode as "
            "payload (int64 unscaled) but cannot key the layout: use an "
            "integer/string/temporal key, or cast the column yourself"
        )
    if columns is not None:
        cols = list(dict.fromkeys([key_col] + columns))
        df = df.select(*cols)
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    if partitioner is None:
        partitioner = "weight" if (weight_col is not None and weight_col in df.columns) else "range"
    df = _partition_for_encode(df, key_col, num_partitions, weight_col,
                               partitioner, sort_within,
                               zorder_cols=zorder_cols)

    fn = make_encode_fn(
        key_col=key_col,
        codec=codec,
        allow_nulls=allow_nulls,
        target_page_size=target_page_size,
        chunk_rows=chunk_rows,
        snapshot_id=snapshot_id,
        committed=committed,
        fail_parts=fail_parts,
        done_marker_tag=done_marker_tag,
        todo=todo,
        ndv_sketches=ndv_sketches,
        salt_part_id=(partitioner == "none"),
        value_blooms=value_blooms,
        histograms=histograms,
    )
    return df.mapInArrow(fn, schema=MANIFEST_DDL)


# ---------------------------------------------------------------------------
# decode path
# ---------------------------------------------------------------------------

_ARROW_NP = {
    pa.bool_(): np.bool_,  # stored as uint8 (_normalize_temporal)
    pa.int8(): np.int8,
    pa.int16(): np.int16,
    pa.int32(): np.int32,
    pa.int64(): np.int64,
    pa.uint8(): np.uint8,
    pa.uint16(): np.uint16,
    pa.uint32(): np.uint32,
    pa.uint64(): np.uint64,
    pa.float32(): np.float32,
    pa.float64(): np.float64,
}


def _decode_blob(blob: bytes) -> ColumnValues:
    footer = read_footer(blob)
    codec = BY_ID[footer.codec]
    from .format import data_section

    return codec.decode(data_section(blob), footer)


def _cast_checked(vals: np.ndarray, tag: int, npt, name: str) -> np.ndarray:
    """Class- and VALUE-checked cast of a decoded chunk to the
    requested numpy dtype — the engine-side decode type guard (the
    reference's src/decode.rs:44-50 check, made value-exact). Integer
    codecs decode class-WIDE (int64/uint64 regardless of stored width,
    see the decoder contract at the top of this module), so the wire
    width is invisible here: a chunk encoded from int32 decoding into
    an int32 schema is the normal roundtrip, while 300 decoding into
    an int8 schema must raise, not wrap to 44. Rules: float chunks go
    only to same-or-wider floats; integer chunks go to any integer
    width of the same signedness provided EVERY value survives the
    round trip (one vectorized compare — the only lossy-direction
    cost), to signed targets from unsigned chunks under an explicit
    bound check (the bit round trip is lossless even when the value
    would flip sign, so compare alone cannot catch it), and to bool
    only for 0/1 payloads; everything cross-class refuses. This is
    also what makes metadata-only type WIDENING
    (``alter_column_type_checkpoint``) free: pre-widen chunks decode
    into the wider schema through the same checked cast."""
    npt = np.dtype(npt)
    src = vals.dtype
    if src == npt:
        return vals
    if tag in dtypes.FLOAT_TAGS:
        if npt.kind != "f" or npt.itemsize < src.itemsize:
            raise dtypes.UnsupportedDataType(
                f"column {name!r} stores {src.name} floats; decoding as "
                f"{npt.name} would lose precision or change class"
            )
        return vals.astype(npt)
    if tag in dtypes.INTEGER_TAGS:
        if npt.kind == "b":
            out = vals.astype(npt)
            if vals.size and not np.array_equal(out.astype(src), vals):
                raise dtypes.UnsupportedDataType(
                    f"column {name!r} stores non-0/1 integers; cannot "
                    "decode as boolean"
                )
            return out
        if npt.kind not in ("i", "u"):
            raise dtypes.UnsupportedDataType(
                f"column {name!r} stores integers; cannot decode as "
                f"{npt.name}"
            )
        if src.kind == "u" and npt.kind == "i":
            if vals.size and int(vals.max()) > np.iinfo(npt).max:
                raise dtypes.UnsupportedDataType(
                    f"column {name!r} holds unsigned values above "
                    f"{npt.name}'s range"
                )
            return vals.astype(npt)
        if src.kind == "i" and npt.kind == "u":
            if vals.size and int(vals.min()) < 0:
                raise dtypes.UnsupportedDataType(
                    f"column {name!r} holds negative values; cannot "
                    f"decode as {npt.name}"
                )
            out = vals.astype(npt)
            if vals.size and int(vals.max()) > np.iinfo(npt).max:
                raise dtypes.UnsupportedDataType(
                    f"column {name!r} holds values above {npt.name}'s "
                    "range"
                )
            return out
        out = vals.astype(npt)
        if vals.size and not np.array_equal(out.astype(src), vals):
            raise dtypes.UnsupportedDataType(
                f"column {name!r} holds values outside {npt.name}'s "
                "range — decode with the stored (wider) type"
            )
        return out
    # varlen/bool-tagged chunks never reach here with a numpy target
    raise dtypes.UnsupportedDataType(
        f"column {name!r} stores "
        f"{dtypes.TAG_NAMES.get(tag, tag)}; cannot decode as {npt.name}"
    )


def _rebuild_field(field: pa.Field, cvs: dict[str, ColumnValues]) -> pa.Array:
    t = field.type
    if pa.types.is_struct(t):
        # regroup the shredded ``name#f:<field>`` sub-column trees;
        # parent validity rides the from_arrays mask (pc.if_else has no
        # struct kernel)
        children = [
            _rebuild_field(pa.field(f"{field.name}#f:{f.name}", f.type), cvs)
            for f in t
        ]
        vkey = f"{field.name}#valid"
        mask = None
        if vkey in cvs:
            mask = pa.array(~cvs[vkey].vals.astype(bool))
        return pa.StructArray.from_arrays(children, fields=list(t), mask=mask)
    if pa.types.is_map(t):
        # regroup ``#lengths`` + the ``#mk``/``#mv`` trees. Built via
        # Array.from_buffers because pyarrow has neither an if_else
        # kernel for maps nor a list<struct> -> map cast (measured) —
        # the validity bitmap must land directly on the MapArray.
        lens = cvs[f"{field.name}#lengths"].vals.astype(np.int64)
        offsets = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        keys = _rebuild_field(
            pa.field(f"{field.name}#mk", t.key_type, nullable=False), cvs)
        items = _rebuild_field(
            pa.field(f"{field.name}#mv", t.item_type), cvs)
        entries = pa.StructArray.from_arrays(
            [keys, items],
            fields=[pa.field("key", t.key_type, nullable=False),
                    pa.field("value", t.item_type)])
        vkey = f"{field.name}#valid"
        vbuf = None
        null_count = 0
        if vkey in cvs:
            valid = cvs[vkey].vals.astype(bool)
            null_count = int((~valid).sum())
            if null_count:
                vbuf = pa.py_buffer(
                    np.packbits(valid, bitorder="little").tobytes())
        return pa.Array.from_buffers(
            t, len(lens),
            [vbuf, pa.py_buffer(offsets.astype(np.int32).tobytes())],
            null_count=null_count, children=[entries])
    arr = _rebuild_values(field, cvs)
    vkey = f"{field.name}#valid"
    if vkey in cvs:
        import pyarrow.compute as pc

        valid = cvs[vkey].vals.astype(bool)
        arr = pc.if_else(pa.array(valid), arr, pa.scalar(None, type=arr.type))
    return arr


def _phys_sub_names(name: str, t: pa.DataType) -> list[str]:
    """Every manifest sub-column name a logical field of type ``t`` may be
    stored under (the read-side mirror of ``_sub_columns``' naming):
    scalars as ``name`` (+ ``#valid``), lists as ``#lengths``/``#values``
    (+ ``#valid``), structs as one recursive ``name#f:<field>`` tree per
    child (+ ``#valid``)."""
    if pa.types.is_struct(t):
        out = [f"{name}#valid"]
        for f in t:
            out.extend(_phys_sub_names(f"{name}#f:{f.name}", f.type))
        return out
    if pa.types.is_map(t):
        out = [f"{name}#lengths", f"{name}#valid"]
        out.extend(_phys_sub_names(f"{name}#mk", t.key_type))
        out.extend(_phys_sub_names(f"{name}#mv", t.item_type))
        return out
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        vt = t.value_type
        if (pa.types.is_struct(vt) or pa.types.is_map(vt)
                or pa.types.is_list(vt) or pa.types.is_large_list(vt)):
            out = [f"{name}#lengths", f"{name}#valid"]
            out.extend(_phys_sub_names(f"{name}#values", vt))
            return out
    return [name, f"{name}#lengths", f"{name}#values", f"{name}#valid"]


def _rebuild_values(field: pa.Field, cvs: dict[str, ColumnValues]) -> pa.Array:
    t = field.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        lens_cv = cvs[f"{field.name}#lengths"]
        lens = lens_cv.vals.astype(np.int64)
        offsets = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        elem_t = t.value_type
        if (pa.types.is_struct(elem_t) or pa.types.is_map(elem_t)
                or pa.types.is_list(elem_t)
                or pa.types.is_large_list(elem_t)):
            # nested elements: the flattened array rebuilds recursively
            # from its own ``name#values`` sub-column tree
            values = _rebuild_field(
                pa.field(f"{field.name}#values", elem_t), cvs)
            if pa.types.is_large_list(t):
                return pa.LargeListArray.from_arrays(
                    pa.array(offsets, type=pa.int64()), values)
            return pa.ListArray.from_arrays(
                pa.array(offsets.astype(np.int32), type=pa.int32()),
                values)
        vals_cv = cvs[f"{field.name}#values"]
        if pa.types.is_decimal(elem_t):
            # int64 -> decimal CAST would rescale (treats the int as a
            # whole number); rebuild from the unscaled words instead
            values = _unscaled_to_decimal(vals_cv.vals, elem_t)
        elif vals_cv.vals is not None:
            values = pa.array(
                _cast_checked(vals_cv.vals, vals_cv.tag,
                              _ARROW_NP.get(elem_t, np.int64),
                              f"{field.name}#values"),
                type=elem_t)
        else:
            values = vals_cv.to_arrow().cast(elem_t)
        if pa.types.is_large_list(t):
            return pa.LargeListArray.from_arrays(pa.array(offsets, type=pa.int64()), values)
        return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32), type=pa.int32()), values)
    cv = cvs[field.name]
    if cv.vals is not None:
        if pa.types.is_decimal(t):
            # stored as int64 UNSCALED (_normalize_temporal); a cast
            # would rescale, so rebuild from the raw words
            return _unscaled_to_decimal(cv.vals, t)
        npt = _ARROW_NP.get(t)
        if npt is None and (
            pa.types.is_timestamp(t) or pa.types.is_date(t)
            or pa.types.is_time(t) or pa.types.is_duration(t)
        ):
            # temporal: stored as epoch ints (_normalize_temporal); cast back
            width = pa.int32() if pa.types.is_date32(t) or pa.types.is_time32(t) else pa.int64()
            return pa.array(
                _cast_checked(cv.vals, cv.tag, _ARROW_NP[width], field.name),
                type=width).cast(t)
        return pa.array(
            _cast_checked(cv.vals, cv.tag, npt, field.name)
            if npt is not None else cv.vals, type=t)
    return cv.to_arrow().cast(t)


# Deletion vectors: a ``delete_keys`` call appends SIDECAR manifest rows
# (column = "__deletes__" + a content-derived generation suffix) whose
# blob is the sorted list of deleted within-chunk row positions —
# delta-uvarint coded, ~1-2 bytes/row. Data blobs are NEVER rewritten
# (the Delta/Iceberg-v2 deletion-vector idea applied to this format):
# decode applies the mask after rebuilding each chunk, and a re-encoding
# compaction materializes the deletes and reclaims the bytes. Sidecars
# copy their chunk's KEY zone maps and bloom, so every metadata prune
# keeps or drops them together with the chunk they mask.
DELETES_PREFIX = "__deletes__"
DELETES_CODEC = "deletes"


def _encode_positions(pos: np.ndarray) -> bytes:
    """Sorted within-chunk row positions -> uvarint count + delta-uvarint
    stream (reuses the format's vectorized LEB128)."""
    from .format import _write_uvarint, uvarint_encode

    out = bytearray()
    _write_uvarint(out, len(pos))
    p = np.asarray(pos, dtype=np.int64)
    deltas = np.diff(p, prepend=np.int64(0)).astype(np.uint64)
    buf, _ = uvarint_encode(deltas)
    return bytes(out) + buf.tobytes()


def _decode_positions(blob: bytes) -> np.ndarray:
    from .format import _read_uvarint, uvarint_decode

    n, off = _read_uvarint(blob, 0)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    deltas, _ = uvarint_decode(np.frombuffer(blob, np.uint8, offset=off), n)
    return np.cumsum(deltas.astype(np.int64))


def _deletes_blob_checksum(blob: bytes) -> str:
    return hashlib.blake2b(blob, digest_size=12).hexdigest()


def _apply_deletes(rb: pa.RecordBatch, delete_blobs) -> pa.RecordBatch:
    """Drop the masked rows of one rebuilt chunk. Multiple generations
    (repeated/overlapping delete calls) union idempotently."""
    keep = np.ones(rb.num_rows, dtype=bool)
    for blob in delete_blobs:
        pos = _decode_positions(blob)
        if len(pos) and (pos[0] < 0 or pos[-1] >= rb.num_rows):
            raise IOError(
                f"deletion vector names row {int(pos[-1])} but the chunk "
                f"has {rb.num_rows} rows — sidecar applied to the wrong "
                "chunk or a corrupted deletes blob"
            )
        keep[pos] = False
    if keep.all():
        return rb
    return rb.filter(pa.array(keep))


ROW_CHUNK_COL = "__row_chunk"
ROW_POS_COL = "__row_pos"


def _rowmeta_schema(out_schema: pa.Schema) -> pa.Schema:
    """``out_schema`` plus the per-row physical address columns
    ``emit_rowmeta`` decodes append: the owning chunk_key and the row's
    PRE-MASK position within that chunk (the coordinate system deletion
    -vector sidecars speak)."""
    return pa.schema(list(out_schema) + [
        pa.field(ROW_CHUNK_COL, pa.string()),
        pa.field(ROW_POS_COL, pa.int64()),
    ])


def make_decode_fn(out_schema: pa.Schema, verify_checksums: bool = False,
                   extra_deletes=None, defaults=None,
                   emit_rowmeta: bool = False):
    """mapInArrow decode over manifest rows, grouped by chunk_key.

    Requires rows of one chunk_key group to be contiguous in the stream —
    ``decode_table`` arranges that with an explicit repartition +
    sortWithinPartitions.

    With ``verify_checksums`` every decoded sub-column is re-hashed and
    compared against the blake2b the ENCODER recorded in the manifest —
    an end-to-end integrity check (storage bit rot, codec regressions)
    costing one hash pass per chunk on top of the decode. Requires the
    ``checksum`` column in the stream.

    Deletion-vector sidecar rows (``__deletes__*``) riding the stream
    mask their chunk's rows after rebuild; ``extra_deletes`` is the
    out-of-band carrier ``decode_checkpoint`` uses when the sidecars
    live in appended files outside the clustered layout — a dict
    ``chunk_key -> [positions blob, ...]`` (both sources union).

    ``defaults`` (field name -> python value) marks METADATA-ONLY ADDED
    columns (``add_column_checkpoint``): a chunk carrying NO sub-column
    for such a field rebuilds it as a constant/null array of the
    chunk's row count (``pa.repeat`` — vectorized, no I/O). Fields
    outside ``defaults`` keep the hard missing-sub-column diagnostics.

    ``emit_rowmeta`` appends two address columns to every decoded row —
    ``__row_chunk`` (owning chunk_key) and ``__row_pos`` (position
    within the chunk BEFORE mask application, the coordinate deletion
    -vector sidecars use). Masks still apply, so the emitted rows are
    the ALIVE rows labeled with their physical address — the carrier
    the change feed's one-decode mask diff joins against.
    """

    # only the sub-columns the output schema references are decoded —
    # a projection decode must not pay decompression for columns it
    # never returns (verification consequently covers the decoded set)
    needed = {s for f in out_schema for s in _phys_sub_names(f.name, f.type)}
    # plain python values ride the closure (pa.Scalar pickling is an
    # implementation detail); scalars build worker-side per task
    fill = dict(defaults) if defaults else {}

    def decode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pending_key = None
        pending: dict[str, bytes] = {}
        expect: dict[str, str] = {}
        seen_keys: set = set()  # bounded by chunks/task — tiny strings
        seen_cols: set = set()  # bounded by #sub-columns — tinier still

        def flush():
            dels = []
            for c in [c for c in pending if c.startswith(DELETES_PREFIX)]:
                blob = pending.pop(c)
                if verify_checksums and expect.get(c):
                    got = _deletes_blob_checksum(blob)
                    if got != expect[c]:
                        raise IOError(
                            f"checksum mismatch on deletion vector {c!r} of "
                            f"chunk {pending_key!r}: manifest says "
                            f"{expect[c]}, blob hashes to {got}"
                        )
                dels.append(blob)
            if extra_deletes is not None:
                dels.extend(extra_deletes.get(pending_key, ()))
            if dels and not pending:
                raise IOError(
                    f"deletion-vector sidecar for chunk {pending_key!r} "
                    "arrived without its chunk's data rows — the manifest "
                    "is not chunk-contiguous (arranged=True on a manifest "
                    "that went through delete_keys?). Use the default "
                    "decode path, or compact_checkpoint to re-cluster."
                )
            cvs = {c: _decode_blob(b) for c, b in pending.items() if c in needed}
            if verify_checksums:
                for c, cv in cvs.items():
                    got = _checksum(cv)
                    if got != expect[c]:
                        raise IOError(
                            f"checksum mismatch decoding chunk "
                            f"{pending_key!r} column {c!r}: manifest says "
                            f"{expect[c]}, decoded values hash to {got} — "
                            "corrupted blob, codec regression, or a "
                            "checkpoint written before the ck2 width-"
                            "canonical hash (re-encode it, or decode "
                            "without verify_checksums)"
                        )
            to_fill = []
            if fill:
                # metadata-only ADDED columns: a chunk with ZERO
                # sub-columns for the field predates the add — fill a
                # constant array after the real fields pin the row
                # count. Partial presence (torn chunk) still takes the
                # diagnostic path below.
                to_fill = [
                    f for f in out_schema
                    if f.name in fill and not any(
                        s in cvs for s in _phys_sub_names(f.name, f.type))
                ]
            try:
                built = {
                    f.name: _rebuild_field(f, cvs)
                    for f in out_schema if f not in to_fill
                }
                if to_fill:
                    if not built:
                        raise IOError(
                            f"chunk {pending_key!r} carries data for "
                            "NONE of the projected columns — a "
                            "projection of only metadata-added columns "
                            "needs at least one stored column to "
                            "anchor row counts"
                        )
                    n = len(next(iter(built.values())))
                    for f in to_fill:
                        v = fill[f.name]
                        built[f.name] = (
                            pa.nulls(n, f.type) if v is None
                            else pa.repeat(pa.scalar(v, type=f.type), n))
                arrays = [built[f.name] for f in out_schema]
            except KeyError as e:
                # the clustered gate checks one-file-per-chunk and no
                # duplicates but not WITHIN-file contiguity: a manifest
                # rewritten by an external tool (e.g. re-sorted by column
                # then chunk_key) passes it and then tears every chunk's
                # sub-columns apart mid-stream — name the repair tool
                # instead of dying with a bare KeyError. A column that
                # NO row so far carried is more likely a schema
                # mismatch (out_schema naming a field the manifest
                # never stored) — compaction cannot fix that, so
                # diagnose it separately.
                missing = e.args[0] if e.args else str(e)
                if missing in seen_cols:
                    raise IOError(
                        f"chunk {pending_key!r} is missing sub-column "
                        f"{missing!r} in its contiguous row group, but "
                        "other chunks carry it — manifest rows for one "
                        "chunk are not adjacent (externally rewritten "
                        "or re-sorted checkpoint?). compact_checkpoint("
                        "src, dst) restores the clustered layout"
                    ) from e
                raise IOError(
                    f"chunk {pending_key!r} has no sub-column "
                    f"{missing!r}, and no manifest row seen so far "
                    "carries it — either out_schema names a column this "
                    "manifest does not store (check the schema "
                    "argument), or the manifest was externally "
                    "re-sorted column-major (compact_checkpoint(src, "
                    "dst) restores the clustered layout)"
                ) from e
            rb = pa.RecordBatch.from_arrays(arrays, schema=out_schema)
            if emit_rowmeta:
                rb = pa.RecordBatch.from_arrays(
                    arrays + [
                        pa.array([pending_key] * rb.num_rows, pa.string()),
                        pa.array(np.arange(rb.num_rows, dtype=np.int64)),
                    ],
                    schema=_rowmeta_schema(out_schema))
            if dels:
                rb = _apply_deletes(rb, dels)
            # stream cache-sized batches back to the JVM: one 16k-row chunk
            # of token arrays is ~12 MB as a single RecordBatch, which
            # thrashes the Arrow allocator at high task concurrency (same
            # measured pathology as the encode-side maxRecordsPerBatch fix)
            for s in range(0, rb.num_rows, 2048):
                yield rb.slice(s, min(2048, rb.num_rows - s))

        for b in batches:
            keys = b.column("chunk_key").to_pylist()
            cols = b.column("column").to_pylist()
            blobs = b.column("blob")
            sums = b.column("checksum").to_pylist() if verify_checksums else None
            for i in range(b.num_rows):
                key = keys[i]
                if key != pending_key:
                    if pending_key is not None and pending:
                        yield from flush()
                    if key in seen_keys:
                        raise IOError(
                            f"chunk {key!r} reappears non-adjacently in "
                            "the manifest stream — rows of one chunk must "
                            "be contiguous (externally rewritten or "
                            "re-sorted checkpoint?). compact_checkpoint("
                            "src, dst) restores the clustered layout"
                        )
                    seen_keys.add(key)
                    pending_key = key
                    pending = {}
                    expect = {}
                pending[cols[i]] = blobs[i].as_py()
                seen_cols.add(cols[i])
                if sums is not None:
                    expect[cols[i]] = sums[i]
        if pending_key is not None and pending:
            yield from flush()

    return decode_fn


def _project_out_schema(out_schema: pa.Schema, columns):
    """Resolve a column projection against the table schema: returns the
    pruned Arrow schema plus the physical manifest column names to read
    (each logical field may be stored as ``name`` or ``name#lengths`` +
    ``name#values``, plus an optional ``name#valid`` mask)."""
    if columns is None:
        return out_schema, None
    wanted = list(dict.fromkeys(columns))
    missing = [c for c in wanted if out_schema.get_field_index(c) < 0]
    if missing:
        raise KeyError(f"columns not in schema: {missing}")
    pruned = pa.schema([out_schema.field(c) for c in wanted])
    phys = [
        s for c in wanted for s in _phys_sub_names(c, out_schema.field(c).type)
    ]
    return pruned, phys


def _zone_keep_expr(key_range, legacy_nan_zonemaps: bool):
    """Spark Column keeping manifest rows whose chunk may hold keys in
    ``key_range``. Numeric ranges use the cast-free val_*_num columns
    (parquet-pushable; NULL maps kept conservatively — the exact
    post-filter removes stray rows). ``legacy_nan_zonemaps`` adds an
    isnan keep for pre-round-2 manifests that stored NaN instead of
    NULL; it is opt-in because isnan is NOT parquet-translatable and
    OR-ing it in drops the whole disjunct from PushedFilters
    (asserted in tests/test_slice.py)."""
    from datetime import date

    from pyspark.sql import functions as F

    import decimal as _dec

    lo, hi = key_range
    if isinstance(lo, date) or isinstance(hi, date):  # datetime is a date
        raise TypeError(
            "key_range does not take datetime/date bounds — use "
            "value_range=(key_col, lo, hi): the key sub-column carries "
            "value zone maps too, and that path builds the exact NTZ/"
            "DATE filters timezone-free"
        )
    if isinstance(lo, _dec.Decimal) or isinstance(hi, _dec.Decimal):
        raise TypeError(
            "key_range does not take decimal.Decimal bounds — use "
            "value_range=(key_col, lo, hi): the key sub-column carries "
            "value zone maps over the UNSCALED form, and that path "
            "scales the bounds exactly"
        )
    if isinstance(lo, (int, float)) and not isinstance(lo, bool):
        mn, mx = F.col("min_key_num"), F.col("max_key_num")
        keep = ((mx >= F.lit(lo)) & (mn <= F.lit(hi))) | mn.isNull()
        if legacy_nan_zonemaps:
            keep = keep | F.isnan(mn)
        return keep
    mn, mx = F.col("min_key"), F.col("max_key")
    return (mx >= F.lit(lo)) & (mn <= F.lit(hi))


def _resolve_value_field(out_schema: pa.Schema, vcol: str):
    """Resolve a value_range target — a top-level column name or a
    struct leaf in manifest sub-column spelling (``name#f:child``,
    arbitrarily nested) — to its Arrow type and the Spark Column
    expression the exact post-filter evaluates it with."""
    from pyspark.sql import functions as F

    parts = vcol.split("#f:")
    if out_schema.get_field_index(parts[0]) < 0:
        raise KeyError(
            f"value_range column {vcol!r} must be in the decoded output "
            "(the zone-map prune is approximate; the exact row filter "
            "needs the column)"
        )
    t = out_schema.field(parts[0]).type
    expr = F.col(parts[0])
    for p in parts[1:]:
        if not pa.types.is_struct(t):
            raise KeyError(
                f"value_range column {vcol!r}: {t} has no struct field {p!r}"
            )
        names = [f.name for f in t]
        if p not in names:
            raise KeyError(
                f"value_range column {vcol!r}: struct has no field {p!r} "
                f"(fields: {names})"
            )
        t = t.field(names.index(p)).type
        expr = expr.getField(p)
    return t, expr


def _prefix_successor(prefix: str) -> str | None:
    """The shortest string strictly greater than EVERY string with
    ``prefix``: increment the rightmost incrementable code point and
    truncate (skipping the surrogate block, which lone can't encode to
    UTF-8). None when no successor exists (all chars U+10FFFF)."""
    for i in range(len(prefix) - 1, -1, -1):
        nxt = ord(prefix[i]) + 1
        if nxt == 0xD800:  # jump the surrogate range
            nxt = 0xE000
        if nxt <= 0x10FFFF:
            return prefix[:i] + chr(nxt)
    return None


def _prepare_value_range(out_schema: pa.Schema, value_range):
    """Resolve a ``value_range`` request against the output schema:
    returns ``(vcol, zone_lo, zone_hi, lit_lo, lit_hi, expr, exact)`` —
    numeric bounds for the zone-map prune (zone maps store the
    NORMALIZED values: temporal columns ride the integer codecs as epoch
    micros/days, engine._normalize_temporal), typed Spark literals
    for the exact row filter, the Column expression the filter targets
    (``F.col(name)``, or a getField chain for struct leaves addressed
    as ``name#f:child``), and ``exact`` — the ready row predicate
    (BETWEEN the literals; ``startswith`` for prefix specs). Supports
    numeric columns, STRING, TIMESTAMP_NTZ (naive datetime bounds; the
    literals parse timezone-free) and DATE (date bounds).

    A 2-tuple ``(column, prefix)`` is a string PREFIX spec — the
    ``LIKE 'prefix%'`` pushdown: zone bounds [prefix, successor(prefix))
    cover exactly the prefix band (BETWEEN bounds cannot: 'src1%'
    matches src1 AND src10..src19, which straddle 'src2'), and the
    exact filter is ``startswith`` — true LIKE semantics, not a range
    approximation."""
    base = _prepare_value_range_base(out_schema, value_range)
    vcol, zlo, zhi, lit_lo, lit_hi, expr = base[:6]
    exact = base[6] if len(base) == 7 else \
        ((expr >= lit_lo) & (expr <= lit_hi))
    return vcol, zlo, zhi, lit_lo, lit_hi, expr, exact


def _prepare_value_range_base(out_schema: pa.Schema, value_range):
    from datetime import date, datetime, timedelta

    from pyspark.sql import functions as F

    if len(value_range) == 2:  # (column, prefix) — string prefix spec
        vcol, prefix = value_range
        t, expr = _resolve_value_field(out_schema, vcol)
        if not (pa.types.is_string(t) or pa.types.is_large_string(t)):
            raise TypeError(
                f"prefix value_range (2-tuple) needs a STRING column; "
                f"{vcol!r} is {t}"
            )
        if not isinstance(prefix, str) or not prefix:
            raise TypeError(
                f"prefix value_range on {vcol!r} takes a non-empty str"
            )
        hi = _prefix_successor(prefix)
        if hi is None:
            raise TypeError(
                f"prefix {prefix!r} has no lexicographic successor "
                "(all U+10FFFF) — use a plain (col, lo, hi) range"
            )
        # zone bounds: prefix <= s < successor for every prefixed s;
        # _value_range_keys' inclusive <= on the hi side only OVER-keeps
        # (a chunk whose min == successor exactly) — conservative.
        return (vcol, prefix, hi, F.lit(prefix), F.lit(hi), expr,
                expr.startswith(F.lit(prefix)))

    vcol, lo, hi = value_range
    t, expr = _resolve_value_field(out_schema, vcol)
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        return vcol, lo, hi, F.lit(lo), F.lit(hi), expr
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        if not all(isinstance(b, str) for b in (lo, hi)):
            raise TypeError(
                f"value_range on STRING column {vcol!r} takes str bounds"
            )
        return vcol, lo, hi, F.lit(lo), F.lit(hi), expr
    if pa.types.is_timestamp(t) and t.tz is None and t.unit == "us":
        if not all(isinstance(b, datetime) and b.tzinfo is None for b in (lo, hi)):
            raise TypeError(
                f"value_range on TIMESTAMP_NTZ column {vcol!r} takes "
                "naive datetime bounds"
            )
        epoch = datetime(1970, 1, 1)
        zlo = (lo - epoch) // timedelta(microseconds=1)
        zhi = (hi - epoch) // timedelta(microseconds=1)
        # The literals MUST be built timezone-free: lit(naive datetime)
        # interprets the wall via the DRIVER-local tz but the cast back
        # to NTZ renders in the SESSION tz, shifting the bounds whenever
        # the two differ. String -> NTZ parsing involves no timezone.
        fmt = "%Y-%m-%d %H:%M:%S.%f"
        return (vcol, zlo, zhi,
                F.lit(lo.strftime(fmt)).cast("timestamp_ntz"),
                F.lit(hi.strftime(fmt)).cast("timestamp_ntz"), expr)
    if pa.types.is_date32(t):
        if not all(isinstance(b, date) and not isinstance(b, datetime) for b in (lo, hi)):
            raise TypeError(f"value_range on DATE column {vcol!r} takes date bounds")
        d0 = date(1970, 1, 1)
        return vcol, (lo - d0).days, (hi - d0).days, F.lit(lo), F.lit(hi), expr
    if pa.types.is_decimal(t):
        import decimal as _dec

        if not all(isinstance(b, _dec.Decimal) for b in (lo, hi)):
            raise TypeError(
                f"value_range on DECIMAL column {vcol!r} takes "
                "decimal.Decimal bounds"
            )
        # zone maps hold the int64 UNSCALED values as float64; scale the
        # bounds (floor/ceil keeps them conservative for fractional
        # bounds finer than the scale) and widen one ulp each way — at
        # unscaled magnitudes past 2^53 the nearest-double rounding of
        # the bound itself could otherwise shave a qualifying chunk.
        # The exact post-filter compares true decimal literals.
        zlo = np.nextafter(np.float64(int(
            (lo.scaleb(t.scale)).to_integral_value(_dec.ROUND_FLOOR))), -np.inf)
        zhi = np.nextafter(np.float64(int(
            (hi.scaleb(t.scale)).to_integral_value(_dec.ROUND_CEILING))), np.inf)
        return vcol, float(zlo), float(zhi), F.lit(lo), F.lit(hi), expr
    raise TypeError(
        f"value_range does not support column {vcol!r} of type {t} — "
        "numeric, STRING, TIMESTAMP_NTZ (us), and DATE columns carry "
        "usable zone maps; filter other types after decode"
    )


def _value_maps_col(value_range) -> str:
    """The manifest column a value_range's zone maps live in (numeric
    bounds ride val_min/val_max, string bounds val_min_str/val_max_str);
    callers check its presence before pruning (legacy manifests)."""
    return "val_min_str" if isinstance(value_range[1], str) else "val_min"


def _zone_admit_expr(lo, hi):
    """THE zone-map containment test for [lo, hi] over one manifest
    row — the single definition of the conservative keep rules, shared
    by range pruning (``_value_range_keys``), IN-list pruning
    (``_disjunctive_hit_keys``), and the predicate-delete candidates
    (``_where_candidates``). NULL numeric maps (non-numeric / all-NaN /
    pre-zone-map manifests) keep the chunk conservatively — exact
    post-filters always remove stray rows. String bounds are checked
    ASYMMETRICALLY: val_min_str is a 256-char-prefix lower bound
    (prefix > hi proves every value > hi — safe drop), while a NULL
    val_max_str means "max too long to store" (+inf) and keeps the
    chunk."""
    from pyspark.sql import functions as F

    if isinstance(lo, str):
        return (
            ((F.col("val_max_str") >= F.lit(lo)) | F.col("val_max_str").isNull())
            & ((F.col("val_min_str") <= F.lit(hi)) | F.col("val_min_str").isNull())
        )
    return (
        ((F.col("val_max") >= F.lit(lo)) & (F.col("val_min") <= F.lit(hi)))
        | F.col("val_min").isNull()
    )


def _value_range_keys(manifest_df, value_range):
    """Manifest rows (chunk_key level) whose ``value_range`` column MAY
    hold values in [lo, hi], per the per-chunk value zone maps
    (``_zone_admit_expr`` carries the keep rules)."""
    from pyspark.sql import functions as F

    vcol, lo, hi = value_range
    return manifest_df.filter(
        (F.col("column") == vcol) & _zone_admit_expr(lo, hi))


def _conjunctive_hit_keys(manifest_df, vrs, extra_cols=()):
    """Chunk keys that may satisfy EVERY prepared value_range in ``vrs``
    (AND semantics) — one union + one aggregate job: each predicate's
    zone-qualifying manifest rows are tagged with the predicate's index
    and a chunk survives iff it matched ALL indices (countDistinct, so
    two predicates on the SAME column still count separately).
    ``extra_cols`` rides grouping columns through (``__file`` for the
    checkpoint path). Blob-free metadata throughout."""
    from functools import reduce

    from pyspark.sql import functions as F

    cols = ["chunk_key", *extra_cols]
    tagged = [
        _value_range_keys(manifest_df, v[:3]).select(*cols).withColumn("__ri", F.lit(i))
        for i, v in enumerate(vrs)
    ]
    allhits = reduce(lambda a, b: a.unionByName(b), tagged)
    return (
        allhits.groupBy(*cols)
        .agg(F.countDistinct("__ri").alias("__nm"))
        .filter(F.col("__nm") == len(vrs))
        .select(*cols)
    )


def _bloom_probe_values(values):
    """Canonical Bloom probe array for a ``value_in`` value set — or
    None when probing would be unsound. The encode side hashed the
    NORMALIZED chunk values (float64 numerics — temporals as epoch
    ints, ``_normalize_temporal``; object strings), so only probes that
    canonicalize to exactly those forms may consult the filters:
    decimals are excluded (their zone bounds are nextafter-WIDENED, and
    a widened float hashes differently — a bloom miss would wrongly
    prune), as are bools and mixed sets. Returns (probe, is_str)."""
    from datetime import date, datetime, timedelta

    vals = list(values)
    if not vals or any(isinstance(v, bool) for v in vals):
        return None
    if all(isinstance(v, str) for v in vals):
        return np.asarray(vals, dtype=object), True
    if all(isinstance(v, (int, float)) for v in vals):
        p = np.asarray([float(v) for v in vals], np.float64)
        return (None if np.isnan(p).any() else (p, False))
    if all(isinstance(v, datetime) and v.tzinfo is None for v in vals):
        epoch = datetime(1970, 1, 1)
        return np.asarray(
            [float((v - epoch) // timedelta(microseconds=1)) for v in vals],
            np.float64), False
    if all(isinstance(v, date) and not isinstance(v, datetime)
           for v in vals):
        d0 = date(1970, 1, 1)
        return np.asarray([float((v - d0).days) for v in vals],
                          np.float64), False
    return None


def _disjunctive_hit_keys(manifest_df, in_vrs, extra_cols=()):
    """Chunk keys whose value zone maps admit ANY of the prepared
    single-value ranges (OR semantics — the IN-list prune behind
    ``value_in``): ONE blob-free metadata filter pass, the per-value
    containment tests OR-combined. NULL maps keep conservatively, same
    asymmetric string rules as ``_value_range_keys``."""
    from functools import reduce

    from pyspark.sql import functions as F

    vcol = in_vrs[0][0]
    keep = reduce(lambda a, b: a | b,
                  [_zone_admit_expr(v[1], v[2]) for v in in_vrs])
    cols = ["chunk_key", *extra_cols]
    return (
        manifest_df.filter((F.col("column") == vcol) & keep)
        .select(*cols)
        .distinct()
    )


def _intersect_file_keys(a, b):
    """AND-combine two file->chunk-key-list prune maps (a list value
    names the qualifying chunks; None means 'every chunk in the file').
    None MAP means 'no pruning from that source' — the other side wins.
    A file whose intersected chunk list empties drops out entirely."""
    if a is None:
        return b
    if b is None:
        return a
    out = {}
    for f in set(a) & set(b):
        ka, kb = a[f], b[f]
        if ka is None:
            merged = kb
        elif kb is None:
            merged = ka
        else:
            s = set(kb)
            merged = [k for k in ka if k in s]
            if not merged:
                continue
        out[f] = merged
    return out


def _prepare_value_in(out_schema, value_in):
    """Validate + prepare a ``value_in=(column, [v1, v2, ...])`` spec:
    one prepared single-value range per value (shared zone-map plumbing
    with ``value_range`` — type checks, decimal scaling, NTZ-safe
    literals all ride along) plus the OR-combined exact post-filter."""
    from functools import reduce

    vcol, values = value_in
    vals = list(values)
    if not vals:
        raise ValueError(
            f"value_in on {vcol!r}: empty value list — an empty IN "
            "decodes nothing; filter after decode if that is intended"
        )
    in_vrs = [_prepare_value_range(out_schema, (vcol, v, v)) for v in vals]
    in_expr = reduce(lambda a, b: a | b, [v[6] for v in in_vrs])
    return in_vrs, in_expr


def _prepare_contains(out_schema: pa.Schema, contains):
    """Validate + prepare ``contains=(column, [v1, v2, ...])`` — the
    ARRAY-membership predicate: decode rows whose LIST column holds ANY
    of the values (``array_contains`` OR-combined; the canary-token /
    contamination-lookup shape over token arrays). Returns
    ``(sub_name, probe, is_str, exact_expr)``: the ``#values`` manifest
    sub-column the flattened elements' zone maps and value blooms live
    on, the canonicalized probe array (float64 / object-of-str — the
    bloom + zone comparison domain), and the exact row filter
    (``arrays_overlap`` against a typed literal array — JVM-side).
    Integer, float, and string element types; temporal/decimal/bool
    lists are refused (filter after decode). NaN probes are refused:
    NaN never equals anything, and the blooms don't record it."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    ccol, values = contains
    vals = list(values)
    if not vals:
        raise ValueError(
            f"contains on {ccol!r}: empty value list — an empty ANY "
            "decodes nothing; filter after decode if that is intended"
        )
    names = [f.name for f in out_schema]
    if ccol not in names:
        raise KeyError(
            f"contains column {ccol!r} is not in the decoded output "
            f"(schema has {names}) — include it in columns="
        )
    t = out_schema.field(ccol).type
    if not (pa.types.is_list(t) or pa.types.is_large_list(t)):
        raise TypeError(
            f"contains= takes a LIST column (rows whose array holds any "
            f"of the values); {ccol!r} is {t} — use value_in= for "
            "scalar IN-list predicates"
        )
    et = t.value_type
    if pa.types.is_integer(et) or pa.types.is_floating(et):
        ok = all(isinstance(v, (int, float)) and not isinstance(v, bool)
                 for v in vals)
        if not ok:
            raise TypeError(
                f"contains on numeric-element column {ccol!r} takes "
                "int/float values"
            )
        probe = np.asarray([float(v) for v in vals], dtype=np.float64)
        if np.isnan(probe).any():
            raise TypeError(
                f"contains on {ccol!r}: NaN probes never match "
                "(NaN != NaN) — drop them from the value list"
            )
        is_str = False
    elif pa.types.is_string(et) or pa.types.is_large_string(et):
        if not all(isinstance(v, str) for v in vals):
            raise TypeError(
                f"contains on string-element column {ccol!r} takes str "
                "values"
            )
        probe = np.asarray([str(v) for v in vals], dtype=object)
        is_str = True
    else:
        raise TypeError(
            f"contains= supports int/float/string list elements; "
            f"{ccol!r} has element type {et} — filter after decode"
        )
    elem_spark = from_arrow_schema(
        pa.schema([pa.field("x", et)]))[0].dataType
    lit_arr = F.array(*[F.lit(v).cast(elem_spark) for v in vals])
    exact = F.arrays_overlap(F.col(ccol), lit_arr)
    return f"{ccol}#values", probe, is_str, exact


def _contains_hit_keys(manifest_df, sub_name: str, probe: np.ndarray,
                       is_str: bool, extra_cols=()):
    """Chunk keys whose list column MAY contain any probe value — one
    blob-free metadata pass over the ``#values`` manifest rows,
    AND-combining two per-chunk tests: zone-map overlap (any probe in
    [val_min, val_max]; NULL maps keep conservatively) and, when the
    manifest carries value blooms, Bloom membership (missing bloom
    keeps). Bloom false positives only ever KEEP extra chunks; the
    exact ``arrays_overlap`` post-filter always applies. Same
    broadcast-semi-join carrier as value_range/value_in pruning — the
    blob side never moves."""
    from pyspark.sql import functions as F

    have_bloom = "val_bloom" in manifest_df.columns
    zone_cols = ["val_min_str", "val_max_str"] if is_str \
        else ["val_min", "val_max"]
    sel = ["chunk_key"] + zone_cols \
        + (["val_bloom"] if have_bloom else []) + list(extra_cols)
    meta = manifest_df.filter(F.col("column") == F.lit(sub_name)).select(*sel)
    ph1, ph2 = _bloom_hashes(probe)
    out_ddl = "chunk_key string" + "".join(
        f", {c} string" for c in extra_cols)
    pv = probe

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if not b.num_rows:
                continue
            if is_str:
                mns = b.column("val_min_str").to_pylist()
                mxs = b.column("val_max_str").to_pylist()

                def row_keep(mn, mx):
                    # ∃ probe within [mn, mx]; a NULL bound is ±inf
                    # (val_min_str is a prefix LOWER bound of the true
                    # min — testing p >= mn stays conservative)
                    sel = pv
                    if mn is not None:
                        sel = sel[sel >= mn]
                    if mx is not None:
                        sel = sel[sel <= mx]
                    return sel.size > 0

                keep = np.fromiter(
                    (row_keep(mn, mx) for mn, mx in zip(mns, mxs)),
                    count=b.num_rows, dtype=bool)
            else:
                mn = b.column("val_min").to_numpy(zero_copy_only=False)
                mx = b.column("val_max").to_numpy(zero_copy_only=False)
                inside = (pv[None, :] >= mn[:, None]) \
                    & (pv[None, :] <= mx[:, None])
                keep = inside.any(axis=1) | np.isnan(mn) | np.isnan(mx)
            if have_bloom:
                blobs = b.column("val_bloom").to_pylist()
                for i in np.flatnonzero(keep):
                    blob = blobs[i]
                    if blob is not None and not _bloom_contains_any(
                            blob, ph1, ph2):
                        keep[i] = False
            out = b.select(["chunk_key", *extra_cols]).filter(
                pa.array(keep, pa.bool_()))
            if out.num_rows:
                yield out

    return meta.mapInArrow(fn, out_ddl)


def _keys_kind(keys) -> str:
    """'num' | 'str' | 'empty' — and a loud TypeError on a mixed set: a
    single stray string would flip numeric keys into LEXICOGRAPHIC
    containment against str-rendered bounds ('7' <= '12' is False), so
    chunks holding real matches would silently prune away. One rule,
    shared by the Spark-side probe and the pushed pyarrow predicate."""
    ks = list(keys)
    if not ks:
        return "empty"
    import decimal as _dec

    if any(isinstance(k, _dec.Decimal) for k in ks):
        raise TypeError(
            "keys= does not take decimal.Decimal values — the key zone "
            "maps store the UNSCALED integer form; use value_range="
            "(key_col, k, k), which scales the bounds exactly"
        )
    is_num = [isinstance(k, (int, float)) and not isinstance(k, bool) for k in ks]
    if all(is_num):
        return "num"
    if not any(is_num) and all(isinstance(k, str) for k in ks):
        return "str"
    raise TypeError(
        "keys= must be all-numeric or all-string (matching the key "
        f"column's type); got mixed types: {sorted({type(k).__name__ for k in ks})}"
    )


def _canon_temporal_keys(keys):
    """Canonicalize a TEMPORAL key set for the metadata prune layers:
    naive datetimes -> epoch micros ints, dates -> epoch days ints —
    the integer form every key normalizes to at encode
    (_normalize_temporal), which is what the key zone maps, blooms,
    and checksums all saw. Non-temporal sets pass through unchanged;
    tz-aware datetimes are refused (the format stores wall values —
    NTZ semantics — so an instant-typed probe is a category error).
    The EXACT post-filter must use the original datetime/date objects
    (the decoded column is TIMESTAMP_NTZ/DATE), never these ints."""
    from datetime import date, datetime, timedelta

    ks = list(keys)
    if not ks or not all(isinstance(k, (date, datetime)) for k in ks):
        return keys
    is_dt = [isinstance(k, datetime) for k in ks]
    if any(is_dt) and not all(is_dt):
        raise TypeError("keys= must not mix datetime and date values")
    if all(is_dt):
        if any(k.tzinfo is not None for k in ks):
            raise TypeError(
                "keys= takes NAIVE datetimes (the format stores wall "
                "values, TIMESTAMP_NTZ semantics); strip tzinfo"
            )
        epoch = datetime(1970, 1, 1)
        return [(k - epoch) // timedelta(microseconds=1) for k in ks]
    d0 = date(1970, 1, 1)
    return [(k - d0).days for k in ks]


def _prune_by_key_set(manifest_df, keys):
    """Keep manifest rows whose chunk's KEY zone map may contain ANY of
    ``keys`` — the multi-point generalization of ``key_range`` pruning
    (fetch a working set of doc_ids in one decode instead of one decode
    per key). Numeric keys test the cast-free ``*_num`` maps, strings
    the string bounds; NULL maps keep conservatively. The probe is a
    broadcast non-equi left_semi join: a BroadcastNestedLoopJoin over
    blob-free METADATA (|keys| x chunk-rows comparisons) — the blob
    side itself never moves."""
    from pyspark.sql import functions as F

    ks = list(dict.fromkeys(keys))
    kind = _keys_kind(ks)
    if kind == "empty":
        return manifest_df.filter(F.lit(False))
    spark = manifest_df.sparkSession
    if kind == "num":
        kdf = spark.createDataFrame([(float(k),) for k in ks], "__k double")
        cond = (
            (F.col("__k") >= F.col("min_key_num"))
            & (F.col("__k") <= F.col("max_key_num"))
        ) | F.col("min_key_num").isNull()
    else:
        kdf = spark.createDataFrame([(str(k),) for k in ks], "__k string")
        cond = (
            (F.col("__k") >= F.col("min_key")) & (F.col("__k") <= F.col("max_key"))
        ) | F.col("min_key").isNull()
    return manifest_df.join(F.broadcast(kdf), cond, "left_semi")


def _bloom_keep_chunks(manifest_df, keys, key_col, extra_cols=(),
                       cap=None):
    """Rows (chunk_key, *extra_cols) a ``keys=`` decode must KEEP per
    the per-chunk key Bloom filters — bloom hit, or no bloom recorded
    (legacy manifests / null-bearing keys: conservative keep) — or
    None when pruning must be skipped (keep set past the driver-safety
    ``cap``, default BLOOM_PRUNE_MAX_KEYS read at call time). Metadata-
    only: the distributed membership test reads (chunk_key, key_bloom)
    of the KEY sub-column's rows; blobs never move, and the driver
    ships only the probes' precomputed hash pairs."""
    from pyspark.sql import functions as F

    if cap is None:
        cap = BLOOM_PRUNE_MAX_KEYS
    ks = list(dict.fromkeys(keys))
    if _keys_kind(ks) == "empty":
        return []
    if _keys_kind(ks) == "num":
        probe = np.array([float(k) for k in ks], dtype=np.float64)
        if np.isnan(probe).any():
            return None  # NaN never equals anything; zone maps handle it
    else:
        probe = np.asarray([str(k) for k in ks], dtype=object)
    ph1, ph2 = _bloom_hashes(probe)
    meta = manifest_df.filter(F.col("column") == F.lit(key_col)).select(
        "chunk_key", "key_bloom", *extra_cols
    )
    out_schema = "chunk_key string, keep boolean" + "".join(
        f", {c} string" for c in extra_cols
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            keep = [
                blob is None or _bloom_contains_any(blob, ph1, ph2)
                for blob in b.column("key_bloom").to_pylist()
            ]
            yield pa.RecordBatch.from_arrays(
                [b.column("chunk_key"), pa.array(keep, pa.bool_())]
                + [b.column(c) for c in extra_cols],
                ["chunk_key", "keep", *extra_cols],
            )

    verdicts = meta.mapInArrow(fn, out_schema)
    rows = verdicts.filter(F.col("keep")).limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    return rows


def _bloom_semi_join(manifest_df, keep_rows):
    """Keep only the chunks named by ``_bloom_keep_chunks``' result (all
    of a kept chunk's column rows survive the chunk_key semi-join)."""
    from pyspark.sql import functions as F

    spark = manifest_df.sparkSession
    keep_df = spark.createDataFrame(
        [(r["chunk_key"],) for r in keep_rows], "chunk_key string"
    )
    return manifest_df.join(F.broadcast(keep_df), "chunk_key", "left_semi")


# literal IN-lists stay readable in plans and codegen up to this size;
# bigger key sets post-filter through a broadcast semi-join instead
_KEY_SET_ISIN_MAX = 1000


def _filter_by_key_set(out, key_col, keys):
    """Exact post-filter for ``keys=`` decodes: a literal isin for small
    sets, a broadcast left_semi join past ``_KEY_SET_ISIN_MAX`` (a
    100k-literal In() bloats the plan and the codegen). The join probe
    ships as strings and CASTS to the key column's type — Python ints
    against a DoubleType (or floats against LongType) would otherwise
    trip createDataFrame's type verifier where the isin path coerces
    happily."""
    from datetime import date, datetime

    from pyspark.sql import functions as F

    ks = list(dict.fromkeys(keys))
    if ks and isinstance(ks[0], (date, datetime)):
        # temporal keys NEVER go through isin/lit: lit(naive datetime)
        # routes through the session timezone (the NTZ literal hazard,
        # ADVICE r3) — createDataFrame with the decoded column's own
        # NTZ/DATE type converts wall values timezone-free (verified
        # under session tz != driver tz in tests)
        from pyspark.sql.types import StructField, StructType

        field = out.schema[key_col]
        kdf = out.sparkSession.createDataFrame(
            [(k,) for k in ks],
            StructType([StructField(key_col, field.dataType)]),
        )
        return out.join(F.broadcast(kdf), key_col, "left_semi")
    if len(ks) <= _KEY_SET_ISIN_MAX:
        return out.filter(F.col(key_col).isin(ks))
    field = out.schema[key_col]
    kdf = out.sparkSession.createDataFrame(
        [(repr(k) if isinstance(k, float) else str(k),) for k in ks],
        f"{key_col} string",
    ).select(F.col(key_col).cast(field.dataType).alias(key_col))
    return out.join(F.broadcast(kdf), key_col, "left_semi")


# ---------------------------------------------------------------------------
# composite keys: canonical tuple encoding over a derived key sub-column
# ---------------------------------------------------------------------------

_CK_PREFIX = "#ck:"
_CK_SEP = "\x1f"
_CK_ESC = "\x1b"
_CK_INT_TYPES = ("bigint", "int", "smallint", "tinyint")


def composite_key_name(parts) -> str:
    """Stored name of the derived key sub-column for
    ``key_col=["a", "b"]``: ``#ck:a,b``. The ``#`` prefix keeps it out
    of the user column namespace (the shredded ``#lengths``/``#f:``
    convention), so a decode narrows it away for free unless asked."""
    return _CK_PREFIX + ",".join(parts)


def canon_composite_key(parts_tuple) -> str:
    """Driver-side canonical encoding of ONE composite key tuple — must
    mirror ``_composite_key_expr`` byte-for-byte (zone maps, Blooms,
    checksums and the exact post-filter all compare these strings).
    Parts join on the 0x1f unit separator; string parts escape
    ESC->ESC+'e' and SEP->ESC+'s' (injective — an escaped part never
    contains a bare separator, so tuple equality <=> string equality);
    integer parts render in decimal exactly like Spark's
    bigint->string cast."""
    out = []
    for v in parts_tuple:
        if isinstance(v, str):
            out.append(v.replace(_CK_ESC, _CK_ESC + "e")
                        .replace(_CK_SEP, _CK_ESC + "s"))
        elif isinstance(v, (int, np.integer)) and not isinstance(v, bool):
            out.append(str(int(v)))
        else:
            raise TypeError(
                f"composite key part {v!r} ({type(v).__name__}) — "
                "string or integer parts only (temporal/float/decimal "
                "parts: cast to int64/string yourself)"
            )
    return _CK_SEP.join(out)


def _composite_key_expr(df, parts):
    """Spark expression computing ``canon_composite_key`` over the part
    columns — JVM-side, whole-stage-codegen'd, zero Python in the
    path. Used at encode (derive the stored key sub-column) and at
    decode (exact post-filter over the decoded parts)."""
    from pyspark.sql import functions as F

    cols = []
    for p in parts:
        if p not in df.columns:
            raise KeyError(
                f"composite key part {p!r} is not a column "
                f"(have {sorted(df.columns)})")
        if "." in p or "`" in p:
            raise ValueError(
                f"composite key part {p!r} contains '.' or '`' — "
                "unsupported in the derived key name")
        dt = df.schema[p].dataType.simpleString()
        if dt == "string":
            c = F.regexp_replace(F.col(p), _CK_ESC, _CK_ESC + "e")
            c = F.regexp_replace(c, _CK_SEP, _CK_ESC + "s")
        elif dt in _CK_INT_TYPES:
            c = F.col(p).cast("string")
        else:
            raise dtypes.UnsupportedDataType(
                f"composite key part {p!r} is {dt} — string/integer "
                "parts only (cast temporals to int64 epoch yourself)")
        cols.append(c)
    # F.concat, NOT concat_ws: a NULL part must poison the whole key so
    # the encoder's null rejection fires — concat_ws silently skips
    # nulls and two different tuples could collapse to one key
    args = []
    for i, c in enumerate(cols):
        if i:
            args.append(F.lit(_CK_SEP))
        args.append(c)
    return F.concat(*args)


def _composite_args(key_col, keys=None, key_range=None):
    """Entry-point translation for ``key_col=[part, ...]``: returns
    ``(key_col, keys, parts)`` where a composite spec becomes the
    derived ``#ck:`` name plus canonical-string keys (``parts`` is
    None on the plain single-column path). Single-element lists
    collapse to the plain path."""
    if not isinstance(key_col, (list, tuple)):
        return key_col, keys, None
    parts = list(key_col)
    if len(parts) < 1:
        raise ValueError("key_col=[] — at least one key part")
    if len(parts) == 1:
        return parts[0], keys, None
    if key_range is not None:
        raise ValueError(
            "key_range with a composite key is unsupported — the "
            "canonical encoding is not order-preserving across integer "
            "widths; range-scan the leading part via value_range"
        )
    ckeys = None
    if keys is not None:
        for k in keys:
            # a bare string iterates as characters and a wrong-arity
            # tuple canonicalizes to a never-matching probe — both
            # would silently return/delete NOTHING (review finding,
            # round 5); match the part count loudly instead
            if isinstance(k, str) or not hasattr(k, "__len__") \
                    or len(k) != len(parts):
                raise TypeError(
                    f"composite key {k!r} does not match the "
                    f"{len(parts)}-part key_col {parts} — pass one "
                    "tuple per key, e.g. [('t1', 7), ...]"
                )
        ckeys = [canon_composite_key(tuple(k)) for k in keys]
    return composite_key_name(parts), ckeys, parts


def _split_composite_cols(canon_col, parts, spark_schema) -> dict:
    """Invert ``canon_composite_key`` as Spark expressions: split the
    canonical string on the 0x1f separator (escaped parts never contain
    a bare one), then unescape ESC+'s'->SEP and ESC+'e'->ESC per part —
    left-to-right non-overlapping replacement is unambiguous because
    every ESC in escaped text starts exactly one two-byte token. Int
    parts cast back to their table types. Returns
    ``{part_name: Column}``."""
    from pyspark.sql import functions as F

    toks = F.split(canon_col, _CK_SEP)
    out = {}
    for i, p in enumerate(parts):
        e = F.regexp_replace(toks.getItem(i), _CK_ESC + "s", _CK_SEP)
        e = F.regexp_replace(e, _CK_ESC + "e", _CK_ESC)
        out[p] = e.cast(spark_schema[p].dataType)
    return out


def _filter_by_composite_keys(out, parts, canon_keys):
    """Exact post-filter for composite ``keys=`` decodes: recompute the
    canonical string over the decoded part columns (JVM expression) and
    membership-test it — isin for small sets, broadcast semi-join past
    the literal cap (same rule as ``_filter_by_key_set``)."""
    from pyspark.sql import functions as F

    expr = _composite_key_expr(out, parts)
    ks = list(dict.fromkeys(canon_keys))
    if len(ks) <= _KEY_SET_ISIN_MAX:
        return out.filter(expr.isin(ks))
    kdf = out.sparkSession.createDataFrame(
        [(k,) for k in ks], "__ck_probe string")
    return (out.withColumn("__ck_probe", expr)
            .join(F.broadcast(kdf), "__ck_probe", "left_semi")
            .drop("__ck_probe"))


# Driver-side cap on a prune pass's hit-key set: past it the pass
# keeps whole files on a checkpoint and prunes nothing on a manifest
# frame (the exact post-filter always applies) instead of collecting an
# unbounded key list.
VALUE_PRUNE_MAX_KEYS = 100_000


def _keys_by_file(rows, by_file: bool) -> dict:
    """``{file: [chunk_key, ...]}`` of collected (chunk_key[, __file])
    rows; a manifest frame has no files and maps everything to None."""
    out: dict = {}
    for r in rows:
        out.setdefault(r["__file"] if by_file else None, []).append(
            r["chunk_key"])
    return out


def _collect_hit_keys(hits, by_file: bool):
    """The keep map of one collecting prune pass, bounded by
    VALUE_PRUNE_MAX_KEYS (read at call time). Past the cap a checkpoint
    pass keeps the whole files its hits live in (``{file: None}``) and a
    manifest pass returns None (no prune)."""
    rows = hits.limit(VALUE_PRUNE_MAX_KEYS + 1).collect()
    if len(rows) <= VALUE_PRUNE_MAX_KEYS:
        return _keys_by_file(rows, by_file)
    if not by_file:
        return None
    return {r["__file"]: None
            for r in hits.select("__file").distinct().collect()}


def _plan_chunk_prune(mdf, out_schema, added, keys=None, key_col=None,
                      value_range=None, value_in=None, contains=None,
                      pin=False):
    """THE metadata chunk elimination behind ``decode_table`` and
    ``decode_checkpoint``. ``mdf`` is a manifest frame, or a checkpoint's
    metadata frame carrying ``__file``. Returns ``(mdf, keep, filters)``:
    the frame pruned by the key zone maps and key Blooms, the
    ``{file: [chunk_key] | None}`` keep map of every pass AND-folded
    (None: nothing pruned; a manifest frame's one "file" is None), and
    the exact row filters of value_range / value_in / contains.

    Each value pass runs on the key-pruned frame through
    ``_collect_hit_keys``; past BLOOM_PRUNE_MAX_KEYS the key-Bloom pass
    prunes nothing (the zone-pruned frame stands). Columns whose zone
    maps the manifest lacks (legacy manifests) and metadata-only ADDED
    columns (a chunk with no rows for the column is all-default VALUES,
    not an absence) never prune; their exact filter carries the whole
    predicate. ``pin=True``
    (an in-flight manifest, one flowing straight from ``encode_table``)
    materializes the frame once before the first collecting pass:
    otherwise the encode lineage evaluates once per pass and again for
    the decode, paying the encode each time and, under the
    nondeterministic range sampler, naming chunk keys of a DIFFERENT
    evaluation (the semi-join would silently drop chunks). The pinned
    blocks free when the returned plan is garbage-collected."""
    by_file = "__file" in mdf.columns
    extra = ("__file",) if by_file else ()

    def usable(vcol, maps_col):
        return maps_col in mdf.columns and vcol.split("#")[0] not in added

    filters, passes = [], []
    if value_range is not None:
        specs = value_range if isinstance(value_range, list) else [value_range]
        vrs = [_prepare_value_range(out_schema, s) for s in specs]
        filters += [v[6] for v in vrs]
        use = [v for v in vrs if usable(v[0], _value_maps_col(v[:3]))]
        if use:
            # AND semantics in ONE aggregate job
            passes.append(lambda f: _conjunctive_hit_keys(f, use, extra))
    if value_in is not None:
        in_vrs, in_expr = _prepare_value_in(out_schema, value_in)
        filters.append(in_expr)
        if usable(in_vrs[0][0], _value_maps_col(in_vrs[0][:3])):
            pb = (_bloom_probe_values(value_in[1])
                  if "val_bloom" in mdf.columns else None)
            if pb is not None:
                # zone AND value-Bloom membership in one pass: the prune
                # that works on hash layouts, where every chunk's zone
                # spans the value set
                passes.append(lambda f: _contains_hit_keys(
                    f, in_vrs[0][0], pb[0], pb[1], extra))
            else:
                passes.append(
                    lambda f: _disjunctive_hit_keys(f, in_vrs, extra))
    if contains is not None:
        ct_sub, ct_probe, ct_is_str, ct_expr = _prepare_contains(
            out_schema, contains)
        filters.append(ct_expr)
        if usable(contains[0], "val_min_str" if ct_is_str else "val_min"):
            passes.append(lambda f: _contains_hit_keys(
                f, ct_sub, ct_probe, ct_is_str, extra))
    keep = None
    bloom = False
    if keys is not None:
        # multi-point lookup: a broadcast non-equi semi-join of the key
        # set against the key zone maps (metadata only)
        probe_keys = _canon_temporal_keys(keys)
        mdf = _prune_by_key_set(mdf, probe_keys)
        # the Bloom pass prunes the chunks the zone maps CAN'T: in the
        # 'hash' layout every chunk spans the full key range
        bloom = key_col is not None and "key_bloom" in mdf.columns
    if pin and (passes or bloom):
        mdf = mdf.localCheckpoint(eager=True)
    if bloom:
        rows = _bloom_keep_chunks(mdf, probe_keys, key_col, extra_cols=extra)
        if rows is not None:
            mdf = _bloom_semi_join(mdf, rows)
            keep = _keys_by_file(rows, by_file)
    for hits in passes:
        if keep == {}:
            break
        keep = _intersect_file_keys(keep,
                                    _collect_hit_keys(hits(mdf), by_file))
    return mdf, keep, filters


def _exact_filter(out, key_range, key_col, keys, ck_parts, filters):
    """The exact row post-filter both decode paths end in: metadata
    pruning only ever keeps extra chunks, this removes their rows."""
    from pyspark.sql import functions as F

    if key_range is not None and key_col is not None:
        lo, hi = key_range
        out = out.filter((F.col(key_col) >= F.lit(lo)) & (F.col(key_col) <= F.lit(hi)))
    if keys is not None and key_col is not None:
        out = (_filter_by_composite_keys(out, ck_parts, keys)
               if ck_parts else _filter_by_key_set(out, key_col, keys))
    for f in filters:
        out = out.filter(f)
    return out


def decode_table(manifest_df, out_schema, key_range=None, key_col=None,
                 assume_unique=False, arranged=False, columns=None,
                 legacy_nan_zonemaps=False, value_range=None, keys=None,
                 value_in=None, contains=None, verify_checksums=False,
                 _emit_rowmeta=False):
    """Decode a manifest back to the original rows (order not preserved
    globally; chunk-local order is exact — verify by joining on the key).

    ``out_schema`` is the original table's Spark schema (StructType) or an
    Arrow schema. Duplicate manifest rows for the same (chunk, column) —
    possible after resumed runs — are dropped first.

    ``key_range=(lo, hi)`` prunes at the MANIFEST level before any blob is
    decoded: only chunks whose [min_key, max_key] lineage interval
    intersects the range are touched (zone-map pruning — on a checkpointed
    manifest this is a Catalyst filter pushed into the parquet scan, so a
    point lookup over a 10^12-row encode reads a handful of chunk blobs).
    With ``key_col`` also set, rows are exact-filtered after decode.

    ``columns=[...]`` projects at the MANIFEST level: only the named
    fields' blobs (plus their #lengths/#values/#valid sub-columns) are
    read, shuffled, and decoded — the columnar projection-pushdown
    analogue, pushed into the checkpointed manifest's parquet scan.

    ``value_range=(column, lo, hi)`` prunes chunks by ANY numeric or
    string column's per-chunk value zone maps (the key-range idea
    generalized: e.g. decode only chunks whose ``n_chars`` interval
    intersects [lo, hi]) via a BROADCAST semi-join on the qualifying
    chunk keys — no blob shuffle — then exact-filters the decoded rows.
    A LIST of (column, lo, hi) tuples is AND-combined: one aggregate
    finds the chunks whose zone maps satisfy every predicate, and every
    exact filter applies after decode. The named columns must be in the
    decoded output. Pays off when the data is clustered on those
    columns (sorted ingest, correlated keys); on uncorrelated columns
    every chunk intersects and it degrades to a plain filter, never
    worse.

    ``value_in=(column, [v1, v2, ...])`` is the IN-LIST predicate:
    chunks whose zone maps admit ANY of the values are decoded (OR
    across values, ONE metadata pass), then rows are exact-filtered to
    the value set. Same type rules and literal handling as
    ``value_range`` (strings, numerics, NTZ timestamps, dates,
    decimals); AND-combines with any ``value_range`` / ``keys``
    pruning. The canonical use: ``value_in=("lang", ["en", "fr"])``
    over a lang-clustered corpus decodes only those languages' chunks.

    ``contains=(column, [v1, v2, ...])`` is the ARRAY-membership
    predicate: decode rows whose LIST column holds ANY of the values —
    the canary-token / contamination-lookup shape over ``tokens``
    arrays. Chunks prune by the flattened elements' value zone maps
    AND, when the encode recorded them (``value_blooms=True``), by
    per-chunk value Bloom filters — the prune that works where element
    zone maps keep everything (a 64k-token chunk spans most of the
    vocab); rows are then exact-filtered with ``arrays_overlap``
    (JVM-side). Int/float/string element types; AND-combines with every
    other pruning argument.

    ``keys=[k1, k2, ...]`` is the multi-point lookup: chunks whose
    [min_key, max_key] interval contains ANY of the keys are decoded
    (broadcast non-equi semi-join against the zone maps — metadata
    only), and with ``key_col`` set the rows are exact-filtered to the
    key set (literal isin up to 1000 keys, broadcast semi-join past
    that). One decode fetches a whole working set of doc_ids instead of
    one decode per key. TIME-KEYED manifests take naive datetime (or
    date) keys directly: they canonicalize to the epoch ints the zone
    maps/blooms saw at encode, and the exact filter joins timezone-free
    against the decoded NTZ/DATE column (never through lit()). With ``key_col`` set, manifests carrying
    per-chunk key Bloom filters (every encode since they landed) are
    ALSO bloom-pruned — the prune that works on the 'hash' layout,
    where every chunk spans the full key range and zone maps keep
    everything; bloom-less legacy manifests keep chunks conservatively.

    ``verify_checksums=True`` re-hashes every decoded sub-column and
    compares against the encoder's recorded blake2b, raising on
    mismatch — the end-to-end integrity check for persisted manifests
    (storage bit rot, mixed-up blobs, codec regressions), one hash pass
    per chunk on top of the decode.

    ``assume_unique=True`` skips the duplicate-collapse aggregate and
    ``arranged=True`` skips the chunk-grouping shuffle — both are safe
    when the manifest flows STRAIGHT from ``encode_table`` (each chunk's
    rows are emitted adjacently in one partition and can't duplicate);
    together they remove the only shuffle on the decode path, which
    otherwise moves every blob. Checkpointed/merged manifests should keep
    the defaults.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

    key_col, keys, ck_parts = _composite_args(key_col, keys, key_range)
    if not isinstance(out_schema, pa.Schema):
        out_schema = to_arrow_schema(out_schema)
    manifest_df = manifest_df.filter(F.col("column") != DONE_COLUMN)
    if columns is not None:
        # COLUMN PRUNING at the manifest level: only the requested
        # fields' blobs are ever read/shuffled/decoded — on a
        # checkpointed manifest the In() filter pushes into the parquet
        # scan, so a 2-column projection of a 100-column table reads
        # 2 columns' bytes, not 100
        out_schema, phys = _project_out_schema(out_schema, columns)
        # deletion-vector sidecars must ride every projection — dropping
        # them would resurrect deleted rows in the projected decode
        manifest_df = manifest_df.filter(
            F.col("column").isin(phys)
            | F.col("column").startswith(DELETES_PREFIX)
        )
    if key_range is not None:
        # prune BEFORE the dedup aggregate: Catalyst cannot push a
        # non-grouping-column filter through dropDuplicates, and pruning
        # first keeps the manifest shuffle proportional to chunks HIT.
        # On a checkpointed manifest the keep expression pushes into the
        # parquet scan (row-group stats pruning — check PushedFilters);
        # see _zone_keep_expr for the NULL/NaN conservative-keep rules.
        manifest_df = manifest_df.filter(
            _zone_keep_expr(key_range, legacy_nan_zonemaps)
        )
    added = _decode_defaults(out_schema)
    # the deterministic-rescan verdict is read ONCE, on the scan+filter
    # plan, BEFORE any pruning join is attached: the join nodes would
    # mask a persisted manifest's cheap plan and force a
    # blob-materializing pin for nothing
    in_flight = (not (value_range is None and keys is None
                      and value_in is None and contains is None)
                 and not _cheap_rescan(manifest_df))
    manifest_df, keep, filters = _plan_chunk_prune(
        manifest_df, out_schema, added, keys=keys, key_col=key_col,
        value_range=value_range, value_in=value_in, contains=contains,
        pin=in_flight)
    manifest_df = _apply_restrict_chunks(manifest_df, keep)
    if "key_bloom" in manifest_df.columns:
        # pruning is done with it — don't ship ~1.25 B/key of bloom
        # bytes through the dedup/grouping shuffles below
        manifest_df = manifest_df.drop("key_bloom")
    if "val_bloom" in manifest_df.columns:
        manifest_df = manifest_df.drop("val_bloom")  # same rule
    if not assume_unique:
        manifest_df = manifest_df.dropDuplicates(["chunk_key", "column"])
    if arranged and assume_unique:
        # dedup would shuffle and destroy contiguity, so the fast path
        # requires both flags
        grouped = manifest_df
    else:
        n = max(1, manifest_df.select("part_id").rdd.getNumPartitions())
        grouped = manifest_df.repartition(n, "chunk_key").sortWithinPartitions("chunk_key", "column")
    dec_schema = _rowmeta_schema(out_schema) if _emit_rowmeta else out_schema
    out = grouped.mapInArrow(
        make_decode_fn(out_schema, verify_checksums=verify_checksums,
                       defaults=added or None, emit_rowmeta=_emit_rowmeta),
        schema=from_arrow_schema(dec_schema, prefer_timestamp_ntz=True),
    )
    return _exact_filter(out, key_range, key_col, keys, ck_parts, filters)


# ---------------------------------------------------------------------------
# deletion vectors: surgical key deletion without rewriting data blobs
# ---------------------------------------------------------------------------


def _deletes_generation(probe_keys) -> str:
    """Content-derived generation suffix: re-running the SAME delete
    produces byte-identical sidecar rows (idempotent replay — duplicate
    rows collapse in decode's dropDuplicates / compaction)."""
    h = hashlib.blake2b(digest_size=6)
    for k in sorted(repr(k) for k in probe_keys):
        h.update(k.encode())
        h.update(b"\x00")
    return h.hexdigest()


def _upsert_generation(keys_canon, state_sig: str) -> str:
    """Generation id for an UPSERT's appended chunks: content-derived
    from the batch key set PLUS the destination's pre-append state.
    The delete-side sidecar gen must stay purely content-derived (mask
    replay collapses to identical rows), but the append-side chunk-key
    salt must NOT: replaying the same batch onto a checkpoint that
    already carries the first application's generation would otherwise
    append chunks under the SAME chunk_keys, and the replay's own mask
    pass then covers every row of both copies — the upserted rows
    vanish (measured: re-applying a change feed lost them). Folding the
    pre-append file listing in mints a fresh generation exactly when
    the destination has evolved."""
    h = hashlib.blake2b(digest_size=6)
    for k in sorted(repr(k) for k in keys_canon):
        h.update(k.encode())
        h.update(b"\x00")
    h.update(b"\x01")
    h.update(state_sig.encode())
    return h.hexdigest()


def _make_mark_fn(probe_keys, gen: str, key_col: str):
    """mapInArrow over the KEY sub-column's (pruned) manifest rows:
    decode each candidate chunk's keys, locate probe matches, and emit
    one sidecar manifest row per hit chunk. The sidecar copies the
    chunk's key zone maps and bloom so every metadata prune keeps or
    drops it together with the chunk it masks; positions are
    delta-uvarint coded (~1-2 bytes per deleted row)."""
    probe_list = list(probe_keys)
    column_name = DELETES_PREFIX + gen

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        value_set = None
        for b in batches:
            names = set(b.schema.names)

            def pick(field, i, _b=b):
                return _b.column(field)[i].as_py() if field in names else None

            rows = []
            for i in range(b.num_rows):
                cv = _decode_blob(b.column("blob")[i].as_py())
                arr = cv.to_arrow()
                if value_set is None or value_set.type != arr.type:
                    # cast ONCE into the key column's own storage type:
                    # position matching must be exact in-domain (int
                    # probes against int64 keys — never via float
                    # promotion); a lossy cast raises loudly
                    value_set = pa.array(probe_list).cast(arr.type)
                mask = pc.is_in(arr, value_set=value_set)
                pos = np.flatnonzero(mask.to_numpy(zero_copy_only=False))
                if len(pos) == 0:
                    continue
                blob = _encode_positions(pos)
                rows.append({
                    "part_id": pick("part_id", i),
                    "chunk_id": pick("chunk_id", i),
                    "chunk_key": pick("chunk_key", i),
                    "column": column_name,
                    "dtype_tag": pick("dtype_tag", i),
                    "codec": DELETES_CODEC,
                    "n_values": len(pos),
                    "bytes_in": 0,
                    "bytes_out": len(blob),
                    "checksum": _deletes_blob_checksum(blob),
                    "min_key": pick("min_key", i),
                    "max_key": pick("max_key", i),
                    "min_key_num": pick("min_key_num", i),
                    "max_key_num": pick("max_key_num", i),
                    "val_min": None,
                    "val_max": None,
                    "val_min_str": None,
                    "val_max_str": None,
                    "key_bloom": pick("key_bloom", i),
                    "snapshot_id": pick("snapshot_id", i),
                    "blob": blob,
                })
            if rows:
                yield pa.RecordBatch.from_pylist(rows, schema=_MANIFEST_PA)

    return fn


def delete_keys(manifest_df, keys, key_col: str):
    """Delete rows by key WITHOUT rewriting a single data blob: returns
    the manifest with deletion-vector sidecar rows appended (the
    Delta/Iceberg-v2 deletion-vector mechanism for this format — at
    100 TB a GDPR-style erasure touches the key sub-column of the
    bloom/zone-surviving chunks only, and writes bytes proportional to
    the DELETED rows, not the corpus).

    Mark phase: candidate chunks shrink through the same metadata
    prunes a point lookup uses (key zone maps, per-chunk blooms), then
    one distributed pass decodes ONLY the key sub-column of survivors
    and records matching row positions. Decode applies the masks after
    chunk rebuild; repeated/overlapping deletes union idempotently; a
    re-encoding compaction (``compact_checkpoint(rechunk_rows=...)``)
    materializes them and reclaims the bytes.

    The returned manifest is no longer chunk-contiguous (sidecars sit
    in their own partitions), so decode it on the DEFAULT path — not
    ``arranged=True`` (which raises loudly on orphaned sidecars).
    Temporal keys take naive datetimes/dates, exactly like ``keys=``.
    """
    from pyspark.sql import functions as F

    key_col, keys, _ck = _composite_args(key_col, keys)
    probe = list(dict.fromkeys(_canon_temporal_keys(keys)))
    if _keys_kind(probe) == "empty":
        return manifest_df
    if not _cheap_rescan(manifest_df):
        # in-flight manifest: the mark pass and the eventual decode must
        # see the SAME chunk keys — under the nondeterministic range
        # sampler a re-evaluation would orphan every sidecar (deleted
        # rows would silently resurrect), so pin once and union on the
        # pinned plan
        manifest_df = manifest_df.localCheckpoint(eager=True)
    gen = _deletes_generation(probe)
    sidecars = _mark_sidecars(manifest_df, probe, gen, key_col)
    return manifest_df.unionByName(sidecars, allowMissingColumns=True)


def _mark_sidecars(manifest_df, probe, gen: str, key_col: str):
    """The shared MARK pass of every key deletion: prune the key
    sub-column's chunks through the zone-map and bloom metadata
    filters, decode survivors' keys in one distributed pass, and emit
    the deletion-vector sidecar rows. One implementation for the
    in-memory (``delete_keys``) and checkpoint paths — a fix applied to
    one previously had to be remembered in the other (review finding,
    round 4)."""
    from pyspark.sql import functions as F

    mdf = manifest_df.filter(F.col("column") == F.lit(key_col))
    mdf = _prune_by_key_set(mdf, probe)
    if "key_bloom" in mdf.columns:
        keep = _bloom_keep_chunks(mdf, probe, key_col)
        if keep is not None:
            mdf = _bloom_semi_join(mdf, keep)
    cols = [n for n, _ in MANIFEST_FIELDS if n in mdf.columns]
    return mdf.select(*cols).mapInArrow(
        _make_mark_fn(probe, gen, key_col), schema=MANIFEST_DDL
    )


def delete_keys_checkpoint(spark, ckpt_dir: str, keys, key_col: str,
                           _log: bool = True) -> str:
    """``delete_keys`` for a persisted checkpoint: appends the sidecar
    rows as new parquet files in the checkpoint dir (the append changes
    the file signature, so the ``_clustered`` marker self-invalidates
    and readers re-verify). ``decode_checkpoint`` keeps its shuffle-free
    fast path by delivering the (tiny) sidecars out-of-band; a plain
    ``compact_checkpoint`` re-clusters them next to their chunks, and a
    re-encoding compaction materializes the deletes. On a logged
    checkpoint (write_checkpoint) the appended files are recorded as a
    ``delete`` commit, so earlier snapshots stay time-travel readable.
    Returns the generation id written."""
    if _log:  # the upsert-internal call runs under upsert's own marker
        _raise_if_pending(ckpt_dir, for_write=True)
    key_col, keys, _ck = _composite_args(key_col, keys)
    if _ck and _checkpoint_rename_map(ckpt_dir):
        # the stored '#ck:' name carries encode-time part names — the
        # rename map cannot translate it, and filtering on the derived
        # name would match ZERO manifest rows: the deletion would
        # silently no-op while returning a generation id (review
        # finding, round 5 — a GDPR erasure must never no-op quietly)
        raise ValueError(
            "composite-key delete on a RENAMED checkpoint is "
            "unsupported — compact_checkpoint to materialize the "
            "renames first"
        )
    # renamed checkpoint: the key sub-column lives under its PHYSICAL
    # manifest name (upsert translates before its internal call)
    if _log:
        key_col = _checkpoint_rename_map(ckpt_dir).get(key_col, key_col)
    probe = list(dict.fromkeys(_canon_temporal_keys(keys)))
    if _keys_kind(probe) == "empty":
        return ""
    gen = _deletes_generation(probe)
    sidecars = _mark_sidecars(spark.read.parquet(ckpt_dir), probe, gen,
                              key_col)
    if _log:
        before = _list_data_files(ckpt_dir)
        logged = _begin_logged_mutation(ckpt_dir, "delete", gen, before)
        # staged append: the commit must record EXACTLY this mutation's
        # files — a listing diff would claim a concurrent plain
        # appender's files into the delete commit (review finding)
        added = _staged_append(sidecars, ckpt_dir)
        if logged:
            _end_logged_mutation(ckpt_dir, "delete", gen, before,
                                 added=added)
    else:
        _staged_append(sidecars, ckpt_dir)
    return gen


# Driver-side cap on out-of-band deletion-vector delivery for the
# shuffle-free checkpoint decode: past this many sidecar rows the decode
# falls back to the shuffling path, which streams them distributed.
DELETES_COLLECT_MAX = 200_000

# Upsert ships the replacement batch's key set to the mark pass through
# the same driver-side probe delete_keys uses (precomputed bloom hash
# pairs ride the task closure) — bounded here. PAST the bound the
# upsert paths switch to the distributed mark pass automatically
# (``_mark_sidecars_df``: key-sub-column explode + semi-join — cost ∝
# key column of the corpus instead of bloom-pruned chunks, but no
# driver ceiling; the 100-TB backfill MERGE shape).
UPSERT_KEYS_MAX = 1_000_000


def _salt_chunk_keys(manifest_df, gen: str):
    """Prefix a new generation's chunk keys. ``chunk_key`` is a content
    hash of the chunk (make_encode_fn/_chunk_content_key), so a
    replacement batch byte-identical to an existing (now masked) chunk
    would COLLIDE with it — the group decode would interleave both
    generations' blobs under one key and corrupt the chunk. The prefix
    keeps the id opaque-unique; decode never recomputes it."""
    from pyspark.sql import functions as F

    return manifest_df.withColumn(
        "chunk_key",
        F.when(
            F.col("column").startswith("__"),  # done markers keep their ids
            F.col("chunk_key"),
        ).otherwise(F.concat(F.lit(f"u{gen}:"), F.col("chunk_key"))),
    )


def _collect_upsert_keys(new_df, key_col, allow_overflow: bool = False):
    """Collect the batch's distinct keys for the driver-probe mark pass
    (tuples for a composite ``key_col=[a, b]``). Past
    ``UPSERT_KEYS_MAX``: returns ``None`` when the caller has a
    distributed fallback (``allow_overflow``), else raises — a caller
    that NEEDS the driver list (conditional merge's matched decode)
    must refuse loudly rather than OOM the driver."""
    cols = list(key_col) if isinstance(key_col, (list, tuple)) else [key_col]
    rows = (
        new_df.select(*cols).distinct().limit(UPSERT_KEYS_MAX + 1).collect()
    )
    if len(rows) > UPSERT_KEYS_MAX:
        if allow_overflow:
            return None
        raise ValueError(
            f"batch has more than {UPSERT_KEYS_MAX} distinct keys — the "
            "conditional-merge matched decode is driver-probed; use "
            "merge_into_df (distributed classic upsert) or split the "
            "merge into waves"
        )
    if len(cols) == 1:
        return [r[0] for r in rows]
    return [tuple(r) for r in rows]


def _upsert_probe(df, key_col):
    """``(probe_df("__bf_key"), key_ddl)`` for the distributed mark
    pass: composite key_cols probe as their canonical strings
    (``_composite_key_expr`` — the same bytes the ``#ck:`` sub-column
    stores), plain columns go through ``_keys_df_probe``."""
    if isinstance(key_col, (list, tuple)) and len(key_col) > 1:
        from pyspark.sql import functions as F

        probe = df.select(
            _composite_key_expr(df, list(key_col)).alias("__bf_key")
        ).distinct()
        if not _cheap_rescan(df):
            probe = probe.localCheckpoint(eager=True)
        return probe, "string"
    name = key_col[0] if isinstance(key_col, (list, tuple)) else key_col
    return _keys_df_probe(df, name, "upsert")


def _distributed_mark_probe(new_df, key_arg):
    """``(probe, key_ddl, n, dgen)`` for one distributed mark pass:
    the batch's distinct-key probe frame, its key count, and the
    CONTENT-derived delete generation (order-free 48-bit xor signature
    — mask replay collapses to identical rows). ONE derivation shared
    by upsert_table / upsert_checkpoint / merge_into_df so it can
    never drift between them (the same one-implementation rule
    ``_mark_sidecars`` adopted in round 4); each caller folds its own
    append-side salt via ``_upsert_generation([f"xor:{dgen}"], salt)``.
    """
    probe, key_ddl = _upsert_probe(new_df, key_arg)
    h, n = _keys_df_signature(probe)
    return probe, key_ddl, n, f"{h:012x}"


def upsert_table(manifest_df, new_df, key_col: str, **encode_kwargs):
    """MERGE (upsert) into an encoded corpus without rewriting a single
    existing blob: rows of ``new_df`` REPLACE same-key rows (deletion
    vectors mask them) and new keys APPEND (one encode of just the
    batch). Cost ∝ the batch, not the corpus — the CDC-merge shape a
    mutable 100 TB table needs nightly.

    ``new_df`` must be key-unique (standard merge-source contract).
    The returned manifest is not chunk-contiguous; decode it on the
    default path. A later re-encoding compaction folds the masked rows
    away and restores one clean generation.

    Re-applying a batch with the SAME key set to a manifest that
    already carries the first application's generation needs
    ``gen_salt`` (any string that differs per application): the replay
    would mint that generation's chunk keys again and its own mask pass
    would kill both copies, so it is refused with a ValueError.
    ``upsert_checkpoint`` handles this automatically (the destination's
    file listing is the salt).

    Batches past ``UPSERT_KEYS_MAX`` distinct keys switch to the
    distributed mark pass (``_mark_sidecars_df``): no driver key list,
    cost ∝ the key sub-column of the corpus plus one semi-join
    shuffle — the backfill-scale MERGE path."""
    from pyspark.sql import functions as F

    gen_salt = encode_kwargs.pop("gen_salt", "")
    ck_name, _, _ckp = _composite_args(key_col)
    key_arg = list(key_col) if _ckp else ck_name  # delete/encode spelling
    keys = _collect_upsert_keys(new_df, key_arg, allow_overflow=True)
    if keys is None:
        probe, key_ddl, _n, dgen = _distributed_mark_probe(new_df,
                                                           key_arg)
        gen = _upsert_generation([f"xor:{dgen}"], gen_salt)
    else:
        probe = ([canon_composite_key(k) for k in keys] if _ckp
                 else list(dict.fromkeys(_canon_temporal_keys(keys))))
        gen = _upsert_generation(probe, gen_salt)
    if not _cheap_rescan(manifest_df):
        # in-flight manifest: the replay check, the mark pass and the
        # decode must see the SAME chunk keys (see delete_keys)
        manifest_df = manifest_df.localCheckpoint(eager=True)
    if not manifest_df.filter(
            F.col("chunk_key").startswith(f"u{gen}:")).isEmpty():
        raise ValueError(
            f"upsert generation {gen!r} is already in the manifest (this "
            "key set was applied before with the same gen_salt) — the "
            "replay's mask pass would delete both copies; pass a "
            "gen_salt= that differs per application")
    base = manifest_df
    if keys is None:
        base = base.unionByName(
            _mark_sidecars_df(manifest_df, probe, key_ddl, ck_name, dgen),
            allowMissingColumns=True)
    elif _keys_kind(probe) != "empty":
        # the delete_keys mark pass on the already-pinned manifest
        base = base.unionByName(
            _mark_sidecars(manifest_df, probe, _deletes_generation(probe),
                           ck_name), allowMissingColumns=True)
    newm = _salt_chunk_keys(
        encode_table(new_df, key_col=key_arg, **encode_kwargs), gen
    )
    return base.unionByName(newm, allowMissingColumns=True)


def upsert_checkpoint(spark, ckpt_dir: str, new_df, key_col: str,
                      **encode_kwargs) -> str:
    """``upsert_table`` for a persisted checkpoint: masks the replaced
    keys (sidecar append), then appends the new generation's manifest
    files. Each encode task's output is one chunk-clustered file, so the
    clustered gate re-verifies and the shuffle-free decode path SURVIVES
    the merge — reads stay zero-Exchange. On a logged checkpoint both
    appends (mask sidecars + new generation) land as ONE ``upsert``
    commit, so no time-travel snapshot ever sees the deleted-but-not-
    reinserted intermediate state. Returns the generation id."""
    _raise_if_pending(ckpt_dir, for_write=True)
    ck_name, _, _ckp = _composite_args(key_col)
    key_arg = list(key_col) if _ckp else ck_name  # delete/encode spelling
    # row-level constraint pre-check BEFORE the mask sidecars land
    # (the staged hook alone would strand masked rows on violation)
    _enforce_constraints_rows(ckpt_dir, new_df)
    rmap = _checkpoint_rename_map(ckpt_dir)
    if rmap and _ckp:
        raise ValueError(
            "composite-key upsert on a RENAMED checkpoint is "
            "unsupported — the stored '#ck:' name carries encode-time "
            "part names; compact_checkpoint to materialize the renames "
            "first"
        )
    if rmap:
        # renamed destination: move the batch into PHYSICAL name space
        # up front — the mask pass probes the physical key sub-column
        # and the new generation encodes under the physical names
        from pyspark.sql import functions as F

        new_df = new_df.select(
            *[F.col(c).alias(rmap.get(c, c)) for c in new_df.columns])
        ck_name = rmap.get(ck_name, ck_name)
        key_arg = ck_name
    keys = _collect_upsert_keys(new_df, key_arg, allow_overflow=True)
    before = _list_data_files(ckpt_dir)
    if keys is None:
        # batch past UPSERT_KEYS_MAX: distributed mark pass — the key
        # set never touches the driver (cost ∝ the corpus's key
        # sub-column + one semi-join shuffle)
        probe_df, key_ddl, _n, dgen = _distributed_mark_probe(new_df,
                                                              key_arg)
        gen = _upsert_generation([f"xor:{dgen}"], "|".join(before))

        def mark():
            return _mark_sidecars_df(
                spark.read.parquet(ckpt_dir), probe_df, key_ddl,
                ck_name, dgen)
    else:
        probe = ([canon_composite_key(k) for k in keys] if _ckp
                 else list(dict.fromkeys(_canon_temporal_keys(keys))))
        # salt the appended generation with the PRE-append listing: a
        # replayed upsert (idempotent change-feed apply, retried sync
        # job) then mints a fresh generation instead of colliding with
        # the one it already wrote — see _upsert_generation
        gen = _upsert_generation(probe, "|".join(before))
        if _keys_kind(probe) != "empty":
            # the mask pass; its generation stays CONTENT-derived (mask
            # replay must collapse to identical rows — see delete_keys)
            def mark():
                return _mark_sidecars(spark.read.parquet(ckpt_dir),
                                      probe, _deletes_generation(probe),
                                      ck_name)
        else:
            mark = None
    logged = _begin_logged_mutation(ckpt_dir, "upsert", gen, before)
    added: list[str] = []
    if mark is not None:
        added += _staged_append(mark(), ckpt_dir)
    newm = _salt_chunk_keys(
        encode_table(new_df, key_col=key_arg, **encode_kwargs), gen
    )
    # staged appends: the single upsert commit records EXACTLY the
    # mask + new-generation files this mutation landed, never a
    # concurrent appender's (review finding, round 4)
    added += _staged_append(newm, ckpt_dir)
    if logged:
        _end_logged_mutation(ckpt_dir, "upsert", gen, before,
                             added=sorted(added))
    return gen


def make_positions_mark_fn(gen: str):
    """Streaming group pass over (chunk meta, pos) hit rows sorted by
    (chunk_key, pos): one deletion-vector sidecar row per chunk."""
    column_name = DELETES_PREFIX + gen
    meta_fields = ("part_id", "chunk_id", "chunk_key", "min_key", "max_key",
                   "min_key_num", "max_key_num", "snapshot_id")

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cur = None
        meta = None
        pos_parts: list[np.ndarray] = []

        def flush() -> pa.RecordBatch:
            pos = np.unique(np.concatenate(pos_parts))
            blob = _encode_positions(pos)
            row = {name: None for name, _ in MANIFEST_FIELDS}
            row.update({f: meta[f] for f in meta_fields})
            row.update({
                "column": column_name, "codec": DELETES_CODEC,
                "n_values": len(pos), "bytes_in": 0, "bytes_out": len(blob),
                "checksum": _deletes_blob_checksum(blob), "blob": blob,
            })
            return pa.RecordBatch.from_pylist([row], schema=_MANIFEST_PA)

        for b in batches:
            ck = b.column("chunk_key").to_pylist()
            pos = b.column("pos").to_numpy(zero_copy_only=False).astype(np.int64)
            starts = [0] + [
                i for i in range(1, b.num_rows) if ck[i] != ck[i - 1]
            ] + [b.num_rows]
            for s, e in zip(starts[:-1], starts[1:]):
                if s == e:
                    continue
                if ck[s] != cur:
                    if cur is not None:
                        yield flush()
                    cur = ck[s]
                    meta = {f: b.column(f)[s].as_py() for f in meta_fields}
                    pos_parts = []
                pos_parts.append(pos[s:e])
        if cur is not None:
            yield flush()

    return fn


def _keys_df_probe(keys_df, key_col: str, caller: str):
    """Normalize a key-set DataFrame into the distributed mark pass's
    probe: one ``__bf_key`` column cast to the canonical join type,
    DISTINCT, pinned when the source is nondeterministic (the signature
    aggregate and the semi-join both evaluate it). Returns
    ``(probe_df, key_ddl)``."""
    from pyspark.sql import functions as F

    key_ddl = _BF_KEY_DDL.get(
        keys_df.schema[key_col].dataType.simpleString())
    if key_ddl is None:
        raise TypeError(
            f"{caller}: unsupported key type "
            f"{keys_df.schema[key_col].dataType.simpleString()!r} — numeric "
            "or string key sets only (temporal sets: the driver-list path "
            "canonicalizes)"
        )
    probe = keys_df.select(
        F.col(key_col).cast(key_ddl).alias("__bf_key")).distinct()
    if not _cheap_rescan(keys_df):
        probe = probe.localCheckpoint(eager=True)
    return probe, key_ddl


def _keys_df_signature(probe) -> tuple[int, int]:
    """Deterministic order-independent signature of a DISTINCT key-set
    DataFrame: ``(bit_xor(xxhash64(key)), count)``. Xor over a set is
    overflow-free and order-free — same set, same signature, regardless
    of partitioning; distinct first, else duplicate keys would cancel
    in pairs. One 1-row collect (pure aggregate, never the keys)."""
    from pyspark.sql import functions as F

    agg = probe.select(
        F.expr("bit_xor(xxhash64(cast(__bf_key as string)))").alias("h"),
        F.count("__bf_key").alias("n"),
    ).collect()[0]
    return (agg["h"] or 0) & 0xFFFFFFFFFFFF, agg["n"]


def _mark_sidecars_df(manifest_df, probe, key_ddl: str, key_col: str,
                      gen: str, num_partitions: int | None = None):
    """Distributed MARK pass for UNBOUNDED key sets — the DataFrame
    twin of ``_mark_sidecars``: decode ONLY the key sub-column, explode
    (chunk, position, key), semi-join against the probe (one shuffle),
    regroup hit positions per chunk into deletion-vector sidecar rows.
    Decodes every chunk's keys once (no bloom/zone prune — at this key
    volume the probe wouldn't fit a task closure)."""
    from pyspark.sql import functions as F

    kdf = manifest_df.filter(F.col("column") == F.lit(key_col))
    exploded = kdf.mapInArrow(
        _make_key_explode_fn(key_col, key_ddl),
        schema=(
            "part_id int, chunk_id int, chunk_key string, min_key string, "
            "max_key string, min_key_num double, max_key_num double, "
            f"snapshot_id string, pos int, __bf_key {key_ddl}"
        ),
    )
    hits = exploded.join(probe, "__bf_key", "left_semi")
    n = num_partitions or max(
        1, manifest_df.select("part_id").rdd.getNumPartitions())
    grouped = hits.repartition(n, "chunk_key").sortWithinPartitions(
        "chunk_key", "pos")
    return grouped.mapInArrow(
        make_positions_mark_fn(gen), schema=MANIFEST_DDL)


def delete_keys_df(manifest_df, keys_df, key_col: str,
                   num_partitions: int | None = None):
    """Distributed ``delete_keys`` for UNBOUNDED key sets: the deleted
    keys arrive as a DataFrame (one column named ``key_col``) instead
    of a driver list, so a billion-key erasure never touches the
    driver. Dataflow mirrors ``backfill_column``: decode ONLY the key
    sub-column, explode (chunk, position, key), semi-join against the
    key set (one shuffle), regroup hit positions per chunk into sidecar
    rows. For SMALL key sets prefer ``delete_keys`` — its bloom/zone
    mark pass decodes only the chunks that can match, where this path
    decodes every chunk's keys once. Numeric/string keys (temporal: use
    ``delete_keys``, which canonicalizes)."""
    probe, key_ddl = _keys_df_probe(keys_df, key_col, "delete_keys_df")
    if not _cheap_rescan(manifest_df):
        manifest_df = manifest_df.localCheckpoint(eager=True)
    h, n = _keys_df_signature(probe)
    if not n:
        return manifest_df
    gen = f"{h:012x}"
    sidecars = _mark_sidecars_df(manifest_df, probe, key_ddl, key_col,
                                 gen, num_partitions)
    return manifest_df.unionByName(sidecars, allowMissingColumns=True)


def _canon_where_spec(value_range):
    """Normalize a ``delete_where`` spec to bounds in the STORED value
    domain: ``(vcol, lo, hi, hi_inclusive)``. A 2-tuple is the string
    PREFIX spec (half-open [prefix, successor)); 3-tuple str bounds are
    a closed string range; numeric bounds pass through; naive datetime /
    date bounds canonicalize to the epoch micros / days the temporal
    codecs store (same normalization as encode, ``_normalize_temporal``).
    Decimal is refused (use keys/value_range decode + re-encode)."""
    from datetime import date, datetime, timedelta

    if len(value_range) == 2:
        vcol, prefix = value_range
        if not isinstance(prefix, str) or not prefix:
            raise TypeError(
                f"prefix delete_where on {vcol!r} takes a non-empty str"
            )
        hi = _prefix_successor(prefix)
        if hi is None:
            raise TypeError(
                f"prefix {prefix!r} has no lexicographic successor — "
                "use a plain (col, lo, hi) range"
            )
        return vcol, prefix, hi, False
    vcol, lo, hi = value_range
    if isinstance(lo, str) != isinstance(hi, str):
        raise TypeError(
            f"delete_where bounds on {vcol!r} mix string and non-string"
        )
    if isinstance(lo, str):
        return vcol, lo, hi, True

    return vcol, _canon_where_bound(vcol, lo), \
        _canon_where_bound(vcol, hi), True


def _canon_where_bound(vcol: str, b):
    """One ``delete_where`` bound/value canonicalized to the STORED
    value domain (naive datetime -> epoch micros, date -> epoch days —
    the ``_normalize_temporal`` encoding; numerics pass through)."""
    from datetime import date, datetime, timedelta

    if isinstance(b, datetime):
        if b.tzinfo is not None:
            raise TypeError(
                f"delete_where on {vcol!r} takes NAIVE datetime "
                "bounds (TIMESTAMP_NTZ semantics)"
            )
        return (b - datetime(1970, 1, 1)) // timedelta(microseconds=1)
    if isinstance(b, date):
        return (b - date(1970, 1, 1)).days
    if isinstance(b, (int, float)):
        return b
    raise TypeError(
        f"delete_where bounds take int/float/str/naive datetime/"
        f"date; got {type(b).__name__} on {vcol!r}"
    )


def _canon_where_in(vcol: str, values):
    """Canonicalize an IN-delete value set: all-string or all-numeric/
    temporal (stored domain), non-empty, mixed types refused — the same
    one-rule discipline ``_keys_kind`` applies to key sets."""
    vals = list(values)
    if not vals:
        raise TypeError(
            f"delete_where IN on {vcol!r}: empty value set — deleting "
            "nothing is probably a bug"
        )
    strs = [isinstance(v, str) for v in vals]
    if all(strs):
        return vals, True
    if any(strs):
        raise TypeError(
            f"delete_where IN on {vcol!r} mixes string and non-string "
            f"values: {sorted({type(v).__name__ for v in vals})}"
        )
    return [_canon_where_bound(vcol, v) for v in vals], False


def _where_generation(vcol: str, lo, hi, hi_inclusive: bool) -> str:
    """Content-derived generation for a predicate delete: replaying the
    SAME spec on the same data emits byte-identical sidecars (masks
    collapse in decode, like delete_keys)."""
    h = hashlib.blake2b(digest_size=6)
    for part in ("where", vcol, repr(lo), repr(hi), repr(hi_inclusive)):
        h.update(part.encode())
        h.update(b"\x00")
    return h.hexdigest()


def _where_in_generation(vcol: str, vals) -> str:
    """IN-delete generation: SORTED value reprs, so a permuted value
    list replays byte-identically (set semantics, same mask)."""
    h = hashlib.blake2b(digest_size=6)
    for part in ("where_in", vcol, *sorted(repr(v) for v in vals)):
        h.update(part.encode())
        h.update(b"\x00")
    return h.hexdigest()


_WHERE_HIT_DDL = (
    "part_id int, chunk_id int, chunk_key string, min_key string, "
    "max_key string, min_key_num double, max_key_num double, "
    "snapshot_id string, pos int"
)


def _make_where_mask_explode_fn(mask_fn):
    """mapInArrow over the predicate column's zone-qualifying manifest
    rows: decode each chunk's stored values, evaluate ``mask_fn``
    (per-chunk boolean ndarray) IN-TASK, and emit one (chunk metadata,
    position) row PER MATCH — the shuffle carries only hits, not
    values. THE one scaffolding for every predicate shape (range,
    prefix, IN-list)."""
    meta_fields = ["part_id", "chunk_id", "chunk_key", "min_key",
                   "max_key", "min_key_num", "max_key_num", "snapshot_id"]
    schema = pa.schema(
        [("part_id", pa.int32()), ("chunk_id", pa.int32()),
         ("chunk_key", pa.string()), ("min_key", pa.string()),
         ("max_key", pa.string()), ("min_key_num", pa.float64()),
         ("max_key_num", pa.float64()), ("snapshot_id", pa.string()),
         ("pos", pa.int32())]
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            names = set(b.schema.names)
            for i in range(b.num_rows):
                stored = _decode_blob(b.column("blob")[i].as_py())
                mask = mask_fn(stored)
                pos = np.nonzero(mask)[0].astype(np.int32)
                if not len(pos):
                    continue
                arrays = []
                for f in meta_fields:
                    val = b.column(f)[i].as_py() if f in names else None
                    arrays.append(pa.array(
                        [val] * len(pos), type=schema.field(f).type))
                arrays.append(pa.array(pos))
                yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return fn


def _make_where_explode_fn(lo, hi, hi_inclusive: bool):
    """Range/prefix predicate mask: numeric compares run in numpy on
    the stored width (int compares stay exact; a float bound against
    int64 values coarsens past 2^53 — the same float64 rule every zone
    map here uses); string compares run in pyarrow."""
    is_str = isinstance(lo, str)

    def mask_fn(stored):
        import pyarrow.compute as pc

        if is_str:
            vals = stored.to_arrow()
            m_lo = pc.greater_equal(vals, pa.scalar(lo))
            m_hi = (pc.less_equal if hi_inclusive else pc.less)(
                vals, pa.scalar(hi))
            return np.asarray(
                pc.and_(m_lo, m_hi).to_numpy(zero_copy_only=False),
                dtype=bool)
        v = stored.to_arrow().to_numpy(zero_copy_only=False)
        with np.errstate(invalid="ignore"):
            return (v >= lo) & ((v <= hi) if hi_inclusive else (v < hi))

    return _make_where_mask_explode_fn(mask_fn)


def _make_where_in_explode_fn(vals, is_str: bool):
    """IN-delete mask: set membership instead of a range test (pyarrow
    is_in for strings, np.isin on the stored width for numerics — an
    all-int set against int64 values stays exact; a float in the set
    coarsens the whole test to float64, the standard >2^53 rule)."""
    probe = list(vals)

    def mask_fn(stored):
        import pyarrow.compute as pc

        if is_str:
            return np.asarray(
                pc.is_in(stored.to_arrow(),
                         value_set=pa.array(probe, type=pa.string()))
                .to_numpy(zero_copy_only=False), dtype=bool)
        v = stored.to_arrow().to_numpy(zero_copy_only=False)
        return np.isin(v, np.asarray(probe))

    return _make_where_mask_explode_fn(mask_fn)


def _where_probe_columns(manifest_df, vcol: str) -> None:
    """Refuse delete_where shapes whose stored positions do not map
    1:1 onto row positions, LOUDLY: unknown columns, list columns
    (``#lengths``/``#values`` — value positions are flattened), and
    nullable columns at any level (``#valid`` — null slots are stored
    ZERO-FILLED, so a range covering the fill value would silently
    delete null rows). One blob-free metadata probe."""
    from pyspark.sql import functions as F

    if not _STATS_LEAF_CRE.match(vcol):
        # list/map internals (#values/#mk/#mv/...) are NOT row-aligned:
        # their positions index flattened ENTRIES, and committing entry
        # indices as row deletion vectors either poisons the checkpoint
        # (pos >= n_rows raises on every decode) or silently deletes
        # the WRONG rows (review finding, round 4)
        raise TypeError(
            f"delete_where: {vcol!r} is a physical list/map internal — "
            "its stored positions index flattened entries, not rows; "
            "predicate deletes take top-level scalar columns or struct "
            "leaves (name#f:field)"
        )
    root = vcol.split("#", 1)[0]
    names = {
        r[0] for r in manifest_df.filter(
            F.col("column").startswith(root))
        .select("column").distinct().collect()
    }
    if vcol not in names:
        hint = ""
        if f"{vcol}#lengths" in names:
            hint = (" — it is a LIST column (positions index the "
                    "flattened values, not rows); delete by key instead")
        raise TypeError(
            f"delete_where: no encoded sub-column {vcol!r} in the "
            f"manifest{hint} (have: {sorted(names)[:8]})"
        )
    parts = vcol.split("#f:")
    ancestors = ["#f:".join(parts[:k]) for k in range(1, len(parts) + 1)]
    for anc in ancestors:
        if f"{anc}#valid" in names:
            raise TypeError(
                f"delete_where on {vcol!r}: {anc!r} is NULLABLE — null "
                "slots are stored zero-filled, so a value range could "
                "silently match them; delete by key, or backfill a "
                "non-null predicate column"
            )


def _is_in_spec(value_range) -> bool:
    return (len(value_range) == 2
            and isinstance(value_range[1], (list, tuple, set, frozenset)))


def _where_candidates(manifest_df, value_range):
    """Shared front half of the predicate-delete pipeline: canon the
    spec (range / LIKE-prefix / IN-list), probe the column shape,
    derive the replay-idempotent generation, zone-prune the candidate
    manifest rows, and pick the matching in-task explode fn. Returns
    ``(generation, candidate_rows, explode_fn)``."""
    from functools import reduce

    from pyspark.sql import functions as F

    if _is_in_spec(value_range):
        vcol, raw = value_range
        vals, is_str = _canon_where_in(vcol, raw)
        _where_probe_columns(manifest_df, vcol)
        gen = _where_in_generation(vcol, vals)
        # disjunctive zone test: a chunk survives when ANY value falls
        # inside its [val_min, val_max] (keep rules: _zone_admit_expr)
        keep = reduce(
            lambda a, b: a | b,
            [_zone_admit_expr(v if is_str else float(v),
                              v if is_str else float(v)) for v in vals])
        cand = manifest_df.filter((F.col("column") == vcol) & keep)
        return gen, cand, _make_where_in_explode_fn(vals, is_str)
    vcol, lo, hi, hi_inc = _canon_where_spec(value_range)
    _where_probe_columns(manifest_df, vcol)
    gen = _where_generation(vcol, lo, hi, hi_inc)
    zone_spec = (vcol, lo if isinstance(lo, str) else float(lo),
                 hi if isinstance(hi, str) else float(hi))
    cand = _value_range_keys(manifest_df, zone_spec)
    return gen, cand, _make_where_explode_fn(lo, hi, hi_inc)


def delete_where(manifest_df, value_range, num_partitions: int | None = None):
    """PREDICATE deletion: mask every row whose ``value_range`` column
    falls in the bounds — the retention/TTL mutation shape (\"delete
    all events older than X\", \"purge source Y%\") — without touching
    a single data blob and without any driver-side key list.

    Same spec grammar as decode's ``value_range``: ``(col, lo, hi)``
    closed range (numeric, string, naive-datetime, date bounds), the
    2-tuple ``(col, prefix)`` LIKE-prefix form, or the IN-list
    ``(col, [v1, v2, ...])`` (set membership — "purge these sources";
    the zone test ORs across values, the generation sorts them so a
    permuted list replays byte-identically). Dataflow: per-chunk
    value zone maps prune to the chunks that CAN match (blob-free
    metadata filter), each surviving chunk's predicate sub-column
    decodes once in-task and emits only matching positions, and the
    positions regroup into the same deletion-vector sidecars
    ``delete_keys`` writes — cost ∝ qualifying chunks, never the
    corpus. The generation id is content-derived from the spec, so
    replaying the same predicate is byte-idempotent. Nullable / list /
    unknown predicate columns are refused loudly
    (``_where_probe_columns``)."""
    if not _cheap_rescan(manifest_df):
        manifest_df = manifest_df.localCheckpoint(eager=True)
    gen, cand, explode = _where_candidates(manifest_df, value_range)
    hits = cand.mapInArrow(
        explode,
        schema=_WHERE_HIT_DDL,
    )
    n = num_partitions or max(
        1, manifest_df.select("part_id").rdd.getNumPartitions())
    grouped = hits.repartition(n, "chunk_key").sortWithinPartitions(
        "chunk_key", "pos")
    sidecars = grouped.mapInArrow(
        make_positions_mark_fn(gen), schema=MANIFEST_DDL)
    return manifest_df.unionByName(sidecars, allowMissingColumns=True)


def delete_where_checkpoint(spark, ckpt_dir: str, value_range,
                            num_partitions: int | None = None) -> str:
    """``delete_where`` for a persisted checkpoint (same spec grammar,
    incl. the IN-list form): appends the sidecar files and records them
    as a ``delete`` commit under the mutation marker
    (crash-reconcilable, time-travel readable), exactly like
    ``delete_keys_checkpoint``. Returns the generation id."""
    _raise_if_pending(ckpt_dir, for_write=True)
    side = read_checkpoint_schema(ckpt_dir)
    if side is not None:
        adefs = _added_defaults(side)
        root = value_range[0].split("#")[0].partition(".")[0]
        if root in adefs and _default_may_match_where(
                value_range, adefs[root]):
            raise ValueError(
                f"delete_where on metadata-added column {root!r}: the "
                f"column's default ({adefs[root]!r}) may satisfy the "
                "predicate, but chunks encoded before the add carry no "
                "rows to mask — the delete would silently skip them. "
                "Materialize the column first (compact_checkpoint / "
                "optimize_checkpoint), or delete by keys."
            )
    value_range = _translate_value_specs(
        value_range, _checkpoint_rename_map(ckpt_dir))
    src = spark.read.parquet(ckpt_dir)
    if side is not None and root in adefs:
        # default cannot match (the guard above passed): only chunks
        # carrying REAL stored values can hold hits. With zero such
        # chunks the delete is a provable no-op — return without a
        # phantom commit (same contract as update_where's zero hits).
        from pyspark.sql import functions as F

        pn = value_range[0].split("#")[0].partition(".")[0]
        if not src.filter((F.col("column") == pn)
                          | F.col("column").startswith(pn + "#")) \
                  .select("column").limit(1).take(1):
            return None
    gen, cand, explode = _where_candidates(src, value_range)
    hits = cand.mapInArrow(
        explode,
        schema=_WHERE_HIT_DDL,
    )
    n = num_partitions or 8
    grouped = hits.repartition(n, "chunk_key").sortWithinPartitions(
        "chunk_key", "pos")
    sidecars = grouped.mapInArrow(
        make_positions_mark_fn(gen), schema=MANIFEST_DDL)
    before = _list_data_files(ckpt_dir)
    logged = _begin_logged_mutation(ckpt_dir, "delete", gen, before)
    added = _staged_append(sidecars, ckpt_dir)
    if logged:
        _end_logged_mutation(ckpt_dir, "delete", gen, before, added=added)
    return gen


def _typed_set_expr(dt_type, c: str, v):
    """SET value reconciled to the table column's own type — UPDATE
    semantics. A bare F.lit() would land tz-shifted NTZ timestamps
    (lit(naive datetime) is a session-tz instant; the string->NTZ
    parse is timezone-free, the same dodge _prepare_value_range
    uses) and wrong-scale decimals (lit(Decimal('1.5')) is
    DECIMAL(2,1) — its unscaled 15 decodes as 0.15 through a
    scale-2 schema). Review finding, round 4. Shared by
    ``update_where_checkpoint`` and ``merge_checkpoint``."""
    import datetime as _dt

    from pyspark.sql import Column
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    if isinstance(v, Column):
        return v.cast(dt_type)
    if (isinstance(dt_type, TimestampNTZType)
            and isinstance(v, _dt.datetime)):
        if v.tzinfo is not None:
            raise TypeError(
                f"set_map[{c!r}]: NTZ column takes a NAIVE datetime "
                "(wall-clock semantics)"
            )
        return F.lit(v.strftime("%Y-%m-%d %H:%M:%S.%f")).cast(
            "timestamp_ntz")
    return F.lit(v).cast(dt_type)


def update_where_checkpoint(spark, ckpt_dir: str, value_range, set_map: dict,
                            key_col: str, **encode_kwargs):
    """``UPDATE ... SET ... WHERE``: decode exactly the predicate-hit
    rows (``decode_checkpoint(value_range=...)`` — zone-map pruned,
    exact-filtered), apply the SET expressions, and land the result as
    ONE upsert (mask sidecars + one appended generation, a single
    ``upsert`` commit). Cost ∝ hit rows, never the corpus — Delta's
    UPDATE on this format's physical model, and the change feed sees
    it as the delete+insert pair an update is.

    ``set_map`` maps column name → new value: a plain literal or a
    ``pyspark.sql.Column`` expression evaluated over the OLD row
    (``{"n_chars": F.col("n_chars") + 1}``). Updating the key column
    is refused (a key rewrite is delete+insert of DIFFERENT keys —
    spell that intent explicitly). Returns ``{"updated": n, "gen":
    generation}``; zero hits touch nothing (no phantom commit)."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    if not set_map:
        raise ValueError("update_where_checkpoint: empty set_map")
    if key_col in set_map:
        raise ValueError(
            f"update_where_checkpoint refuses to rewrite the key column "
            f"{key_col!r} — a key change is a delete + insert of a "
            "DIFFERENT key; spell it with delete_where + an append"
        )
    # optimistic-concurrency snapshot BEFORE the decode lists files: a
    # foreign commit landing anywhere between here and the pre-upsert
    # re-check is detected (after the listing would leave an undetected
    # stale read in the listing->snapshot gap)
    _log0 = read_commit_log(ckpt_dir)
    _head0 = _log0[-1]["seq"] if _log0 else None
    if _is_in_spec(value_range):
        # IN-list spec: route through the value_in decode prune
        hit = decode_checkpoint(spark, ckpt_dir, value_in=value_range)
    else:
        hit = decode_checkpoint(spark, ckpt_dir, value_range=value_range)
    for c in set_map:
        if c not in hit.columns:
            raise ValueError(
                f"update_where_checkpoint: set_map column {c!r} is not "
                f"in the table (have {hit.columns})"
            )

    def typed(c, v):
        return _typed_set_expr(hit.schema[c].dataType, c, v)

    # optimistic concurrency (snapshot _head0 taken above, BEFORE the
    # decode): a foreign mutation landing while we compute the update
    # would be silently overwritten by our stale-pre-state upsert
    # (lost update — review finding). Re-checked right before the
    # upsert claims the mutation lock; detected conflicts raise WITHOUT
    # mutating (retry re-reads fresh state). The residual window
    # between re-check and claim is the one Delta's OCC closes inside
    # its commit protocol; documented.
    upd = hit.withColumns({
        c: typed(c, v) for c, v in set_map.items()
    }).localCheckpoint(eager=True)  # pin: upsert reads the batch twice
    n = upd.count()
    if not n:
        return {"updated": 0, "gen": ""}
    log1 = read_commit_log(ckpt_dir)
    head1 = log1[-1]["seq"] if log1 else None
    if head1 != _head0:
        raise IOError(
            f"update_where_checkpoint: checkpoint {ckpt_dir!r} advanced "
            f"from commit {_head0} to {head1} while the update was being "
            "computed — landing it would overwrite the concurrent "
            "mutation with stale rows (lost update); retry"
        )
    gen = upsert_checkpoint(spark, ckpt_dir, upd, key_col,
                            **encode_kwargs)
    return {"updated": n, "gen": gen}


def merge_checkpoint(spark, ckpt_dir: str, source_df, key_col: str,
                     when_matched: str | None = "update",
                     matched_condition=None, set_map: dict | None = None,
                     when_not_matched: str | None = "insert",
                     not_matched_condition=None, **encode_kwargs) -> dict:
    """MERGE INTO with conditional clauses — Delta's
    ``WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE`` /
    ``WHEN NOT MATCHED [AND cond] THEN INSERT *`` on this format's
    physical model, landed as ONE logged ``merge`` commit (mask
    sidecars for updated+deleted keys, one appended generation for
    updated+inserted rows — no snapshot ever sees a half-applied
    merge). The ON condition is key equality on ``key_col`` (the
    format's physical identity). Cost ∝ the source batch plus the
    MATCHED chunks (bloom/zone-pruned point decode), never the corpus.

    Clauses:
      ``when_matched``: ``"update"`` (default), ``"delete"``, or
      ``None`` (leave matched rows alone).
      ``matched_condition``: optional ``Column`` over the matched
      pair — target columns by name, source columns as
      ``F.col("src_<name>")``. Matched rows failing it are untouched
      (NOT inserted — they matched).
      ``set_map``: for ``"update"``, target column -> literal or
      ``Column`` over the matched pair; ``None`` replaces the whole
      row with the source row (classic upsert).
      ``when_not_matched``: ``"insert"`` (default) or ``None``;
      ``not_matched_condition``: optional ``Column`` over SOURCE rows
      (plain names).

    ``source_df`` must be key-unique (checked — two source rows
    matching one target row is the ambiguity every MERGE refuses) and
    carry exactly the table's columns. Optimistic concurrency: a
    foreign commit landing between the matched-row decode and the
    write raises without mutating (lost-update protection, same
    protocol as ``update_where_checkpoint``). A merge that ends up
    touching nothing returns zeros without a phantom commit. Returns
    ``{"updated", "deleted", "inserted", "gen"}``."""
    from pyspark.sql import functions as F

    if isinstance(key_col, (list, tuple)):
        raise ValueError(
            "composite key_col on merge_checkpoint is unsupported — "
            "the matched decode and key collects are single-column")
    if when_matched not in ("update", "delete", None):
        raise ValueError(
            f"merge_checkpoint: when_matched={when_matched!r} — "
            "expected 'update', 'delete', or None"
        )
    if when_not_matched not in ("insert", None):
        raise ValueError(
            f"merge_checkpoint: when_not_matched={when_not_matched!r} "
            "— expected 'insert' or None"
        )
    if when_matched is None and when_not_matched is None:
        raise ValueError("merge_checkpoint: no clauses — nothing to do")
    if set_map is not None and when_matched != "update":
        raise ValueError(
            "merge_checkpoint: set_map only applies to "
            "when_matched='update'"
        )
    if set_map is not None and key_col in set_map:
        raise ValueError(
            f"merge_checkpoint refuses to rewrite the key column "
            f"{key_col!r} — a key change is a delete + insert of a "
            "DIFFERENT key; spell that intent explicitly"
        )
    _raise_if_pending(ckpt_dir, for_write=True)
    side = read_checkpoint_schema(ckpt_dir)
    if side is None:
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _table_schema sidecar "
            "— merge decodes matched rows through it; "
            "write_checkpoint(manifest, dir, schema=...) makes the "
            "checkpoint self-describing"
        )
    table_cols = list(side.names)
    if set(source_df.columns) != set(table_cols):
        raise ValueError(
            f"merge_checkpoint: source columns {sorted(source_df.columns)} "
            f"must equal the table's {sorted(table_cols)} — inserts and "
            "whole-row updates need full rows"
        )
    if key_col not in table_cols:
        raise ValueError(
            f"merge_checkpoint: key_col {key_col!r} is not in the table")
    # OCC snapshot BEFORE the matched decode lists files (same
    # protocol and reasoning as update_where_checkpoint)
    _log0 = read_commit_log(ckpt_dir)
    _head0 = _log0[-1]["seq"] if _log0 else None
    source_df = source_df.localCheckpoint(eager=True)  # read many times
    dup = (source_df.groupBy(key_col).count()
           .filter(F.col("count") > 1).limit(1).take(1))
    if dup:
        raise ValueError(
            f"merge_checkpoint: source has duplicate keys (e.g. "
            f"{dup[0][0]!r}) — a MERGE source must be key-unique"
        )
    # strict cap: raises past UPSERT_KEYS_MAX with a pointer at
    # merge_into_df. Every later driver collect in this function
    # (matched delete keys, updated keys) selects a SUBSET of these
    # source keys, so this one guard bounds them all.
    keys = _collect_upsert_keys(source_df, key_col)
    matched = decode_checkpoint(
        spark, ckpt_dir, keys=keys, key_col=key_col)
    joined = None
    if when_matched is not None:
        src_pref = source_df.select(
            *[F.col(c).alias(f"src_{c}") for c in source_df.columns])
        joined = matched.join(
            src_pref, matched[key_col] == src_pref[f"src_{key_col}"],
            "inner").localCheckpoint(eager=True)

    n_up = n_del = n_ins = 0
    append_parts = []
    mask_keys: list = []
    if when_matched == "delete":
        hit = joined.filter(matched_condition) if matched_condition is not None else joined
        del_keys = [r[0] for r in hit.select(key_col).collect()]
        n_del = len(del_keys)
        mask_keys += del_keys
    elif when_matched == "update":
        hit = joined.filter(matched_condition) if matched_condition is not None else joined
        if set_map is None:
            upd = hit.select(
                *[F.col(f"src_{c}").alias(c) for c in table_cols])
        else:
            for c in set_map:
                if c not in table_cols:
                    raise ValueError(
                        f"merge_checkpoint: set_map column {c!r} is not "
                        f"in the table (have {table_cols})"
                    )
            sch = {f.name: f for f in matched.schema.fields}
            upd = hit.select(*[
                (_typed_set_expr(sch[c].dataType, c, set_map[c])
                 if c in set_map else F.col(c)).alias(c)
                for c in table_cols
            ])
        upd = upd.localCheckpoint(eager=True)
        upd_keys = [r[0] for r in upd.select(key_col).collect()]
        n_up = len(upd_keys)
        mask_keys += upd_keys
        if n_up:
            append_parts.append(upd)
    if when_not_matched == "insert":
        ins = source_df.join(
            matched.select(key_col), key_col, "left_anti")
        if not_matched_condition is not None:
            ins = ins.filter(not_matched_condition)
        ins = ins.select(*table_cols).localCheckpoint(eager=True)
        n_ins = ins.count()
        if n_ins:
            append_parts.append(ins)
    if not mask_keys and not append_parts:
        return {"updated": 0, "deleted": 0, "inserted": 0, "gen": ""}

    log1 = read_commit_log(ckpt_dir)
    head1 = log1[-1]["seq"] if log1 else None
    if head1 != _head0:
        raise IOError(
            f"merge_checkpoint: checkpoint {ckpt_dir!r} advanced from "
            f"commit {_head0} to {head1} while the merge was being "
            "computed — landing it would overwrite the concurrent "
            "mutation with stale rows (lost update); retry"
        )

    out = None
    if append_parts:
        out = append_parts[0]
        for p in append_parts[1:]:
            out = out.unionByName(p)
        # row-level constraint pre-check BEFORE the mask sidecars land
        _enforce_constraints_rows(ckpt_dir, out)
    rmap = _checkpoint_rename_map(ckpt_dir)
    key_phys = rmap.get(key_col, key_col)
    probe = list(dict.fromkeys(_canon_temporal_keys(mask_keys)))
    before = _list_data_files(ckpt_dir)
    gen = _upsert_generation(probe, "|".join(before))
    logged = _begin_logged_mutation(ckpt_dir, "merge", gen, before)
    added: list[str] = []
    if probe:
        dgen = _deletes_generation(probe)
        sidecars = _mark_sidecars(spark.read.parquet(ckpt_dir), probe,
                                  dgen, key_phys)
        added += _staged_append(sidecars, ckpt_dir)
    if out is not None:
        if rmap:
            out = out.select(
                *[F.col(c).alias(rmap.get(c, c)) for c in out.columns])
        newm = _salt_chunk_keys(
            encode_table(out, key_col=key_phys, **encode_kwargs), gen)
        added += _staged_append(newm, ckpt_dir)
    if logged:
        _end_logged_mutation(ckpt_dir, "merge", gen, before,
                             added=sorted(added))
    return {"updated": n_up, "deleted": n_del, "inserted": n_ins,
            "gen": gen}


def merge_into_df(spark, ckpt_dir: str, source_df, key_col,
                  num_partitions: int | None = None,
                  **encode_kwargs) -> dict:
    """Fully distributed MERGE for the classic upsert shape
    (``WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT
    *``): no key list, no matched-row decode through the driver —
    a billion-key backfill MERGE never hits ``UPSERT_KEYS_MAX``.
    Matched rows are masked by the distributed mark pass
    (``_mark_sidecars_df``: key-sub-column explode + semi-join) and the
    WHOLE source encodes as one appended generation; both land as ONE
    logged ``merge`` commit. Cost ∝ source batch + the corpus's key
    sub-column (two distributed passes: live-key count + mark), never
    the full corpus. Conditional clauses / ``set_map`` need matched-row
    values and stay on ``merge_checkpoint`` (driver-probed, capped).

    ``source_df`` must be key-unique and carry exactly the table's
    columns. Same OCC protocol as ``merge_checkpoint``. Returns
    ``{"updated", "deleted": 0, "inserted", "gen"}`` — counts are key
    counts against the LIVE snapshot (a previously deleted key
    re-appearing counts as inserted). ``key_col`` may be a composite
    ``["tenant", "doc_id"]`` — the probe and mark pass ride the
    canonical ``#ck:`` strings (string-typed semi-join)."""
    from pyspark.sql import functions as F

    ck_name, _, _ckp = _composite_args(key_col)
    key_arg = list(key_col) if _ckp else ck_name  # encode spelling
    key_parts = list(key_col) if _ckp else [ck_name]
    _raise_if_pending(ckpt_dir, for_write=True)
    side = read_checkpoint_schema(ckpt_dir)
    if side is None:
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _table_schema sidecar "
            "— merge validates the source against it; "
            "write_checkpoint(manifest, dir, schema=...) makes the "
            "checkpoint self-describing"
        )
    table_cols = list(side.names)
    if set(source_df.columns) != set(table_cols):
        raise ValueError(
            f"merge_into_df: source columns {sorted(source_df.columns)} "
            f"must equal the table's {sorted(table_cols)} — a classic "
            "upsert replaces whole rows"
        )
    for p in key_parts:
        if p not in table_cols:
            raise ValueError(
                f"merge_into_df: key column {p!r} is not in the table")
    _log0 = read_commit_log(ckpt_dir)
    _head0 = _log0[-1]["seq"] if _log0 else None
    if not _cheap_rescan(source_df):
        source_df = source_df.localCheckpoint(eager=True)
    dup = (source_df.groupBy(*key_parts).count()
           .filter(F.col("count") > 1).limit(1).take(1))
    if dup:
        raise ValueError(
            f"merge_into_df: source has duplicate keys (e.g. "
            f"{tuple(dup[0][:len(key_parts)])!r}) — a MERGE source "
            "must be key-unique"
        )
    _enforce_constraints_rows(ckpt_dir, source_df)
    rmap = _checkpoint_rename_map(ckpt_dir)
    if rmap and _ckp:
        raise ValueError(
            "composite-key merge on a RENAMED checkpoint is "
            "unsupported — compact_checkpoint to materialize the "
            "renames first"
        )
    key_phys = rmap.get(ck_name, ck_name)
    probe, key_ddl, n, dgen = _distributed_mark_probe(source_df, key_arg)
    if not n:
        return {"updated": 0, "deleted": 0, "inserted": 0, "gen": ""}
    # key-count attribution against the LIVE snapshot: distributed
    # projected decode of just the key column(s) + one semi-join count
    live_dec = decode_checkpoint(spark, ckpt_dir, columns=key_parts)
    if _ckp:
        live = live_dec.select(
            _composite_key_expr(live_dec, key_parts).alias("__bf_key")
        ).distinct()
    else:
        live = (live_dec
                .select(F.col(ck_name).cast(key_ddl).alias("__bf_key"))
                .distinct())
    n_up = live.join(probe, "__bf_key", "left_semi").count()
    n_ins = n - n_up

    log1 = read_commit_log(ckpt_dir)
    head1 = log1[-1]["seq"] if log1 else None
    if head1 != _head0:
        raise IOError(
            f"merge_into_df: checkpoint {ckpt_dir!r} advanced from "
            f"commit {_head0} to {head1} while the merge was being "
            "computed — landing it would overwrite the concurrent "
            "mutation with stale rows (lost update); retry"
        )
    if rmap:
        source_df = source_df.select(
            *[F.col(c).alias(rmap.get(c, c)) for c in source_df.columns])
    before = _list_data_files(ckpt_dir)
    gen = _upsert_generation([f"xor:{dgen}"], "|".join(before))
    logged = _begin_logged_mutation(ckpt_dir, "merge", gen, before)
    added: list[str] = []
    sidecars = _mark_sidecars_df(
        spark.read.parquet(ckpt_dir), probe, key_ddl, key_phys, dgen,
        num_partitions)
    added += _staged_append(sidecars, ckpt_dir)
    newm = _salt_chunk_keys(
        encode_table(source_df,
                     key_col=(key_arg if _ckp else key_phys),
                     **encode_kwargs), gen)
    added += _staged_append(newm, ckpt_dir)
    if logged:
        _end_logged_mutation(ckpt_dir, "merge", gen, before,
                             added=sorted(added))
    return {"updated": n_up, "deleted": 0, "inserted": n_ins,
            "gen": gen}


# ---------------------------------------------------------------------------
# column backfill: schema evolution without rewriting existing columns
# ---------------------------------------------------------------------------


_BF_KEY_DDL = {
    "bigint": "bigint", "int": "bigint", "smallint": "bigint",
    "tinyint": "bigint", "double": "double", "float": "double",
    "string": "string",
}


def _make_key_explode_fn(key_col: str, key_ddl: str):
    """mapInArrow over the KEY sub-column's manifest rows: decode each
    chunk's keys and emit (chunk metadata, within-chunk position, key) —
    the join surface a backfill needs. Positions refer to RAW chunk rows
    (deletion-vector masks apply at decode, AFTER rebuild, uniformly
    across old and backfilled columns)."""
    target = {"bigint": pa.int64(), "double": pa.float64(),
              "string": pa.string()}[key_ddl]
    meta_fields = ["part_id", "chunk_id", "chunk_key", "min_key", "max_key",
                   "min_key_num", "max_key_num", "snapshot_id"]
    schema = pa.schema(
        [("part_id", pa.int32()), ("chunk_id", pa.int32()),
         ("chunk_key", pa.string()), ("min_key", pa.string()),
         ("max_key", pa.string()), ("min_key_num", pa.float64()),
         ("max_key_num", pa.float64()), ("snapshot_id", pa.string()),
         ("pos", pa.int32()), ("__bf_key", target)]
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            names = set(b.schema.names)
            for i in range(b.num_rows):
                keys = _decode_blob(b.column("blob")[i].as_py()).to_arrow()
                n = len(keys)
                arrays = []
                for f in meta_fields:
                    v = b.column(f)[i].as_py() if f in names else None
                    arrays.append(pa.array([v] * n, type=schema.field(f).type))
                arrays.append(pa.array(np.arange(n, dtype=np.int32)))
                arrays.append(keys.cast(target))
                yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return fn


def make_backfill_encode_fn(col_name: str, codec: str,
                            target_page_size: int):
    """Streaming group-encode of the joined (chunk, pos, value) rows:
    each contiguous chunk group becomes the new column's manifest rows
    (same chunk_key, fresh codec/zone maps/checksum). Positions must be
    the exact permutation 0..n-1 — a duplicate-key backfill batch or a
    torn group fails loudly instead of silently mis-aligning rows."""

    def rows_for(chunk_meta, vals: pa.Array) -> pa.RecordBatch:
        out = {name: [] for name, _ in MANIFEST_FIELDS}
        for sub_name, cv in _sub_columns(col_name, vals, allow_nulls=True):
            blob, footer = _encode_one(cv, codec, target_page_size)
            vmin, vmax = _value_zone_map(cv)
            smin, smax = _value_zone_map_str(cv)
            out["part_id"].append(chunk_meta["part_id"])
            out["chunk_id"].append(chunk_meta["chunk_id"])
            out["chunk_key"].append(chunk_meta["chunk_key"])
            out["column"].append(sub_name)
            out["dtype_tag"].append(footer.data_type)
            out["codec"].append(BY_ID[footer.codec].name)
            out["n_values"].append(cv.n)
            out["bytes_in"].append(cv.input_nbytes())
            out["bytes_out"].append(len(blob))
            out["checksum"].append(_checksum(cv))
            out["min_key"].append(chunk_meta["min_key"])
            out["max_key"].append(chunk_meta["max_key"])
            out["min_key_num"].append(chunk_meta["min_key_num"])
            out["max_key_num"].append(chunk_meta["max_key_num"])
            out["val_min"].append(vmin)
            out["val_max"].append(vmax)
            out["val_min_str"].append(smin)
            out["val_max_str"].append(smax)
            out["val_sum"].append(_value_sum(cv))
            out["val_sum2"].append(_value_sum2(cv))
            out["val_hist"].append(None)  # backfill: opt-in stats stay off
            out["val_ndv"].append(None)  # backfill: NDV is encode-opt-in
            out["key_bloom"].append(None)
            out["val_bloom"].append(None)  # likewise value blooms
            out["snapshot_id"].append(chunk_meta["snapshot_id"])
            out["blob"].append(blob)
        return pa.RecordBatch.from_pydict(out, schema=_MANIFEST_PA)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cur = None
        meta = None
        val_parts: list[pa.Array] = []
        pos_parts: list[np.ndarray] = []

        def flush() -> pa.RecordBatch:
            pos = np.concatenate(pos_parts)
            n = len(pos)
            if not (n and pos[0] == 0 and pos[-1] == n - 1
                    and (np.diff(pos) == 1).all()):
                raise ValueError(
                    f"backfill group for chunk {cur!r} is not the exact "
                    f"position permutation 0..{n - 1} — duplicate keys in "
                    "the backfill batch, or a torn chunk group"
                )
            vals = pa.concat_arrays(
                [a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a
                 for a in val_parts])
            return rows_for(meta, vals)

        for b in batches:
            ck = b.column("chunk_key").to_pylist()
            pos = b.column("pos").to_numpy(zero_copy_only=False)
            vals = b.column("__bf_val")
            starts = [0] + [
                i for i in range(1, b.num_rows) if ck[i] != ck[i - 1]
            ] + [b.num_rows]
            for s, e in zip(starts[:-1], starts[1:]):
                if s == e:
                    continue
                if ck[s] != cur:
                    if cur is not None:
                        yield flush()
                    cur = ck[s]
                    meta = {
                        f: b.column(f)[s].as_py()
                        for f in ("part_id", "chunk_id", "chunk_key",
                                  "min_key", "max_key", "min_key_num",
                                  "max_key_num", "snapshot_id")
                    }
                    val_parts, pos_parts = [], []
                val_parts.append(vals.slice(s, e - s))
                pos_parts.append(pos[s:e])
        if cur is not None:
            yield flush()

    return fn


def backfill_column(manifest_df, new_df, key_col: str, col_name: str,
                    codec: str = "auto",
                    target_page_size: int = DEFAULT_TARGET_PAGE_SIZE,
                    num_partitions: int | None = None):
    """SCHEMA EVOLUTION: add a column to an already-encoded corpus
    without rewriting any existing blob — the feature-pipeline backfill
    (scores, embeddings-derived stats, labels) that would otherwise
    re-encode 100 TB to attach a few bytes per row.

    ``new_df`` maps ``key_col`` -> ``col_name`` (key-unique; keys the
    batch misses backfill as NULL via the ``#valid`` sub-column).
    Dataflow: one pass decodes ONLY the key sub-column and explodes
    (chunk, position, key); one shuffle joins the new values on the
    key; one regroup re-chunks them in position order and encodes the
    new column's manifest rows with fresh codec/zone maps/checksums —
    the minimum data movement a corpus-wide join can have. Decode with
    the EXTENDED schema afterwards; value_range prunes on the new
    column's zone maps like any original column.

    Temporal keys are refused in this version (normalize to epoch ints
    yourself); list columns backfill like any other (#lengths/#values).
    The returned manifest is not chunk-contiguous — decode on the
    default path, or compact the checkpoint to restore the fast path.
    """
    from pyspark.sql import functions as F

    key_ddl = _BF_KEY_DDL.get(
        new_df.schema[key_col].dataType.simpleString())
    if key_ddl is None:
        raise TypeError(
            f"backfill_column: unsupported key type "
            f"{new_df.schema[key_col].dataType.simpleString()!r} — numeric "
            "or string keys only (normalize temporal keys to epoch ints)"
        )
    if not _cheap_rescan(manifest_df):
        # same re-evaluation hazard as delete_keys: the explode and the
        # final union must see the SAME chunk keys
        manifest_df = manifest_df.localCheckpoint(eager=True)
    if manifest_df.filter(
        (F.col("column") == col_name)
        | F.col("column").startswith(col_name + "#")
    ).limit(1).count():
        # a second generation of rows under the same (chunk_key, column)
        # would collide arbitrarily in decode's dropDuplicates — incl.
        # re-adding a name a checkpoint-level drop_column removed from
        # the SCHEMA but whose manifest rows remain until compaction
        raise ValueError(
            f"backfill_column: column {col_name!r} already has manifest "
            "rows — backfill adds NEW columns only; to replace one, "
            "compact the dropped-column checkpoint first (which strips "
            "its rows) or pick a fresh name"
        )
    kdf = manifest_df.filter(F.col("column") == F.lit(key_col))
    exploded = kdf.mapInArrow(
        _make_key_explode_fn(key_col, key_ddl),
        schema=(
            "part_id int, chunk_id int, chunk_key string, min_key string, "
            "max_key string, min_key_num double, max_key_num double, "
            f"snapshot_id string, pos int, __bf_key {key_ddl}"
        ),
    )
    vals = new_df.select(
        F.col(key_col).cast(key_ddl).alias("__bf_key"),
        F.col(col_name).alias("__bf_val"),
    )
    joined = exploded.join(vals, "__bf_key", "left")
    n = num_partitions or max(
        1, manifest_df.select("part_id").rdd.getNumPartitions())
    grouped = joined.repartition(n, "chunk_key").sortWithinPartitions(
        "chunk_key", "pos")
    sidecol = grouped.mapInArrow(
        make_backfill_encode_fn(col_name, codec, target_page_size),
        schema=MANIFEST_DDL,
    )
    return manifest_df.unionByName(sidecol, allowMissingColumns=True)


def dropped_columns(ckpt_dir: str) -> list[str]:
    """Column names dropped from a logged checkpoint (``drop_column``
    commits, in commit order; empty for unlogged checkpoints)."""
    log = read_commit_log(ckpt_dir) or []
    return [r["generation"] for r in log
            if r.get("action") == "drop_column"]


def drop_column_checkpoint(spark, ckpt_dir: str, col_name: str) -> int:
    """DROP COLUMN as a METADATA-ONLY logged mutation (Delta's drop
    semantics): no data file is touched — the self-describing
    ``_table_schema`` sidecar is rewritten without the field and a
    ``drop_column`` commit records it (the column name rides the
    record's generation slot), so schema-less decodes stop seeing the
    column immediately, at zero data cost. The bytes stay on disk until
    a rewrite reclaims them: the metadata-only ``compact_checkpoint``
    strips the dropped columns' manifest rows, and the re-encoding
    compaction / ``optimize_checkpoint`` (both decode through the
    narrowed sidecar schema) rewrite the snapshot without them.

    Time travel: ``decode_checkpoint(as_of=seq)`` for a seq BEFORE the
    drop refuses to guess the wider schema and asks for an explicit
    ``out_schema=`` (every data file is still present, so the old
    snapshot decodes fully with it). The change feed sees no row change
    (a drop inserts/deletes nothing).

    The sidecar rewrite + commit append ride the ``_mutation_pending``
    lock like every logged mutation; a crash inside the window is
    reconciled by ``finish_mutation`` (no files landed, so nothing is
    recorded — at worst the sidecar is already narrowed with the
    commit record missing, which degrades history, never reads).

    Refuses unknown columns, the last remaining column, and unlogged /
    sidecar-less checkpoints. Returns the commit seq."""
    _raise_if_pending(ckpt_dir, for_write=True)
    if not _has_commit_log(ckpt_dir):
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _commits log — "
            "drop_column is a logged mutation; persist via "
            "write_checkpoint first"
        )
    schema = read_checkpoint_schema(ckpt_dir)
    if schema is None:
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _table_schema sidecar "
            "— drop_column rewrites it; write_checkpoint(manifest, dir, "
            "schema=...) makes the checkpoint self-describing"
        )
    names = schema.names
    if col_name not in names:
        raise ValueError(
            f"drop_column: {col_name!r} is not in the table "
            f"(have {names})"
        )
    if len(names) == 1:
        raise ValueError(
            f"drop_column: {col_name!r} is the LAST column — dropping "
            "it leaves no table; delete the checkpoint instead"
        )
    for cname, rec in table_constraints(ckpt_dir).items():
        target = rec["col"] if rec["kind"] == "not_null" else rec["spec"][0]
        if target == col_name:
            raise ValueError(
                f"drop_column: {col_name!r} is the target of constraint "
                f"{cname!r} — drop_constraint_checkpoint it first"
            )
    phys = (schema.field(col_name).metadata or {}).get(_PHYSICAL_META)
    if phys is not None and phys.decode() != col_name:
        # the drop record and the metadata compact's strip list speak
        # LOGICAL names while the manifest rows carry the physical one
        # — dropping through the mapping would orphan those rows
        # unreclaimably. Materialize the rename first. EXCEPTION: a
        # metadata-added column with ZERO stored rows under its
        # physical name (added, renamed, never appended to) has
        # nothing to orphan — one blob-free existence probe decides.
        from pyspark.sql import functions as F

        stored = _ADDED_DEFAULT_META not in (
            schema.field(col_name).metadata or {})
        if not stored:
            pn = phys.decode()
            stored = bool(
                spark.read.parquet(ckpt_dir)
                .filter((F.col("column") == pn)
                        | F.col("column").startswith(pn + "#"))
                .select("column").limit(1).take(1))
        if stored:
            raise ValueError(
                f"drop_column: {col_name!r} is a RENAMED column "
                f"(physical manifest name {phys.decode()!r}) — compact "
                "or optimize the checkpoint first to materialize the "
                "rename, then drop"
            )
    before = _list_data_files(ckpt_dir)
    _begin_logged_mutation(ckpt_dir, "drop_column", col_name, before)
    try:
        new_schema = pa.schema([f for f in schema if f.name != col_name],
                               metadata=schema.metadata)
        write_checkpoint_schema(ckpt_dir, new_schema)
        seq = _append_commit(ckpt_dir, "drop_column", col_name, [])
    finally:
        try:
            fsys, p = _manifest_fs(ckpt_dir)
            fsys.delete_file(f"{p.rstrip('/')}/{_MUTATION_PENDING}")
        except (OSError, ValueError):
            pass
    if seq is None:
        # the sidecar is already narrowed (reads are consistent) but the
        # drop_column record is missing: time-travel/backfill guards
        # that consult the log won't see this drop — surface it loudly
        raise IOError(
            f"drop_column of {col_name!r} narrowed the _table_schema "
            f"sidecar of {ckpt_dir!r} but the commit record could not "
            "be written — live reads are correct, history is degraded; "
            "fix the storage and compact the checkpoint to re-baseline."
        )
    return seq


_PHYSICAL_META = b"physical"
_ADDED_DEFAULT_META = b"added_default"


def _encode_default_meta(value, t: pa.DataType) -> bytes:
    """Exact typed serialization of an ADD COLUMN default: a 1-row
    Arrow IPC stream (None rides as the null slot), base64-wrapped
    because the bytes live in Arrow FIELD METADATA — the flatbuffers
    KeyValue slot is a UTF-8 string, and the JVM's Arrow reader
    rejects raw binary there (schemas carrying the marker cross the
    mapInArrow worker->JVM boundary on every decode). Doubles as the
    type check — pa.array raises when the value doesn't fit ``t``."""
    import base64

    arr = pa.array([value], type=t)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, pa.schema([pa.field("d", t)])) as w:
        w.write_batch(pa.record_batch([arr], names=["d"]))
    return base64.b64encode(sink.getvalue().to_pybytes())


def _decode_default_meta(buf: bytes):
    """Python value of a serialized ADD COLUMN default (None for the
    null default)."""
    import base64

    with pa.ipc.open_stream(pa.BufferReader(base64.b64decode(buf))) as r:
        return r.read_all().column("d")[0].as_py()


def _default_may_match_where(spec, default) -> bool:
    """Whether an ADD COLUMN ``default`` could satisfy a delete_where
    spec on that column — the gate deciding if pre-add chunks (all
    rows = default, zero manifest rows to mask) are safely skippable.
    Conservative: anything uncomparable counts as a match."""
    if default is None:
        return False  # NULL satisfies no range/IN/prefix predicate
    try:
        if _is_in_spec(spec):
            return any(default == v for v in spec[1])
        if len(spec) == 2:  # LIKE-prefix form
            return isinstance(default, str) and default.startswith(spec[1])
        return spec[1] <= default <= spec[2]
    except TypeError:
        return True


def _added_defaults(out_schema: pa.Schema) -> dict:
    """Field name -> python default value for every field the schema
    marks as METADATA-ONLY ADDED (``add_column_checkpoint``). Chunks
    encoded before the add carry no sub-columns for these fields; the
    decode synthesizes a constant/null array per chunk instead. {}
    for never-evolved schemas — the universal fast path."""
    out = {}
    for f in out_schema:
        buf = (f.metadata or {}).get(_ADDED_DEFAULT_META)
        if buf is not None:
            out[f.name] = _decode_default_meta(buf)
    return out


def _decode_defaults(out_schema: pa.Schema) -> dict:
    """``_added_defaults`` of a decode's output schema, refusing a
    projection of ADDED columns only (nothing anchors the row counts)."""
    added = _added_defaults(out_schema)
    if added and len(added) == len(out_schema):
        raise ValueError(
            f"columns {sorted(added)} are all metadata-only ADDED "
            "columns (add_column_checkpoint) — include at least one "
            "stored column in the projection to anchor row counts, or "
            "compact the checkpoint to materialize them"
        )
    return added


def _checkpoint_rename_map(ckpt_dir: str) -> dict[str, str]:
    """Logical column name -> PHYSICAL manifest name, from the
    ``_table_schema`` sidecar's per-field ``physical`` metadata
    (written by ``rename_column_checkpoint``). {} when the checkpoint
    was never renamed — the fast path every untouched table takes."""
    schema = read_checkpoint_schema(ckpt_dir)
    out: dict[str, str] = {}
    if schema is not None:
        for f in schema:
            phys = (f.metadata or {}).get(_PHYSICAL_META)
            if phys is not None and phys.decode() != f.name:
                out[f.name] = phys.decode()
    return out


def _physical_schema(out_schema: pa.Schema, rmap: dict[str, str]) -> pa.Schema:
    """``out_schema`` with renamed fields carrying their PHYSICAL
    manifest names (and the mapping metadata stripped, so the result
    is a plain decode schema)."""
    fields = []
    for f in out_schema:
        f = f.with_name(rmap.get(f.name, f.name))
        if f.metadata and _PHYSICAL_META in f.metadata:
            md = {k: v for k, v in f.metadata.items()
                  if k != _PHYSICAL_META}
            f = f.with_metadata(md) if md else f.remove_metadata()
        fields.append(f)
    return pa.schema(fields, metadata=out_schema.metadata)


def _strip_rename_metadata(schema) -> pa.Schema:
    """Schema without per-field schema-evolution markers (``physical``
    rename mappings AND ``added_default`` fills) — written by the
    re-encoding compaction, whose output manifest carries the LOGICAL
    names with every column materialized as real data. Accepts a Spark
    StructType (caller-passed schemas carry no markers to strip)."""
    if not isinstance(schema, pa.Schema):
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(schema)
    fields = []
    for f in schema:
        if f.metadata and (_PHYSICAL_META in f.metadata
                           or _ADDED_DEFAULT_META in f.metadata):
            md = {k: v for k, v in f.metadata.items()
                  if k not in (_PHYSICAL_META, _ADDED_DEFAULT_META)}
            f = f.with_metadata(md) if md else f.remove_metadata()
        fields.append(f)
    return pa.schema(fields, metadata=schema.metadata)


def _translate_value_specs(spec, rmap: dict[str, str]):
    """value_range / value_in spec(s) with each leading column name's
    ROOT segment (struct paths are dot-separated) mapped
    logical->physical. Accepts one tuple or a list of tuples."""
    if spec is None or not rmap:
        return spec

    def one(t):
        col = t[0]
        root, dot, rest = col.partition(".")
        return (rmap.get(root, root) + dot + rest,) + tuple(t[1:])

    if isinstance(spec, tuple):
        return one(spec)
    return [one(t) for t in spec]


def _translate_manifest_columns(manifest_df, rmap: dict[str, str]):
    """Manifest rows with the ``column`` field's root segment (before
    the first ``#`` sub-column separator) mapped logical->physical —
    how freshly ENCODED chunks (named after the caller's logical
    columns) land consistently next to a renamed checkpoint's physical
    rows. Sentinel rows (done markers, deletion sidecars) never match a
    logical name: rename refuses reserved spellings."""
    if not rmap:
        return manifest_df
    from pyspark.sql import functions as F

    root = F.substring_index(F.col("column"), "#", 1)
    mapping = F.create_map(*[F.lit(x) for kv in rmap.items() for x in kv])
    new_root = F.coalesce(mapping[root], root)
    suffix = F.expr(
        "substring(column, length(substring_index(column, '#', 1)) + 1)")
    return manifest_df.withColumn("column", F.concat(new_root, suffix))


def rename_column_checkpoint(ckpt_dir: str, old: str, new: str) -> int:
    """RENAME COLUMN as a METADATA-ONLY logged mutation (Delta's
    column-mapping semantics): no data file is touched — the
    ``_table_schema`` sidecar's field is renamed with its PHYSICAL
    manifest name recorded in field metadata, and a ``rename_column``
    commit (generation ``old:new``) logs it. Every read and mutation
    path translates at the checkpoint boundary: ``decode_checkpoint``
    (including ``columns=`` / ``value_range`` / ``value_in`` /
    ``key_col``), ``delete_keys_checkpoint`` / ``delete_where_checkpoint``
    / ``update_where_checkpoint`` / ``upsert_checkpoint``,
    ``write_checkpoint(mode='append')`` (freshly encoded manifests land
    under the physical names), and ``read_changes`` (the feed speaks
    logical names). Time travel shows CURRENT names for every snapshot
    (Delta's behavior — names are presentation, the physical layout is
    identity), so no ``as_of`` guard is needed; ``restore_checkpoint``
    across a rename is likewise safe (the commit carries no files).
    The re-encoding ``compact_checkpoint`` / ``optimize_checkpoint``
    MATERIALIZE the rename (new manifest under logical names, mapping
    stripped); the metadata-only compact carries it forward.

    Manifest-level helpers (``column_stats`` / ``column_sums`` /
    ``column_ndv`` / ``backfill_column``) operate below the mapping and
    see physical names. Chained renames keep pointing at the ORIGINAL
    physical name. Refuses: unknown/duplicate names, reserved
    spellings (``#`` sub-column separator, ``_``/``.`` sidecar
    prefixes), a name that is any live field's physical identity
    (the manifest namespace must stay collision-free), and unlogged /
    sidecar-less checkpoints. Returns the commit seq."""
    _raise_if_pending(ckpt_dir, for_write=True)
    if not _has_commit_log(ckpt_dir):
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _commits log — "
            "rename_column is a logged mutation; persist via "
            "write_checkpoint first"
        )
    schema = read_checkpoint_schema(ckpt_dir)
    if schema is None:
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _table_schema sidecar "
            "— rename_column rewrites it; write_checkpoint(manifest, "
            "dir, schema=...) makes the checkpoint self-describing"
        )
    if old not in schema.names:
        raise ValueError(
            f"rename_column: {old!r} is not in the table "
            f"(have {schema.names})"
        )
    if new in schema.names:
        raise ValueError(
            f"rename_column: {new!r} already names a column")
    if (not new or "#" in new or new.startswith(("_", "."))
            or new != new.strip()):
        raise ValueError(
            f"rename_column: {new!r} is a reserved spelling — names "
            "must be non-empty, unpadded, not start with '_'/'.' and "
            "not contain '#' (the sub-column separator)"
        )
    taken = {
        ((f.metadata or {}).get(_PHYSICAL_META) or f.name.encode()).decode()
        for f in schema
    }
    if new in taken:
        raise ValueError(
            f"rename_column: {new!r} is a live column's PHYSICAL "
            "manifest name — reusing it would collide in the manifest "
            "namespace; compact the checkpoint first to materialize "
            "renames, then retry"
        )
    before = _list_data_files(ckpt_dir)
    _begin_logged_mutation(ckpt_dir, "rename_column", f"{old}:{new}",
                           before)
    seq = None
    try:
        fields = []
        for f in schema:
            if f.name == old:
                md = dict(f.metadata or {})
                md.setdefault(_PHYSICAL_META, old.encode())
                f = f.with_name(new).with_metadata(md)
            fields.append(f)
        # constraints follow the column they target through the rename
        import json as _json

        smd = dict(schema.metadata or {})
        for k, v in list(smd.items()):
            if not k.startswith(_CONSTRAINT_META_PREFIX):
                continue
            rec = _json.loads(v)
            ckey = "col" if rec["kind"] == "not_null" else None
            if ckey and rec[ckey] == old:
                rec[ckey] = new
            elif rec.get("spec") and rec["spec"][0] == old:
                rec["spec"][0] = new
            else:
                continue
            smd[k] = _json.dumps(rec).encode()
        write_checkpoint_schema(
            ckpt_dir, pa.schema(fields, metadata=smd))
        seq = _append_commit(ckpt_dir, "rename_column", f"{old}:{new}", [])
    finally:
        fsys, p = _manifest_fs(ckpt_dir)
        try:
            fsys.delete_file(f"{p.rstrip('/')}/{_MUTATION_PENDING}")
        except (OSError, ValueError):
            pass
    if seq is None:
        raise IOError(
            f"rename_column {old!r}->{new!r} rewrote the _table_schema "
            f"sidecar of {ckpt_dir!r} but the commit record could not "
            "be written — live reads are correct, history is degraded; "
            "fix the storage and compact the checkpoint to re-baseline."
        )
    return seq


def add_column_checkpoint(ckpt_dir: str, name: str, dtype,
                          default=None) -> int:
    """ADD COLUMN as a METADATA-ONLY logged mutation (Delta's
    ALTER TABLE ADD COLUMN with a default): no data file is touched —
    the ``_table_schema`` sidecar widens by one field whose typed
    ``default`` (None = NULL) rides in field metadata, and an
    ``add_column`` commit logs it. Chunks encoded BEFORE the add carry
    no sub-columns for the field; every decode synthesizes a constant
    array per such chunk (vectorized ``pa.repeat``, zero extra I/O),
    while chunks appended/upserted AFTER the add carry real data —
    mixed checkpoints decode seamlessly.

    ``dtype`` is a Spark DDL string (``"long"``, ``"string"``,
    ``"array<int>"``), a Spark DataType, or an Arrow type. A
    non-null ``default`` is type-checked against it here. Semantics
    downstream: reads at ANY snapshot (time travel included) show the
    CURRENT schema, so pre-add snapshots decode the column as the
    default — names and widths are presentation, the physical layout
    is identity (same rule as ``rename_column_checkpoint``).
    ``value_range`` / ``value_in`` on the added column decode without
    chunk pruning (a missing sub-column is a VALUE, not an absence —
    zone maps can't speak for it) and exact-filter the filled rows;
    ``delete_where`` refuses specs the default might match until the
    column is materialized. Re-encoding ``compact_checkpoint`` /
    ``optimize_checkpoint`` MATERIALIZE the fill (and strip the
    marker); the metadata-only compact carries it. ``backfill_column``
    (manifest-level) remains the per-key value-bearing alternative.
    Returns the commit seq."""
    _raise_if_pending(ckpt_dir, for_write=True)
    if not _has_commit_log(ckpt_dir):
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _commits log — "
            "add_column is a logged mutation; persist via "
            "write_checkpoint first"
        )
    schema = read_checkpoint_schema(ckpt_dir)
    if schema is None:
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _table_schema sidecar "
            "— add_column rewrites it; write_checkpoint(manifest, dir, "
            "schema=...) makes the checkpoint self-describing"
        )
    if name in schema.names:
        raise ValueError(f"add_column: {name!r} already names a column")
    if (not name or "#" in name or name.startswith(("_", "."))
            or name != name.strip()):
        raise ValueError(
            f"add_column: {name!r} is a reserved spelling — names "
            "must be non-empty, unpadded, not start with '_'/'.' and "
            "not contain '#' (the sub-column separator)"
        )
    taken = {
        ((f.metadata or {}).get(_PHYSICAL_META) or f.name.encode()).decode()
        for f in schema
    }
    if name in taken:
        raise ValueError(
            f"add_column: {name!r} is a live column's PHYSICAL "
            "manifest name — reusing it would collide in the manifest "
            "namespace; compact the checkpoint first to materialize "
            "renames, then retry"
        )
    if isinstance(dtype, pa.DataType):
        t = dtype
    else:
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructField, StructType, _parse_datatype_string

        if isinstance(dtype, str):
            dtype = _parse_datatype_string(dtype)
        t = to_arrow_schema(StructType([StructField(name, dtype)]))[0].type
    meta = _encode_default_meta(default, t)  # also the type check
    field = pa.field(name, t, nullable=True,
                     metadata={_ADDED_DEFAULT_META: meta})
    before = _list_data_files(ckpt_dir)
    _begin_logged_mutation(ckpt_dir, "add_column", name, before)
    seq = None
    try:
        write_checkpoint_schema(
            ckpt_dir, pa.schema(list(schema) + [field],
                                metadata=schema.metadata))
        seq = _append_commit(ckpt_dir, "add_column", f"{name}:{t}", [])
    finally:
        fsys, p = _manifest_fs(ckpt_dir)
        try:
            fsys.delete_file(f"{p.rstrip('/')}/{_MUTATION_PENDING}")
        except (OSError, ValueError):
            pass
    if seq is None:
        raise IOError(
            f"add_column {name!r} rewrote the _table_schema sidecar of "
            f"{ckpt_dir!r} but the commit record could not be written — "
            "live reads are correct, history is degraded; fix the "
            "storage and compact the checkpoint to re-baseline."
        )
    return seq


_INT_ORDER = {pa.int8(): 0, pa.int16(): 1, pa.int32(): 2, pa.int64(): 3}
_UINT_ORDER = {pa.uint8(): 0, pa.uint16(): 1, pa.uint32(): 2,
               pa.uint64(): 3}


def _widen_ok(old: pa.DataType, new: pa.DataType) -> bool:
    """Whether ``old -> new`` is a VALUE-PRESERVING widening (Delta's
    type-widening matrix, restricted to exact conversions): signed /
    unsigned integers to a wider width of the same signedness, unsigned
    to a STRICTLY wider signed width (every uintN fits int2N), float32
    to float64, decimal to higher precision at the same scale, and the
    same rules applied element-wise through list / map / struct
    wrappers (struct widening requires identical field names in
    identical order — reshaping is not a type change)."""
    if old.equals(new):
        return False  # a no-op alter is refused upstream with its own message
    if old in _INT_ORDER and new in _INT_ORDER:
        return _INT_ORDER[new] > _INT_ORDER[old]
    if old in _UINT_ORDER and new in _UINT_ORDER:
        return _UINT_ORDER[new] > _UINT_ORDER[old]
    if old in _UINT_ORDER and new in _INT_ORDER:
        return _INT_ORDER[new] > _UINT_ORDER[old]
    if pa.types.is_float32(old) and pa.types.is_float64(new):
        return True
    if pa.types.is_decimal(old) and pa.types.is_decimal(new):
        return new.scale == old.scale and new.precision >= old.precision \
            and not old.equals(new)
    if (pa.types.is_list(old) and pa.types.is_list(new)) or (
            pa.types.is_large_list(old) and pa.types.is_large_list(new)):
        return old.value_type.equals(new.value_type) or \
            _widen_ok(old.value_type, new.value_type)
    if pa.types.is_map(old) and pa.types.is_map(new):
        keys_ok = old.key_type.equals(new.key_type) or \
            _widen_ok(old.key_type, new.key_type)
        items_ok = old.item_type.equals(new.item_type) or \
            _widen_ok(old.item_type, new.item_type)
        return keys_ok and items_ok
    if pa.types.is_struct(old) and pa.types.is_struct(new):
        if old.num_fields != new.num_fields:
            return False
        widened = False
        for i in range(old.num_fields):
            fo, fn = old.field(i), new.field(i)
            if fo.name != fn.name:
                return False
            if fo.type.equals(fn.type):
                continue
            if not _widen_ok(fo.type, fn.type):
                return False
            widened = True
        return widened
    return False


def alter_column_type_checkpoint(ckpt_dir: str, name: str, new_type) -> int:
    """ALTER COLUMN TYPE as a METADATA-ONLY logged mutation (Delta's
    type widening): no data file is touched — the ``_table_schema``
    sidecar field's type widens in place and an ``alter_type`` commit
    logs it. The physical layout needs no rewrite because the decode
    is already width-polymorphic: integer codecs decode class-wide and
    ``_cast_checked`` casts each chunk to the REQUESTED schema type
    exactly, so chunks encoded at the old width and chunks appended
    after the widen decode side by side into the wider schema. Only
    value-preserving widenings are admitted (``_widen_ok``): same-sign
    integer widths, unsigned into strictly-wider signed, float ->
    double, decimal precision growth at fixed scale, and the same
    element-wise through list / map / struct. Value-space metadata
    (zone maps, per-chunk sums, blooms) is width-independent, so
    pruning and metadata aggregates keep working unchanged; appends
    after the widen may encode at either width. Narrowing or
    cross-class changes are refused — and a chunk whose values genuinely
    exceed a (buggy, hand-edited) sidecar's narrower type fails the
    decode loudly rather than wrapping. Schema-evolution markers on the
    field (rename mapping, add_column default) survive the alter.
    Returns the commit seq."""
    _raise_if_pending(ckpt_dir, for_write=True)
    if not _has_commit_log(ckpt_dir):
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _commits log — "
            "alter_column_type is a logged mutation; persist via "
            "write_checkpoint first"
        )
    schema = read_checkpoint_schema(ckpt_dir)
    if schema is None:
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _table_schema sidecar "
            "— alter_column_type rewrites it; write_checkpoint("
            "manifest, dir, schema=...) makes the checkpoint "
            "self-describing"
        )
    if name not in schema.names:
        raise ValueError(
            f"alter_column_type: {name!r} is not in the table "
            f"(have {schema.names})"
        )
    if isinstance(new_type, pa.DataType):
        t = new_type
    else:
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import (
            StructField, StructType, _parse_datatype_string)

        if isinstance(new_type, str):
            new_type = _parse_datatype_string(new_type)
        t = to_arrow_schema(StructType([StructField(name, new_type)]))[0].type
    old_field = schema.field(name)
    if old_field.type.equals(t):
        raise ValueError(
            f"alter_column_type: {name!r} already has type {t}")
    if not _widen_ok(old_field.type, t):
        raise ValueError(
            f"alter_column_type: {old_field.type} -> {t} is not a "
            "value-preserving widening — only same-sign integer width "
            "growth, unsigned into strictly-wider signed, float -> "
            "double, decimal precision growth at fixed scale, and "
            "their list/map/struct element versions are metadata-only; "
            "anything else needs a re-encode (decode, cast, "
            "encode_table into a new checkpoint)"
        )
    if (old_field.metadata or {}).get(_ADDED_DEFAULT_META):
        # re-serialize the default at the new type so _added_defaults
        # keeps decoding a value that pa.scalar can carry exactly
        v = _decode_default_meta(old_field.metadata[_ADDED_DEFAULT_META])
        md = dict(old_field.metadata)
        md[_ADDED_DEFAULT_META] = _encode_default_meta(v, t)
        new_field = pa.field(name, t, nullable=old_field.nullable,
                             metadata=md)
    else:
        new_field = pa.field(name, t, nullable=old_field.nullable,
                             metadata=old_field.metadata)
    before = _list_data_files(ckpt_dir)
    _begin_logged_mutation(ckpt_dir, "alter_type",
                           f"{name}:{old_field.type}:{t}", before)
    seq = None
    try:
        write_checkpoint_schema(
            ckpt_dir,
            pa.schema([new_field if f.name == name else f for f in schema],
                      metadata=schema.metadata))
        seq = _append_commit(ckpt_dir, "alter_type",
                             f"{name}:{old_field.type}:{t}", [])
    finally:
        fsys, p = _manifest_fs(ckpt_dir)
        try:
            fsys.delete_file(f"{p.rstrip('/')}/{_MUTATION_PENDING}")
        except (OSError, ValueError):
            pass
    if seq is None:
        raise IOError(
            f"alter_column_type {name!r} rewrote the _table_schema "
            f"sidecar of {ckpt_dir!r} but the commit record could not "
            "be written — live reads are correct, history is degraded; "
            "fix the storage and compact the checkpoint to re-baseline."
        )
    return seq


# ---------------------------------------------------------------------------
# table constraints: NOT NULL and CHECK, validated metadata-first
# ---------------------------------------------------------------------------

_CONSTRAINT_META_PREFIX = b"constraint."


def table_constraints(ckpt_dir: str) -> dict:
    """Name -> record for every constraint on the checkpoint.
    Records: ``{"kind": "not_null", "col": c}`` or
    ``{"kind": "check", "spec": [c, lo, hi] | [c, [v, ...]]}``."""
    import json

    schema = read_checkpoint_schema(ckpt_dir)
    out = {}
    for k, v in (schema.metadata or {}).items() if schema is not None else []:
        if k.startswith(_CONSTRAINT_META_PREFIX):
            out[k[len(_CONSTRAINT_META_PREFIX):].decode()] = json.loads(v)
    return out


def _constraint_violation(spark, manifest_df, rec, side_schema,
                          rmap: dict, added_defaults: dict):
    """First violating value of constraint ``rec`` in ``manifest_df``
    (None when compliant) — metadata-first: chunks whose VALUE zone
    maps prove compliance are never decoded; only admit-failed chunks
    pay an exact one-column decode (with the manifest's own deletion
    masks applied, so deleted rows cannot raise false violations).
    ``manifest_df`` may be a full checkpoint read (ADD CONSTRAINT
    validation) or one staged append (write-time enforcement) — the
    cost is zone metadata plus suspect chunks either way."""
    from pyspark.sql import functions as F

    col = rec["col"] if rec["kind"] == "not_null" else rec["spec"][0]
    if col not in side_schema.names:
        raise ValueError(
            f"constraint names unknown column {col!r} "
            f"(have {side_schema.names})"
        )
    field = side_schema.field(col)
    t = field.type
    if not (pa.types.is_integer(t) or pa.types.is_floating(t)
            or pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_decimal(t) or pa.types.is_temporal(t)
            or pa.types.is_boolean(t)):
        raise ValueError(
            f"constraints cover top-level scalar columns; {col!r} is "
            f"{t}"
        )
    phys = rmap.get(col, col)
    rows = manifest_df.filter(
        (F.col("column") == phys) | F.col("column").startswith(phys + "#"))
    has_rows = bool(rows.select("column").limit(1).take(1))
    if not has_rows:
        # column absent from this manifest: rows decode as the
        # add_column default (checked below); a torn manifest is the
        # decode path's problem, not the constraint's
        if col in added_defaults:
            v = added_defaults[col]
            if rec["kind"] == "not_null":
                return "NULL (add_column default)" if v is None else None
            if v is None:
                return None  # NULL passes CHECK (SQL UNKNOWN)
            spec = rec["spec"]
            ok = (v in spec[1]) if isinstance(spec[1], list) \
                else (spec[1] <= v <= spec[2])
            return None if ok else f"{v!r} (add_column default)"
        return None

    if rec["kind"] == "not_null":
        # a #valid sub-column exists only when the encode saw nulls —
        # its absence proves compliance blob-free. Presence is not yet
        # a violation: the null rows may all be deletion-masked, so
        # decode exactly those chunks with the masks applied.
        vrows = rows.filter(F.col("column") == phys + "#valid") \
                    .select("chunk_key")
        if not vrows.limit(1).take(1):
            return None
        sub = rows.join(F.broadcast(vrows.distinct()), "chunk_key",
                        "left_semi")
        masks = manifest_df.filter(
            F.col("column").startswith(DELETES_PREFIX)
        ).join(F.broadcast(vrows.distinct()), "chunk_key", "left_semi")
        dec = decode_table(
            sub.unionByName(masks, allowMissingColumns=True),
            pa.schema([pa.field(phys, t, nullable=True)]))
        hit = dec.filter(F.col(phys).isNull()).limit(1).take(1)
        return "NULL" if hit else None

    spec = rec["spec"]
    in_list = isinstance(spec[1], list)
    # zone-map proof: a chunk whose [val_min, val_max] sits inside the
    # CHECK range is compliant without a decode. IN-lists prove only
    # via constant chunks (min == max == a listed value).
    data = rows.filter(F.col("column") == phys)
    is_str = pa.types.is_string(t) or pa.types.is_large_string(t)
    mn_c, mx_c = ("val_min_str", "val_max_str") if is_str \
        else ("val_min", "val_max")
    if mn_c in manifest_df.columns and mx_c in manifest_df.columns:
        mn, mx = F.col(mn_c), F.col(mx_c)
        if in_list:
            lits = [F.lit(v) for v in spec[1]]
            proven = (mn.isNotNull() & mx.isNotNull() & (mn == mx)
                      & mn.isin(lits))
        else:
            proven = (mn.isNotNull() & mx.isNotNull()
                      & (mn >= F.lit(spec[1])) & (mx <= F.lit(spec[2])))
    else:
        proven = F.lit(False)  # legacy manifest: exact-check everything
    suspect = data.filter(~proven).select("chunk_key")
    if not suspect.limit(1).take(1):
        return None
    sub = rows.join(F.broadcast(suspect.distinct()), "chunk_key",
                    "left_semi")
    masks = manifest_df.filter(
        F.col("column").startswith(DELETES_PREFIX)
    ).join(F.broadcast(suspect.distinct()), "chunk_key", "left_semi")
    dec_schema = pa.schema([pa.field(phys, t, nullable=True)])
    dec = decode_table(sub.unionByName(masks, allowMissingColumns=True),
                       dec_schema)
    c = F.col(phys)
    if in_list:
        viol = ~c.isin([F.lit(v) for v in spec[1]]) & c.isNotNull()
    else:
        viol = ~c.between(F.lit(spec[1]), F.lit(spec[2])) & c.isNotNull()
    hit = dec.filter(viol).limit(1).take(1)
    return repr(hit[0][0]) if hit else None


def _enforce_constraints(spark, ckpt_dir: str, staged_path: str) -> None:
    """Raise if the staged append at ``staged_path`` violates any table
    constraint. The constraint-less table pays one sidecar read and
    nothing else — the universal fast path (the staged parquet is not
    even schema-inferred)."""
    cons = table_constraints(ckpt_dir)
    if not cons:
        return
    manifest_df = spark.read.parquet(staged_path)
    side = read_checkpoint_schema(ckpt_dir)
    rmap = _checkpoint_rename_map(ckpt_dir)
    defaults = _added_defaults(side)
    for name, rec in cons.items():
        bad = _constraint_violation(spark, manifest_df, rec, side, rmap,
                                    defaults)
        if bad is not None:
            raise ValueError(
                f"constraint {name!r} violated by this write: "
                f"{rec.get('col') or rec['spec'][0]!r} = {bad} — "
                "nothing was appended"
            )


def _enforce_constraints_rows(ckpt_dir: str, df) -> None:
    """Row-level constraint pre-check of a LOGICAL-name batch BEFORE a
    multi-append mutation (upsert / merge) lands anything: the staged
    manifest hook alone would fire after the mask sidecars landed,
    stranding masked rows without their replacements. Constraints on
    columns absent from the batch are the staged hook's job."""
    from pyspark.sql import functions as F

    cons = table_constraints(ckpt_dir)
    if not cons:
        return
    for name, rec in cons.items():
        col = rec["col"] if rec["kind"] == "not_null" else rec["spec"][0]
        if col not in df.columns:
            continue
        c = F.col(col)
        if rec["kind"] == "not_null":
            viol = c.isNull()
        elif isinstance(rec["spec"][1], list):
            viol = ~c.isin([F.lit(v) for v in rec["spec"][1]]) & c.isNotNull()
        else:
            viol = ~c.between(F.lit(rec["spec"][1]),
                              F.lit(rec["spec"][2])) & c.isNotNull()
        hit = df.filter(viol).select(col).limit(1).take(1)
        if hit:
            raise ValueError(
                f"constraint {name!r} violated by this write: "
                f"{col!r} = {hit[0][0]!r} — nothing was written"
            )


def add_constraint_checkpoint(spark, ckpt_dir: str, name: str,
                              check=None, not_null: str | None = None) -> int:
    """ADD CONSTRAINT (Delta's CHECK / NOT NULL) as a logged mutation:
    the constraint record rides the ``_table_schema`` sidecar's
    schema-level metadata, existing data is validated METADATA-FIRST
    (chunks whose value zone maps prove compliance are never decoded;
    only admit-failed chunks pay a one-column decode with deletion
    masks applied), and every subsequent append — plain append, upsert,
    merge, update, change-feed apply — re-validates its STAGED files
    against the constraint before a single byte lands (zone-proof
    first, decode of suspect chunks only: write-time enforcement whose
    cost is the batch, not the corpus). Exactly one of:

      ``not_null="col"`` — no live row may be NULL.
      ``check=(col, lo, hi)`` — every live value in [lo, hi]
      (numeric or string bounds, inclusive).
      ``check=(col, [v, ...])`` — every live value in the list.

    NULL values pass CHECK (SQL's UNKNOWN-passes semantics, Delta's
    behavior) — combine with ``not_null`` to refuse both. Dropping the
    constrained column is refused while the constraint lives; renaming
    it renames the constraint's target. Returns the commit seq."""
    import json

    _raise_if_pending(ckpt_dir, for_write=True)
    if (check is None) == (not_null is None):
        raise ValueError(
            "add_constraint: pass exactly one of check= / not_null=")
    if not _has_commit_log(ckpt_dir):
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _commits log — "
            "add_constraint is a logged mutation; persist via "
            "write_checkpoint first"
        )
    schema = read_checkpoint_schema(ckpt_dir)
    if schema is None:
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _table_schema sidecar "
            "— add_constraint rewrites it"
        )
    key = _CONSTRAINT_META_PREFIX + name.encode()
    if key in (schema.metadata or {}):
        raise ValueError(f"constraint {name!r} already exists")
    if not_null is not None:
        rec = {"kind": "not_null", "col": not_null}
    else:
        if not (isinstance(check, (tuple, list)) and len(check) in (2, 3)
                and isinstance(check[0], str)):
            raise ValueError(
                "check= takes (col, lo, hi) or (col, [v, ...])")
        if len(check) == 2 and not isinstance(check[1], list):
            raise ValueError(
                "check=(col, values) takes a LIST of allowed values; "
                "ranges are (col, lo, hi)")
        try:
            json.dumps(list(check))
        except TypeError:
            raise ValueError(
                "check= bounds must be JSON-representable (numbers, "
                "strings); temporal bounds are not supported yet"
            ) from None
        rec = {"kind": "check", "spec": list(check)}
    # validate EXISTING data before the constraint becomes law
    rmap = _checkpoint_rename_map(ckpt_dir)
    bad = _constraint_violation(
        spark, spark.read.parquet(ckpt_dir), rec, schema, rmap,
        _added_defaults(schema))
    if bad is not None:
        raise ValueError(
            f"add_constraint {name!r}: existing data violates it "
            f"({rec.get('col') or rec['spec'][0]!r} = {bad}) — nothing "
            "was added"
        )
    md = dict(schema.metadata or {})
    md[key] = json.dumps(rec).encode()
    before = _list_data_files(ckpt_dir)
    _begin_logged_mutation(ckpt_dir, "add_constraint", name, before)
    seq = None
    try:
        write_checkpoint_schema(
            ckpt_dir, pa.schema(list(schema), metadata=md))
        seq = _append_commit(ckpt_dir, "add_constraint",
                             f"{name}:{json.dumps(rec)}", [])
    finally:
        fsys, p = _manifest_fs(ckpt_dir)
        try:
            fsys.delete_file(f"{p.rstrip('/')}/{_MUTATION_PENDING}")
        except (OSError, ValueError):
            pass
    if seq is None:
        raise IOError(
            f"add_constraint {name!r} rewrote the _table_schema sidecar "
            f"of {ckpt_dir!r} but the commit record could not be "
            "written — enforcement is live, history is degraded; fix "
            "the storage and compact the checkpoint to re-baseline."
        )
    return seq


def drop_constraint_checkpoint(ckpt_dir: str, name: str) -> int:
    """DROP CONSTRAINT: removes the record from the sidecar metadata
    under a logged ``drop_constraint`` commit."""
    _raise_if_pending(ckpt_dir, for_write=True)
    schema = read_checkpoint_schema(ckpt_dir)
    key = _CONSTRAINT_META_PREFIX + name.encode()
    if schema is None or key not in (schema.metadata or {}):
        raise ValueError(f"constraint {name!r} does not exist")
    md = {k: v for k, v in schema.metadata.items() if k != key}
    before = _list_data_files(ckpt_dir)
    _begin_logged_mutation(ckpt_dir, "drop_constraint", name, before)
    seq = None
    try:
        write_checkpoint_schema(
            ckpt_dir, pa.schema(list(schema), metadata=md))
        seq = _append_commit(ckpt_dir, "drop_constraint", name, [])
    finally:
        fsys, p = _manifest_fs(ckpt_dir)
        try:
            fsys.delete_file(f"{p.rstrip('/')}/{_MUTATION_PENDING}")
        except (OSError, ValueError):
            pass
    if seq is None:
        raise IOError(
            f"drop_constraint {name!r} rewrote the sidecar of "
            f"{ckpt_dir!r} but the commit record could not be written — "
            "fix the storage and compact to re-baseline."
        )
    return seq


# ---------------------------------------------------------------------------
# shuffle-free decode of checkpointed manifests
# ---------------------------------------------------------------------------
#
# The default ``decode_table`` path regroups chunk rows with
# ``repartition(n, "chunk_key")`` — at 100 TB that moves every compressed
# byte through a shuffle just to bring each chunk's handful of rows back
# together. But a checkpointed manifest is ALREADY chunk-clustered on
# disk: the encoder emits each chunk's rows as one contiguous RecordBatch
# and each write task produces one parquet file, so within every manifest
# file the rows of a chunk are adjacent. ``decode_checkpoint`` exploits
# that layout: one task per manifest FILE, reading it sequentially with
# pyarrow (projection + zone-map filters pushed into the parquet read)
# and running the same streaming group-decode the shuffle path uses — the
# reference decoder's sequential no-shuffle page loop
# (src/decode.rs:52-66) lifted to the cluster, with zero data movement.
#
# Trust is VERIFIED, not assumed: a blob-free metadata pass (parquet
# column pruning keeps the blobs unread) checks that no chunk spans two
# files (torn layout, e.g. maxRecordsPerFile splitting a task's output)
# and no (chunk_key, column) duplicates exist (resumed/merged manifests).
# Ineligible checkpoints fall back to the shuffling ``decode_table``
# path, which handles both. The same metadata pass prunes FILES by the
# key range — a point lookup reads only the files holding matching
# chunks.


def _apply_restrict_chunks(mdf, restrict):
    """Apply a ``{file: [chunk_key, ...]}`` restriction map to a raw
    manifest frame as a broadcast semi-join on the chunk keys — the
    fallback-path carrier for ``decode_checkpoint(_restrict_chunks=…)``
    when the per-file list can't ride the clustered reader."""
    from pyspark.sql import functions as F

    if restrict is None:
        return mdf
    keys = sorted({k for ks in restrict.values() for k in (ks or [])})
    kdf = mdf.sparkSession.createDataFrame(
        [(k,) for k in keys], "chunk_key string")
    return mdf.join(F.broadcast(kdf), "chunk_key", "left_semi")


def _manifest_metadata(spark, ckpt_dir: str):
    from pyspark.sql import functions as F

    mdf = spark.read.parquet(ckpt_dir).filter(F.col("column") != DONE_COLUMN)
    cols = ["chunk_key", "column", "min_key", "max_key",
            "min_key_num", "max_key_num"]
    if "val_min" in mdf.columns:  # pre-zone-map checkpoints lack these
        cols += ["val_min", "val_max"]
    if "val_min_str" in mdf.columns:  # pre-round-4 checkpoints lack these
        cols += ["val_min_str", "val_max_str"]
    # pre-bloom checkpoints lack these; Spark's column pruning leaves
    # them unread unless a Bloom pass selects them
    cols += [c for c in ("key_bloom", "val_bloom") if c in mdf.columns]
    return mdf.select(*cols, F.input_file_name().alias("__file"))


def _checkpoint_is_clustered(mdf) -> bool:
    """True when every chunk lives in exactly one file with no duplicate
    (chunk_key, column) rows — the precondition for per-file decode."""
    from pyspark.sql import functions as F

    bad = (
        mdf.groupBy("chunk_key")
        .agg(
            F.countDistinct("__file").alias("nf"),
            F.count("*").alias("nrows"),
            F.countDistinct("column").alias("ncols"),
        )
        .filter((F.col("nf") > 1) | (F.col("nrows") > F.col("ncols")))
    )
    return bad.isEmpty()


_CLUSTERED_MARKER = "_clustered"


def _manifest_fs(ckpt_dir: str):
    from pyarrow import fs as pafs

    if "://" in ckpt_dir or ckpt_dir.startswith("file:"):
        return pafs.FileSystem.from_uri(ckpt_dir)
    return pafs.LocalFileSystem(), ckpt_dir


def _manifest_file_sig(ckpt_dir: str) -> tuple[int, int]:
    """(n_files, total_bytes) over the checkpoint's data files — a cheap
    driver-side freshness signature: any append/rewrite changes it."""
    from pyarrow import fs as pafs

    fsys, p = _manifest_fs(ckpt_dir)
    infos = fsys.get_file_info(pafs.FileSelector(p, recursive=False))
    files = [
        i for i in infos
        if i.type == pafs.FileType.File
        and not i.base_name.startswith(("_", "."))
    ]
    return len(files), sum(i.size for i in files)


def _clustered_marker_rec(ckpt_dir: str) -> dict | None:
    """The `_clustered` marker's record when it exists AND the data files
    have not changed since it was written (appends/rewrites invalidate
    it, so a resumed checkpoint re-verifies instead of skipping the
    gate); None otherwise. The record may carry ``has_deletes`` — a
    False lets hot readers skip the deletion-vector scan too."""
    import json

    try:
        # _manifest_fs stays INSIDE the try: a URI scheme pyarrow can't
        # resolve (s3a://, hdfs:// without libhdfs) raises ArrowInvalid
        # (a ValueError) — the marker is a pure optimization, so any
        # failure means "no cache", never a failed decode
        fsys, p = _manifest_fs(ckpt_dir)
        with fsys.open_input_stream(f"{p.rstrip('/')}/{_CLUSTERED_MARKER}") as f:
            rec = json.loads(f.read().decode())
        n, size = _manifest_file_sig(ckpt_dir)
    except (OSError, ValueError):
        return None
    if rec.get("n_files") == n and rec.get("total_bytes") == size:
        return rec
    return None


def _clustered_marker_ok(ckpt_dir: str) -> bool:
    return _clustered_marker_rec(ckpt_dir) is not None


_TABLE_SCHEMA_SIDECAR = "_table_schema"


def write_checkpoint(manifest_df, ckpt_dir: str, schema=None,
                     mode: str = "error") -> str:
    """Persist a manifest with its table schema: writes the manifest
    parquet plus a ``_table_schema`` sidecar (the serialized Arrow
    schema), making the checkpoint SELF-DESCRIBING — ``decode_checkpoint``
    and re-encoding compaction then need no schema argument, the way the
    reference's container is readable from its own footer
    (src/lib.rs:52-73, decode needs only the blob). ``schema`` accepts a
    Spark StructType or Arrow schema; defaults to none (plain write).
    ``mode`` passes through to the parquet writer ("error"/"append"/
    "overwrite"); the sidecar is (re)written after the data so an
    appended layout keeps its schema.

    Also starts (or extends) the checkpoint's COMMIT LOG (``_commits/``
    sidecar dir): every ``write_checkpoint`` / ``delete_keys_checkpoint``
    / ``upsert_checkpoint`` records which data files it added, giving
    the checkpoint snapshot TIME TRAVEL — ``decode_checkpoint(...,
    as_of=seq)`` reads the table exactly as commit ``seq`` left it
    (the Delta/Iceberg snapshot idea on this format: mutations only
    ever APPEND files, so a snapshot is precisely a file subset)."""
    if mode == "append":
        # a logged mutation in flight would lose this append: an
        # in-place optimize's swap vacuums files its compact never saw,
        # and a crashed delete/upsert window is reconciled by a listing
        # diff that would claim these files into ITS commit
        _raise_if_pending(ckpt_dir, for_write=True)
        rmap = _checkpoint_rename_map(ckpt_dir)
        if rmap:
            # renamed destination: freshly encoded manifests carry the
            # caller's LOGICAL names — land them under the physical
            # ones, and keep the mapping sidecar (a caller-passed
            # schema would overwrite the field metadata)
            manifest_df = _translate_manifest_columns(manifest_df, rmap)
            schema = None
        else:
            side = read_checkpoint_schema(ckpt_dir)
            if side is not None and _added_defaults(side):
                # metadata-added columns live ONLY in the sidecar's
                # field metadata — a caller-passed schema on append
                # would strip the default markers and break decode of
                # pre-add chunks
                schema = None
        before = _list_data_files(ckpt_dir)
        added = _staged_append(manifest_df, ckpt_dir)
        if schema is not None:
            write_checkpoint_schema(ckpt_dir, schema)
        if before and not _has_commit_log(ckpt_dir):
            # appending onto an UNLOGGED checkpoint (plain
            # df.write.parquet): seed the log with the pre-append state
            # first, else commit 0 would list only the appended files
            # and every time-travel read would silently drop the base
            # table
            _append_commit(ckpt_dir, "create", "", before)
        _append_commit(ckpt_dir, "append", "", added)
        return ckpt_dir
    manifest_df.write.mode(mode).parquet(ckpt_dir)
    if schema is not None:
        write_checkpoint_schema(ckpt_dir, schema)
    _append_commit(ckpt_dir, "create", "", _list_data_files(ckpt_dir))
    return ckpt_dir


def _staged_append(manifest_df, ckpt_dir: str) -> list[str]:
    """Append ``manifest_df``'s parquet files into ``ckpt_dir`` with
    EXACT file attribution: write to a writer-unique ``_staging_*``
    subdir (sidecar-prefixed — invisible to every data listing), then
    move each part file into the checkpoint root and return precisely
    those base names. A listing diff would credit a concurrent
    appender's files to this writer's commit and corrupt time-travel
    attribution; the staged move cannot (part names carry a job-unique
    UUID, so the moves collide with nothing). Returns the sorted base
    names that landed."""
    import uuid

    from pyarrow import fs as pafs

    stage_name = f"_staging_{uuid.uuid4().hex}"
    manifest_df.write.parquet(f"{ckpt_dir.rstrip('/')}/{stage_name}")
    fsys, p = _manifest_fs(ckpt_dir)
    root = p.rstrip("/")
    sdir = f"{root}/{stage_name}"
    try:
        # write-time constraint enforcement over the STAGED files (one
        # sidecar read when the table has no constraints): violations
        # raise before a single file moves into the readable root
        _enforce_constraints(
            manifest_df.sparkSession, ckpt_dir,
            f"{ckpt_dir.rstrip('/')}/{stage_name}")
    except Exception:
        try:
            fsys.delete_dir(sdir)
        except (OSError, ValueError):
            pass
        raise
    infos = fsys.get_file_info(pafs.FileSelector(sdir, recursive=False))
    added = []
    for i in infos:
        if i.type != pafs.FileType.File or i.base_name.startswith(("_", ".")):
            continue
        fsys.move(i.path, f"{root}/{i.base_name}")
        added.append(i.base_name)
    fsys.delete_dir(sdir)
    return sorted(added)


_COMMITS_DIR = "_commits"


def _list_data_files(ckpt_dir: str) -> list[str]:
    """Sorted base names of the checkpoint's data files (sidecar files
    and dirs — ``_*``/``.*`` — excluded), or [] when the dir does not
    exist yet."""
    from pyarrow import fs as pafs

    try:
        fsys, p = _manifest_fs(ckpt_dir)
        infos = fsys.get_file_info(pafs.FileSelector(p, recursive=False))
    except (OSError, ValueError):
        return []
    return sorted(
        i.base_name for i in infos
        if i.type == pafs.FileType.File
        and not i.base_name.startswith(("_", "."))
    )


def _commit_log_seqs(ckpt_dir: str) -> list[int]:
    """Commit seqs derived from the ``_commits/`` FILE LISTING alone
    (names are zero-padded ``{seq:06d}.json``) — no file contents read,
    so existence checks and next-seq computation cost one listing, not
    one GET per commit. [] when the dir carries no log."""
    from pyarrow import fs as pafs

    try:
        fsys, p = _manifest_fs(ckpt_dir)
        cdir = f"{p.rstrip('/')}/{_COMMITS_DIR}"
        infos = fsys.get_file_info(pafs.FileSelector(cdir, recursive=False))
    except (OSError, ValueError):
        return []
    seqs: set[int] = set()
    for i in infos:
        if i.type != pafs.FileType.File or not i.base_name.endswith(".json"):
            continue
        stem = i.base_name[:-5]
        if stem.isdigit():
            seqs.add(int(stem))
        elif stem.startswith(_ROLLUP_PREFIX):
            tail = stem[len(_ROLLUP_PREFIX):]
            if tail.isdigit():
                # a rollup bundles ALL records 0..N (contiguity checked
                # at write); its pruned per-commit files still count
                seqs.update(range(0, int(tail) + 1))
    return sorted(seqs)


def _has_commit_log(ckpt_dir: str) -> bool:
    return bool(_commit_log_seqs(ckpt_dir))


_ROLLUP_PREFIX = "rollup-"


def read_commit_log(ckpt_dir: str) -> list[dict] | None:
    """The checkpoint's commit records sorted by ``seq`` (each:
    ``{"seq", "action", "generation", "files"}``), or None when the
    checkpoint carries no ``_commits/`` log (written by paths other
    than write_checkpoint, or predating it). When a ``rollup-NNNNNN``
    file exists (``rollup_commit_log``) the 0..N prefix is read from
    it in ONE get and per-commit files at or below it are never
    opened. A record that fails to
    parse raises a NAMED error rather than an opaque JSONDecodeError —
    commits are written via temp+rename so torn files cannot appear on
    rename-atomic filesystems; an unparseable record means external
    damage, and skipping it silently would misrepresent every snapshot
    from that seq on.

    A file listed but GONE by the time it is opened means a concurrent
    ``rollup_commit_log(prune=True)`` swept it between this reader's
    listing and its gets — the records now live in a rollup the stale
    listing never saw, so the read retries from a fresh listing instead
    of surfacing a raw FileNotFoundError. An apparent GAP is retried the
    same way (a listing that straddles the rollup rename and the prune
    deletes can miss both the rollup and the pruned singles); only a gap
    stable across fresh listings is reported as real damage."""
    gap: Exception | None = None
    for _ in range(3):
        try:
            return _read_commit_log_once(ckpt_dir)
        except _CommitLogGap as e:
            gap = e
            continue
        except FileNotFoundError:
            gap = None
            continue
    if gap is not None:
        raise gap
    raise IOError(
        f"commit log of {ckpt_dir!r} kept changing under the reader "
        "(listed records vanished on 3 consecutive attempts) — a "
        "rollup/prune loop is racing this read; retry."
    )


class _CommitLogGap(IOError):
    """A commit-log listing with missing seqs — real damage only when
    it survives re-listing (see read_commit_log's retry rationale)."""


def _read_commit_log_once(ckpt_dir: str) -> list[dict] | None:
    import json

    from pyarrow import fs as pafs

    try:
        fsys, p = _manifest_fs(ckpt_dir)
        cdir = f"{p.rstrip('/')}/{_COMMITS_DIR}"
        infos = fsys.get_file_info(pafs.FileSelector(cdir, recursive=False))
    except FileNotFoundError:
        return None
    except (OSError, ValueError):
        return None
    singles: list[tuple[int, str]] = []
    rollups: list[tuple[int, str]] = []
    for i in infos:
        if i.type != pafs.FileType.File or not i.base_name.endswith(".json"):
            continue
        stem = i.base_name[:-5]
        if stem.isdigit():
            singles.append((int(stem), i.path))
        elif stem.startswith(_ROLLUP_PREFIX) \
                and stem[len(_ROLLUP_PREFIX):].isdigit():
            rollups.append((int(stem[len(_ROLLUP_PREFIX):]), i.path))

    def read_json(path):
        with fsys.open_input_stream(path) as f:
            raw = f.read().decode()
        try:
            return json.loads(raw)
        except ValueError as e:
            raise IOError(
                f"commit record {path!r} is unreadable ({e}) — the "
                "commit log is damaged. Repair: restore the file, or "
                "compact/optimize the checkpoint to re-baseline history."
            ) from e

    recs = []
    base = -1
    if rollups:
        # read the newest rollup (ONE get for its whole 0..N prefix) and
        # only the per-commit records above it — per-commit files at or
        # below the rollup are redundant copies (possibly already
        # pruned) and are never opened, which also makes a concurrent
        # prune invisible to readers
        base, rpath = max(rollups)
        recs = read_json(rpath)["records"]
    for seq, path in sorted(singles):
        if seq > base:
            recs.append(read_json(path))
    recs.sort(key=lambda r: r["seq"])
    if recs:
        seqs = [r["seq"] for r in recs]
        expect = list(range(seqs[0], seqs[0] + len(seqs)))
        if seqs != expect or seqs[0] != 0:
            # a GAP means a commit record was externally deleted: every
            # snapshot from the gap on would silently lose that commit's
            # files — refuse instead of misrepresenting history
            raise _CommitLogGap(
                f"commit log of {ckpt_dir!r} is gapped or rebased "
                f"(seqs {seqs}): a commit record is missing — restore "
                "it, or compact the checkpoint to re-baseline history."
            )
    return recs or None


def rollup_commit_log(ckpt_dir: str, prune: bool = True) -> int:
    """Bundle the commit log into ONE rollup file (Delta's log-
    checkpoint idea): afterwards ``read_commit_log`` costs one GET for
    the rolled 0..head prefix plus one per newer commit, instead of
    one GET per commit since the table was created — at 10^5 mutations
    on an object store that is the difference between a milliseconds
    and a minutes metadata read before EVERY decode/time-travel/CDF
    call. The rollup carries verbatim copies of the records, so
    history semantics are unchanged; with ``prune`` (default) the
    per-commit files at or below the rollup and older rollups are
    deleted, keeping the ``_commits/`` listing O(commits since last
    rollup).

    Concurrent-writer safe: the rollup covers only already-committed
    seqs, a racing ``_append_commit`` claims above the head (rollup
    names count toward seq derivation), and readers never open pruned
    files — they skip per-commit records at or below the newest
    rollup, so a prune racing a read is invisible. Run it from the
    same cadence as compaction (every N mutations)."""
    import json

    log = read_commit_log(ckpt_dir)  # validates contiguity from 0
    if log is None:
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _commits log — "
            "nothing to roll up"
        )
    import uuid

    head = log[-1]["seq"]
    fsys, p = _manifest_fs(ckpt_dir)
    cdir = f"{p.rstrip('/')}/{_COMMITS_DIR}"
    path = f"{cdir}/{_ROLLUP_PREFIX}{head:06d}.json"
    # writer-UNIQUE tmp: two concurrent rollups at the same head sharing
    # one tmp path could publish the other's half-written prefix (the
    # first mover renames while the second is still writing) — a torn
    # rollup that every later read reports as damage
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with fsys.open_output_stream(tmp) as f:
        f.write(json.dumps({"seq": head, "records": log}).encode())
    fsys.move(tmp, path)  # atomic on rename-atomic stores; idempotent
    # (concurrent same-head rollups race the rename; both publish
    # byte-identical content, so last-wins is harmless)
    if prune:
        from pyarrow import fs as pafs

        infos = fsys.get_file_info(pafs.FileSelector(cdir,
                                                     recursive=False))
        for i in infos:
            if i.type != pafs.FileType.File \
                    or not i.base_name.endswith(".json"):
                continue
            stem = i.base_name[:-5]
            doomed = (stem.isdigit() and int(stem) <= head) or (
                stem.startswith(_ROLLUP_PREFIX)
                and stem[len(_ROLLUP_PREFIX):].isdigit()
                and int(stem[len(_ROLLUP_PREFIX):]) < head)
            if doomed:
                try:
                    fsys.delete_file(i.path)
                except (OSError, ValueError):
                    pass
    return head


def vacuum_orphans(ckpt_dir: str, older_than_seconds: float = 86400.0
                   ) -> list[str]:
    """Delete the TRANSIENT artifacts crashed writers leave behind —
    never data, markers, or commit records. Targets: writer-unique
    ``_staging_*`` dirs (a ``_staged_append`` that died mid-write),
    the ``_staging_optimize`` dir when NO optimize owns it (no
    ``_optimize_pending`` and no optimize-action mutation marker —
    the finish paths own it otherwise), and ``*.tmp`` files from
    interrupted atomic publishes (checkpoint root and ``_commits/``).
    Everything is AGE-GATED by ``older_than_seconds`` (default 24 h)
    so a live writer's in-flight stage is never swept; run it on the
    compaction cadence. All listed artifacts are invisible to every
    read path (sidecar-prefixed / tmp-suffixed), so vacuuming them is
    always safe for readers. Returns the deleted paths."""
    import time

    from pyarrow import fs as pafs

    fsys, p = _manifest_fs(ckpt_dir)
    p = p.rstrip("/")
    now = time.time()

    def old_enough(info) -> bool:
        mt = info.mtime
        if mt is None:
            return False
        ts = mt.timestamp() if hasattr(mt, "timestamp") else float(mt)
        return (now - ts) >= older_than_seconds

    rec = _read_mutation_pending(ckpt_dir)
    optimize_owns_stage = (
        _read_optimize_pending(ckpt_dir) is not None
        or (rec is not None and rec.get("action") == "optimize")
    )
    deleted: list[str] = []

    def sweep_tmp_files(dirpath: str) -> None:
        try:
            infos = fsys.get_file_info(
                pafs.FileSelector(dirpath, recursive=False))
        except (OSError, ValueError):
            return
        for i in infos:
            if (i.type == pafs.FileType.File
                    and i.base_name.endswith(".tmp") and old_enough(i)):
                try:
                    fsys.delete_file(i.path)
                    deleted.append(i.path)
                except (OSError, ValueError):
                    pass

    try:
        infos = fsys.get_file_info(pafs.FileSelector(p, recursive=False))
    except (OSError, ValueError):
        return deleted
    for i in infos:
        if i.type != pafs.FileType.Directory:
            continue
        name = i.base_name
        if name == _OPTIMIZE_STAGING:
            if not optimize_owns_stage and old_enough(i):
                try:
                    fsys.delete_dir(i.path)
                    deleted.append(i.path)
                except (OSError, ValueError):
                    pass
        elif name.startswith("_staging_") and old_enough(i):
            try:
                fsys.delete_dir(i.path)
                deleted.append(i.path)
            except (OSError, ValueError):
                pass
    sweep_tmp_files(p)
    sweep_tmp_files(f"{p}/{_COMMITS_DIR}")
    return deleted


# Pluggable commit-coordination seam for object stores without an
# atomic create-if-absent (the Delta-on-S3 caveat): a registered
# provider serializes _publish_exclusive's check-then-move per target
# name, restoring one-winner semantics on any filesystem. None (the
# default) keeps the built-in behavior: hard-link publish on local
# filesystems (atomic), temp+rename without exclusivity elsewhere.
_LOCK_PROVIDER = None


class InProcessLockProvider:
    """Reference ``LockProvider``: one threading.Lock per target name.
    Correct for writers sharing ONE driver process (tests, single-app
    pipelines); a real deployment on S3 plugs a DynamoDB/ZooKeeper/
    database lock here instead — the contract is only
    ``lock(name) -> context manager`` held across the existence check
    and the rename."""

    def __init__(self):
        import threading

        self._threading = threading
        self._guard = threading.Lock()
        self._locks: dict = {}

    def lock(self, name: str):
        with self._guard:
            lk = self._locks.setdefault(name, self._threading.Lock())
        from contextlib import contextmanager

        @contextmanager
        def _held():
            with lk:
                yield

        return _held()


def set_lock_provider(provider) -> None:
    """Register (or clear, with None) the commit-lock provider —
    an object exposing ``lock(name: str)`` returning a context manager
    that serializes publication of that name across ALL writers. Only
    consulted where the filesystem lacks atomic create-if-absent; the
    local hard-link path never needs it."""
    global _LOCK_PROVIDER
    _LOCK_PROVIDER = provider


def _publish_exclusive(fsys, path: str, payload: bytes) -> bool:
    """Atomically create ``path`` holding exactly ``payload`` IFF it
    does not already exist. Local filesystem: write a writer-unique tmp
    then hard-LINK it into place — link(2) fails when the target
    exists, so two racing writers cannot both claim the name, and a
    crash at any point leaves either nothing or the complete file,
    never a torn target. Returns False when the target already exists
    (caller lost the race). Non-local filesystems: with a registered
    ``set_lock_provider`` the check-then-move runs under the provider's
    per-name lock (one winner again); without one they fall back to
    temp+rename WITHOUT exclusivity — object stores lack an atomic
    create-if-absent, so multi-writer coordination there needs the
    external lock service (the same caveat Delta Lake documents for
    S3)."""
    import uuid

    from pyarrow import fs as pafs

    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    if not isinstance(fsys, pafs.LocalFileSystem) \
            and _LOCK_PROVIDER is not None:
        with _LOCK_PROVIDER.lock(path):
            if fsys.get_file_info(path).type != pafs.FileType.NotFound:
                return False
            with fsys.open_output_stream(tmp) as f:
                f.write(payload)
            fsys.move(tmp, path)
            return True
    if isinstance(fsys, pafs.LocalFileSystem):
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        return True
    with fsys.open_output_stream(tmp) as f:
        f.write(payload)
    fsys.move(tmp, path)
    return True


def _append_commit(ckpt_dir: str, action: str, generation: str,
                   files: list[str]) -> int | None:
    """Record one commit. The seq is CLAIMED optimistically: list the
    log, take next seq, publish ``{seq:06d}.json`` via exclusive create
    (``_publish_exclusive``) — a concurrent writer that claimed the
    same seq first makes the publish fail, and this writer relists and
    retries with the next number. On rename-atomic local filesystems
    this makes commit records safe under concurrent writers (the
    mutation marker serializes multi-step delete/upsert windows; plain
    appends interleave freely since each commit lists only its own
    files). Returns the new seq, or None when the log could not be
    written (read-only dir: the log is an opt-in feature, never a
    failed write).

    Rollup-shadow guard: a claim listing that straddles a concurrent
    ``rollup_commit_log(prune=True)`` can miss BOTH the fresh rollup
    and the singles it pruned, so the exclusive create would succeed
    on a PRUNED seq — and the record would be invisible forever
    (readers skip singles at or below the newest rollup). The rollup
    necessarily existed before that create could succeed, so a listing
    taken strictly AFTER publish is guaranteed to show it: verify, and
    retract + re-claim when shadowed."""
    import json

    from pyarrow import fs as pafs

    try:
        fsys, p = _manifest_fs(ckpt_dir)
        cdir = f"{p.rstrip('/')}/{_COMMITS_DIR}"
        try:
            fsys.create_dir(cdir, recursive=True)
        except (OSError, ValueError):
            pass
        for _ in range(64):
            seqs = _commit_log_seqs(ckpt_dir)
            seq = (seqs[-1] + 1) if seqs else 0
            rec = {"seq": seq, "action": action, "generation": generation,
                   "files": sorted(files)}
            if _publish_exclusive(fsys, f"{cdir}/{seq:06d}.json",
                                  json.dumps(rec).encode()):
                # the record is PUBLISHED from here on: a failure in
                # the shadow verification below must never surface as
                # "log not written" (the outer except's None) — the
                # caller would retry and commit TWICE. The listing can
                # race a concurrent rollup prune's deletes (entries
                # vanishing mid-listing raise), so retry it; if it
                # never settles, raise the ambiguity loudly.
                for _try in range(8):
                    try:
                        infos = fsys.get_file_info(
                            pafs.FileSelector(cdir, recursive=False))
                        break
                    except (OSError, ValueError):
                        continue
                else:
                    raise RuntimeError(
                        f"commit {seq} of {cdir!r} is published but the "
                        "rollup-shadow verification listing failed "
                        "repeatedly — cannot certify visibility "
                        "(concurrent prune storm?); the record exists, "
                        "do NOT blindly retry this append"
                    )
                shadow = -1
                for i in infos:
                    if i.type != pafs.FileType.File \
                            or not i.base_name.endswith(".json"):
                        continue
                    stem = i.base_name[:-5]
                    if stem.startswith(_ROLLUP_PREFIX) \
                            and stem[len(_ROLLUP_PREFIX):].isdigit():
                        shadow = max(shadow,
                                     int(stem[len(_ROLLUP_PREFIX):]))
                if seq > shadow:
                    return seq
                # claimed a pruned seq off a stale listing — retract
                # (readers racing this delete retry per read_commit_log)
                try:
                    fsys.delete_file(f"{cdir}/{seq:06d}.json")
                except (OSError, ValueError):
                    pass
        raise RuntimeError(
            f"could not claim a commit seq in {cdir!r} after 64 attempts "
            "— pathological write contention on one checkpoint"
        )
    except (OSError, ValueError):
        return None


def _files_as_of(ckpt_dir: str, as_of: int) -> list[str]:
    """Data-file base names visible at commit ``as_of`` (inclusive)."""
    log = read_commit_log(ckpt_dir)
    if log is None:
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _commits log — time "
            "travel needs checkpoints written via write_checkpoint / "
            "delete_keys_checkpoint / upsert_checkpoint (a plain "
            "df.write.parquet records no history)"
        )
    seqs = [r["seq"] for r in log]
    if as_of not in seqs:
        raise ValueError(
            f"as_of={as_of} is not a commit of {ckpt_dir!r} "
            f"(history: {seqs})"
        )
    out: set[str] = set()
    vacuum_seq = None
    for r in log:
        if r["seq"] <= as_of:
            if r["action"] in ("replace", "restore"):
                # an in-place optimize/restore SET the file set wholesale
                out = set(r["files"])
            else:
                out.update(r["files"])
        elif r["action"] == "replace" and vacuum_seq is None:
            vacuum_seq = r["seq"]
        elif r["action"] == "restore" and int(r["generation"]) < as_of:
            # this later restore DELETED the files of every commit in
            # (restored_to, restore_seq) — the requested snapshot sits
            # inside that window and is physically gone
            raise ValueError(
                f"snapshot as_of={as_of} of {ckpt_dir!r} was rolled "
                f"back: restore_checkpoint at commit {r['seq']} "
                f"restored the table to commit {r['generation']} and "
                "deleted the later files — only snapshots <= "
                f"{r['generation']} or >= {r['seq']} remain readable"
            )
    if vacuum_seq is not None:
        raise ValueError(
            f"snapshot as_of={as_of} of {ckpt_dir!r} was VACUUMED: the "
            f"in-place optimize_checkpoint at commit {vacuum_seq} "
            "replaced the file set and deleted the pre-optimize files — "
            f"only commits >= {vacuum_seq} remain readable (compact to "
            "a NEW dir instead of optimizing in place to keep history)"
        )
    return sorted(out)


def _commit_has_rows(ckpt_dir: str, files: list[str], df,
                     want_data: bool, _max_files: int = 64) -> bool:
    """Does one commit's file set carry data rows (``want_data``) or
    deletion-vector sidecar rows (``not want_data``)? Answered DRIVER-
    SIDE from the files' ``column`` name column alone (blobs never
    load, early exit on first hit) — a change-feed read over a window
    of K commits previously paid 2K ``limit(1).count()`` Spark jobs
    for these presence probes, pure fixed overhead at any scale. Falls
    back to the distributed probe (``df.limit(1).count()``) past
    ``_max_files`` files, where a serial driver loop would be the
    slower path."""
    if len(files) > _max_files:
        return bool(df.limit(1).count())
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    fsys, p = _manifest_fs(ckpt_dir)
    root = p.rstrip("/")
    for b in files:
        try:
            col = pq.read_table(f"{root}/{b}", columns=["column"],
                                filesystem=fsys).column("column")
        except (OSError, ValueError, KeyError):
            return bool(df.limit(1).count())
        is_side = pc.starts_with(col, DELETES_PREFIX)
        if want_data:
            hit = pc.any(pc.and_(pc.invert(is_side),
                                 pc.not_equal(col, DONE_COLUMN)))
        else:
            hit = pc.any(is_side)
        if hit.as_py() or False:
            return True
    return False


def _sidecar_positions(side_df):
    """Explode deletion-vector sidecar manifest rows into
    ``(chunk_key, pos)`` — one row per masked position, decoded from
    the varint blobs executor-side (mapInArrow; volume is bounded by
    the mutation that wrote the sidecars, never the table)."""

    def fn(batches):
        sch = pa.schema([("chunk_key", pa.string()), ("pos", pa.int64())])
        for b in batches:
            cks = b.column("chunk_key").to_pylist()
            blobs = b.column("blob")
            for i in range(b.num_rows):
                pos = _decode_positions(blobs[i].as_py())
                if len(pos):
                    yield pa.RecordBatch.from_arrays(
                        [pa.array([cks[i]] * len(pos), pa.string()),
                         pa.array(pos, pa.int64())], schema=sch)

    return side_df.select("chunk_key", "blob").mapInArrow(
        fn, schema="chunk_key string, pos long")


def read_changes(spark, ckpt_dir: str, since: int, until: int | None = None,
                 key_col: str | None = None, out_schema=None):
    """Change data feed over a logged checkpoint: every row the commits
    in ``(since, until]`` inserted, plus one ``delete`` row per key
    those commits removed (payload columns NULL, the key column set).

    The incremental-consumption primitive for a 100 TB pipeline: a
    downstream job that synced at commit ``since`` re-reads ONLY the
    change set — work proportional to the mutation, not the corpus.
    Output = table columns + ``_change_type`` ('insert' | 'delete') +
    ``_commit_seq``. An upsert appears as delete + insert of the same
    key (Delta-CDF's update pre/post-image collapsed to the format's
    physical model: mask sidecars + one appended generation).

    Deleted keys come from a PER-COMMIT MASK DIFF of only the masked
    chunks: ONE decode of their key sub-column under the previous
    commit's masks, labeled with physical row addresses, joined
    against the commit's own (mutation-sized) sidecar positions — a
    key died here iff every alive address is newly masked. Re-deleting
    an already-dead key emits nothing, exactly like Delta, and the
    work is O(masked chunks) decode + O(mutation) join, not O(table).
    ``key_col`` is required only when the range contains delete/upsert
    commits.

    A ``replace`` commit (in-place ``optimize_checkpoint``) rewrites
    the current snapshot content-identically, so it contributes ZERO
    logical changes — but it also vacuums every pre-optimize file. A
    window whose mutations all come AFTER its last replace is therefore
    fully readable (the replace is skipped); a mutation BEFORE the
    replace raises, because its files are gone and the window is no
    longer row-attributable — resync from the replace snapshot.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

    # composite-keyed tables: the mask diff decodes the '#ck:'
    # sub-column's canonical strings and the delete rows split them
    # back into the PART columns (the encoding is invertible — see
    # _split_composite_cols)
    key_col, _, ck_parts = _composite_args(key_col)
    _raise_if_pending(ckpt_dir)
    log = read_commit_log(ckpt_dir)
    if log is None:
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _commits log — the "
            "change feed needs checkpoints written via write_checkpoint"
        )
    seqs = [r["seq"] for r in log]
    if until is None:
        until = seqs[-1]
    if since != -1 and since not in seqs:
        raise ValueError(f"since={since} is not a commit (history: {seqs})")
    if until not in seqs:
        raise ValueError(f"until={until} is not a commit (history: {seqs})")
    window = [r for r in log if since < r["seq"] <= until]
    restores = [r["seq"] for r in window if r["action"] == "restore"]
    if restores:
        raise ValueError(
            f"commit {max(restores)} of {ckpt_dir!r} is a "
            "restore_checkpoint rollback — per-commit change "
            "attribution does not survive a rollback (the rolled-back "
            "commits' files are deleted); resync the consumer from "
            f"as_of={max(restores)} instead"
        )
    clones = [r["seq"] for r in window if r["action"] == "clone"]
    if clones:
        raise ValueError(
            f"commit {max(clones)} of {ckpt_dir!r} is a clone SNAPSHOT "
            "— its file set may carry the source's mask sidecars and "
            "superseded upsert generations, so decoding it as an "
            "insert set would mis-attribute rows; materialize the "
            f"consumer from as_of={max(clones)} and sync from there"
        )
    replaces = [r["seq"] for r in window if r["action"] == "replace"]
    if replaces:
        # an in-place optimize rewrites the current snapshot content-
        # identically (zero logical changes) but vacuums every
        # pre-optimize file: mutations before the last replace in the
        # window are no longer row-attributable
        barrier = max(replaces)
        lost = [r["seq"] for r in window
                if r["seq"] < barrier and r["action"] != "replace"]
        if lost:
            raise ValueError(
                f"commits {lost} of {ckpt_dir!r} precede the in-place "
                f"optimize at commit {barrier} (a 'replace' — its "
                "vacuum deleted their files), so the window is not "
                f"row-attributable — resync from as_of={barrier} instead"
            )
        window = [r for r in window if r["action"] != "replace"]

    if out_schema is None:
        out_schema = read_checkpoint_schema(ckpt_dir)
        if out_schema is None:
            raise ValueError(
                f"checkpoint {ckpt_dir!r} carries no _table_schema "
                "sidecar — pass out_schema="
            )
    if not isinstance(out_schema, pa.Schema):
        out_schema = to_arrow_schema(out_schema)
    # renamed checkpoint: the manifests speak PHYSICAL names — decode
    # under them and relabel the finished feed to the logical names
    # (the feed, like every read, shows current names for all commits)
    rmap = _checkpoint_rename_map(ckpt_dir)
    if rmap and ck_parts:
        raise ValueError(
            "composite-key change feed on a RENAMED checkpoint is "
            "unsupported — compact_checkpoint to materialize the "
            "renames first"
        )
    logical_names = [f.name for f in out_schema] + \
        ["_change_type", "_commit_seq"]
    out_schema = _physical_schema(out_schema, rmap)
    key_col = rmap.get(key_col, key_col) if key_col is not None else None

    def relabel(df):
        return df.toDF(*logical_names) if rmap else df

    spark_schema = from_arrow_schema(out_schema, prefer_timestamp_ntz=True)
    base = ckpt_dir.rstrip("/")

    def empty_feed():
        return spark.createDataFrame([], spark_schema).withColumns({
            "_change_type": F.lit("").cast("string"),
            "_commit_seq": F.lit(0).cast("long"),
        }).limit(0)

    def tag(df, change_type, seq):
        return df.withColumns({
            "_change_type": F.lit(change_type),
            "_commit_seq": F.lit(seq).cast("long"),
        })

    key_schema = None
    if ck_parts:
        # the composite key sub-column is stored, not a table column
        key_schema = from_arrow_schema(
            pa.schema([pa.field(key_col, pa.string())]),
            prefer_timestamp_ntz=True)
    elif key_col is not None:
        key_schema = from_arrow_schema(
            pa.schema([out_schema.field(key_col)]),
            prefer_timestamp_ntz=True)

    pieces = []
    for r in window:
        paths = [f"{base}/{b}" for b in r["files"]]
        if not paths:
            continue
        cm = spark.read.parquet(*paths)
        data = cm.filter(
            (F.col("column") != DONE_COLUMN)
            & ~F.col("column").startswith(DELETES_PREFIX))
        side = cm.filter(F.col("column").startswith(DELETES_PREFIX))
        if r["action"] in ("create", "append", "upsert", "merge",
                           "compact"):
            # the commit's own files are a complete manifest for the
            # rows it inserted (one encode_table output). A 'compact'
            # seed commit (compact_checkpoint's fresh-history seq 0)
            # also qualifies: its file set decodes to exactly the
            # compacted snapshot — any carried-over mask sidecars
            # reference chunk_keys WITHIN the same set, so the own_side
            # union below applies them (a clone snapshot stays refused
            # above — conservative, since its set mirrors a foreign
            # dir's history rather than a compaction's certified
            # output). Skipping compact silently emitted NOTHING for
            # since=-1 reads of a compact-seeded table (review finding,
            # round 4). The decode
            # KEEPS the sidecars that mask the commit's OWN chunks: a
            # create/append whose manifest carries deletion vectors
            # (write_checkpoint of a delete_keys result, the seeded
            # create over a masked unlogged dir) must not emit its
            # masked rows as inserts (review finding, round 4). An
            # upsert's sidecars mask OLD generations' chunks — absent
            # from its own file set — so they are dropped here (decode
            # refuses orphaned sidecars); the snapshot diff below
            # attributes those deletes.
            own_side = side.join(
                data.select("chunk_key").distinct(), "chunk_key",
                "left_semi")
            if _commit_has_rows(ckpt_dir, r["files"], data, want_data=True):
                pieces.append(tag(
                    decode_table(data.unionByName(own_side), out_schema),
                    "insert", r["seq"]))
        if not _commit_has_rows(ckpt_dir, r["files"], side, want_data=False):
            continue
        hit = side.select("chunk_key").distinct()
        prevs = [s for s in seqs if s < r["seq"]]
        if not prevs:
            # first commit: its masks can only cover its own rows
            # (already excluded from the insert decode above) — nothing
            # was visible before it, so it deletes nothing
            continue
        if key_col is None:
            raise ValueError(
                f"commit {r['seq']} deletes rows — pass key_col= so the "
                "feed can name the deleted keys"
            )
        # one-decode mask diff over ONLY the masked chunks: decode the
        # key rows as of the PREVIOUS commit (its masks applied) labeled
        # with physical row addresses (__row_chunk, __row_pos), then a
        # key died here iff EVERY alive address is named by this
        # commit's OWN sidecars (mutation-sized). Equivalent to the
        # two-snapshot key diff — within the hit chunks, this commit
        # changes nothing but its sidecars (upsert generations land
        # under fresh chunk_keys) — at half the decode volume and one
        # fewer manifest shuffle. The chunk restriction stays a
        # broadcast semi-join (bounded by the mutation, never an
        # expression literal); re-deleting a dead key emits nothing
        # (already masked before => not in the alive decode).
        prev_seq = max(prevs)
        before = _files_as_of(ckpt_dir, prev_seq)
        bm = spark.read.parquet(*[f"{base}/{b}" for b in before])
        phys = ([key_col] if ck_parts else
                _phys_sub_names(key_col, out_schema.field(key_col).type))
        bm = bm.filter(
            F.col("column").isin(phys)
            | F.col("column").startswith(DELETES_PREFIX)
        ).join(F.broadcast(hit), "chunk_key", "left_semi")
        alive_before = decode_table(bm, key_schema, _emit_rowmeta=True)
        newm = (_sidecar_positions(side)
                .withColumnsRenamed({"chunk_key": ROW_CHUNK_COL,
                                     "pos": ROW_POS_COL})
                .dropDuplicates([ROW_CHUNK_COL, ROW_POS_COL])
                .withColumn("__newly_masked", F.lit(True)))
        gone = (alive_before
                .join(newm, [ROW_CHUNK_COL, ROW_POS_COL], "left")
                .groupBy(key_col)
                .agg(F.max(F.when(F.col("__newly_masked").isNull(),
                                  F.lit(1)).otherwise(F.lit(0)))
                     .alias("__alive"))
                .filter(F.col("__alive") == 0)
                .select(key_col))
        if ck_parts:
            part_exprs = _split_composite_cols(
                F.col(key_col), ck_parts, spark_schema)
            null_payload = [
                part_exprs[f.name].alias(f.name) if f.name in part_exprs
                else F.lit(None).cast(
                    spark_schema[f.name].dataType).alias(f.name)
                for f in spark_schema.fields
            ]
        else:
            null_payload = [
                F.col(key_col) if f.name == key_col
                else F.lit(None).cast(
                    spark_schema[f.name].dataType).alias(f.name)
                for f in spark_schema.fields
            ]
        pieces.append(tag(gone.select(*null_payload), "delete", r["seq"]))

    if not pieces:
        return relabel(empty_feed())
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return relabel(out)


def apply_changes(spark, dst_dir: str, feed, key_col: str,
                  strict: bool = False, **encode_kwargs) -> dict:
    """Apply a ``read_changes`` feed to a DOWNSTREAM checkpoint — the
    consumer half of the change-data-feed pair. A derived table that
    materialized the source as of commit S calls
    ``apply_changes(dst, read_changes(src, since=S, key_col=k), k)``
    and afterwards equals the source's later snapshot — work
    proportional to the CHANGE SET, never the corpus (the incremental
    sync a 100 TB pipeline runs nightly instead of a full re-copy).

    The feed collapses to one NET action per key first (last commit
    wins; within a commit the upsert's insert wins over its delete), so
    a key deleted at seq 2 and re-inserted at seq 5 lands as a single
    replace, and the two mutations touch DISJOINT key sets. Net-deletes
    apply via ``delete_keys_checkpoint`` (mask sidecars), net-inserts
    via ``upsert_checkpoint`` (mask + one appended generation) — the
    destination's own commit log records both, so it is itself
    time-travelable and change-feed-readable (feeds compose down a
    pipeline of derived tables). Deleting a key the destination never
    had is a no-op, which makes re-applying an overlapping window safe.

    The feed may be filtered/projected first (a derived table keeping
    only ``lang='en'`` rows applies the same feed filtered) as long as
    ``key_col``, ``_change_type`` and ``_commit_seq`` survive. Driver
    state is the net key set (bounded by the upsert/delete caps — split
    a giant backlog into per-commit windows the same way a giant merge
    lands in waves). Returns ``{"deleted": n_keys, "upserted": n_rows,
    "delete_gen": g1, "upsert_gen": g2}``.

    CONTRACT: the source must be KEY-UNIQUE (the invariant
    ``upsert_checkpoint`` enforces on the destination). A source that
    legitimately carries the same key twice across append commits is
    not representable by keyed apply — the collapse keeps the later
    row. ``strict=True`` detects the case visible in the window (two
    inserts of a key with no delete between) and raises instead of
    silently dropping a row; a duplicate relative to PRE-window state
    is indistinguishable from an idempotent window replay and stays
    the caller's key-uniqueness contract. Strict is OPT-IN because a
    payload-filtered feed can legitimately lose its delete rows (their
    payload columns are NULL) and would false-positive —
    ``sync_checkpoint``, whose feed is unfiltered, always passes it
    (review finding, round 4)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    kparts = (list(key_col) if isinstance(key_col, (list, tuple))
              else [key_col])
    for c in ("_change_type", "_commit_seq", *kparts):
        if c not in feed.columns:
            raise ValueError(
                f"apply_changes: feed carries no {c!r} column — pass the "
                "DataFrame read_changes returned (payload + _change_type "
                "+ _commit_seq)"
            )
    if strict:
        # pin the feed once (its lineage re-decodes the source per
        # evaluation), then hunt for two inserts of one key with no
        # delete between: ordering deletes before inserts within a seq
        # makes an upsert's delete+insert pair benign, so any
        # insert->insert adjacency is a genuine duplicate key the keyed
        # collapse would silently drop
        feed = feed.localCheckpoint(eager=True)
        ws = Window.partitionBy(*kparts).orderBy(
            F.col("_commit_seq"),
            F.when(F.col("_change_type") == "insert", 1).otherwise(0),
        )
        dup = (
            feed.withColumn("__prev", F.lag("_change_type").over(ws))
            .filter((F.col("_change_type") == "insert")
                    & (F.col("__prev") == "insert"))
            .select(*kparts, "_commit_seq")
            .limit(1)
            .collect()
        )
        if dup:
            key_repr = (tuple(dup[0][:len(kparts)]) if len(kparts) > 1
                        else dup[0][0])
            raise ValueError(
                f"apply_changes: key {key_repr!r} is inserted twice "
                f"(second at commit {dup[0][-1]}) with no delete between "
                "— the source carries duplicate keys, which a keyed "
                "apply cannot represent (the collapse would drop a "
                "row); deduplicate the source or materialize the "
                "snapshot instead"
            )
    w = Window.partitionBy(*kparts).orderBy(
        F.col("_commit_seq").desc(),
        F.when(F.col("_change_type") == "insert", 1).otherwise(0).desc(),
    )
    # net action per key; pin it — the feed's lineage re-decodes the
    # source per evaluation, and we read it three times below
    net = (
        feed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .localCheckpoint(eager=True)
    )
    drows = (net.filter(F.col("_change_type") == "delete")
             .select(*kparts).collect())
    dels = ([tuple(r) for r in drows] if len(kparts) > 1
            else [r[0] for r in drows])
    ups = (
        net.filter(F.col("_change_type") == "insert")
        .drop("_change_type", "_commit_seq")
    )
    out = {"deleted": len(dels), "upserted": 0,
           "delete_gen": "", "upsert_gen": ""}
    if dels:
        out["delete_gen"] = delete_keys_checkpoint(
            spark, dst_dir, dels, key_col)
    n_ups = ups.count()
    if n_ups:
        out["upserted"] = n_ups
        out["upsert_gen"] = upsert_checkpoint(
            spark, dst_dir, ups, key_col, **encode_kwargs)
    return out


_SYNC_STATE = "_sync_state.json"


def read_sync_state(dst_dir: str) -> dict | None:
    """The destination's sync cursor ``{"src", "seq"}``, or None when
    the checkpoint has never been synced."""
    import json

    try:
        fsys, p = _manifest_fs(dst_dir)
        with fsys.open_input_stream(f"{p.rstrip('/')}/{_SYNC_STATE}") as f:
            return json.loads(f.read().decode())
    except (OSError, ValueError):
        return None


def _write_sync_state(dst_dir: str, src_dir: str, seq: int) -> None:
    import json

    fsys, p = _manifest_fs(dst_dir)
    path = f"{p.rstrip('/')}/{_SYNC_STATE}"
    tmp = path + ".tmp"
    with fsys.open_output_stream(tmp) as f:
        f.write(json.dumps({"src": src_dir, "seq": seq}).encode())
    fsys.move(tmp, path)


def sync_checkpoint(spark, src_dir: str, dst_dir: str, key_col: str,
                    since: int | None = None, **encode_kwargs) -> dict:
    """Cursor-tracked incremental sync: catch ``dst_dir`` up to
    ``src_dir``'s latest commit by applying only the un-applied window
    of the change feed, and persist the new cursor in the destination
    (``_sync_state.json``, temp+rename). The scheduled-job spelling of
    the CDF pair — each run costs O(new changes), and NO caller-side
    bookkeeping: the cursor lives with the data it describes.

    First call: pass ``since`` = the source commit the destination
    materialized (0 for a copy of the initial snapshot); later calls
    read the stored cursor and refuse a conflicting explicit ``since``.
    Crash between apply and cursor write is safe: the re-run re-applies
    the same window, which is idempotent (delete masks collapse, the
    replayed upsert mints a fresh generation and re-replaces the same
    keys). A ``replace`` commit (in-place optimize) in the window
    raises — rewrites are not row-attributable; re-materialize the
    destination from that snapshot and re-init the cursor. Returns the
    apply stats plus ``{"since", "until", "synced"}``."""
    state = read_sync_state(dst_dir)
    if state is not None:
        if state["src"] != src_dir:
            raise ValueError(
                f"{dst_dir!r} tracks source {state['src']!r}, not "
                f"{src_dir!r} — one destination syncs one source"
            )
        if since is not None and since != state["seq"]:
            raise ValueError(
                f"explicit since={since} conflicts with the stored "
                f"cursor {state['seq']} of {dst_dir!r} — omit since= on "
                "an initialized destination"
            )
        since = state["seq"]
    elif since is None:
        raise ValueError(
            f"{dst_dir!r} has no sync cursor yet — pass since= (the "
            "source commit the destination materialized; 0 for a copy "
            "of the initial snapshot)"
        )
    log = read_commit_log(src_dir)
    if log is None:
        raise ValueError(
            f"source {src_dir!r} carries no _commits log — sync needs "
            "checkpoints written via write_checkpoint"
        )
    until = log[-1]["seq"]
    if until <= since:
        return {"deleted": 0, "upserted": 0, "delete_gen": "",
                "upsert_gen": "", "since": since, "until": since,
                "synced": False}
    feed = read_changes(spark, src_dir, since=since, until=until,
                        key_col=key_col)
    out = apply_changes(spark, dst_dir, feed, key_col, strict=True,
                        **encode_kwargs)
    _write_sync_state(dst_dir, src_dir, until)
    out.update({"since": since, "until": until, "synced": True})
    return out


def checkpoint_history(spark, ckpt_dir: str):
    """The commit log as a DataFrame — ``DESCRIBE HISTORY`` for this
    format: one row per commit (seq, action, generation, n_files,
    files)."""
    log = read_commit_log(ckpt_dir)
    rows = [
        (r["seq"], r["action"], r["generation"], len(r["files"]), r["files"])
        for r in (log or [])
    ]
    return spark.createDataFrame(
        rows,
        "seq int, action string, generation string, n_files int, "
        "files array<string>",
    )


def write_checkpoint_schema(ckpt_dir: str, schema) -> None:
    """Annotate an existing checkpoint dir with its table schema (the
    ``_table_schema`` sidecar) — for manifests written by other paths
    (resumable encode, streaming appends). Accepts a Spark StructType,
    a DDL string (what ``readStream.schema()`` also takes), or an Arrow
    schema."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        from pyspark.sql.types import StructType

        schema = StructType.fromDDL(schema)
    if not isinstance(schema, pa.Schema):
        schema = to_arrow_schema(schema)
    fsys, p = _manifest_fs(ckpt_dir)
    p = p.rstrip("/")
    try:
        fsys.create_dir(p, recursive=True)
    except (OSError, ValueError):
        pass  # object stores / pre-existing dirs
    with fsys.open_output_stream(f"{p}/{_TABLE_SCHEMA_SIDECAR}") as f:
        f.write(schema.serialize().to_pybytes())


def read_checkpoint_schema(ckpt_dir: str) -> pa.Schema | None:
    """The Arrow table schema a self-describing checkpoint records, or
    None when the checkpoint predates / skipped the sidecar."""
    try:
        fsys, p = _manifest_fs(ckpt_dir)
        with fsys.open_input_stream(
            f"{p.rstrip('/')}/{_TABLE_SCHEMA_SIDECAR}"
        ) as f:
            buf = f.read()
        return pa.ipc.read_schema(pa.py_buffer(buf))
    except (OSError, ValueError, pa.ArrowInvalid):
        return None


def _write_clustered_marker(ckpt_dir: str, sig: tuple[int, int] | None = None,
                            has_deletes: bool | None = None) -> None:
    """``sig`` must be the file signature captured BEFORE the layout was
    verified (callers pass the pre-gate snapshot): recomputing it here
    would stamp files a concurrent appender added AFTER verification,
    and every later decode would trust an unverified layout.
    ``has_deletes=False`` additionally certifies the checkpoint carries
    no deletion-vector sidecars (as of the same signature), letting hot
    readers skip the sidecar scan; None means unknown (readers scan)."""
    import json

    fsys, p = _manifest_fs(ckpt_dir)
    n, size = sig if sig is not None else _manifest_file_sig(ckpt_dir)
    rec = {"n_files": n, "total_bytes": size}
    if has_deletes is not None:
        rec["has_deletes"] = has_deletes
    with fsys.open_output_stream(f"{p.rstrip('/')}/{_CLUSTERED_MARKER}") as f:
        f.write(json.dumps(rec).encode())


def make_file_decode_fn(out_schema: pa.Schema, phys_columns, key_range,
                        legacy_nan_zonemaps: bool, point_keys=None,
                        verify_checksums: bool = False, extra_deletes=None,
                        defaults=None):
    """mapInArrow function over a (path string) DataFrame: each task reads
    one manifest parquet file sequentially and decodes its chunk groups.
    Projection and zone-map predicates are pushed into the pyarrow read
    (row-group stats pruning); row order — hence group contiguity — is
    preserved by the dataset scanner."""

    # the pushed OR-of-containment expression grows linearly with the key
    # set — past this, file-level pruning (driver side) + the exact
    # post-filter carry the selectivity and the scan reads whole files
    PUSHED_KEYS_MAX = 256

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as _pc
        import pyarrow.dataset as pds
        from pyarrow import fs as pafs

        filt = pds.field("column") != DONE_COLUMN
        # deletion-vector sidecars never ride the file scan on this path:
        # the driver collected ALL of them (decode_checkpoint falls back
        # past the cap) and delivers them via extra_deletes — scanning
        # them here would double-apply (harmless) or, for sidecars in
        # appended files outside the clustered set, tear chunk groups
        filt = filt & ~_pc.starts_with(pds.field("column"),
                                       pattern=DELETES_PREFIX)
        if phys_columns is not None:
            filt = filt & pds.field("column").isin(phys_columns)
        if key_range is not None:
            lo, hi = key_range
            if isinstance(lo, (int, float)) and not isinstance(lo, bool):
                import pyarrow.compute as pc

                zf = (pds.field("max_key_num") >= lo) & (pds.field("min_key_num") <= hi)
                zf = zf | pds.field("min_key_num").is_null()
                if legacy_nan_zonemaps:
                    zf = zf | pc.is_nan(pds.field("min_key_num"))
            else:
                zf = (pds.field("max_key") >= str(lo)) & (pds.field("min_key") <= str(hi))
            filt = filt & zf
        if point_keys is not None:
            ks = list(dict.fromkeys(point_keys))
            if 0 < len(ks) <= PUSHED_KEYS_MAX:
                # same numeric/string classification (and mixed-set
                # refusal) as the driver-side _prune_by_key_set — the
                # two prune layers must never diverge
                if _keys_kind(ks) == "num":
                    mn, mx = pds.field("min_key_num"), pds.field("max_key_num")
                    cast = float
                else:
                    mn, mx = pds.field("min_key"), pds.field("max_key")
                    cast = str
                parts = [(mx >= cast(k)) & (mn <= cast(k)) for k in ks]
                zf = parts[0]
                for part in parts[1:]:
                    zf = zf | part
                filt = filt & (zf | mn.is_null())

        decode = make_decode_fn(out_schema, verify_checksums=verify_checksums,
                                extra_deletes=extra_deletes,
                                defaults=defaults)
        read_cols = ["chunk_key", "column", "blob"]
        if verify_checksums:
            read_cols.append("checksum")
        for b in batches:
            key_lists = (
                b.column("keys").to_pylist()
                if "keys" in b.schema.names else None
            )
            for i, path in enumerate(b.column("path").to_pylist()):
                row_filt = filt
                if key_lists is not None and key_lists[i] is not None:
                    # chunk-level value-range pruning: only this file's
                    # zone-map-qualifying chunks are read at all
                    row_filt = row_filt & pds.field("chunk_key").isin(key_lists[i])
                fsys, p = _manifest_fs(path)  # same dispatch as the
                # driver-side marker path — one rule for both sides
                # STREAM the file: single-threaded scanner preserves row
                # (hence chunk-group) order across row groups while
                # holding only ~batch_size blobs at a time — a manifest
                # file is one encode task's whole output, which at the
                # 100 TB target does not fit task memory as one table.
                # 32 rows/batch ≈ a few chunk groups of ~1 MB blobs.
                scanner = pds.dataset(p, filesystem=fsys, format="parquet").scanner(
                    columns=read_cols,
                    filter=row_filt, use_threads=False, batch_size=32,
                )
                yield from decode(scanner.to_batches())

    return fn


def decode_checkpoint(spark, ckpt_dir: str, out_schema=None, key_range=None,
                      key_col=None, columns=None, legacy_nan_zonemaps=False,
                      value_range=None, keys=None, value_in=None,
                      contains=None, verify_checksums=False, as_of=None,
                      _restrict_chunks=None):
    """Decode a CHECKPOINTED manifest directory without shuffling a single
    blob: one task per manifest file, sequential pyarrow read, group
    decode in place (see the section comment above for why the layout
    guarantees contiguity and how it is verified).

    The arguments mean what they mean for ``decode_table`` (predicate
    semantics, exact post-filters). What differs is where pruning
    lands: the shared chunk-prune plan keeps whole FILES (one read task
    each) and, inside each kept file, only the listed chunks; the
    ``key_range``/``keys`` zone tests are also pushed into each file's
    pyarrow read (``keys`` up to 256 values). Past VALUE_PRUNE_MAX_KEYS
    hit chunks a value pass keeps the whole files its hits live in.
    Checkpoints that fail the clustered-layout check (duplicates from
    resumed runs, chunks torn across files), or carry more than
    DELETES_COLLECT_MAX deletion sidecars, fall back to
    ``decode_table``'s shuffling path transparently.

    ``as_of=seq`` TIME-TRAVELS a logged checkpoint (one written via
    ``write_checkpoint`` and mutated via ``delete_keys_checkpoint`` /
    ``upsert_checkpoint``): mutations only ever append files, so the
    snapshot at commit ``seq`` is exactly the union of files its
    commits added — later delete sidecars and upsert generations are
    simply not read. Composes with every pruning/projection argument;
    ``checkpoint_history(spark, dir)`` lists the commits.

    ``_restrict_chunks`` (PRIVATE — the hybrid count/sum pushdowns):
    a ``{file_path: [chunk_key, ...]}`` map naming exactly the chunks
    to decode (explicit lists only). AND-intersects with every other
    prune; fallback paths (torn layout, over-cap deletes) apply it as
    a broadcast semi-join so the restricted read set survives the
    shuffling decode too.
    """
    from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

    _raise_if_pending(ckpt_dir)

    # the shuffling-path fallbacks below re-enter decode_table, which
    # runs its own composite translation — hand them the ORIGINAL spec
    orig_key_col, orig_keys = key_col, keys
    key_col, keys, ck_parts = _composite_args(key_col, keys, key_range)
    if ck_parts and _checkpoint_rename_map(ckpt_dir):
        raise ValueError(
            "composite-key decode on a RENAMED checkpoint is "
            "unsupported — the stored '#ck:' name carries encode-time "
            "part names; compact_checkpoint to materialize the renames "
            "first"
        )
    if out_schema is None:
        # self-describing checkpoint: the table schema rides a
        # _table_schema sidecar (write_checkpoint / CLI writers) — the
        # reference's footer-makes-the-blob-self-decoding property
        # (src/lib.rs:52-73) at checkpoint granularity
        out_schema = read_checkpoint_schema(ckpt_dir)
        if out_schema is None:
            raise ValueError(
                f"checkpoint {ckpt_dir!r} carries no _table_schema sidecar "
                "— pass out_schema=, or persist with write_checkpoint("
                "manifest, dir, schema=...) / write_checkpoint_schema(dir, "
                "schema) to make it self-describing"
            )
        if as_of is not None:
            # the sidecar describes the CURRENT snapshot; a column
            # dropped after as_of means the old snapshot was wider —
            # refuse to guess the missing field (its data files are all
            # still present, an explicit schema decodes them fully)
            late = [r["generation"] for r in (read_commit_log(ckpt_dir)
                                              or [])
                    if r.get("action") == "drop_column"
                    and r["seq"] > as_of]
            if late:
                raise ValueError(
                    f"as_of={as_of} predates the drop of column(s) "
                    f"{late} — the current _table_schema no longer "
                    "describes that snapshot; pass out_schema= with "
                    "the schema as of that commit"
                )
    if not isinstance(out_schema, pa.Schema):
        out_schema = to_arrow_schema(out_schema)
    rmap = _checkpoint_rename_map(ckpt_dir)
    if rmap and any(f.name in rmap for f in out_schema):
        # renamed checkpoint: decode under the PHYSICAL manifest names
        # (one self-call — the physical schema carries no mapped names,
        # so it recurses exactly once) and relabel the output to the
        # logical names. Every name-bearing argument translates here.
        inv = {p: l for l, p in rmap.items()}

        def _chk(name, what):
            # a renamed-AWAY name must not resolve through the physical
            # schema by accident — refuse it with the current name
            if name in inv:
                raise KeyError(
                    f"{what} {name!r} was renamed to {inv[name]!r} — "
                    "use the current name"
                )

        for c in (columns or []):
            _chk(c, "column")
        if key_col is not None:
            _chk(key_col, "key_col")
        for spec, what in ((value_range, "value_range column"),
                           (value_in, "value_in column"),
                           (contains, "contains column")):
            if spec is not None:
                for t in ([spec] if isinstance(spec, tuple) else spec):
                    _chk(t[0].partition(".")[0], what)
        dec = decode_checkpoint(
            spark, ckpt_dir, _physical_schema(out_schema, rmap),
            key_range=key_range,
            key_col=rmap.get(key_col, key_col),
            columns=([rmap.get(c, c) for c in columns]
                     if columns is not None else None),
            legacy_nan_zonemaps=legacy_nan_zonemaps,
            value_range=_translate_value_specs(value_range, rmap),
            keys=keys,
            value_in=_translate_value_specs(value_in, rmap),
            contains=_translate_value_specs(contains, rmap),
            verify_checksums=verify_checksums, as_of=as_of,
            _restrict_chunks=_restrict_chunks)
        return dec.toDF(*[inv.get(c, c) for c in dec.columns])
    full_schema = out_schema
    out_schema, phys = _project_out_schema(out_schema, columns)
    added = _decode_defaults(out_schema)
    # file signature BEFORE the scan lists files: anything appended
    # after this point is either seen by the gate (and verified) or
    # newer than the marker we may write (and re-verified next call)
    try:
        pre_sig = _manifest_file_sig(ckpt_dir)
    except (OSError, ValueError):
        pre_sig = None
    marker_rec = _clustered_marker_rec(ckpt_dir)
    fdf = _manifest_metadata(spark, ckpt_dir)
    from pyspark.sql import functions as F

    def empty():
        return spark.createDataFrame(
            [], from_arrow_schema(out_schema, prefer_timestamp_ntz=True))

    # time travel: restrict EVERY read (metadata, sidecars, fallbacks)
    # to the files commits <= as_of added. A still-valid _clustered
    # marker stays honored — a subset of a clustered file set is
    # clustered, and has_deletes=False over all files covers any subset
    # — but an as_of read never WRITES markers (its sidecar verdict is
    # partial).
    allowed = None
    if as_of is not None:
        allowed = _files_as_of(ckpt_dir, as_of)
        if not allowed:
            return empty()
        fdf = fdf.filter(
            F.substring_index(F.col("__file"), "/", -1).isin(allowed)
        )

    def fallback():
        # the shuffling path: decode_table runs its own composite
        # translation, so it gets the ORIGINAL key spec
        return decode_table(
            _apply_restrict_chunks(
                _checkpoint_source(spark, ckpt_dir, allowed),
                _restrict_chunks),
            full_schema,
            key_range=key_range, key_col=orig_key_col, columns=columns,
            legacy_nan_zonemaps=legacy_nan_zonemaps, value_range=value_range,
            keys=orig_keys, value_in=value_in, contains=contains,
            verify_checksums=verify_checksums,
        )

    # deletion-vector sidecars are OUT-OF-BAND on this path: excluded
    # from file discovery and the clustered gate (they live in appended
    # files by design), collected driver-side and delivered to the
    # readers directly. Past the cap, the shuffling path streams them.
    fdf = fdf.filter(~F.col("column").startswith(DELETES_PREFIX))
    extra_deletes, over = _collect_checkpoint_deletes(
        spark, ckpt_dir, verify_checksums, files=allowed,
        marker_rec=marker_rec)
    if over:
        return fallback()
    if phys is not None:
        fdf = fdf.filter(F.col("column").isin(phys))
    if key_range is not None:
        fdf = fdf.filter(_zone_keep_expr(key_range, legacy_nan_zonemaps))
    fdf, keep, filters = _plan_chunk_prune(
        fdf, out_schema, added, keys=keys, key_col=key_col,
        value_range=value_range, value_in=value_in, contains=contains)
    # gate on the KEY-PRUNED metadata: a point lookup verifies only the
    # chunks it will read (a torn/duplicated chunk's copies share the
    # same zone maps and projection, so every hazard the full-manifest
    # check would catch in the read set survives the pruning too —
    # while hazards OUTSIDE the read set are irrelevant to this decode).
    # A `_clustered` marker (written by compact_checkpoint, or by the
    # first FULL-manifest verification) skips the gate aggregate
    # entirely as long as the data files are unchanged — a hot
    # point-lookup service re-verifies once per checkpoint, not per
    # query. Appends invalidate the marker via the file signature.
    gate_ok = marker_rec is not None
    full_gate = (key_range is None and phys is None and keys is None
                 and as_of is None)
    if (gate_ok and full_gate and pre_sig is not None
            and "has_deletes" not in marker_rec):
        # upgrade a pre-deletion-vector marker in place: same signature,
        # now also certifying the sidecar verdict this call just scanned
        try:
            _write_clustered_marker(ckpt_dir, sig=pre_sig,
                                    has_deletes=extra_deletes is not None)
        except (OSError, ValueError):
            pass
    if not gate_ok:
        gate_ok = _checkpoint_is_clustered(fdf)
        # the marker stamps pre_sig — the signature captured before the
        # file listing: an appender landing between listing and here
        # makes the stamped signature stale, so the next reader's check
        # fails and re-verifies (never trusts never-verified files)
        if gate_ok and full_gate and pre_sig is not None:
            try:
                _write_clustered_marker(ckpt_dir, sig=pre_sig,
                                        has_deletes=extra_deletes is not None)
            except (OSError, ValueError):
                pass  # read-only / non-pyarrow-fs dir: just skip the cache
    if not gate_ok:
        import warnings

        warnings.warn(
            f"checkpoint {ckpt_dir!r} is not chunk-clustered (duplicate or "
            "torn chunks) — falling back to the shuffling decode path. "
            "compact_checkpoint(src, dst) restores the clustered layout "
            "(one shuffle) and makes every later decode shuffle-free"
        )
        return fallback()
    keep = _intersect_file_keys(keep, _restrict_chunks)
    if keep is not None:
        files = sorted(keep)
    else:
        files = sorted(r["__file"] for r in fdf.select("__file").distinct().collect())
    if not files:
        return empty()
    rows_in = [(f, keep[f] if keep is not None else None) for f in files]
    files_df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows_in, len(files)),
        "path string, keys array<string>",
    )
    out = files_df.mapInArrow(
        make_file_decode_fn(out_schema, phys, key_range, legacy_nan_zonemaps,
                            point_keys=(_canon_temporal_keys(keys)
                                        if keys is not None else None),
                            verify_checksums=verify_checksums,
                            extra_deletes=extra_deletes,
                            defaults=added or None),
        schema=from_arrow_schema(out_schema, prefer_timestamp_ntz=True),
    )
    return _exact_filter(out, key_range, key_col, keys, ck_parts, filters)


def compact_checkpoint(spark, src_dir: str, dst_dir: str,
                       num_files: int | None = None,
                       rechunk_rows: int | None = None,
                       schema=None, key_col: str | None = None,
                       codec: str = "auto",
                       num_partitions: int | None = None,
                       partitioner: str | None = None,
                       zorder_cols: list[str] | None = None,
                       target_page_size: int = DEFAULT_TARGET_PAGE_SIZE,
                       _allow_pending: bool = False) -> str:
    """Rewrite a checkpoint manifest into the clustered layout: done
    markers stripped, duplicate (chunk_key, column) rows collapsed, every
    chunk's rows contiguous within exactly one file.

    Resumed/merged/maxRecordsPerFile-torn checkpoints fail
    ``decode_checkpoint``'s clustered gate and pay the shuffling decode
    on EVERY read; compacting pays ONE shuffle now and makes every
    subsequent decode shuffle-free. The whole rewrite is a single
    shuffle: ``repartition(chunk_key)`` co-locates all copies of a chunk,
    the in-partition sort makes duplicates adjacent, and a streaming
    Arrow pass drops them — no second dropDuplicates exchange.

    ``rechunk_rows`` upgrades the rewrite to a RE-ENCODING compaction
    (requires ``schema`` + ``key_col``): the checkpoint is decoded and
    re-encoded at the given chunk size. Streaming ingest writes small
    chunks (16k rows per micro-batch task, streaming.py) and measured
    compression improves strictly with chunk size (dictionary/rANS
    table amortization: 1.97 → 1.85 B/token for 8× bigger chunks) — the
    nightly-compaction pattern every LSM-ish ingest system runs. Cost:
    a full decode + encode (two data passes + the encode shuffle)
    instead of the metadata-only single shuffle.
    """
    from pyspark.sql import functions as F

    if not _allow_pending:  # optimize compacts under its OWN marker
        _raise_if_pending(src_dir, for_write=True)

    if rechunk_rows is not None:
        if schema is None:
            schema = read_checkpoint_schema(src_dir)  # self-describing?
        if schema is None or key_col is None:
            raise ValueError(
                "rechunk_rows requires key_col= and a schema — pass "
                "schema=, or write the source checkpoint with a "
                "_table_schema sidecar (write_checkpoint)"
            )
        dec = decode_checkpoint(spark, src_dir, schema)
        if partitioner not in ("hash", "none"):
            # the default (range) and weight partitioners SAMPLE their
            # input for bounds before shuffling — unpinned, that
            # evaluates the full checkpoint decode twice (the exact
            # double-evaluation decode_table's value_range path fixes).
            # Pin the decoded lineage: storage-for-compute is the right
            # trade in a batch maintenance job (MEMORY_AND_DISK spill),
            # and the blocks free when the job's plans are collected.
            dec = dec.localCheckpoint(eager=False)
        manifest = encode_table(
            dec, key_col=key_col, codec=codec, chunk_rows=rechunk_rows,
            num_partitions=num_partitions, partitioner=partitioner,
            zorder_cols=zorder_cols,
            target_page_size=target_page_size,
            # whatever the checkpoint decoded IS the table — nulls here
            # are legitimate by construction (nullable encodes,
            # metadata-added NULL-default columns); with zero nulls
            # this changes nothing (no #valid emitted, bytes identical)
            allow_nulls=True,
        )
        # one task's output per file — clustered by construction, same
        # layout contract as a fresh encode_table checkpoint write
        manifest.write.parquet(dst_dir)
        try:
            # a re-encoding compaction materializes every mask — the new
            # checkpoint is certified sidecar-free
            _write_clustered_marker(dst_dir, has_deletes=False)
            # stays self-describing; a source rename is MATERIALIZED
            # here (the new manifest carries the logical names), so the
            # physical mapping is stripped from the new sidecar
            write_checkpoint_schema(dst_dir, _strip_rename_metadata(schema))
        except (OSError, ValueError):
            pass
        # fresh commit log: history restarts at the compacted snapshot
        # (the source dir keeps the full pre-compaction history)
        _append_commit(dst_dir, "compact", "", _list_data_files(dst_dir))
        return dst_dir

    src = spark.read.parquet(src_dir)
    # DROPPED columns' manifest rows are stripped here — the
    # metadata-only compact is where a drop_column_checkpoint's bytes
    # are actually reclaimed (scalar row + its #-sub-column tree)
    dropped = dropped_columns(src_dir)
    if dropped:
        from functools import reduce as _reduce

        gone = _reduce(
            lambda a, b: a | b,
            [(F.col("column") == c) | F.col("column").startswith(c + "#")
             for c in dropped],
        )
        src = src.filter(~gone)
    # pin column order to the DDL; fields a legacy checkpoint predates
    # (e.g. round-2 manifests without val_min/val_max) are filled with
    # typed NULLs — compaction is exactly the tool the fallback warning
    # points legacy/merged checkpoints at, so it must accept them
    ordered = [
        F.col(n) if n in src.columns else F.lit(None).cast(t).alias(n)
        for n, t in MANIFEST_FIELDS
    ]
    mdf = (
        src.filter(F.col("column") != DONE_COLUMN)
        .select(*ordered)
        .repartition(num_files or max(1, spark.sparkContext.defaultParallelism),
                     "chunk_key")
        .sortWithinPartitions("chunk_key", "column", "checksum")
    )

    def drop_adjacent_dups(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        last = None
        for b in batches:
            if b.num_rows == 0:
                continue
            ks = pc.binary_join_element_wise(
                b.column("chunk_key"), b.column("column"), "\x00"
            ).to_numpy(zero_copy_only=False)
            keep = np.ones(len(ks), dtype=bool)
            keep[1:] = ks[1:] != ks[:-1]
            if last is not None and ks[0] == last:
                keep[0] = False
            last = ks[-1]
            out = b.filter(pa.array(keep))
            if out.num_rows:
                yield out

    (
        mdf.mapInArrow(drop_adjacent_dups, schema=MANIFEST_DDL)
        .write.parquet(dst_dir)
    )
    try:
        _write_clustered_marker(dst_dir)
        src_schema = read_checkpoint_schema(src_dir)
        if src_schema is not None:  # propagate self-description
            write_checkpoint_schema(dst_dir, src_schema)
    except (OSError, ValueError):
        pass
    # fresh commit log (see the re-encoding branch above)
    _append_commit(dst_dir, "compact", "", _list_data_files(dst_dir))
    return dst_dir


# ---------------------------------------------------------------------------
# in-place OPTIMIZE + VACUUM: rewrite the current snapshot inside the
# SAME checkpoint dir. compact_checkpoint keeps history by writing to a
# new dir; optimize_checkpoint trades history for space — masked rows
# materialize, upsert generations collapse, chunks re-cut at
# rechunk_rows, and the superseded files are PHYSICALLY DELETED (the
# Delta OPTIMIZE + VACUUM pair, merged because this format's readers
# list the dir: dir contents == latest snapshot is the invariant every
# read path assumes, so replaced files cannot linger). The swap is
# multi-file and non-atomic: a _optimize_pending marker brackets it,
# every read path refuses a marked dir, and finish_optimize rolls an
# interrupted swap FORWARD (idempotent) from the marker's file lists.
# Time travel to pre-optimize commits raises a clear "vacuumed" error
# (_files_as_of); the log itself is kept, so history STAYS auditable.
# ---------------------------------------------------------------------------

_OPTIMIZE_PENDING = "_optimize_pending"
_OPTIMIZE_STAGING = "_staging_optimize"


def _read_optimize_pending(ckpt_dir: str) -> dict | None:
    """The interrupted-optimize marker's {"old": [...], "new": [...]}
    file lists, or None when no optimize is in flight."""
    import json

    try:
        fsys, p = _manifest_fs(ckpt_dir)
        with fsys.open_input_stream(
            f"{p.rstrip('/')}/{_OPTIMIZE_PENDING}"
        ) as f:
            return json.loads(f.read().decode())
    except (OSError, ValueError):
        return None


def _raise_if_optimize_pending(ckpt_dir: str) -> None:
    if _read_optimize_pending(ckpt_dir) is not None:
        raise IOError(
            f"checkpoint {ckpt_dir!r} has an interrupted in-place "
            "optimize (_optimize_pending marker) — its data-file set may "
            "mix pre- and post-optimize files. Run "
            "finish_optimize(ckpt_dir) to roll the swap forward, then "
            "retry."
        )


_MUTATION_PENDING = "_mutation_pending"


def _read_mutation_pending(ckpt_dir: str) -> dict | None:
    import json

    try:
        fsys, p = _manifest_fs(ckpt_dir)
        with fsys.open_input_stream(
            f"{p.rstrip('/')}/{_MUTATION_PENDING}"
        ) as f:
            return json.loads(f.read().decode())
    except (OSError, ValueError):
        return None


def _raise_if_pending(ckpt_dir: str, for_write: bool = False) -> None:
    """Refuse a checkpoint with ANY in-flight multi-step operation: an
    interrupted optimize swap, or a logged delete/upsert that appended
    data files but may not have appended its commit record yet (a crash
    in that window would otherwise silently diverge time-travel
    snapshots from live reads forever).

    ``for_write=True`` is the WRITER check: it refuses on every marker.
    Readers (the default) pass under a marker flagged ``read_ok`` — an
    in-place optimize holds the mutation lock for its whole rewrite
    (hours at 100 TB) but never touches the live file set until the
    swap, and the swap window has its own ``_optimize_pending`` guard,
    so reads stay consistent throughout."""
    _raise_if_optimize_pending(ckpt_dir)
    rec = _read_mutation_pending(ckpt_dir)
    if rec is None or (not for_write and rec.get("read_ok")):
        return
    raise IOError(
        f"checkpoint {ckpt_dir!r} has an in-flight or interrupted "
        "logged mutation (_mutation_pending marker): its data files "
        "may be appended but unrecorded in the commit log. Wait for "
        "the holder, or run finish_mutation(ckpt_dir) to reconcile a "
        "crashed one, then retry."
    )


def _begin_logged_mutation(ckpt_dir: str, action: str, generation: str,
                           before: list[str]) -> bool:
    """Bracket a logged mutation's append→commit window with a marker
    recording the pre-mutation file listing, so a crash between the two
    appends is detectable and ``finish_mutation`` can reconcile from the
    marker instead of the snapshot diverging silently. Returns False on
    unlogged checkpoints (no snapshot model to protect).

    The marker is CLAIMED atomically (exclusive create on local
    filesystems): two writers racing the same checkpoint cannot both
    hold it, turning the crash-recovery marker into the mutation lock —
    the loser gets the same named error a crashed window leaves, and
    either ``finish_mutation`` (crash) or simply retrying after the
    holder finishes (contention) resolves it."""
    import json

    if not _has_commit_log(ckpt_dir):
        return False
    fsys, p = _manifest_fs(ckpt_dir)
    payload = json.dumps({"action": action, "generation": generation,
                          "before": before}).encode()
    if not _publish_exclusive(
            fsys, f"{p.rstrip('/')}/{_MUTATION_PENDING}", payload):
        raise IOError(
            f"checkpoint {ckpt_dir!r} already has a _mutation_pending "
            "marker — another writer holds the mutation window (retry "
            "after it finishes), or a crashed one left it (run "
            "finish_mutation(ckpt_dir) to reconcile)."
        )
    return True


def _end_logged_mutation(ckpt_dir: str, action: str, generation: str,
                         before: list[str],
                         added: list[str] | None = None) -> None:
    """Close a logged mutation's window: record the commit, then drop
    the marker. ``added`` is the EXACT file list the mutation landed
    (``_staged_append`` attribution — a listing diff would claim a
    concurrent plain append's files into this commit and corrupt
    time-travel snapshots); None falls back to the listing diff for
    callers that cannot know (crash reconciliation via the marker's
    ``before``). If the commit record cannot be written the marker is
    KEPT and an error raised — deleting it would leave landed files
    permanently unrecorded, the exact silent divergence the marker
    exists to prevent (review finding, round 4)."""
    if added is None:
        added = sorted(set(_list_data_files(ckpt_dir)) - set(before))
    if added:
        seq = _append_commit(ckpt_dir, action, generation, added)
        if seq is None:
            raise IOError(
                f"{action} mutation of {ckpt_dir!r} landed its data "
                f"files but the commit record could not be written "
                "(storage error on _commits/) — the _mutation_pending "
                "marker is left in place; fix the storage and run "
                "finish_mutation(ckpt_dir) to record the commit."
            )
    fsys, p = _manifest_fs(ckpt_dir)
    fsys.delete_file(f"{p.rstrip('/')}/{_MUTATION_PENDING}")


def finish_mutation(ckpt_dir: str) -> str:
    """Reconcile an interrupted logged delete/upsert (crash between the
    data-file append and the commit-record append). The marker holds the
    pre-mutation listing; whatever files actually landed are committed
    so snapshots match live reads again. An upsert whose new-generation
    files never landed is recorded as the DELETE it physically is (only
    the mask sidecars exist — live reads already see the rows gone);
    re-run the upsert with the same batch to land the replacements (the
    duplicate masks are dropped by compaction). Returns the action
    recorded, '' when nothing had landed."""
    rec = _read_mutation_pending(ckpt_dir)
    if rec is None:
        raise ValueError(
            f"{ckpt_dir!r} has no _mutation_pending marker — nothing to "
            "finish"
        )
    fsys, p = _manifest_fs(ckpt_dir)
    p = p.rstrip("/")
    action, gen = rec["action"], rec["generation"]
    if action == "optimize":
        # crash inside an in-place optimize. Past the swap marker:
        # roll FORWARD (finish_optimize completes the swap and drops
        # both markers). Before it: the live set was never touched —
        # clear the stage and release the lock.
        if _read_optimize_pending(ckpt_dir) is not None:
            finish_optimize(ckpt_dir)
            return "optimize"
        try:
            fsys.delete_dir(f"{p}/{_OPTIMIZE_STAGING}")
        except (OSError, ValueError):
            pass
        fsys.delete_file(f"{p}/{_MUTATION_PENDING}")
        return ""
    if action == "restore":
        # roll the restore FORWARD (idempotent, like finish_optimize):
        # the marker names the victims and the target file set — delete
        # whatever victims remain, then record the restore commit
        # UNLESS the crash happened after the original append already
        # landed it (a duplicate restore commit would wrongly mark the
        # first one's snapshot 'rolled back'; review finding, round 4)
        for b in rec.get("victims", []):
            try:
                fsys.delete_file(f"{p}/{b}")
            except (OSError, ValueError):
                pass  # already gone
        log = read_commit_log(ckpt_dir) or []
        already = (log and log[-1]["action"] == "restore"
                   and log[-1]["generation"] == gen)
        if not already:
            seq = _append_commit(ckpt_dir, "restore", gen,
                                 rec.get("restore_files", []))
            if seq is None:
                raise IOError(
                    f"finish_mutation: restore of {ckpt_dir!r} deleted "
                    "its victim files but the restore commit record "
                    "could not be written — marker kept; fix the "
                    "storage and re-run finish_mutation."
                )
        fsys.delete_file(f"{p}/{_MUTATION_PENDING}")
        return "restore"
    added = sorted(set(_list_data_files(ckpt_dir)) - set(rec["before"]))
    recorded = ""
    if added:
        if action in ("upsert", "merge"):
            # did the new generation land, or only the mask sidecars?
            # (an upsert/merge is two appends: sidecars, then the
            # encoded replacement batch)
            import pyarrow.dataset as pads

            has_data = False
            for b in added:
                tbl = pads.dataset(
                    f"{p}/{b}", filesystem=fsys
                ).to_table(columns=["column"])
                cols = tbl.column("column").to_pylist()
                if any(not c.startswith(DELETES_PREFIX) for c in cols):
                    has_data = True
                    break
            recorded = action if has_data else "delete"
        else:
            recorded = action
        seq = _append_commit(ckpt_dir, recorded, gen, added)
        if seq is None:
            raise IOError(
                f"finish_mutation: {recorded} files of {ckpt_dir!r} are "
                "landed but the commit record could not be written — "
                "marker kept; fix the storage and re-run "
                "finish_mutation."
            )
    fsys.delete_file(f"{p}/{_MUTATION_PENDING}")
    return recorded


def restore_checkpoint(spark, ckpt_dir: str, as_of: int) -> int:
    """RESTORE the live table to commit ``as_of`` (Delta's RESTORE):
    mutations only ever APPEND files, so rolling back is deleting the
    files every commit after ``as_of`` added — later delete sidecars
    un-delete, later upsert generations un-apply — and logging a
    ``restore`` commit (its generation records the target seq, its
    files the restored live set). Cost ∝ rolled-back mutations, zero
    data rewritten.

    Readers: the live dir IS the restored snapshot (dir contents ==
    latest snapshot stays the invariant); time travel to commits
    <= ``as_of`` or >= the restore commit works, while snapshots
    INSIDE the rolled-back window raise a clear "rolled back" error
    (their files are gone — ``_files_as_of``). The change feed refuses
    windows crossing a restore (per-commit attribution does not
    survive a rollback; resync at the restore commit).

    Crash-safe the optimize way: the mutation marker records the
    victim list and target file set BEFORE the first delete, every
    read path refuses a marked dir, and ``finish_mutation`` rolls the
    restore FORWARD (idempotent deletes + the commit record).

    Refuses: unlogged checkpoints, unknown seqs, windows that contain
    a ``drop_column`` (the pre-drop schema is not recoverable from the
    narrowed sidecar — compact to a new dir at the old snapshot
    instead), restores across an in-place optimize (files vacuumed),
    and a no-op restore to the head commit (returns the head seq
    without logging). Returns the restore commit's seq."""
    import json

    _raise_if_pending(ckpt_dir, for_write=True)
    log = read_commit_log(ckpt_dir)
    if log is None:
        raise ValueError(
            f"checkpoint {ckpt_dir!r} carries no _commits log — restore "
            "needs checkpoints written via write_checkpoint"
        )
    head = log[-1]["seq"]
    if as_of == head:
        return head  # no-op: already there
    allowed = _files_as_of(ckpt_dir, as_of)  # validates seq; raises on
    # vacuumed/rolled-back windows
    dropped_after = [r for r in log
                     if r["seq"] > as_of and r.get("action") == "drop_column"]
    if dropped_after:
        cols = [r["generation"] for r in dropped_after]
        raise ValueError(
            f"restore to as_of={as_of} would cross the drop of "
            f"column(s) {cols}: the narrowed _table_schema cannot be "
            "widened back automatically — decode the old snapshot with "
            "an explicit schema and compact it to a NEW dir instead"
        )
    live = _list_data_files(ckpt_dir)
    victims = sorted(set(live) - set(allowed))
    fsys, p = _manifest_fs(ckpt_dir)
    p = p.rstrip("/")
    payload = json.dumps({
        "action": "restore", "generation": str(as_of), "before": live,
        "victims": victims, "restore_files": sorted(allowed),
    }).encode()
    if not _publish_exclusive(fsys, f"{p}/{_MUTATION_PENDING}", payload):
        raise IOError(
            f"checkpoint {ckpt_dir!r} already has a _mutation_pending "
            "marker — another writer holds the mutation window, or a "
            "crashed one left it (run finish_mutation to reconcile)"
        )
    for b in victims:
        try:
            fsys.delete_file(f"{p}/{b}")
        except (OSError, ValueError):
            pass
    seq = _append_commit(ckpt_dir, "restore", str(as_of), sorted(allowed))
    if seq is None:
        # the victims are already deleted: dropping the marker now would
        # leave the log head pointing at commits whose files are gone.
        # Keep it — finish_mutation retries the commit record.
        raise IOError(
            f"restore of {ckpt_dir!r} deleted its victim files but the "
            "restore commit record could not be written — marker kept; "
            "fix the storage and run finish_mutation(ckpt_dir)."
        )
    fsys.delete_file(f"{p}/{_MUTATION_PENDING}")
    return seq


def clone_checkpoint(spark, src_dir: str, dst_dir: str) -> str:
    """CLONE the source's CURRENT snapshot into an independent
    checkpoint (Delta's CREATE TABLE CLONE): data files hard-link on a
    local filesystem (zero bytes copied — the files are immutable, and
    link semantics keep each side's vacuum/optimize from touching the
    other's view: deleting one NAME never reclaims a still-linked
    inode) with a stream-copy fallback elsewhere; the ``_table_schema``
    sidecar rides along, and the clone starts its OWN ``_commits`` log
    at a ``create`` commit (generation records the source path), so
    mutations on either side never interact. The experiment-branch
    primitive: clone, mutate, measure, throw away — at zero data cost
    on local/POSIX stores.

    The ``_clustered`` marker is intentionally NOT copied (its file
    signature is dir-specific); the first decode re-verifies and
    re-stamps. Refuses a source with a pending mutation/optimize and a
    non-empty destination. Returns ``dst_dir``."""
    _raise_if_pending(src_dir, for_write=True)
    files = _list_data_files(src_dir)
    if not files:
        raise ValueError(f"clone_checkpoint: {src_dir!r} has no data files")
    sfs, sp = _manifest_fs(src_dir)
    dfs, dp = _manifest_fs(dst_dir)
    sp, dp = sp.rstrip("/"), dp.rstrip("/")
    if _list_data_files(dst_dir):
        raise ValueError(
            f"clone_checkpoint: destination {dst_dir!r} is not empty")
    try:
        dfs.create_dir(dp, recursive=True)
    except (OSError, ValueError):
        pass
    from pyarrow import fs as pafs

    local = (isinstance(sfs, pafs.LocalFileSystem)
             and isinstance(dfs, pafs.LocalFileSystem))
    landed = []
    try:
        for b in files:
            src_f, dst_f = f"{sp}/{b}", f"{dp}/{b}"
            if local:
                try:
                    os.link(src_f, dst_f)
                    landed.append(b)
                    continue
                except OSError:
                    pass  # cross-device / exists: stream-copy below
            with sfs.open_input_stream(src_f) as r, \
                    dfs.open_output_stream(dst_f) as w:
                w.write(r.read())
            landed.append(b)
    except BaseException as e:
        # a concurrent restore/optimize claiming the source mid-clone
        # deletes files under us: remove the partial destination so a
        # retry isn't blocked by the non-empty check, and name the
        # likely cause (review finding, round 4)
        for b in landed:
            try:
                dfs.delete_file(f"{dp}/{b}")
            except (OSError, ValueError):
                pass
        raise IOError(
            f"clone_checkpoint: source file vanished mid-clone "
            f"(a concurrent restore/optimize/vacuum on {src_dir!r}?) — "
            f"partial destination {dst_dir!r} cleaned up; retry after "
            "the source settles"
        ) from e
    schema = read_checkpoint_schema(src_dir)
    if schema is not None:
        write_checkpoint_schema(dst_dir, schema)
    # action 'clone', NOT 'create': the cloned file set may carry mask
    # sidecars and superseded upsert generations from the source's
    # history, so it is a SNAPSHOT, not an insert set — read_changes
    # treats it as a barrier (naively decoding its files as inserts
    # would resurrect deleted rows; review finding, round 4)
    _append_commit(dst_dir, "clone", f"clone:{src_dir}", sorted(files))
    return dst_dir


def optimize_checkpoint(spark, ckpt_dir: str, key_col: str | None = None,
                        rechunk_rows: int = 65536, schema=None,
                        codec: str = "auto",
                        num_partitions: int | None = None,
                        partitioner: str | None = None,
                        zorder_cols: list[str] | None = None,
                        target_page_size: int = DEFAULT_TARGET_PAGE_SIZE) -> str:
    """Rewrite a checkpoint's CURRENT snapshot in place: decode (masks
    applied), re-encode at ``rechunk_rows``, swap the new files in and
    DELETE the superseded ones — OPTIMIZE + VACUUM for this format (see
    the section comment for why they merge, and for the crash model).

    Requires ``key_col`` and a schema (pass ``schema=`` or write the
    checkpoint self-describing). Appends a ``replace`` commit when the
    dir carries a commit log: later ``as_of`` reads of pre-optimize
    commits raise a "vacuumed" error; the current snapshot and commits
    from the replace onward stay readable. The staged rewrite is the
    re-encoding branch of ``compact_checkpoint``, so the result is
    clustered (shuffle-free decode), sidecar-free, and strictly better
    compressed when the source wrote small streaming chunks."""
    _raise_if_pending(ckpt_dir, for_write=True)
    import json

    fsys, p = _manifest_fs(ckpt_dir)
    p = p.rstrip("/")
    staging = f"{p}/{_OPTIMIZE_STAGING}"
    # claim the mutation lock for the WHOLE rewrite, not just the swap:
    # a delete/upsert landing while the compact is decoding would be
    # silently vacuumed by the swap (its sidecars mask chunks the
    # rewrite re-encodes alive — masked-row resurrection; review
    # finding, round 4). ``read_ok`` lets readers pass — the live file
    # set is untouched until the _optimize_pending-guarded swap.
    payload = json.dumps({"action": "optimize", "generation": "",
                          "before": [], "read_ok": True}).encode()
    if not _publish_exclusive(fsys, f"{p}/{_MUTATION_PENDING}", payload):
        raise IOError(
            f"checkpoint {ckpt_dir!r} already has a _mutation_pending "
            "marker — another writer holds the mutation window (retry "
            "after it finishes), or a crashed one left it (run "
            "finish_mutation(ckpt_dir) to reconcile)."
        )
    wrote_swap = False
    try:
        try:
            # leftover staging WITHOUT a marker = an abandoned stage;
            # the live file set was never touched, so clear and restart
            fsys.delete_dir(staging)
        except (OSError, ValueError):
            pass
        old = _list_data_files(ckpt_dir)
        compact_checkpoint(spark, ckpt_dir, staging,
                           rechunk_rows=rechunk_rows,
                           schema=schema, key_col=key_col, codec=codec,
                           num_partitions=num_partitions,
                           partitioner=partitioner,
                           zorder_cols=zorder_cols,
                           target_page_size=target_page_size,
                           _allow_pending=True)
        new = _list_data_files(staging)
        clash = sorted(set(new) & set(old))
        if clash:  # unreachable with UUID part names; refuse, not clobber
            raise IOError(
                f"optimize staging produced colliding file names: "
                f"{clash[:3]}"
            )
        side = read_checkpoint_schema(ckpt_dir)
        if _checkpoint_rename_map(ckpt_dir) or (
                side is not None and _added_defaults(side)):
            # schema-evolved checkpoint (renames / metadata-added
            # columns): the swap must also adopt the staged
            # (materialized) sidecar — refuse BEFORE the swap marker if
            # the compact could not stage it, else the root's evolution
            # markers would misdescribe the rewritten manifest
            from pyarrow import fs as pafs

            if fsys.get_file_info(
                    f"{staging}/{_TABLE_SCHEMA_SIDECAR}"
            ).type != pafs.FileType.File:
                raise IOError(
                    f"optimize of schema-evolved checkpoint {ckpt_dir!r} "
                    "could not stage the materialized _table_schema "
                    "sidecar — fix the storage and retry (nothing was "
                    "swapped)"
                )
        with fsys.open_output_stream(f"{p}/{_OPTIMIZE_PENDING}") as f:
            f.write(json.dumps({"old": old, "new": new}).encode())
        wrote_swap = True
    except BaseException:
        if not wrote_swap:
            # nothing swapped — the live set is untouched: release the
            # lock and clear the stage so a retry starts clean. (Past
            # the swap marker both markers stay; finish_optimize /
            # finish_mutation roll forward.)
            try:
                fsys.delete_dir(staging)
            except (OSError, ValueError):
                pass
            try:
                fsys.delete_file(f"{p}/{_MUTATION_PENDING}")
            except (OSError, ValueError):
                pass
        raise
    return finish_optimize(ckpt_dir)


def finish_optimize(ckpt_dir: str) -> str:
    """Roll an in-place optimize FORWARD to completion — idempotent, and
    the recovery entry point after a crash mid-swap (decode paths refuse
    a marked dir and point here). From the marker's file lists: move any
    still-staged new files in, delete any surviving old files, refresh
    the clustered marker, append the ``replace`` commit exactly once,
    then drop the marker and staging dir."""
    from pyarrow import fs as pafs

    rec = _read_optimize_pending(ckpt_dir)
    if rec is None:
        raise ValueError(
            f"{ckpt_dir!r} has no _optimize_pending marker — nothing to "
            "finish"
        )
    fsys, p = _manifest_fs(ckpt_dir)
    p = p.rstrip("/")
    staging = f"{p}/{_OPTIMIZE_STAGING}"
    new = rec["new"]
    for b in new:
        src = f"{staging}/{b}"
        if fsys.get_file_info(src).type == pafs.FileType.File:
            fsys.move(src, f"{p}/{b}")
    live = set(_list_data_files(ckpt_dir))
    missing = [b for b in new if b not in live]
    if missing:
        raise IOError(
            f"optimize of {ckpt_dir!r} lost staged files (absent from "
            f"both staging and target): {missing[:3]} — restore the dir "
            "from a backup/snapshot; do NOT delete the marker"
        )
    for b in rec["old"]:
        if b in new:
            continue
        try:
            fsys.delete_file(f"{p}/{b}")
        except (OSError, ValueError):
            pass  # already deleted by a previous attempt
    # adopt the staged _table_schema when the compact wrote one: the
    # re-encode MATERIALIZED any column rename (new manifest under the
    # logical names), so the root sidecar's physical mapping would
    # point at names the swapped manifest no longer carries. Idempotent
    # (a re-run finds no staged sidecar and keeps the adopted one);
    # byte-identical for never-renamed tables.
    staged_schema = f"{staging}/{_TABLE_SCHEMA_SIDECAR}"
    if fsys.get_file_info(staged_schema).type == pafs.FileType.File:
        try:
            fsys.delete_file(f"{p}/{_TABLE_SCHEMA_SIDECAR}")
        except (OSError, ValueError):
            pass
        fsys.move(staged_schema, f"{p}/{_TABLE_SCHEMA_SIDECAR}")
    try:
        # clustered by construction (one task per file, fresh encode)
        # and mask-free (the re-encode materialized every deletion
        # vector)
        _write_clustered_marker(ckpt_dir, has_deletes=False)
    except (OSError, ValueError):
        pass
    log = read_commit_log(ckpt_dir)
    if log is not None:
        last = log[-1]
        if not (last["action"] == "replace"
                and last["files"] == sorted(new)):
            _append_commit(ckpt_dir, "replace", "", sorted(new))
    fsys.delete_file(f"{p}/{_OPTIMIZE_PENDING}")
    try:
        fsys.delete_dir(staging)
    except (OSError, ValueError):
        pass
    # release the optimize's whole-rewrite mutation lock (claimed by
    # optimize_checkpoint; also reached via direct finish_optimize
    # crash recovery) — never a foreign mutation's marker
    rec = _read_mutation_pending(ckpt_dir)
    if rec is not None and rec.get("action") == "optimize":
        try:
            fsys.delete_file(f"{p}/{_MUTATION_PENDING}")
        except (OSError, ValueError):
            pass
    return ckpt_dir


# ---------------------------------------------------------------------------
# checkpointed / resumable encode
# ---------------------------------------------------------------------------


def _has_manifest(ckpt_dir: str) -> bool:
    import os

    if not os.path.isdir(ckpt_dir):
        return False
    for _, _, files in os.walk(ckpt_dir):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def committed_set(spark, ckpt_dir: str) -> frozenset:
    """Read the checkpoint manifest and return the committed chunk keys
    (data rows only; partition-done markers excluded)."""
    from pyspark.sql import functions as F

    if not _has_manifest(ckpt_dir):
        return frozenset()
    rows = (
        spark.read.parquet(ckpt_dir)
        .filter(F.col("column") != DONE_COLUMN)
        .select("chunk_key", "column", "checksum")
        .collect()
    )
    return frozenset((r.chunk_key, r.column, r.checksum) for r in rows)


def done_partitions(spark, ckpt_dir: str, tag: str) -> set[int]:
    """Partition ids whose done marker for ``tag`` is committed. The
    result is bounded by num_partitions — driver-safe at any manifest
    size (unlike collecting 300M chunk rows)."""
    from pyspark.sql import functions as F

    if not _has_manifest(ckpt_dir):
        return set()
    prefix = f"{DONE_COLUMN}:{tag}:"
    rows = (
        spark.read.parquet(ckpt_dir)
        .filter((F.col("column") == DONE_COLUMN) & F.col("chunk_key").startswith(prefix))
        .select("part_id")
        .distinct()
        .collect()
    )
    return {r.part_id for r in rows}


# Above this many not-yet-done chunk rows, skip the frozenset collect
# and switch to the anti-join planning pass (``planned_chunk_keys``):
# the driver then ships only the small NOT-yet-encoded key set. If even
# that overflows, re-encoding is idempotent (content-based chunk keys +
# byte-identical codec choice) and dropDuplicates on read collapses any
# overlap.
MAX_COMMITTED_COLLECT = 2_000_000


def _committed_subset(spark, ckpt_dir: str, done: set[int]):
    """Committed chunk keys restricted to NOT-done partitions (the only
    ones the resumed run re-encodes), plus an overflow flag. In the
    all-or-nothing task-commit model the set is empty or tiny; merged/
    copied manifests can exceed the cap, which signals the caller to
    plan via anti-join instead."""
    from pyspark.sql import functions as F

    if not _has_manifest(ckpt_dir):
        return frozenset(), False
    mdf = spark.read.parquet(ckpt_dir).filter(F.col("column") != DONE_COLUMN)
    if done:
        mdf = mdf.filter(~F.col("part_id").isin(sorted(done)))
    mdf = mdf.select("chunk_key", "column", "checksum")
    if mdf.limit(MAX_COMMITTED_COLLECT + 1).count() > MAX_COMMITTED_COLLECT:
        return frozenset(), True
    return frozenset((r.chunk_key, r.column, r.checksum) for r in mdf.collect()), False


def planned_chunk_keys(df, key_col: str, num_partitions: int,
                       chunk_rows: int = DEFAULT_CHUNK_ROWS,
                       partitioner: str = "hash", sort_within: bool = True,
                       allow_nulls: bool = False):
    """Hash-only planning pass: the ``chunk_key`` every chunk of a full
    encode of ``df`` WOULD get, as a 1-column DataFrame.

    Chunk identity covers ALL sub-column content (_chunk_content_key —
    a keys-only identity collides under non-unique keys), so planning
    reads the full row set through the exact same partition/sort/
    slice/sub-column pipeline as the encode pass — but only HASHES it
    (memory-bandwidth-bound blake2b, no codec work). Chunk boundaries
    sit at fixed row offsets and the row sequence is deterministic
    under 'hash'/'none' layouts, so the produced keys are bit-identical
    to the encode's, including repeat ordinals and the 'none' layout's
    partition salt. Used by resume to anti-join planned keys against a
    too-big-to-collect manifest; the planning scan is the price of a
    collision-free identity, and still ~an order cheaper than encoding."""

    part = _partition_for_encode(df, key_col, num_partitions,
                                 None, partitioner, sort_within)
    salt = partitioner == "none"

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else 0
        tracker = _ChunkKeyTracker(part_id, salt)
        out: list[str] = []
        for tbl in _iter_chunk_tables(batches, chunk_rows):
            csums = []
            for field in tbl.schema:
                arr = tbl.column(field.name).combine_chunks()
                for sub_name, cv in _sub_columns(field.name, arr,
                                                 allow_nulls=allow_nulls):
                    csums.append((sub_name, _checksum(cv)))
            out.append(tracker.assign(_chunk_content_key(csums)))
        if out:
            yield pa.RecordBatch.from_pydict(
                {"chunk_key": out}, schema=pa.schema([("chunk_key", pa.string())])
            )

    return part.mapInArrow(fn, schema="chunk_key string")


def _todo_from_anti_join(spark, ckpt_dir: str, sub, key_col: str, n: int,
                         chunk_rows: int, partitioner: str,
                         sort_within: bool, columns=None,
                         allow_nulls: bool = False) -> frozenset | None:
    """Resume state for manifests too big to collect: anti-join the
    planned chunk keys of the remaining input against the manifest's
    committed keys; what survives is the (small) set still to encode.
    Returns None when the layout can't be pre-planned (weight/range
    partitioners sample nondeterministically; hash WITHOUT the
    in-partition sort leaves row order at the mercy of shuffle-block
    fetch order, so planned keys would not match encode keys and
    committed chunks would be silently skipped) or the todo set itself
    overflows — callers then fall back to idempotent full re-encode."""
    if partitioner not in ("hash", "none"):
        return None
    if partitioner == "hash" and not sort_within:
        return None
    from pyspark.sql import functions as F

    if columns is not None:
        # replicate encode_table's projection: identity covers exactly
        # the encoded sub-columns, nothing more
        sub = sub.select(*dict.fromkeys([key_col] + list(columns)))
    planned = planned_chunk_keys(sub, key_col, n, chunk_rows=chunk_rows,
                                 partitioner=partitioner,
                                 sort_within=sort_within,
                                 allow_nulls=allow_nulls)
    mkeys = (
        spark.read.parquet(ckpt_dir)
        .filter(F.col("column") != DONE_COLUMN)
        .select("chunk_key")
        .distinct()
    )
    todo_rows = (
        planned.distinct()
        .join(mkeys, "chunk_key", "left_anti")
        .limit(MAX_COMMITTED_COLLECT + 1)
        .collect()
    )
    if len(todo_rows) > MAX_COMMITTED_COLLECT:
        return None
    return frozenset(r.chunk_key for r in todo_rows)


def _layout_tag(j: int, sub_jobs: int, n: int, key_col: str, partitioner: str) -> str:
    """Done-marker tag binding the job index to the FULL resume layout.

    The ``xx`` marker (sub_jobs > 1 only) binds the sub-job split hash
    family: the split moved from Murmur3 — which is the same hash the
    hash partitioner uses, so with gcd(sub_jobs, n) > 1 each sub-job
    could reach only n/gcd of the n partitions — to xxhash64, which is
    independent of the partition placement hash. Checkpoints written
    under the old (correlated) split carry ``of{sub_jobs}`` tags without
    the marker and are refused on resume rather than silently mixing two
    different key→sub-job assignments. sub_jobs == 1 has no split, so
    the marker is omitted there (but the ``ck2`` suffix below still
    invalidates ALL pre-round-3 checkpoints, single-job included).

    The ``ck3`` suffix binds the CHUNK-IDENTITY definition: round 3's
    ``ck2`` canonicalized the checksum to class-widest dtypes (so
    ``verify_checksums`` survives the decoder's width coarsening);
    round 4's ``ck3`` widened chunk identity from a keys-only hash to
    the full sub-column content (_chunk_content_key — a keys-only
    identity collides under non-unique keys and silently drops or
    mixes chunks on decode), plus repeat ordinals and the 'none'
    layout's partition salt. A checkpoint written under an older
    definition has different chunk keys for the same rows; resuming it
    would re-encode chunks under NEW keys alongside the old rows and
    silently duplicate on decode — refuse instead."""
    sj = f"of{sub_jobs}xx" if sub_jobs > 1 else "of1"
    # marker chunk_keys parse on ':' — a composite key name ('#ck:a,b')
    # must not leak one into the tag (plain column names never carry
    # ':', so single-key tags are unchanged)
    kt = str(key_col).replace(":", "=")
    return f"j{j}/{sj}-n{n}-{kt}-{partitioner}-ck3"


def _check_resume_layout(spark, ckpt_dir: str, sub_jobs: int, n: int,
                         key_col: str, partitioner: str) -> None:
    """Refuse to resume a checkpoint written under a different
    (sub_jobs, num_partitions) layout: chunk identity is content-based,
    so a different partitioning produces DIFFERENT chunk keys and the
    old and new chunks would both survive dropDuplicates — silently
    duplicating rows on decode."""
    import re

    from pyspark.sql import functions as F

    if not _has_manifest(ckpt_dir):
        return
    rows = (
        spark.read.parquet(ckpt_dir)
        .filter(F.col("column") == DONE_COLUMN)
        .select("chunk_key")
        .distinct()
        .collect()
    )
    expect_suffix = _layout_tag(0, sub_jobs, n, key_col, partitioner).split("/", 1)[1]
    for r in rows:
        parts = r.chunk_key.split(":")
        if len(parts) < 3:
            continue
        tag = parts[1]
        m = re.fullmatch(r"j\d+/(.+)", tag)
        if m is None or m.group(1) != expect_suffix:
            # covers a DIFFERENT (sub_jobs, n, key_col, partitioner) combo
            # AND markers from older tag formats whose layout is unknown —
            # either way, proceeding could silently duplicate or drop rows
            raise ValueError(
                f"checkpoint {ckpt_dir!r} holds done markers for layout "
                f"{tag!r}, but this resume uses {expect_suffix!r} "
                f"(sub_jobs={sub_jobs}, num_partitions={n}, key_col/"
                "partitioner as shown). Resume with the original layout or "
                "start a fresh checkpoint dir — mixing layouts duplicates "
                "or drops chunks"
            )


def encode_table_resumable(df, ckpt_dir: str, sub_jobs: int = 1, **kwargs):
    """Encode with a per-partition checkpoint manifest (north-rule
    resumability). Returns the full manifest DataFrame (markers filtered,
    duplicates collapsed).

    Scale design (10^12 rows ≈ 300M manifest rows — a driver OOM if
    collected): resume state is tracked at PARTITION granularity. Each
    fully-encoded partition commits a ``__done__`` marker row; a resumed
    run collects only the done-partition id set (≤ num_partitions ints),
    drops completed partitions' input rows BEFORE the shuffle via
    ``pmod(hash(key), N)`` (replicating Spark's HashPartitioning
    placement — asserted in tests/test_resume.py), and re-encodes only
    the rest. Chunk-level checksum skipping remains as defense for
    merged/copied manifests, restricted to not-done partitions and capped
    (MAX_COMMITTED_COLLECT) so the driver never materializes an unbounded
    set; past the cap the set is INVERTED — a keys-only planning pass
    anti-joins the would-be chunk keys against the manifest and ships
    only the small not-yet-encoded set (``_todo_from_anti_join``) — and
    only if that too overflows does idempotent re-encode +
    dropDuplicates-on-read take over.

    ``sub_jobs > 1`` splits the input into ``sub_jobs`` disjoint key sets
    encoded as separate append jobs: a crash loses at most 1/sub_jobs of
    the work (Spark's committer is all-or-nothing per job, so a single
    100 TB job that dies mid-way commits nothing).

    Codec choice is a pure function of the chunk's values (selector.py),
    so a re-encoded chunk is byte-identical — verified by checksum in
    tests/test_resume.py. Partitioning defaults to deterministic hash
    bucketing so chunk boundaries are identical on every run (range
    sampling is not).
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    kwargs.setdefault("partitioner", "hash")
    key_col = kwargs.get("key_col", "doc_id")
    ck_name, _, _ckp = _composite_args(key_col)
    if _ckp:
        # composite key: derive the canonical sub-column ONCE here so
        # the sub-job split / done-partition drop hash the SAME column
        # the encode keys on (deterministic — resume byte-identity
        # holds); encode_table then sees a plain string key column
        df = df.withColumn(ck_name, _composite_key_expr(df, _ckp))
        kwargs["key_col"] = ck_name
    key_col = ck_name
    n = kwargs.get("num_partitions") or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    kwargs["num_partitions"] = n
    partitioner = kwargs["partitioner"]
    if partitioner == "none":
        # with 'none' the task layout is the SCAN's file/split count, not
        # num_partitions — the done-count skip and the layout tag must
        # bind the real partition count or a completed encode would never
        # satisfy ``len(done) >= n`` and every resume would re-scan
        # (duplicates collapse via content keys, but the full pass is
        # wasted and the checkpoint grows each run)
        n = max(1, df.rdd.getNumPartitions())
    _check_resume_layout(spark, ckpt_dir, sub_jobs, n, key_col, partitioner)
    for j in range(sub_jobs):
        # the tag binds the FULL layout (sub_jobs, n, key_col,
        # partitioner): done ids are only meaningful under the same
        # pmod(hash(key), n) placement, and _check_resume_layout refuses
        # any mismatch rather than silently duplicating or dropping rows
        tag = _layout_tag(j, sub_jobs, n, key_col, partitioner)
        # sub-job split via xxhash64: decorrelated from the Murmur3
        # partition hash, so every sub-job's rows spread over ALL n
        # partitions (pmod(hash(key), sub_jobs) with gcd(sub_jobs, n) = g
        # > 1 reaches only n/g of them — 75% empty tasks at the typical
        # power-of-two sub_jobs=4 / n=32)
        sub = df if sub_jobs == 1 else df.filter(
            F.pmod(F.xxhash64(F.col(key_col)), F.lit(sub_jobs)) == j
        )
        done = done_partitions(spark, ckpt_dir, tag)
        if len(done) >= n:
            continue  # sub-job fully committed: zero input scanned
        if done and kwargs["partitioner"] == "hash":
            sub = sub.filter(
                ~F.pmod(F.hash(F.col(key_col)), F.lit(n)).isin(sorted(done))
            )
        committed, overflow = _committed_subset(spark, ckpt_dir, done)
        todo = None
        if overflow:
            # the committed set is too big for the driver: invert it —
            # plan the chunk keys of the remaining input (keys-only scan)
            # and anti-join against the manifest; only the NOT-yet-done
            # keys (small, by resume assumption) ship to executors
            todo = _todo_from_anti_join(
                spark, ckpt_dir, sub, key_col, n,
                kwargs.get("chunk_rows", DEFAULT_CHUNK_ROWS),
                partitioner, kwargs.get("sort_within", True),
                columns=kwargs.get("columns"),
                allow_nulls=kwargs.get("allow_nulls", False),
            )
        manifest = encode_table(sub, committed=committed, todo=todo,
                                done_marker_tag=tag, **kwargs)
        manifest.write.mode("append").parquet(ckpt_dir)
    return (
        spark.read.parquet(ckpt_dir)
        .filter(F.col("column") != DONE_COLUMN)
        .dropDuplicates(["chunk_key", "column"])
    )


# ---------------------------------------------------------------------------
# metrics / compute-on-compressed
# ---------------------------------------------------------------------------


def runs_table(manifest_df, column: str):
    """Expose a column's RLE runs as a DataFrame (value string, run_length)
    WITHOUT expanding them — the compute-on-compressed path (reference
    src/test_rle.rs:8-17; org:1034-1048 'process the data in fewer
    iterations'). Aggregates like counts/sums run on the run domain.
    """
    from .column import decode_runs

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            cols = b.column("column").to_pylist()
            blobs = b.column("blob")
            for i in range(b.num_rows):
                if cols[i] != column:
                    # deletion-vector sidecars ride the stream purely as
                    # a guard: compute-on-compressed aggregates runs
                    # WITHOUT expansion, so a row-position mask cannot
                    # apply — the run counts would include deleted rows
                    raise ValueError(
                        f"runs_table({column!r}): manifest carries "
                        f"deletion vectors ({cols[i]!r}) — materialize "
                        "them first (compact_checkpoint(rechunk_rows=...)"
                        " or decode + re-encode), then aggregate runs"
                    )
                rv, rl = decode_runs(blobs[i].as_py())
                arr = rv.to_arrow().cast(pa.string())
                yield pa.RecordBatch.from_arrays(
                    [arr, pa.array(rl, type=pa.int64())], ["value", "run_length"]
                )

    from pyspark.sql import functions as F

    return manifest_df.filter(
        (manifest_df.column == column)
        | F.col("column").startswith(DELETES_PREFIX)
    ).mapInArrow(fn, schema="value string, run_length bigint")


def manifest_summary(manifest_df):
    """Per-column codec + size metrics from the lineage manifest.
    Deletion-vector generations coalesce under one ``__deletes__`` row
    (n_values = total masked positions, an upper bound under
    overlapping generations)."""
    from pyspark.sql import functions as F

    return (
        manifest_df.filter(F.col("column") != DONE_COLUMN)
        .withColumn(
            "column",
            F.when(F.col("column").startswith(DELETES_PREFIX),
                   F.lit(DELETES_PREFIX)).otherwise(F.col("column")),
        )
        .groupBy("column", "codec")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_values").alias("n_values"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("bytes_out").alias("bytes_out"),
        )
        .withColumn(
            "ratio",
            # deletion-vector rows have bytes_in=0 (they encode nothing)
            F.when(F.col("bytes_in") > 0,
                   F.round(F.col("bytes_out") / F.col("bytes_in"), 4)),
        )
    )


# (The leaf-eligibility regex _STATS_LEAF_RE lives next to the NDV
# sketch block — the encode-side sketch gate shares it. Nullable
# exclusion stays the exact sibling `column#valid` check: flatten()
# nulls child slots under null struct parents, so every maskable level
# carries its OWN #valid.)


def _stats_base(manifest_df):
    """Rows eligible for the metadata aggregates: leaf-shaped columns
    (top-level scalars + struct ``#f:`` paths), markers and deletion
    sidecars out, duplicate (chunk_key, column) rows COLLAPSED — a
    resumed/merged manifest's duplicated chunks would otherwise
    double-count every additive stat (SUM/COUNT; review finding,
    round 4). The dedup is safe because duplicate rows are
    byte-identical re-encodes of the same chunk values."""
    from pyspark.sql import functions as F

    return (
        manifest_df.filter(
            (F.col("column") != DONE_COLUMN)
            & F.col("column").rlike(_STATS_LEAF_RE)
            & ~F.col("column").startswith(DELETES_PREFIX)
        )
        .dropDuplicates(["chunk_key", "column"])
    )


def _deletion_affected_columns(manifest_df):
    """Column names with at least one deletion-masked chunk: their
    metadata stats are a stale SUPERSET (the deleted rows may be the
    extremes / ride the sums), so exact-or-absent drops them until a
    re-encoding compaction materializes the masks. Blob-free."""
    from pyspark.sql import functions as F

    deleted_chunks = (
        manifest_df.filter(F.col("column").startswith(DELETES_PREFIX))
        .select("chunk_key")
        .distinct()
    )
    return (
        manifest_df.join(F.broadcast(deleted_chunks), "chunk_key",
                         "left_semi")
        .filter(
            (F.col("column") != DONE_COLUMN)
            & F.col("column").rlike(_STATS_LEAF_RE)
            & ~F.col("column").startswith(DELETES_PREFIX)
        )
        .select(F.col("column").alias("column_name"))
        .distinct()
    )


def _nullable_columns(manifest_df):
    """Column names carrying a ``#valid`` mask sub-column."""
    from pyspark.sql import functions as F

    return (
        manifest_df.filter(F.col("column").endswith("#valid"))
        .select(
            F.expr("substring(column, 1, length(column) - 6)")
            .alias("column_name"))
        .distinct()
    )


def column_stats(manifest_df):
    """Aggregate PUSHDOWN to manifest metadata: per-column
    ``(column_name, v_min, v_max, n_values)`` computed ENTIRELY from the
    per-chunk value zone maps and footer counts — zero blob bytes read,
    the metadata-side extension of the reference's compute-on-compressed
    idea (org:1034-1048; decode_footer src/lib.rs:45-48). At 100 TB this
    is the difference between a sub-second manifest aggregate and a full
    decode: MIN/MAX/COUNT of any numeric column costs one blob-free
    groupBy of the (tiny) metadata relation.

    Exactness rules — a column is EMITTED only when its stats are exact,
    else it is silently absent (callers fall back to a decode):

    * top-level scalar columns AND struct leaves (``name#f:field``,
      row-aligned scalars) are reported; list/map internals
      (``#lengths``, ``#values``, ``#valid``, ``#mk``, ``#mv``) are not
      — a list column's ``#values`` counts elements, not rows, and a
      nullable column's fillers pollute ``#lengths`` extremes;
    * nullable columns are excluded (detected by their ``#valid``
      sibling sub-column — null slots store filler values that would
      pollute the extremes, and SQL MIN/MAX ignores NULLs);
    * columns where any chunk lacks a zone map are excluded (non-numeric
      chunks, all-NaN float chunks);
    * float columns: NaNs are excluded from the maps, so v_min/v_max are
      the finite extremes (matching SQL aggregate semantics, NOT Spark's
      greatest-value NaN ordering);
    * integers beyond 2^53 have their bounds widened to the enclosing
      float64 (the manifest stores doubles) — conservative, not exact;
    * temporal columns report their normalized encoding (epoch
      micros / days) as doubles.
    """
    from pyspark.sql import functions as F

    agg = (
        _stats_base(manifest_df)
        .groupBy(F.col("column").alias("column_name"))
        .agg(
            F.min("val_min").alias("v_min"),
            F.max("val_max").alias("v_max"),
            F.sum("n_values").alias("n_values"),
            F.count("*").alias("_n_chunks"),
            F.count("val_min").alias("_n_mapped"),
        )
    )
    return (
        agg.filter(F.col("_n_chunks") == F.col("_n_mapped"))
        .join(F.broadcast(_nullable_columns(manifest_df)),
              "column_name", "left_anti")
        .join(F.broadcast(_deletion_affected_columns(manifest_df)),
              "column_name", "left_anti")
        .drop("_n_chunks", "_n_mapped")
    )


def column_sums(manifest_df):
    """SUM/AVG/COUNT pushdown to manifest metadata: per-column
    ``(column_name, v_sum, n_rows, n_nonnull)`` computed ENTIRELY from
    the per-chunk ``val_sum`` metadata (``_value_sum``) — zero blob
    bytes read, the additive-aggregate sibling of ``column_stats``'
    MIN/MAX. ``AVG = v_sum / n_nonnull``; ``COUNT(col) = n_nonnull``
    (a nullable column's non-null count is its ``#valid`` mask's sum —
    the 0/1 mask IS the count, so COUNT pushdown falls out for free).
    At 100 TB this turns a full-column decode into a blob-free groupBy
    of the (tiny) metadata relation.

    Exactness rules — a column is EMITTED only when its sum is exact,
    else it is silently absent (callers fall back to a decode):

    * INTEGER-encoded columns only (ints, bools as 0/1, temporals as
      epoch micros/days, decimals as unscaled ints — temporal/decimal
      sums report that normalized encoding): integer addition is
      order-independent; a float SUM is order-DEPENDENT rounding, so
      no metadata float sum can exactly match an engine's sequential
      sum — floats and strings never appear;
    * top-level scalar columns and struct leaves (``name#f:field``);
      list/map internals are excluded, and nullable columns require
      every ``#valid`` chunk summed too (null slots store 0 fillers,
      so v_sum already equals the SQL SUM that ignores NULLs);
    * chunks written before ``val_sum`` existed (legacy manifests, or
      a manifest missing the column entirely) and chunks carrying
      deletion-vector masks (stale superset) drop the column.
    """
    from pyspark.sql import functions as F

    out_ddl = ("column_name string, v_sum decimal(38,0), "
               "n_rows bigint, n_nonnull bigint")
    if "val_sum" not in manifest_df.columns:
        spark = manifest_df.sparkSession
        return spark.createDataFrame([], out_ddl)
    agg = (
        _stats_base(manifest_df)
        .groupBy(F.col("column").alias("column_name"))
        .agg(
            F.sum("val_sum").alias("v_sum"),
            F.sum("n_values").alias("n_rows"),
            F.count("*").alias("_n_chunks"),
            F.count("val_sum").alias("_n_summed"),
        )
    )
    valid = (
        manifest_df.filter(F.col("column").endswith("#valid"))
        .dropDuplicates(["chunk_key", "column"])
        .groupBy(
            F.expr("substring(column, 1, length(column) - 6)")
            .alias("column_name"))
        .agg(
            F.sum("val_sum").alias("_n_valid"),
            F.sum("n_values").alias("_vn"),
            F.count("*").alias("_vc"),
            F.count("val_sum").alias("_vs"),
        )
    )
    return (
        agg.filter(F.col("_n_chunks") == F.col("_n_summed"))
        .join(F.broadcast(valid), "column_name", "left")
        # a nullable column whose #valid rows are only partially summed
        # (legacy mix) has an inexact non-null count: exact-or-absent
        .filter(F.col("_vc").isNull() | (F.col("_vc") == F.col("_vs")))
        # #valid sub-columns exist only for chunks that HOLD a null —
        # chunks without one are fully non-null, so the non-null count
        # is n_rows MINUS the nulls the masked chunks recorded
        # (their n_values - their 0/1 sum), never the masked chunks'
        # sum alone (measured wrong AVG when nulls cluster in a few
        # chunks — review finding, round 4)
        .withColumn(
            "n_nonnull",
            F.col("n_rows") - F.coalesce(
                (F.col("_vn") - F.col("_n_valid")).cast("long"),
                F.lit(0)))
        .join(F.broadcast(_deletion_affected_columns(manifest_df)),
              "column_name", "left_anti")
        .select("column_name", "v_sum", "n_rows", "n_nonnull")
    )


def column_moments(manifest_df):
    """VARIANCE/STDDEV pushdown to manifest metadata: per-column
    ``(column_name, n_nonnull, v_sum, v_sum2, var_pop, stddev_pop)``
    from the per-chunk first and second moments (``val_sum`` /
    ``val_sum2``) — zero blob bytes read. The decimal sums aggregate
    distributed; the final derivation runs driver-side on the ≤
    #columns result rows in EXACT Python integers,
    ``var_pop = (n·Σx² − (Σx)²) / n²`` (Cauchy–Schwarz keeps the
    numerator ≥ 0), floated only at the end — so the doubles are the
    correctly-rounded population moments, not a streaming
    approximation. Same exact-or-absent contract as ``column_sums``
    (integer-encoded columns only; temporals/decimals report their
    normalized epoch/unscaled encoding; any chunk missing either sum —
    legacy manifests, >10^38 squares — drops the column; deletion-
    masked columns drop). At 100 TB this turns a full-column scan into
    a blob-free metadata groupBy plus O(#columns) driver math."""
    import decimal as _dec
    import math

    from pyspark.sql import functions as F

    out_ddl = ("column_name string, n_nonnull bigint, "
               "v_sum decimal(38,0), v_sum2 decimal(38,0), "
               "var_pop double, stddev_pop double")
    spark = manifest_df.sparkSession
    if "val_sum2" not in manifest_df.columns:
        return spark.createDataFrame([], out_ddl)
    s2 = (
        _stats_base(manifest_df)
        .groupBy(F.col("column").alias("column_name"))
        .agg(
            F.sum("val_sum2").alias("v_sum2"),
            F.count("*").alias("_c2"),
            F.count("val_sum2").alias("_s2"),
        )
        .filter(F.col("_c2") == F.col("_s2"))
        .select("column_name", "v_sum2")
    )
    rows = column_sums(manifest_df).join(s2, "column_name").collect()
    data = []
    for r in sorted(rows, key=lambda r: r["column_name"]):
        n = int(r["n_nonnull"])
        if n == 0:
            continue  # no non-null rows: moments undefined
        s, q = int(r["v_sum"]), int(r["v_sum2"])
        num = n * q - s * s  # n² · var_pop, exact
        var = num / (n * n)
        data.append((r["column_name"], n, _dec.Decimal(s), _dec.Decimal(q),
                     float(var), math.sqrt(var)))
    return spark.createDataFrame(data, out_ddl)


def column_quantiles(manifest_df, column: str, qs=(0.5, 0.9, 0.99)):
    """QUANTILE pushdown to manifest metadata: for each requested
    fraction q, a CERTIFIED interval ``[lo, hi]`` guaranteed to contain
    the true q-quantile (the ceil(q·n)-th smallest value), computed
    entirely from the opt-in per-chunk histograms
    (``encode_table(histograms=True)``, ``val_hist``) — zero blob bytes
    read. Never a point estimate pretending to be exact: the interval
    IS the honest answer, one merged-bucket wide.

    Bound construction (rank sandwich): a bucket's values lie within
    its edge interval, so ``hi`` = the smallest bucket upper edge whose
    cumulative certainly-≤ mass reaches rank k, and ``lo`` = the
    largest bucket lower edge whose cumulative possibly-≤ mass still
    falls short of k. Edges are reconstructed from each chunk's zone
    map and widened a few ulp outward, so float rounding can only
    WIDEN the interval. Returns (q, lo, hi, n_rows); EMPTY when the
    column is not fully histogrammed (legacy chunks, nullable columns
    — zero fillers would poison buckets — NaN-bearing or non-numeric
    chunks) or carries deletion masks: approximate-or-absent, the
    quantile sibling of column_sums' exact-or-absent. The merge is a
    blob-free metadata aggregate (≤64 buckets/chunk) plus two
    metadata-scale ordered cumulative sums."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out_ddl = "q double, lo double, hi double, n_rows bigint"
    spark = manifest_df.sparkSession
    qs = sorted(set(float(q) for q in qs))
    if not qs or not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"quantile fractions must be in (0, 1]: {qs}")
    if "val_hist" not in manifest_df.columns:
        return spark.createDataFrame([], out_ddl)
    base = (
        _stats_base(manifest_df)
        .filter(F.col("column") == column)
        .select("n_values", "val_min", "val_max", "val_hist")
    )
    gate = base.agg(
        F.count("*").alias("c"),
        F.count("val_hist").alias("h"),
        F.sum("n_values").alias("n"),
        F.min("val_min").alias("gmin"),
    ).collect()[0]
    if (gate["c"] == 0 or gate["c"] != gate["h"] or not gate["n"]
            or _deletion_affected_columns(manifest_df)
            .filter(F.col("column_name") == column).count()):
        return spark.createDataFrame([], out_ddl)
    n = int(gate["n"])

    def explode_hist(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            vmins = b.column("val_min").to_numpy(zero_copy_only=False)
            vmaxs = b.column("val_max").to_numpy(zero_copy_only=False)
            lo_o: list = []
            hi_o: list = []
            ct_o: list = []
            for i, blob in enumerate(b.column("val_hist").to_pylist()):
                counts = np.frombuffer(blob, np.uint32)
                nz = np.flatnonzero(counts)
                vmin, vmax = float(vmins[i]), float(vmaxs[i])
                if vmax <= vmin:
                    lo_o.append(vmin)
                    hi_o.append(vmin)
                    ct_o.append(int(counts.sum()))
                    continue
                w = (vmax - vmin) / _HIST_BUCKETS
                lo = vmin + nz * w
                hi = vmin + (nz + 1) * w
                # widen outward: float rounding in edge reconstruction
                # must only ever WIDEN the certified interval
                for _ in range(4):
                    lo = np.nextafter(lo, -np.inf)
                    hi = np.nextafter(hi, np.inf)
                lo = np.maximum(lo, vmin)
                hi[nz == _HIST_BUCKETS - 1] = vmax
                lo_o.extend(lo.tolist())
                hi_o.extend(hi.tolist())
                ct_o.extend(counts[nz].astype(np.int64).tolist())
            yield pa.RecordBatch.from_pydict(
                {"lo": pa.array(lo_o, pa.float64()),
                 "hi": pa.array(hi_o, pa.float64()),
                 "cnt": pa.array(ct_o, pa.int64())})

    exploded = base.mapInArrow(
        explode_hist, "lo double, hi double, cnt long"
    ).localCheckpoint(eager=True)
    cum_hi = (
        exploded.groupBy("hi").agg(F.sum("cnt").alias("c"))
        .withColumn("cum", F.sum("c").over(
            Window.orderBy("hi").rowsBetween(Window.unboundedPreceding, 0)))
    ).localCheckpoint(eager=True)
    cum_lo = (
        exploded.groupBy("lo").agg(F.sum("cnt").alias("c"))
        .withColumn("cum", F.sum("c").over(
            Window.orderBy("lo").rowsBetween(Window.unboundedPreceding, 0)))
    ).localCheckpoint(eager=True)
    import math

    rows = []
    gmin = float(gate["gmin"])
    for q in qs:
        k = max(1, math.ceil(q * n))
        hi_b = cum_hi.filter(F.col("cum") >= k).agg(F.min("hi")).collect()[0][0]
        lo_b = cum_lo.filter(F.col("cum") < k).agg(F.max("lo")).collect()[0][0]
        rows.append((q, gmin if lo_b is None else float(lo_b),
                     float(hi_b), n))
    return spark.createDataFrame(rows, out_ddl)


def column_ndv(manifest_df):
    """APPROXIMATE COUNT DISTINCT pushdown: per-column
    ``(column_name, ndv_estimate, n_rows)`` merged entirely from the
    per-chunk HyperLogLog register arrays an
    ``encode_table(ndv_sketches=True)`` run records (``val_ndv``,
    1 KB/chunk/column of manifest metadata) — zero blob bytes read.
    HLL registers merge by elementwise max, so the whole-column
    estimate is exactly the sketch of the union (standard error ~3.25%
    at p=10; the NDV stat every cost-based planner wants).

    Emitted only when trustworthy (the approximate analogue of
    ``column_stats``' exact-or-absent): integer/string top-level
    scalar columns and struct leaves where EVERY chunk carries a
    sketch — sketch-less
    encodes, float columns, nullable columns (the null fill would ride
    the estimate), and deletion-masked chunks (stale superset) drop
    out. Each column's sketches ship to one reducer (chunks × 1 KB —
    bounded by chunk count, not rows)."""
    import pandas as pd
    from pyspark.sql import functions as F

    out_ddl = "column_name string, ndv_estimate double, n_rows bigint"
    if "val_ndv" not in manifest_df.columns:
        return manifest_df.sparkSession.createDataFrame([], out_ddl)

    def _merge(s):
        regs = np.zeros(_NDV_M, dtype=np.uint8)
        for b in s:
            if b is not None:
                np.maximum(regs, np.frombuffer(b, dtype=np.uint8),
                           out=regs)
        return float(_ndv_estimate(regs))

    # annotations set as REAL types (not strings): this module's
    # `from __future__ import annotations` would otherwise leave
    # pandas_udf's hint parser unable to resolve 'pd.Series' (pandas is
    # a function-local import here)
    _merge.__annotations__ = {"s": pd.Series, "return": float}
    merge_est = F.pandas_udf(_merge, "double")

    base = _stats_base(manifest_df)
    # a grouped-agg pandas UDF cannot share an .agg() with JVM
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — two passes over the
    # tiny metadata relation, joined on the column name
    est = (
        base.groupBy(F.col("column").alias("column_name"))
        .agg(merge_est("val_ndv").alias("ndv_estimate"))
    )
    counts = (
        base.groupBy(F.col("column").alias("column_name"))
        .agg(
            F.sum("n_values").alias("n_rows"),
            F.count("*").alias("_n_chunks"),
            F.count("val_ndv").alias("_n_sketched"),
        )
    )
    agg = est.join(counts, "column_name")
    return (
        agg.filter(F.col("_n_chunks") == F.col("_n_sketched"))
        .join(F.broadcast(_nullable_columns(manifest_df)),
              "column_name", "left_anti")
        .join(F.broadcast(_deletion_affected_columns(manifest_df)),
              "column_name", "left_anti")
        .select("column_name", "ndv_estimate", "n_rows")
    )


# ---------------------------------------------------------------------------
# hybrid metadata/decode analytics over one snapshot
# ---------------------------------------------------------------------------
#
# count/sum/top-k/group-by each answer what the manifest metadata can
# prove and decode only the rest — the compute-on-compressed idea
# (org:1034-1048) plus metadata partition elimination. Each is written
# once over a _Snapshot, which hides whether the table is an in-memory
# manifest frame or a persisted checkpoint directory.


class _Snapshot:
    """One table version for the hybrid pushdowns: its Arrow ``schema``,
    its metadata ``frame`` (a manifest frame, None for an empty
    ``as_of`` snapshot) and ``decode``. The frame loads on first use, so
    argument validation and unsatisfiable predicates never touch the
    table. Build it with ``of_manifest`` or ``of_checkpoint``."""

    def __init__(self, spark, schema, load, ckpt_dir=None, as_of=None):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.spark = spark
        self.schema = (schema if isinstance(schema, pa.Schema)
                       else to_arrow_schema(schema))
        self._load, self._ckpt, self._as_of = load, ckpt_dir, as_of

    @classmethod
    def of_manifest(cls, manifest_df, out_schema):
        # pin an in-flight encode lineage ONCE: the classifier, the
        # thresholds and the decode each re-evaluate the manifest, and
        # the default range partitioner's sampler is nondeterministic —
        # drifted chunk boundaries would silently desync the
        # semi-joined chunk_keys. Persisted manifests re-scan for
        # pennies and skip the pin.
        def load():
            if _cheap_rescan(manifest_df):
                return manifest_df
            return manifest_df.localCheckpoint(eager=True)

        return cls(manifest_df.sparkSession, out_schema, load)

    @classmethod
    def of_checkpoint(cls, spark, ckpt_dir: str, out_schema=None,
                      as_of=None):
        """The checkpoint as of commit ``as_of`` (None: current). The
        frame is the manifest parquet itself; callers select metadata
        columns only, so parquet column pruning keeps the blob bytes
        unread. ``out_schema=None`` resolves the ``_table_schema``
        sidecar."""
        _raise_if_pending(ckpt_dir)
        if out_schema is None:
            out_schema = read_checkpoint_schema(ckpt_dir)
            if out_schema is None:
                raise ValueError(
                    f"checkpoint {ckpt_dir!r} carries no _table_schema "
                    "sidecar — pass out_schema=, or persist with "
                    "write_checkpoint(manifest, dir, schema=...)")

        def load():
            if as_of is None:
                return spark.read.parquet(ckpt_dir)
            allowed = _files_as_of(ckpt_dir, as_of)
            return (_checkpoint_source(spark, ckpt_dir, allowed)
                    if allowed else None)

        return cls(spark, out_schema, load, ckpt_dir, as_of)

    @functools.cached_property
    def frame(self):
        return self._load()

    def decode(self, columns, keep=None, value_range=None, value_in=None):
        """Decode ``columns`` of exactly the chunks ``keep`` names (a
        ``chunk_key`` frame), or, when ``keep`` is None, of every chunk
        the ``value_range``/``value_in`` zone maps admit. Returns
        ``(decoded, split)``. ``split`` is True when only ``keep``'s
        chunks were read, so the caller may answer the other chunks from
        metadata. A checkpoint keeping more than VALUE_PRUNE_MAX_KEYS
        chunks instead decodes the whole zone-pruned snapshot (the
        restriction map would not fit the driver): same rows, ``split``
        False, and the caller drops its metadata side."""
        if self._ckpt is None:
            if keep is None:
                return decode_table(
                    self.frame, self.schema, columns=columns,
                    value_range=value_range, value_in=value_in), False
            # keep already names the exact chunk set: the zone prune's
            # eager hit-key jobs would be pure overhead
            return decode_table(
                self.frame.join(keep, "chunk_key", "left_semi"),
                self.schema, columns=columns), True
        restrict = (None if keep is None
                    else _collect_chunk_files(self.frame, keep))
        if restrict is None:
            return decode_checkpoint(
                self.spark, self._ckpt, self.schema, columns=columns,
                value_range=value_range, value_in=value_in,
                as_of=self._as_of), False
        return decode_checkpoint(
            self.spark, self._ckpt, self.schema, columns=columns,
            as_of=self._as_of, _restrict_chunks=restrict), True


class _Where(NamedTuple):
    """A parsed hybrid predicate (``_where_parse``): normalized range
    ``specs``, IN-list ``in_specs``, their AND-combined exact filter
    ``cond``, and False ``satisfiable`` when it provably matches
    nothing."""

    specs: list
    in_specs: list
    cond: object
    satisfiable: bool

    @property
    def cols(self) -> set:
        """Top-level columns the predicates read (decode projection)."""
        return {s[0].split("#", 1)[0] for s in self.specs + self.in_specs}

    @property
    def value_range(self):
        """The range specs as a decode ``value_range=`` argument."""
        if not self.specs:
            return None
        return self.specs if len(self.specs) > 1 else self.specs[0]

    @property
    def value_in(self):
        """The first IN spec as a decode ``value_in=`` argument: the
        decode paths take at most ONE — further lists ride the exact
        post-filter only (correct, just less pruned)."""
        if not self.in_specs:
            return None
        return (self.in_specs[0][0], self.in_specs[0][1])


def _where_parse(schema, where, where_in, fn: str, required: bool = True):
    """The predicate preamble of every hybrid pushdown: validate
    ``where`` ranges (``_where_specs``) and ``where_in`` IN-lists
    (``_where_in_specs``) against ``schema`` into one ``_Where``. With
    neither given, raise for ``fn`` when ``required``, else return
    None (the unfiltered form of the analytic)."""
    specs, cond, satisfiable = _where_specs(schema, where)
    in_specs, in_cond, in_sat = _where_in_specs(schema, where_in)
    if not specs and not in_specs:
        if required:
            raise ValueError(f"{fn} needs where= and/or where_in=")
        return None
    if cond is None:
        cond = in_cond
    elif in_cond is not None:
        cond = cond & in_cond
    return _Where(specs, in_specs, cond, satisfiable and in_sat)


def _topk_threshold(manifest_df, value_col: str, k: int, descending: bool,
                    need_hist: bool, cls=None):
    """The certified top-k prune threshold, metadata only: a
    ``value_range`` 3-tuple the top-k decode can prune with, or None
    when nothing certifies one (the caller then decodes every chunk its
    predicate keeps).

    Each chunk certifies that all of its ``n_values`` ranked values lie
    >= ``val_min`` (descending case), so ordering chunks by ``val_min``
    DESC and accumulating ``n_values`` until the running total reaches
    k yields tau = that chunk's ``val_min``, with "at least k values
    are certainly >= tau"; every chunk whose ``val_max`` < tau is then
    provably outside the answer. Only chunks whose count is exact for
    the ranked rows accumulate: with a predicate classification ``cls``
    (``_count_where_classify``) the 'in' chunks only (a 'dec' chunk's
    rows may fail the predicate); without one, every chunk except the
    deletion-masked ones (their counts are stale supersets). A nullable
    column certifies nothing (null rows count in ``n_values`` but never
    rank), nor does a legacy manifest without value maps; with
    ``need_hist`` (floats) chunks without a histogram drop, because the
    encoder withholds histograms from NaN-bearing chunks and NaN never
    ranks; and k >= the accumulated rows gives None. Every drop only
    LOWERS tau, so it decodes more and never lies.

    The non-tau side of the returned range is OPEN (±inf), never a
    synthesized max/min literal: zone metadata stores float64, and a
    reconstructed int64 bound past 2^53 could round below the true
    maximum and make the exact post-filter drop the very rows being
    ranked. The tau side is safe under float64 rounding by
    monotonicity: every value in a certifying chunk satisfies
    double(v) >= double(val_min) >= tau, so >= k rows survive the
    filter and any filtered-out row is provably outside the top-k.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if "val_min" not in manifest_df.columns or (
            need_hist and "val_hist" not in manifest_df.columns):
        return None
    if _nullable_columns(manifest_df).filter(
            F.col("column_name") == value_col).count():
        return None
    if cls is not None:
        exact = (cls.filter(F.col("__cls") == "in").select("chunk_key"),
                 "left_semi")
    else:
        exact = (manifest_df.filter(F.col("column").startswith(
            DELETES_PREFIX)).select("chunk_key"), "left_anti")
    base = (
        _stats_base(manifest_df)
        .filter(F.col("column") == value_col)
        .join(exact[0], "chunk_key", exact[1])
        .filter(F.col("val_min").isNotNull())
    )
    if need_hist:
        base = base.filter(F.col("val_hist").isNotNull())
    # metadata-scale ordered cumulative sum (#distinct bounds rows —
    # same single-task window column_quantiles accepts)
    bound = F.col("val_min") if descending else F.col("val_max")
    cum = (
        base.groupBy(bound.alias("b"))
        .agg(F.sum("n_values").alias("cnt"))
        .withColumn("cum", F.sum("cnt").over(
            Window.orderBy(
                F.col("b").desc() if descending else F.col("b").asc()
            ).rowsBetween(Window.unboundedPreceding, 0)))
    )
    reached = F.when(F.col("cum") >= k, F.col("b"))
    tau, total = cum.agg(
        F.max(reached) if descending else F.min(reached),
        F.max("cum")).collect()[0]
    if tau is None or total <= k:
        return None
    return ((value_col, float(tau), float("inf")) if descending
            else (value_col, float("-inf"), float(tau)))


def topk_table(manifest_df, out_schema, value_col: str, k: int,
               descending: bool = True, columns=None, extra_order=(),
               where=None, where_in=None):
    """TOP-K pushdown: the ``k`` rows with the largest (``descending``,
    default) or smallest non-null ``value_col``, decoding only chunks
    the per-chunk value zone maps cannot exclude from the answer — the
    ORDER BY ... LIMIT k shape over compressed data (the reference's V1
    row-skipping wish, org:187-194, pointed at ranking instead of
    equality).

    A certified threshold tau (``_topk_threshold``, metadata only)
    excludes every chunk whose extreme cannot reach it; the decode then
    rides the ``value_range=(value_col, tau, +inf)`` prune and an exact
    ``ORDER BY ... LIMIT k`` finishes (Spark plans it as
    TakeOrderedAndProject — per-partition top-k heaps, only k rows per
    partition ever reach the driver). Certification degrades, never
    lies: a legacy manifest without value maps, a nullable column,
    floats without histograms (``encode_table(histograms=True)``), or
    k >= the certifiable rows each fall back to a full decode + exact
    sort — the same rows, no prune. Deletion-masked chunks only drop
    out of the tau. NaN rows are excluded from the ranking on every
    path (documented semantics; engines disagree on NaN order).

    ``where``/``where_in`` (``count_where``'s grammar) make it the
    filtered leaderboard ``SELECT ... WHERE ... ORDER BY v LIMIT k``:
    chunks the predicate classifier proves 'out' never open, tau
    accumulates over 'in' chunks only, and the exact predicate filters
    apply before the sort. On a layout clustered by (predicate,
    ``value_col``) — range partitioner or z-order — this decodes
    O(k / chunk_rows + #boundary) chunks of an arbitrarily large table;
    on an uncorrelated layout every chunk may qualify and it degrades
    to the plain sort, never worse. ``extra_order`` appends
    deterministic tie-break columns; ``columns`` projects the decode
    (must include ``value_col``'s top-level field, the predicate
    columns, and the tie-breaks). int/float columns only: the tau
    literal re-enters ``value_range`` as a plain number, which the
    temporal/decimal specs reject by design.
    """
    return _topk(_Snapshot.of_manifest(manifest_df, out_schema),
                 "topk_table", value_col, k, where, where_in, descending,
                 columns, extra_order)


def topk_checkpoint(spark, ckpt_dir: str, value_col: str, k: int,
                    out_schema=None, descending: bool = True,
                    columns=None, extra_order=(), as_of=None,
                    where=None, where_in=None):
    """``topk_table`` over a PERSISTED checkpoint: the leaderboard query
    on a table that lives on disk. tau and the predicate classes come
    from the checkpoint's own metadata columns (a parquet projection —
    the blob column is never materialized). Unfiltered, the decode
    rides ``decode_checkpoint(value_range=...)``'s two-level prune:
    whole FILES via the driver-side metadata pass, chunks inside each
    file via the per-file qualifying-key list. Filtered, the non-'out'
    chunks whose extreme reaches tau ride
    ``decode_checkpoint(_restrict_chunks=…)``: only those chunks'
    files open; past VALUE_PRUNE_MAX_KEYS surviving chunks one
    tau-pruned decode answers (same rows). The read side stays
    zero-Exchange — the only post-decode plan node is
    TakeOrderedAndProject.

    ``out_schema=None`` resolves the ``_table_schema`` sidecar like
    ``decode_checkpoint``; ``as_of`` restricts both the metadata and
    the decode to the files visible at that commit (deletion sidecars
    in the window are applied by the decode)."""
    return _topk(_Snapshot.of_checkpoint(spark, ckpt_dir, out_schema, as_of),
                 "topk_checkpoint", value_col, k, where, where_in,
                 descending, columns, extra_order)


def _topk(snap, fn, value_col, k, where, where_in, descending, columns,
          extra_order):
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    t, expr = _topk_check_args(fn, snap.schema, value_col, k)
    pred = _where_parse(snap.schema, where, where_in, fn, required=False)
    if (pred is not None and not pred.satisfiable) or snap.frame is None:
        proj_schema, _ = _project_out_schema(snap.schema, columns)
        return snap.spark.createDataFrame(
            [], from_arrow_schema(proj_schema, prefer_timestamp_ntz=True))
    floating = pa.types.is_floating(t)
    cls = keep = None
    if pred is not None:
        cls = _count_where_classify(snap.frame, snap.schema, pred.specs,
                                    pred.in_specs)
        keep = cls.filter(F.col("__cls") != "out").select("chunk_key")
    vr = _topk_threshold(snap.frame, value_col, k, descending, floating, cls)
    if keep is not None and vr is not None:
        # zone-reach on the ranked column: chunks whose widened extreme
        # cannot reach tau drop; NULL maps and chunks missing the
        # column's row keep conservatively (left join + coalesce)
        _, lo, hi = vr
        vb = (_stats_base(snap.frame).filter(F.col("column") == value_col)
              .select("chunk_key",
                      F.col("val_min").alias("__zlo"),
                      F.col("val_max").alias("__zhi")))
        reach = (F.col("__zhi").isNull() | (F.col("__zhi") >= F.lit(lo))
                 if descending else
                 F.col("__zlo").isNull() | (F.col("__zlo") <= F.lit(hi)))
        keep = (keep.join(vb, "chunk_key", "left")
                .filter(F.coalesce(reach, F.lit(True)))
                .select("chunk_key"))
    out, _ = snap.decode(columns, keep, value_range=vr,
                         value_in=pred.value_in if pred else None)
    if pred is not None:
        out = out.filter(pred.cond)
    return _topk_exact_tail(out, expr, floating, descending, extra_order, k)


def _topk_check_args(fn: str, out_schema, value_col: str, k: int):
    from pyspark.sql.pandas.types import to_arrow_schema

    if k < 1:
        raise ValueError(f"{fn} needs k >= 1, got {k}")
    t, expr = _resolve_value_field(
        out_schema if isinstance(out_schema, pa.Schema)
        else to_arrow_schema(out_schema), value_col)
    if not (pa.types.is_integer(t) or pa.types.is_floating(t)):
        raise TypeError(
            f"{fn} ranks int/float columns; {value_col!r} is {t} "
            "— decode and sort other types explicitly")
    return t, expr


def _topk_exact_tail(out, expr, floating: bool, descending: bool,
                     extra_order, k: int):
    """The exact finish every top-k path shares: drop unrankable rows
    (NULL always; NaN for floats — engines disagree on NaN order), then
    ORDER BY ... LIMIT k, which Spark plans as TakeOrderedAndProject
    (per-partition k-row heaps; no Exchange, only k rows per partition
    reach the driver)."""
    from pyspark.sql import functions as F

    out = out.filter(expr.isNotNull())
    if floating:
        out = out.filter(~F.isnan(expr))
    order = [expr.desc() if descending else expr.asc()]
    order += [F.col(c) for c in extra_order]
    return out.orderBy(*order).limit(k)


def _f_le(x):
    """Greatest float64 <= x (directional cast for zone comparisons —
    int↔float comparison in Python is exact, so the guard never
    misfires)."""
    import math

    f = float(x)
    return math.nextafter(f, -math.inf) if f > x else f


def _f_ge(x):
    """Least float64 >= x."""
    import math

    f = float(x)
    return math.nextafter(f, math.inf) if f < x else f


def _count_where_classify(manifest_df, out_schema, specs, in_specs=()):
    """Per-chunk three-way classification for the hybrid predicate
    pushdowns: a chunk frame ``(chunk_key, __cls, __n)`` with
    ``__cls`` in {'out', 'in', 'dec'} and ``__n`` the chunk row count.
    ``specs`` are ``(column, lo, hi)`` ranges; ``in_specs`` are
    ``(column, [values])`` IN-lists (string or numeric). Soundness
    splits by direction:

    * 'out' (contributes 0, never decoded) only needs the zone maps to
      be value SUPERSETS: nullable fillers and deletion masks only
      WIDEN/stale-supersize the interval, and NaN — excluded from the
      maps — fails every finite BETWEEN/IN anyway. Integer chunks
      whose |bounds| exceed 2^53 are NOT excluded this way (the
      manifest stores doubles; a max rounded down could fake a miss).
      String bounds are conservative by construction: a truncated min
      is still a lower bound and a truncated max is stored NULL
      (= +inf).
    * 'in' (counted from metadata, never decoded) needs n_values to
      equal the number of rows SATISFYING the predicate: blocked for
      nullable columns (null rows don't satisfy, fillers ride the
      maps), deletion-masked chunks (stale counts), float chunks
      without a full histogram (a NaN row never satisfies, and the
      encoder withholds histograms exactly when NaNs/nulls exist),
      and past-2^53 integer bounds (rounded bounds could fake
      containment). An IN-list certifies 'in' only for CONSTANT
      chunks (zone min == max) whose value is a probe — the
      lang-sliced-corpus case; string bounds must additionally sit
      below the truncation limit.
    * everything else decodes ('dec') and is counted exactly.

    Numeric bound literals round DIRECTIONALLY into float64
    (``_f_le``/``_f_ge``): the 'out' test widens the range, the 'in'
    test narrows it — an integer bound that float64 cannot represent
    (|b| > 2^53) can therefore never fake a miss or a containment.
    """
    from pyspark.sql import functions as F

    lim = float(2 ** 53)
    base = _stats_base(manifest_df)
    has_zone = "val_min" in manifest_df.columns
    has_zstr = "val_min_str" in manifest_df.columns
    has_hist = "val_hist" in manifest_df.columns
    nullable = {
        r["column_name"]
        for r in _nullable_columns(manifest_df).collect()
    }
    deleted = (
        manifest_df.filter(F.col("column").startswith(DELETES_PREFIX))
        .select("chunk_key").distinct()
        .withColumn("__del", F.lit(True))
    )
    joined = (
        base.select("chunk_key").distinct()
        .join(F.broadcast(deleted), "chunk_key", "left")
    )
    schema = out_schema
    preds = [(c, ("range", lo, hi)) for c, lo, hi in specs]
    preds += [(c, ("in", values)) for c, values in in_specs]
    ncols = []
    for i, (c, pred) in enumerate(preds):
        t, _ = _resolve_value_field(schema, c)
        is_str = pa.types.is_string(t) or pa.types.is_large_string(t)
        cols = ["chunk_key", "n_values"]
        if has_zone:
            cols += ["val_min", "val_max"]
        if has_zstr:
            cols += ["val_min_str", "val_max_str"]
        if has_hist:
            cols += ["val_hist"]
        b = base.filter(F.col("column") == c).select(*cols)
        if is_str:
            if not has_zstr:  # pre-string-zone manifest: decode
                cls = F.lit(1)
            else:
                smin, smax = F.col("val_min_str"), F.col("val_max_str")
                values = pred[1]
                out_c = None
                for v in values:
                    # smax NULL means "truncated / unbounded above" —
                    # never an upper-bound witness
                    o = ((smax.isNotNull() & (smax < F.lit(v)))
                         | (smin.isNotNull() & (smin > F.lit(v))))
                    out_c = o if out_c is None else (out_c & o)
                in_c = (smin.isNotNull() & smax.isNotNull()
                        & (smin == smax)
                        & (F.length(smin) < F.lit(_STR_BOUND_MAX_CHARS))
                        & smin.isin(list(values)))
                if c in nullable:
                    in_c = F.lit(False)
                cls = F.when(out_c, F.lit(0)).when(in_c, F.lit(2)) \
                    .otherwise(F.lit(1))
        elif not has_zone:  # pre-zone-map manifest: everything decodes
            cls = F.lit(1)
        else:
            vmin, vmax = F.col("val_min"), F.col("val_max")
            exact_dbl = (F.abs(vmin) <= lim) & (F.abs(vmax) <= lim)
            zone_ok = vmin.isNotNull() & (
                exact_dbl if pa.types.is_integer(t) else F.lit(True))
            if pred[0] == "range":
                _, lo, hi = pred
                out_c = zone_ok & ((vmax < F.lit(_f_le(lo)))
                                   | (vmin > F.lit(_f_ge(hi))))
                in_c = zone_ok & (vmin >= F.lit(_f_ge(lo))) \
                    & (vmax <= F.lit(_f_le(hi)))
            else:
                values = pred[1]
                out_c = None
                for v in values:
                    o = (vmax < F.lit(_f_le(v))) | (vmin > F.lit(_f_ge(v)))
                    out_c = o if out_c is None else (out_c & o)
                out_c = zone_ok & out_c
                # constant chunk whose value IS a probe; only probes
                # float64 represents exactly can witness equality
                exact_probes = [float(v) for v in values
                                if float(v) == v]
                in_c = (zone_ok & (vmin == vmax)
                        & (vmin.isin(exact_probes) if exact_probes
                           else F.lit(False)))
            if pa.types.is_floating(t):
                in_c = in_c & (F.col("val_hist").isNotNull()
                               if has_hist else F.lit(False))
            if c in nullable:
                in_c = F.lit(False)
            cls = F.when(out_c, F.lit(0)).when(in_c, F.lit(2)) \
                .otherwise(F.lit(1))
        joined = joined.join(
            b.select("chunk_key", cls.alias(f"__c{i}"),
                     F.col("n_values").alias(f"__n{i}")),
            "chunk_key", "left")
        ncols.append(f"__n{i}")
    any_out = None
    all_in = None
    for i in range(len(preds)):
        # a chunk missing this column's row (schema evolution) decodes
        ci = F.coalesce(F.col(f"__c{i}"), F.lit(1))
        any_out = (ci == 0) if any_out is None else (any_out | (ci == 0))
        all_in = (ci == 2) if all_in is None else (all_in & (ci == 2))
    all_in = all_in & ~F.coalesce(F.col("__del"), F.lit(False))
    return joined.select(
        "chunk_key",
        F.when(any_out, F.lit("out")).when(all_in, F.lit("in"))
        .otherwise(F.lit("dec")).alias("__cls"),
        F.coalesce(*[F.col(c) for c in ncols]).alias("__n"),
    )


def _anchor_proj(schema, proj):
    """Ensure a decode projection carries at least one STORED column:
    metadata-only ADDED columns (add_column_checkpoint) have no
    manifest rows to anchor row counts, and both decode paths refuse
    an all-added projection — a predicate purely on an added column
    must still count. Appends the first stored top-level field when
    every projected column is added (no stored column at all: let the
    decode raise its own clear error)."""
    added = _added_defaults(schema)
    if not added or any(c not in added for c in proj):
        return proj
    for f in schema:
        if f.name not in added:
            return sorted(set(proj) | {f.name})
    return proj


def count_where(manifest_df, out_schema, where=None, where_in=None):
    """COUNT pushdown: ``SELECT count(*) WHERE <predicates>`` as a
    1-row DataFrame ``(n_rows long)``, answered hybrid — chunks the
    zone maps prove entirely INSIDE every predicate contribute their
    metadata row count (zero blob bytes), chunks provably OUTSIDE any
    predicate contribute nothing, and only the BOUNDARY chunks decode.
    On a layout clustered by the predicate column, a 100 TB count
    decodes O(#bucket-boundary) chunks instead of the table; on an
    uncorrelated layout every chunk lands in 'dec' and it degrades to
    the plain filtered count — same number, no lie.

    ``where`` is one ``(column, lo, hi)`` numeric range or a list of
    them (AND-combined), int/float columns (top-level or struct
    leaves). ``where_in`` is one ``(column, [values])`` IN-list or a
    list of them (AND-combined with everything): string columns prune
    through the string zone maps (a lang-sliced corpus counts a
    language from metadata alone — constant chunks whose value is a
    probe certify 'in'), int/float columns through the numeric maps.
    SQL semantics throughout: NULL and NaN rows never count — the
    classification routes any chunk where metadata cannot prove that
    to the decode side (see ``_count_where_classify``), and the
    decoded boundary chunks apply plain exact BETWEEN/IN filters
    (integer range bounds are ceil/floor-snapped so an int column
    never compares through a lossy double cast)."""
    return _count_where(_Snapshot.of_manifest(manifest_df, out_schema),
                        "count_where", where, where_in)


def count_where_checkpoint(spark, ckpt_dir: str, where=None,
                           out_schema=None, as_of=None, where_in=None):
    """``count_where`` over a PERSISTED checkpoint: the metadata side
    reads a blob-free parquet projection of the checkpoint's own
    manifest columns, and only the boundary chunks' files are opened —
    through ``decode_checkpoint``'s zero-Exchange per-file reader with
    an explicit chunk restriction, so a 100 TB clustered count touches
    O(#boundary) chunks of disk. Past VALUE_PRUNE_MAX_KEYS boundary
    chunks the hybrid split is dropped and one exact
    ``value_range``-pruned decode answers (same number, no driver
    blow-up). ``as_of`` restricts both sides to the files visible at
    that commit. ``out_schema=None`` resolves the ``_table_schema``
    sidecar."""
    return _count_where(
        _Snapshot.of_checkpoint(spark, ckpt_dir, out_schema, as_of),
        "count_where_checkpoint", where, where_in)


def _count_where(snap, fn, where, where_in):
    from pyspark.sql import functions as F

    pred = _where_parse(snap.schema, where, where_in, fn)
    if not pred.satisfiable or snap.frame is None:
        return snap.spark.range(1).select(
            F.lit(0).cast("long").alias("n_rows"))
    cls = _count_where_classify(snap.frame, snap.schema, pred.specs,
                                pred.in_specs)
    dec, split = snap.decode(
        _anchor_proj(snap.schema, sorted(pred.cols)),
        keep=cls.filter(F.col("__cls") == "dec").select("chunk_key"),
        value_range=pred.value_range, value_in=pred.value_in)
    n = dec.filter(pred.cond).agg(F.count(F.lit(1)).alias("n_rows"))
    if split:
        n = (cls.filter(F.col("__cls") == "in")
             .agg(F.coalesce(F.sum("__n"), F.lit(0)).alias("n_rows"))
             .unionByName(n))
    return n.agg(F.sum("n_rows").cast("long").alias("n_rows"))


def explain_where(manifest_df, out_schema, where=None, where_in=None):
    """Pushdown PLAN REPORT for the hybrid predicate family: one row
    per chunk class — ``('in' | 'out' | 'dec', n_chunks, n_rows,
    bytes_out)`` — showing how ``count_where`` / ``sum_where`` /
    ``group_sums`` / ``group_stats`` / ``topk_table`` would route these
    predicates, WITHOUT running the query. Blob-free metadata only;
    nothing decodes. The 100 TB ops loop: verify a supposedly clustered
    predicate routes to 'in'/'out' BEFORE paying for the scan — a
    layout regression (re-ingest without sorting, a new unclustered
    source) shows up here as a 'dec' byte explosion, not as a mystery
    production slowdown. ``bytes_out`` is each class's full compressed
    chunk volume across ALL stored columns — an upper bound on what
    'dec' chunks read (the queries decode only the predicate/value
    projection, so wide tables read less), and a lower bound on
    routing health (a 'dec' explosion is real regardless of width).
    One asymmetry to know: ``sum_where`` additionally decodes 'in'
    chunks whose ``val_sum`` is absent (overflow, legacy manifests).
    An unsatisfiable predicate (empty range) reports every chunk 'out'
    with ``n_rows`` 0 (nothing would be read).
    Same spec grammar as the query ops: ``where=(col, lo, hi)`` ranges,
    ``where_in=(col, [values])`` IN-lists, one or lists, AND-combined.
    """
    from pyspark.sql import functions as F

    snap = _Snapshot.of_manifest(manifest_df, out_schema)
    pred = _where_parse(snap.schema, where, where_in, "explain_where")
    manifest_df = snap.frame
    sizes = (
        manifest_df.filter(
            (F.col("column") != DONE_COLUMN)
            & ~F.col("column").startswith(DELETES_PREFIX))
        # resumed/merged manifests carry byte-identical duplicate
        # (chunk_key, column) rows — summing them would double-count
        # bytes (the additive-stats rule _stats_base documents)
        .dropDuplicates(["chunk_key", "column"])
        .groupBy("chunk_key")
        .agg(F.sum("bytes_out").alias("__bytes"),
             # chunk ROW count fallback: the classifier's __n is NULL
             # for chunks missing every predicate column's manifest row
             # (schema-evolved layouts) — non-#values sub-columns'
             # n_values equals the row count (#values counts list
             # ELEMENTS, so it is excluded)
             F.max(F.when(~F.col("column").endswith("#values"),
                          F.col("n_values"))).alias("__rows"))
    )
    if not pred.satisfiable:
        cls = sizes.select(
            "chunk_key", F.lit("out").alias("__cls"),
            F.lit(0).cast("long").alias("__n"))
    else:
        cls = _count_where_classify(manifest_df, snap.schema, pred.specs,
                                    pred.in_specs)
    return (
        cls.join(sizes, "chunk_key", "left")
        .groupBy(F.col("__cls").alias("cls"))
        .agg(F.count(F.lit(1)).alias("n_chunks"),
             F.sum(F.coalesce(F.col("__n"), F.col("__rows")))
             .cast("long").alias("n_rows"),
             F.coalesce(F.sum("__bytes"), F.lit(0)).cast("long")
             .alias("bytes_out"))
        .orderBy("cls")
    )


def _where_specs(schema, where):
    """Validate/normalize ``count_where``/``sum_where`` range specs.
    Returns ``(specs, cond, satisfiable)``: the NORMALIZED spec list
    (integer columns get ceil/floor-snapped bounds clamped to int64 —
    the exact filter never compares through a lossy double cast, and
    every downstream consumer sees the same bounds), the AND-combined
    exact Spark filter, and False when some range is empty."""
    import math

    from pyspark.sql import functions as F

    if where is None:
        return [], None, True
    specs = list(where) if isinstance(where, list) else [where]
    if not specs:
        raise ValueError("need at least one (column, lo, hi) range spec")
    i64 = (-(2 ** 63), 2 ** 63 - 1)
    norm, cond, satisfiable = [], None, True
    for s in specs:
        if not (isinstance(s, tuple) and len(s) == 3):
            raise TypeError(
                f"range specs are (column, lo, hi) tuples, got {s!r}")
        c, lo, hi = s
        t, expr = _resolve_value_field(schema, c)
        if not (pa.types.is_integer(t) or pa.types.is_floating(t)):
            raise TypeError(
                f"range predicates take int/float columns; {c!r} is {t}"
                " — decode and filter other types explicitly")
        for b in (lo, hi):
            if not isinstance(b, (int, float)) or isinstance(b, bool) \
                    or (isinstance(b, float) and
                        (b != b or b in (float("inf"), float("-inf")))):
                raise TypeError(
                    f"range bounds must be finite numbers, got {b!r} "
                    f"for {c!r}")
        if lo > hi:
            satisfiable = False
        if pa.types.is_integer(t):
            lo, hi = math.ceil(lo), math.floor(hi)
            # a range entirely outside int64 is EMPTY, and an
            # out-of-int64 literal would crash F.lit — detect
            # emptiness BEFORE clamping both bounds into range
            if lo > hi or lo > i64[1] or hi < i64[0]:
                satisfiable = False
            lo = min(max(lo, i64[0]), i64[1])
            hi = min(max(hi, i64[0]), i64[1])
        else:
            lo, hi = float(lo), float(hi)
        norm.append((c, lo, hi))
        e = (expr >= F.lit(lo)) & (expr <= F.lit(hi))
        cond = e if cond is None else cond & e
    return norm, cond, satisfiable


def _where_in_specs(schema, where_in):
    """Validate ``where_in`` IN-list specs for the hybrid pushdowns.
    Returns ``(in_specs, cond, satisfiable)``: normalized
    ``(column, [values])`` pairs, the AND-combined exact ``isin``
    filter, and False when a spec provably matches nothing. String
    columns take string probes; int/float columns take finite numeric
    probes (NaN/inf/bool rejected — SQL IN never matches NaN anyway).
    Probes outside int64 are DROPPED for integer columns (they cannot
    match, and their literals would not even build); a spec emptied
    this way makes the whole conjunction unsatisfiable."""
    from pyspark.sql import functions as F

    if where_in is None:
        return [], None, True
    specs = list(where_in) if isinstance(where_in, list) else [where_in]
    if not specs:
        raise ValueError("need at least one (column, [values]) IN spec")
    i64 = (-(2 ** 63), 2 ** 63 - 1)
    out, cond, satisfiable = [], None, True
    for s in specs:
        if not (isinstance(s, tuple) and len(s) == 2):
            raise TypeError(
                f"IN specs are (column, [values]) tuples, got {s!r}")
        c, values = s
        values = list(values)
        if not values:
            raise ValueError(f"IN spec for {c!r} needs >= 1 value")
        t, expr = _resolve_value_field(schema, c)
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            if not all(isinstance(v, str) for v in values):
                raise TypeError(
                    f"IN values for STRING column {c!r} must be str")
        elif pa.types.is_integer(t) or pa.types.is_floating(t):
            for v in values:
                if not isinstance(v, (int, float)) \
                        or isinstance(v, bool) \
                        or (isinstance(v, float) and
                            (v != v or v in (float("inf"),
                                             float("-inf")))):
                    raise TypeError(
                        f"IN values for {c!r} must be finite numbers, "
                        f"got {v!r}")
            if pa.types.is_integer(t):
                values = [v for v in values
                          if not (isinstance(v, int)
                                  and not i64[0] <= v <= i64[1])]
                if not values:
                    satisfiable = False
                    values = [0]  # placeholder literal, never evaluated
        else:
            raise TypeError(
                f"IN predicates take string/int/float columns; {c!r} "
                f"is {t} — decode and filter other types explicitly")
        out.append((c, values))
        e = expr.isin(values)
        cond = e if cond is None else cond & e
    return out, cond, satisfiable


def sum_where(manifest_df, out_schema, sum_col, where=None,
              where_in=None):
    """SUM/AVG pushdown under a predicate: ``SELECT count(*),
    count(x), sum(x), avg(x) WHERE <predicates>`` as a 1-row
    DataFrame ``(n_rows long, n_nonnull long, sum_val decimal(38,0),
    avg_val double)``. Hybrid like ``count_where``: chunks the zone
    maps prove fully inside every predicate AND that carry an exact
    per-chunk integer sum (``val_sum``) answer from metadata — zero
    blob bytes — while boundary chunks, metadata-refused chunks
    (nullable predicate columns, NaN floats, deletion masks, past-2^53
    bounds), and 'in' chunks whose ``val_sum`` is absent (overflow,
    legacy manifest) decode and aggregate exactly. On a layout
    clustered by the predicate column a 100 TB revenue-style probe is
    a metadata aggregate plus O(#boundary) chunk decodes.

    ``where`` takes ``(column, lo, hi)`` numeric ranges; ``where_in``
    takes ``(column, [values])`` IN-lists (string or numeric; a
    lang-sliced corpus sums a language's tokens from metadata alone) —
    one or lists of either, all AND-combined. ``sum_col`` must be an
    INTEGER column (top-level or struct leaf) — the same exactness
    contract as ``column_sums``: integer addition is
    order-independent, so the metadata and decode sides agree to the
    last digit; float sums are order-dependent and belong to an
    explicit decode. SQL semantics: SUM ignores NULLs (nullable chunks
    contribute their ``#valid``-masked sum — zero fillers are additive
    identity) and returns NULL when no non-null value qualifies;
    ``avg_val = sum_val / n_nonnull``."""
    return _sum_where(_Snapshot.of_manifest(manifest_df, out_schema),
                      "sum_where", sum_col, where, where_in)


def sum_where_checkpoint(spark, ckpt_dir: str, sum_col: str, where=None,
                         out_schema=None, as_of=None, where_in=None):
    """``sum_where`` over a PERSISTED checkpoint: exact per-chunk
    integer sums and ``#valid`` counts come from the blob-free
    manifest projection; boundary and metadata-refused chunks decode
    through the zero-Exchange per-file reader restricted to exactly
    those chunks. Same output shape and SQL semantics as ``sum_where``;
    same over-cap degrade as ``count_where_checkpoint`` (one exact
    pruned decode)."""
    return _sum_where(
        _Snapshot.of_checkpoint(spark, ckpt_dir, out_schema, as_of),
        "sum_where_checkpoint", sum_col, where, where_in)


def _sum_where(snap, fn, sum_col, where, where_in):
    from pyspark.sql import functions as F

    st, sexpr = _resolve_value_field(snap.schema, sum_col)
    if not pa.types.is_integer(st):
        raise TypeError(
            f"{fn} sums INTEGER columns (exact, order-independent);"
            f" {sum_col!r} is {st} — decode and sum explicitly")
    pred = _where_parse(snap.schema, where, where_in, fn)
    if not pred.satisfiable or snap.frame is None:
        return snap.spark.range(1).select(
            F.lit(0).cast("long").alias("n_rows"),
            F.lit(0).cast("long").alias("n_nonnull"),
            F.lit(None).cast("decimal(38,0)").alias("sum_val"),
            F.lit(None).cast("double").alias("avg_val"))
    cls = _count_where_classify(snap.frame, snap.schema, pred.specs,
                                pred.in_specs)
    d, meta_ok = _sum_meta_frame(snap.frame, cls, sum_col)
    dec, split = snap.decode(
        _anchor_proj(snap.schema,
                     sorted(pred.cols | {sum_col.split("#", 1)[0]})),
        keep=d.filter(~meta_ok & (F.col("__cls") != "out"))
        .select("chunk_key"),
        value_range=pred.value_range, value_in=pred.value_in)
    dec = _sum_dec_agg(dec, pred.cond, sexpr)
    return _sum_finish(_sum_meta_agg(d, meta_ok).unionByName(dec)
                       if split else dec)


def _sum_meta_frame(manifest_df, cls, sum_col):
    """Join the count_where classification with the sum column's
    metadata: per-chunk ``val_sum`` (``__vs``), row count (``__nv``),
    and — for nullable chunks — the ``#valid`` mask's sum (``__nnv``,
    the non-null count). ``meta_ok`` marks chunks the metadata side
    may answer: classified 'in' AND sum recorded AND non-null count
    known."""
    from pyspark.sql import functions as F

    if "val_sum" in manifest_df.columns:
        sm = (manifest_df.filter(F.col("column") == sum_col)
              .dropDuplicates(["chunk_key", "column"])
              .select("chunk_key", F.col("val_sum").alias("__vs"),
                      F.col("n_values").alias("__nv")))
        vm = (manifest_df.filter(F.col("column") == sum_col + "#valid")
              .dropDuplicates(["chunk_key", "column"])
              .select("chunk_key", F.col("val_sum").alias("__nnv"),
                      F.lit(True).alias("__has_valid")))
        d = (cls.join(sm, "chunk_key", "left")
             .join(vm, "chunk_key", "left"))
        meta_ok = ((F.col("__cls") == "in") & F.col("__vs").isNotNull()
                   & (~F.coalesce(F.col("__has_valid"), F.lit(False))
                      | F.col("__nnv").isNotNull()))
    else:  # pre-val_sum manifest: metadata side off entirely
        d = cls.select("*", F.lit(None).cast("decimal(38,0)").alias("__vs"),
                       F.lit(None).cast("long").alias("__nv"),
                       F.lit(None).cast("decimal(38,0)").alias("__nnv"))
        meta_ok = F.lit(False)
    return d, meta_ok


def _sum_meta_agg(d, meta_ok):
    from pyspark.sql import functions as F

    return (d.filter(meta_ok).agg(
        F.sum("__n").cast("long").alias("n_rows"),
        F.sum(F.coalesce(F.col("__nnv"), F.col("__nv").cast("decimal(38,0)")))
        .cast("long").alias("n_nonnull"),
        F.sum("__vs").cast("decimal(38,0)").alias("sum_val")))


def _sum_dec_agg(decoded, cond, sexpr):
    from pyspark.sql import functions as F

    return decoded.filter(cond).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count(sexpr).cast("long").alias("n_nonnull"),
        F.sum(sexpr.cast("decimal(38,0)")).cast("decimal(38,0)")
        .alias("sum_val"))


def _sum_finish(frames):
    from pyspark.sql import functions as F

    return (frames.agg(
        F.coalesce(F.sum("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
        F.coalesce(F.sum("n_nonnull"), F.lit(0)).cast("long")
        .alias("n_nonnull"),
        F.sum("sum_val").cast("decimal(38,0)").alias("sum_val"))
        .select(
            "n_rows", "n_nonnull",
            # SQL SUM is NULL when no non-null value qualifies — an
            # all-null metadata chunk's zero-filler sum must not leak 0
            F.when(F.col("n_nonnull") > 0, F.col("sum_val"))
            .alias("sum_val"),
            F.when(F.col("n_nonnull") > 0,
                   F.col("sum_val").cast("double") / F.col("n_nonnull"))
            .alias("avg_val")))


def _collect_chunk_files(mdf, keys_df, cap=None):
    """``{file: [chunk_key, ...]}`` for the chunks named by ``keys_df``,
    or None past ``cap`` (default VALUE_PRUNE_MAX_KEYS, read at call
    time; driver-bounded: the key list is collected through a limit,
    never unbounded)."""
    from pyspark.sql import functions as F

    if cap is None:
        cap = VALUE_PRUNE_MAX_KEYS
    krows = (keys_df.select("chunk_key").distinct()
             .limit(cap + 1).collect())
    if len(krows) > cap:
        return None
    if not krows:
        return {}
    kdf = mdf.sparkSession.createDataFrame(
        [(r["chunk_key"],) for r in krows], "chunk_key string")
    # data-file rows only: deletion sidecars and done markers share the
    # chunk_key but live in files the per-file reader must NOT open as
    # data (decode_checkpoint delivers sidecars out-of-band)
    rows = (mdf.filter((F.col("column") != DONE_COLUMN)
                       & ~F.col("column").startswith(DELETES_PREFIX))
            .select("chunk_key", F.input_file_name().alias("__file"))
            .join(F.broadcast(kdf), "chunk_key", "left_semi")
            .distinct().collect())
    out: dict = {}
    for r in rows:
        out.setdefault(r["__file"], []).append(r["chunk_key"])
    return out


# ---------------------------------------------------------------------------
# grouped aggregate pushdown (hybrid metadata / decode)
# ---------------------------------------------------------------------------
#
# column_stats/column_sums answer WHOLE-column aggregates from manifest
# metadata alone. A GROUP BY needs per-group attribution, which metadata
# can give only for chunks whose group column is CONSTANT within the
# chunk (zone map min == max) — exactly the common case on a clustered
# layout (range partitioning / z-order on the group column makes all but
# the boundary chunks group-pure). The hybrid below answers pure chunks
# from metadata (zero blob bytes) and decodes ONLY the mixed chunks,
# then merges — the per-group analogue of the reference's
# compute-on-compressed idea (org:1034-1048), and at 100 TB the
# difference between scanning the corpus and scanning the group
# boundaries.


def _group_pure_cond(t: pa.DataType):
    """(purity condition, group-value expression) over a group column's
    manifest zone-map row, or ``(None, None)`` when the type has no
    EXACT metadata reconstruction (every chunk then decodes):

    * strings: ``val_min_str == val_max_str``, and strictly shorter
      than the ``_STR_BOUND_MAX_CHARS`` truncation limit (a bound AT
      the limit may be a truncated prefix, not the value);
    * integers: ``val_min == val_max`` within ±2^53 (the manifest
      stores doubles — two distinct wider ints could collide on one
      double, so big values fall back to decode);
    * booleans: ``val_min == val_max`` over the 0/1 encoding;
    * floats and temporals are NOT reconstructed: a float chunk's zone
      map excludes NaNs (a [5.0, NaN] chunk looks pure), and temporal
      re-typing from the normalized epoch domain is decode's job.
    """
    from pyspark.sql import functions as F

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        cond = (
            F.col("val_min_str").isNotNull()
            & F.col("val_max_str").isNotNull()
            & (F.col("val_min_str") == F.col("val_max_str"))
            & (F.length("val_min_str") < F.lit(_STR_BOUND_MAX_CHARS))
        )
        return cond, F.col("val_min_str")
    if pa.types.is_boolean(t):
        cond = F.col("val_min").isNotNull() & (
            F.col("val_min") == F.col("val_max"))
        return cond, F.col("val_min") == F.lit(1.0)
    if pa.types.is_integer(t):
        cond = (
            F.col("val_min").isNotNull()
            & (F.col("val_min") == F.col("val_max"))
            & (F.abs(F.col("val_min")) <= F.lit(float(2 ** 53)))
        )
        return cond, F.col("val_min").cast("long")
    return None, None


def _grouped_split(manifest_df, out_schema, group_col, value_col,
                   value_cond, value_cols, nullable_value_ok=True,
                   where=None):
    """Shared scaffolding for the grouped pushdowns: classify every
    chunk as PURE (group constant by zone map, value stats usable,
    no nulls in the group, no deletion mask) or MIXED, and return

    ``(pure, keep, spark_g_type)``

    where ``pure`` carries one row per pure chunk with ``__grp_raw``
    plus the requested ``value_cols`` (renamed ``__v_<name>``), or is
    None when the group type has no exact metadata form, and ``keep``
    is the ``chunk_key`` frame of the chunks that must decode. A parsed
    predicate ``where`` (``_where_parse``) composes the ``count_where``
    classification: ``pure`` narrows to the chunks proven fully INSIDE
    every predicate (their metadata rows answer for ALL their rows)
    and chunks provably outside drop out of ``keep``. Physical column
    names (like ``column_sums``: a renamed checkpoint's manifest speaks
    pre-rename names until compaction). The caller pins the manifest
    (``_Snapshot``).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    for c in (group_col, value_col):
        if "#" in c:
            raise ValueError(
                f"grouped pushdown takes top-level column names, got {c!r}")
    g_field = out_schema.field(group_col)
    spark_g_type = from_arrow_schema(
        pa.schema([g_field]), prefer_timestamp_ntz=True)[0].dataType
    cls = (None if where is None else _count_where_classify(
        manifest_df, out_schema, where.specs, where.in_specs))

    # older manifests may predate some stat columns: surface them as
    # NULLs so every chunk simply classifies as mixed
    for c, t in (("val_min", "double"), ("val_max", "double"),
                 ("val_min_str", "string"), ("val_max_str", "string"),
                 ("val_sum", "decimal(38,0)")):
        if c not in manifest_df.columns:
            manifest_df = manifest_df.withColumn(c, F.lit(None).cast(t))

    body = manifest_df.filter(
        (F.col("column") != DONE_COLUMN)
        & ~F.col("column").startswith(DELETES_PREFIX)
    )
    meta = body.dropDuplicates(["chunk_key", "column"]).drop("blob")
    keep = body.select("chunk_key").distinct()
    deleted = (
        manifest_df.filter(F.col("column").startswith(DELETES_PREFIX))
        .select("chunk_key").distinct()
    )
    gvalid = meta.filter(
        F.col("column") == group_col + "#valid").select("chunk_key")

    pure_cond, gval = _group_pure_cond(g_field.type)
    pure = None
    if pure_cond is not None:
        gmeta = (
            meta.filter(F.col("column") == group_col)
            .filter(pure_cond)
            .select("chunk_key", gval.alias("__grp_raw"))
        )
        vmeta = (
            meta.filter(F.col("column") == value_col)
            .filter(value_cond)
            .select("chunk_key",
                    *[F.col(c).alias(f"__v_{c}") for c in value_cols])
        )
        vvalid = (
            meta.filter(F.col("column") == value_col + "#valid")
            .select("chunk_key",
                    F.col("val_sum").cast("long").alias("__mask_sum"),
                    F.lit(True).alias("__has_mask"))
        )
        pure = (
            gmeta.join(vmeta, "chunk_key")
            .join(gvalid, "chunk_key", "left_anti")
            .join(deleted, "chunk_key", "left_anti")
            .join(vvalid, "chunk_key", "left")
        )
        if nullable_value_ok:
            # a #valid mask row present but UNSUMMED (legacy mix) makes
            # the chunk's non-null count unknowable from metadata
            pure = pure.filter(
                F.col("__has_mask").isNull()
                | F.col("__mask_sum").isNotNull())
        else:
            # value-column nulls store filler values that pollute
            # extremes: any masked chunk decodes
            pure = pure.filter(F.col("__has_mask").isNull())
        if cls is not None:
            pure = pure.join(cls.filter(F.col("__cls") == "in"),
                             "chunk_key", "left_semi")
        keep = keep.join(pure.select("chunk_key"), "chunk_key", "left_anti")
    if cls is not None:
        keep = keep.join(cls.filter(F.col("__cls") == "out"),
                         "chunk_key", "left_anti")
    return pure, keep, spark_g_type


def group_sums(manifest_df, out_schema, group_col, value_col, where=None,
               where_in=None):
    """GROUP BY pushdown: ``SELECT group_col, SUM(value_col), COUNT(*),
    COUNT(value_col) GROUP BY group_col`` answered hybrid — group-pure
    chunks (zone map min == max) straight from manifest metadata
    (``val_sum`` / ``n_values``, zero blob bytes), mixed chunks via a
    targeted decode of ONLY those chunks, merged exactly.

    Returns ``(group_col, v_sum decimal(38,0), n_rows, n_nonnull)``.
    AVG = v_sum / n_nonnull. Always exact: any chunk whose metadata
    cannot answer exactly (float/temporal group types, group nulls,
    string bounds at the truncation limit, integer bounds beyond 2^53,
    legacy rows without ``val_sum``, deletion-masked chunks, chunks
    predating an ADD COLUMN) silently routes to the decode side.

    ``value_col`` must be an integer or boolean column — the same
    order-independence rule as ``column_sums`` (a float SUM is
    order-dependent rounding; no metadata sum can match it exactly).

    ``where``/``where_in`` (``count_where``'s grammar) make it the
    sliced rollup ``... WHERE <predicates> GROUP BY group_col``
    (revenue per source inside a time/value band): a chunk answers
    from metadata only when it is group-pure AND the classifier proves
    every one of its rows inside every predicate; chunks provably
    outside contribute nothing; everything else decodes with the exact
    filter.

    On a layout clustered by ``group_col`` (range/z-order encode; by
    (group_col, predicate col) when filtered) all but the
    partition-boundary chunks are pure: at 10^12 rows the decode side
    is ~one chunk per partition while the metadata side is a blob-free
    groupBy of the manifest."""
    from pyspark.sql import functions as F

    snap = _Snapshot.of_manifest(manifest_df, out_schema)
    t = snap.schema.field(value_col).type
    if not (pa.types.is_integer(t) or pa.types.is_boolean(t)):
        raise TypeError(
            f"group_sums value column must be integer/boolean, got "
            f"{value_col!r}: {t} (float sums are order-dependent — "
            "decode and aggregate instead)")
    v = F.col(value_col).cast("long") if pa.types.is_boolean(t) \
        else F.col(value_col)
    return _grouped(
        snap, "group_sums", group_col, value_col, where, where_in,
        out=[("v_sum", "decimal(38,0)"), ("n_rows", "long"),
             ("n_nonnull", "long")],
        meta=[F.sum("__v_val_sum"), F.sum("__v_n_values"),
              F.sum(F.coalesce("__mask_sum", "__v_n_values"))],
        dec=[F.sum(v.cast("decimal(38,0)")), F.count(F.lit(1)),
             F.count(value_col)],
        merge=[F.sum, F.sum, F.sum],
        value_cond=F.col("val_sum").isNotNull(),
        value_cols=["val_sum", "n_values"])


def group_stats(manifest_df, out_schema, group_col, value_col, where=None,
                where_in=None):
    """GROUP BY pushdown for extremes: ``SELECT group_col,
    MIN(value_col), MAX(value_col), COUNT(*) GROUP BY group_col``
    answered hybrid like ``group_sums`` — group-pure chunks from the
    per-chunk value zone maps (zero blob bytes), mixed chunks via a
    targeted decode, merged exactly; ``where``/``where_in`` filter the
    same way (a group-pure 'in' chunk's extremes ARE its satisfying
    rows' extremes).

    Returns ``(group_col, v_min, v_max, n_rows)``. Numeric/boolean
    value columns report double extremes in the zone maps' normalized
    domain (bools as 0/1; float extremes are NaN-excluded, matching SQL
    aggregate semantics); string value columns report string extremes.
    Exact-or-decode per chunk: nullable-value chunks (filler values
    pollute extremes), integer bounds beyond ±2^53 (the manifest stores
    doubles), string bounds at the truncation limit, all-NaN float
    chunks, deletion-masked chunks, and legacy rows all route to the
    decode side. Temporal/decimal value columns raise (their zone maps
    live in a normalized encoding a decode can't cheaply mirror —
    decode and aggregate instead)."""
    from pyspark.sql import functions as F

    snap = _Snapshot.of_manifest(manifest_df, out_schema)
    t = snap.schema.field(value_col).type
    v = F.col(value_col)
    zone, vt = ("val_min", "val_max"), "double"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        zone, vt = ("val_min_str", "val_max_str"), "string"
        value_cond = (
            F.col("val_min_str").isNotNull()
            & F.col("val_max_str").isNotNull()
            & (F.length("val_min_str") < F.lit(_STR_BOUND_MAX_CHARS))
            & (F.length("val_max_str") < F.lit(_STR_BOUND_MAX_CHARS))
        )
    elif pa.types.is_integer(t):
        value_cond = (
            F.col("val_min").isNotNull()
            & (F.abs(F.col("val_min")) <= F.lit(float(2 ** 53)))
            & (F.abs(F.col("val_max")) <= F.lit(float(2 ** 53)))
        )
        v = v.cast("long").cast("double")
    elif pa.types.is_floating(t):
        value_cond = F.col("val_min").isNotNull()
        # zone maps exclude NaNs: mirror SQL's finite extremes, NOT
        # Spark's greatest-value NaN ordering
        v = F.when(~F.isnan(v), v).cast("double")
    elif pa.types.is_boolean(t):
        value_cond = F.col("val_min").isNotNull()
        v = v.cast("long").cast("double")
    else:
        raise TypeError(
            f"group_stats value column must be numeric/boolean/string, "
            f"got {value_col!r}: {t} — decode and aggregate instead")
    return _grouped(
        snap, "group_stats", group_col, value_col, where, where_in,
        out=[("v_min", vt), ("v_max", vt), ("n_rows", "long")],
        meta=[F.min(f"__v_{zone[0]}"), F.max(f"__v_{zone[1]}"),
              F.sum("__v_n_values")],
        dec=[F.min(v), F.max(v), F.count(F.lit(1))],
        merge=[F.min, F.max, F.sum],
        value_cond=value_cond, value_cols=[*zone, "n_values"],
        nullable_value_ok=False)


def _grouped(snap, fn, group_col, value_col, where, where_in, out, meta,
             dec, merge, **split_kw):
    """The body ``group_sums`` and ``group_stats`` share: ``out`` lists
    the ``(name, type)`` result columns, ``meta`` and ``dec`` their
    per-group aggregates over the pure chunks' metadata and over the
    decoded rows, ``merge`` the functions folding the two sides."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    pred = _where_parse(snap.schema, where, where_in, fn, required=False)
    if pred is not None and not pred.satisfiable:
        empty = from_arrow_schema(pa.schema([snap.schema.field(group_col)]),
                                  prefer_timestamp_ntz=True)
        for name, t in out:
            empty = empty.add(name, t)
        return snap.spark.createDataFrame([], schema=empty)
    pure, keep, g_type = _grouped_split(
        snap.frame, snap.schema, group_col, value_col, where=pred,
        **split_kw)
    rows, split = snap.decode(
        sorted({group_col, value_col} | (pred.cols if pred else set())),
        keep=keep)
    if pred is not None:
        rows = rows.filter(pred.cond)
    merged = rows.groupBy(group_col).agg(
        *[a.cast(t).alias(n) for a, (n, t) in zip(dec, out)])
    if pure is not None and split:
        merged = merged.unionByName(
            pure.groupBy("__grp_raw")
            .agg(*[a.cast(t).alias(n) for a, (n, t) in zip(meta, out)])
            .select(F.col("__grp_raw").cast(g_type).alias(group_col),
                    *[n for n, _ in out]))
    return merged.groupBy(group_col).agg(
        *[f(n).cast(t).alias(n) for f, (n, t) in zip(merge, out)])


# ---------------------------------------------------------------------------
# co-located checkpoint join (zero-shuffle)
# ---------------------------------------------------------------------------
#
# Joins are THE shuffle at scale: Spark must exchange both sides on the
# key unless it can prove co-partitioning. Two checkpoints encoded on
# the same key ARE co-partitioned in the only sense that matters — every
# chunk's key interval is in the manifest — so the join plans itself
# from metadata: per-FILE key ranges (file-level zone maps) pair each
# left manifest file with exactly the right files whose ranges overlap,
# and one task per left file decodes both sides locally and joins in
# Arrow. No Exchange, no sort, no broadcast of anything but the file
# pairing. On range/z-order layouts the pairing is ~1:1 (the 100 TB
# plan: |L| + |R| bytes read, perfectly parallel); on hash layouts every
# pair overlaps and the plan degrades to |L| × |R| file reads — still
# correct, but the caller should re-encode one side range-partitioned
# (compact_checkpoint(partitioner='range')) first.


def _file_key_ranges(fdf, numeric: bool):
    """Per-manifest-file [lo, hi] key bounds from the chunk zone maps
    (blob-free). ``None`` bounds (empty chunks, pre-zone-map rows) keep
    the file conservatively — it pairs with everything."""
    from pyspark.sql import functions as F

    if numeric:
        agg = fdf.groupBy("__file").agg(
            F.min("min_key_num").alias("lo"),
            F.max("max_key_num").alias("hi"))
    else:
        agg = fdf.groupBy("__file").agg(
            F.min(F.when(F.col("min_key") != "", F.col("min_key")))
            .alias("lo"),
            F.max(F.when(F.col("max_key") != "", F.col("max_key")))
            .alias("hi"))
    return [(r["__file"], r["lo"], r["hi"]) for r in agg.collect()]


def _checkpoint_source(spark, ckpt_dir: str, files=None):
    """The checkpoint's manifest parquet: the whole directory, or only
    ``files`` (an ``as_of`` snapshot's file names)."""
    if files is None:
        return spark.read.parquet(ckpt_dir)
    return spark.read.parquet(
        *[f"{ckpt_dir.rstrip('/')}/{b}" for b in files])


def _collect_checkpoint_deletes(spark, ckpt_dir: str,
                                verify_checksums: bool, files=None,
                                marker_rec=None):
    """The deletion-vector sidecars of a checkpoint (or of its ``files``
    snapshot), delivered out-of-band to the per-file readers:
    ``(extra, over)`` with ``extra`` a chunk_key -> [blobs] dict (None
    when there are none) and ``over`` True past DELETES_COLLECT_MAX (the
    caller falls back to its shuffling path). A fresh ``_clustered``
    marker certifying ``has_deletes=False`` skips the scan: the hot
    point-lookup service pays zero per-query metadata jobs."""
    from pyspark.sql import functions as F

    if marker_rec is not None and marker_rec.get("has_deletes") is False:
        return None, False
    dsel = (["chunk_key", "blob"]
            + (["checksum"] if verify_checksums else []))
    drows = (
        _checkpoint_source(spark, ckpt_dir, files)
        .filter(F.col("column").startswith(DELETES_PREFIX))
        .select(*dsel)
        .limit(DELETES_COLLECT_MAX + 1)
        .collect()
    )
    if len(drows) > DELETES_COLLECT_MAX:
        return None, True
    extra = {}
    for r in drows:
        blob = bytes(r["blob"])
        if verify_checksums and r["checksum"]:
            got = _deletes_blob_checksum(blob)
            if got != r["checksum"]:
                raise IOError(
                    f"checksum mismatch on deletion vector of chunk "
                    f"{r['chunk_key']!r}: manifest says {r['checksum']}, "
                    f"blob hashes to {got}")
        extra.setdefault(r["chunk_key"], []).append(blob)
    return (extra or None), False


JOIN_SLICE_ROWS = 65_536


def _make_join_files_fn(l_schema: pa.Schema, r_schema: pa.Schema,
                        key_col: str, how: str, l_deletes, r_deletes,
                        l_defaults, r_defaults, verify_checksums: bool,
                        l_phys=None, r_phys=None):
    """mapInArrow fn over (lpath, rpaths) rows: decode the left file and
    its range-overlapping right files IN the task, join in Arrow.

    Payload columns of any type (lists, binaries, structs) ride the
    join through a surrogate trick: Acero joins only the key plus two
    row-index columns, then ``take`` gathers the full rows — Acero
    rejects nested payloads outright, and this also skips hashing
    payload bytes. ``take`` with the left-outer join's null right
    indices yields null rows, which IS the outer-join fill."""
    # a left manifest file is one encode task's whole output — at the
    # 100 TB target it does not fit task memory as one table. The decode
    # generator yields in chunk-group order, so the LEFT side streams in
    # JOIN_SLICE_ROWS slices and task memory holds only the (dimension-
    # sized) RIGHT side plus one slice. Put the big fact table LEFT.
    slice_rows = JOIN_SLICE_ROWS
    r_payload = [f for f in r_schema if f.name != key_col]
    out_fields = list(l_schema) + (
        [f.with_nullable(True) for f in r_payload] if how == "left"
        else r_payload)
    out_arrow = pa.schema(out_fields)
    join_type = "inner" if how == "inner" else "left outer"

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        fn_l = make_file_decode_fn(l_schema, l_phys, None, False,
                                   verify_checksums=verify_checksums,
                                   extra_deletes=l_deletes,
                                   defaults=l_defaults)
        fn_r = make_file_decode_fn(r_schema, r_phys, None, False,
                                   verify_checksums=verify_checksums,
                                   extra_deletes=r_deletes,
                                   defaults=r_defaults)

        def decode_one(dec_fn, path: str):
            rb = pa.RecordBatch.from_pydict({"path": [path]})
            return list(dec_fn(iter([rb])))

        def join_slice(lt: pa.Table, rt, ri):
            """Join one left slice against the materialized right."""
            if rt is None:
                took_l, took_r = lt, None
            else:
                li = pa.table({
                    "__jk": lt.column(key_col),
                    "__li": pa.array(np.arange(lt.num_rows), pa.int64())})
                j = li.join(ri, keys="__jk", join_type=join_type)
                if not j.num_rows:
                    return
                took_l = lt.take(j.column("__li"))
                took_r = rt.drop_columns([key_col]).take(j.column("__ri"))
            cols = [took_l.column(f.name) for f in l_schema]
            if took_r is None:
                cols += [pa.nulls(took_l.num_rows, type=f.type)
                         for f in r_payload]
            else:
                cols += [took_r.column(f.name) for f in r_payload]
            out = pa.table(cols, schema=out_arrow)
            # small batches bound peak JVM-side memory (CLAUDE.md:
            # big Arrow batches inflate JVM CPU at high concurrency)
            yield from out.to_batches(max_chunksize=2048)

        for b in batches:
            rlists = b.column("rpaths").to_pylist()
            for i, lpath in enumerate(b.column("lpath").to_pylist()):
                rts = []
                for rp in rlists[i] or []:
                    rbs = decode_one(fn_r, rp)
                    if rbs:
                        rts.append(pa.Table.from_batches(rbs))
                rt = (pa.concat_tables(rts).combine_chunks()
                      if rts else None)
                if rt is not None and not rt.num_rows:
                    rt = None
                if rt is None and join_type == "inner":
                    continue  # left side never even decodes
                ri = None
                if rt is not None:
                    ri = pa.table({
                        "__jk": rt.column(key_col),
                        "__ri": pa.array(np.arange(rt.num_rows),
                                         pa.int64())})
                lrb = pa.RecordBatch.from_pydict({"path": [lpath]})
                buf, nbuf = [], 0
                for lb in fn_l(iter([lrb])):
                    buf.append(lb)
                    nbuf += lb.num_rows
                    if nbuf >= slice_rows:
                        yield from join_slice(
                            pa.Table.from_batches(buf).combine_chunks(),
                            rt, ri)
                        buf, nbuf = [], 0
                if nbuf:
                    yield from join_slice(
                        pa.Table.from_batches(buf).combine_chunks(),
                        rt, ri)

    return fn, out_arrow


def join_checkpoints(spark, left_dir: str, right_dir: str, key_col: str,
                     left_schema=None, right_schema=None,
                     how: str = "inner", verify_checksums: bool = False,
                     left_columns=None, right_columns=None):
    """Join two CHECKPOINTED tables on their (shared) key column without
    shuffling a single row: per-file key ranges from both manifests'
    zone maps pair each left file with the right files whose ranges
    overlap; one task per left file decodes both sides locally and
    joins in Arrow (see the section comment — the join-planning
    analogue of a bucketed/sort-merge join, driven by manifest
    metadata instead of table properties).

    ``how`` is 'inner' or 'left'. Schemas default to each checkpoint's
    ``_table_schema`` sidecar. Non-key column names must be disjoint
    (rename at write time). Deletion-vector sidecars apply on both
    sides; integrity rides ``verify_checksums`` like the decode paths.

    Falls back transparently to ``decode_checkpoint`` + a regular
    Spark join (correct, but with the Exchange this path exists to
    avoid) when either side fails the clustered-layout gate or
    overflows the sidecar cap. Renamed checkpoints are refused —
    compact first to materialize current names.

    Scale: with both sides range/z-order-encoded on the key the file
    pairing is ~1:1 and the job reads |L| + |R| bytes with zero
    Exchange. 1:N joins are fine (Acero hash-joins within the task);
    the N side should be the RIGHT side when N is large. A hash-layout
    side pairs every file with every file — correct but quadratic;
    re-encode it range-partitioned first."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    _raise_if_pending(left_dir)
    _raise_if_pending(right_dir)
    for d in (left_dir, right_dir):
        if _checkpoint_rename_map(d):
            raise ValueError(
                f"checkpoint {d!r} carries column renames — "
                "compact_checkpoint it first to materialize current "
                "names, then join")

    def resolve(schema, d):
        if schema is None:
            schema = read_checkpoint_schema(d)
            if schema is None:
                raise ValueError(
                    f"checkpoint {d!r} carries no _table_schema sidecar "
                    "— pass the schema explicitly")
        if not isinstance(schema, pa.Schema):
            schema = to_arrow_schema(schema)
        return schema

    l_schema = resolve(left_schema, left_dir)
    r_schema = resolve(right_schema, right_dir)
    # projection pushdown per side (the key always rides): only the
    # named fields' blobs are read and decoded on each join task
    if left_columns is not None and key_col not in left_columns:
        left_columns = [key_col] + list(left_columns)
    if right_columns is not None and key_col not in right_columns:
        right_columns = [key_col] + list(right_columns)
    l_schema, l_phys = _project_out_schema(l_schema, left_columns)
    r_schema, r_phys = _project_out_schema(r_schema, right_columns)
    if key_col not in l_schema.names or key_col not in r_schema.names:
        raise KeyError(f"key column {key_col!r} must exist in both sides")
    lt, rt_ = l_schema.field(key_col).type, r_schema.field(key_col).type
    if lt != rt_:
        raise TypeError(
            f"key column {key_col!r} types differ: left {lt}, right {rt_}")
    overlap = (set(l_schema.names) & set(r_schema.names)) - {key_col}
    if overlap:
        raise ValueError(
            f"non-key columns {sorted(overlap)} exist on both sides — "
            "project or rename before joining")

    def spark_schema(s):
        return from_arrow_schema(s, prefer_timestamp_ntz=True)

    def fallback():
        dl = decode_checkpoint(spark, left_dir, spark_schema(l_schema),
                               verify_checksums=verify_checksums)
        dr = decode_checkpoint(spark, right_dir, spark_schema(r_schema),
                               verify_checksums=verify_checksums)
        return dl.join(dr, key_col, how)

    sides = []
    for d in (left_dir, right_dir):
        marker_rec = _clustered_marker_rec(d)
        extra, over = _collect_checkpoint_deletes(
            spark, d, verify_checksums, marker_rec=marker_rec)
        if over:
            return fallback()
        fdf = _manifest_metadata(spark, d).filter(
            ~F.col("column").startswith(DELETES_PREFIX))
        if marker_rec is None and not _checkpoint_is_clustered(fdf):
            import warnings

            warnings.warn(
                f"checkpoint {d!r} is not chunk-clustered — "
                "join_checkpoints falling back to the shuffling join; "
                "compact_checkpoint restores the zero-shuffle path")
            return fallback()
        sides.append((fdf, extra))

    numeric = not (pa.types.is_string(lt) or pa.types.is_large_string(lt))
    lfiles = _file_key_ranges(sides[0][0], numeric)
    rfiles = _file_key_ranges(sides[1][0], numeric)
    if not lfiles:
        fnobj, out_arrow = _make_join_files_fn(
            l_schema, r_schema, key_col, how, sides[0][1], sides[1][1],
            _added_defaults(l_schema) or None,
            _added_defaults(r_schema) or None, verify_checksums,
            l_phys=l_phys, r_phys=r_phys)
        return spark.createDataFrame([], spark_schema(out_arrow))

    # vectorized interval pairing: None bounds -> (-inf, +inf)
    if numeric:
        ninf, pinf = -np.inf, np.inf
        rlo = np.array([ninf if lo is None else lo for _, lo, _ in rfiles])
        rhi = np.array([pinf if hi is None else hi for _, _, hi in rfiles])
    rows_in = []
    for lp, llo, lhi in lfiles:
        if not rfiles:
            hits = []
        elif numeric:
            llo_ = -np.inf if llo is None else llo
            lhi_ = np.inf if lhi is None else lhi
            mask = (rlo <= lhi_) & (rhi >= llo_)
            hits = [rfiles[k][0] for k in np.nonzero(mask)[0]]
        else:
            hits = [
                rp for rp, rlo_, rhi_ in rfiles
                if (rlo_ is None or lhi is None or rlo_ <= lhi)
                and (rhi_ is None or llo is None or rhi_ >= llo)
            ]
        if hits or how == "left":
            rows_in.append((lp, hits))
    fnobj, out_arrow = _make_join_files_fn(
        l_schema, r_schema, key_col, how, sides[0][1], sides[1][1],
        _added_defaults(l_schema) or None,
        _added_defaults(r_schema) or None, verify_checksums,
        l_phys=l_phys, r_phys=r_phys)
    if not rows_in:
        return spark.createDataFrame([], spark_schema(out_arrow))
    files_df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows_in, len(rows_in)),
        "lpath string, rpaths array<string>",
    )
    return files_df.mapInArrow(fnobj, schema=spark_schema(out_arrow))
