"""Parquet footer bloom filters for point-lookup skipping.

Min/max stats (table_log.py) prune RANGE predicates, but an Eq/IsIn on
a column whose values interleave across file groups (ingest order,
round-robin writes) is invisible to them — every group's [min, max]
spans the probe value and a 1-key DELETE reads the whole table. The
parquet format's own column bloom filters cover exactly this gap (the
gap Delta's bloom-filter indexes cover), so:

- Write: every group write passes `write_options(...)` to its own
  DataFrameWriter (per-writer options, never session conf). Parquet
  then builds one split-block bloom filter per bloom column per row
  group INSIDE the write job and stores it in the file, located by the
  footer. No extra Spark job, no sidecar; the filter shares the file's
  immutability by construction. The options size each filter
  adaptively (10 candidate sizes, fpp 0.001) rather than parquet's
  default of 1 MiB per file, and turn dictionary encoding off for the
  bloom columns (a fully dictionary-encoded chunk gets no filter).
- Probe: `group_admits` answers on the driver in pure Python by
  seeking into each file: the footer, decoded by
  `acid/footer.read_footer` (pyarrow, which reads every min/max stat,
  does not expose a chunk's bloom offset and length; only each column
  chunk's type, path and bloom offset/length are used), then the bloom
  header and bitset. A value is tested with XXH64 (seed 0)
  of its PLAIN encoding — UTF-8 bytes for strings, 4-byte LE for
  INT32, 8-byte LE for INT64 — against the split-block layout
  (parquet-format BloomFilter.md). About 0.2 ms per file and a
  few µs per probe; a JVM round trip per file would cost 12-16 ms.

Soundness mirrors `predicates.Pred.may_match`: the probe may only say
NO when no row can match. A bloom has no false negatives; everything
uncertain admits — a file or row group without a filter for the column
(files written before footer blooms), an unreadable footer, an unknown
algorithm, and any literal outside the column's own family (a float or
bool against an integer column, an int against a string column),
because Spark's cross-type comparison casts and may still match.
A group admits when any of its files has a row group admitting every
required lookup at once (the conjunct a matching row must satisfy).
"""

from __future__ import annotations

import struct

from pyspark.sql.types import StructType

from gwasdb_spark.acid.footer import (
    BYTE_ARRAY,
    INT32,
    INT64,
    _value,
    data_files,
    read_footer,
)

# Spark types parquet stores as INT32 / INT64 / BYTE_ARRAY — bloom-eligible
_BLOOM_TYPES = ("byte", "short", "integer", "long", "string")


def write_options(schema: StructType, bloom_cols) -> dict:
    """Per-writer parquet options that put a sized footer bloom for each
    eligible bloom column into every written file ({} without any).
    Bloom columns cannot be renamed (table_log._refuse_referenced), so
    a logical name is also the name in the files."""
    types = {f.name: f.dataType.typeName() for f in schema.fields}
    opts = {}
    for c in bloom_cols or []:
        if types.get(c) in _BLOOM_TYPES:
            opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
            opts[f"parquet.enable.dictionary#{c}"] = "false"
            opts[f"parquet.bloom.filter.candidates.number#{c}"] = "10"
            opts[f"parquet.bloom.filter.fpp#{c}"] = "0.001"
    if opts:
        opts["parquet.bloom.filter.adaptive.enabled"] = "true"
    return opts


# ------------------------------------------------------------ xxh64 --
_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 of `data` as an unsigned 64-bit int (the hash parquet's
    split-block filter and Spark's `xxhash64` use)."""
    n, i = len(data), 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M64,
            (seed + _P2) & _M64,
            seed & _M64,
            (seed - _P1) & _M64,
        ]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, b) for a, b in zip(v, lanes)]
            i += 32
        h = (
            _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        ) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, k), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ (k * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * _P5 & _M64), 11) * _P1 & _M64
        i += 1
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


# ---------------------------------------------------- split-block --
_SALT = (
    0x47B6137B, 0x44974D91, 0x8824AD5B, 0xA2B7289D,
    0x705495C7, 0x2DF1424B, 0x9EFC4947, 0x5C6BFB31,
)


def block_admits(bitset: bytes, h: int) -> bool:
    """Split-block membership of hash `h`: the top 32 bits pick a
    32-byte block, the low 32 bits set one bit in each of its eight
    words (parquet-java BlockSplitBloomFilter.findHash)."""
    block = ((h >> 32) * (len(bitset) // 32)) >> 32
    words = struct.unpack_from("<8I", bitset, block * 32)
    key = h & 0xFFFFFFFF
    return all(
        w >> ((key * s & 0xFFFFFFFF) >> 27) & 1 for w, s in zip(words, _SALT)
    )


def plain_bytes(ptype: int, value) -> bytes | None:
    """PLAIN encoding of `value` for physical type `ptype`, or None when
    the literal is not of the column's own family (or out of its range):
    such a probe cannot be answered and admits."""
    if ptype in (INT32, INT64):
        if not isinstance(value, int) or isinstance(value, bool):
            return None
        fmt, bits = ("<i", 32) if ptype == INT32 else ("<q", 64)
        if not -(1 << (bits - 1)) <= value < 1 << (bits - 1):
            return None
        return struct.pack(fmt, value)
    if ptype == BYTE_ARRAY and isinstance(value, str):
        return value.encode("utf-8")
    return None


# -------------------------------------------------------------- probe --
def _file_admits(path: str, lookups: list[tuple[str, tuple]]) -> bool:
    """Does some row group of one parquet file admit every lookup?"""
    with open(path, "rb") as fh:
        footer = read_footer(fh)
        if footer is None:
            return True  # encrypted or foreign footer: cannot tell

        def chunk_admits(meta: dict, values: tuple) -> bool:
            off, length = meta.get(14), meta.get(15)
            if off is None:
                return True  # no filter for this chunk
            fh.seek(off)
            raw = fh.read(length or 64)
            header, start = _value(raw, 0, 12)
            nbytes = header.get(1, 0)
            if (
                nbytes <= 0 or nbytes % 32
                or 1 not in header.get(2, {})  # SPLIT_BLOCK
                or 1 not in header.get(3, {})  # XXHASH
                or 1 not in header.get(4, {})  # UNCOMPRESSED
            ):
                return True
            bitset = raw[start:start + nbytes]
            if len(bitset) < nbytes:
                fh.seek(off + start)
                bitset = fh.read(nbytes)
            for v in values:
                enc = plain_bytes(meta.get(1), v)
                if enc is None or block_admits(bitset, xxh64(enc)):
                    return True
            return False

        for rg in footer.get(4, []):
            metas = {
                tuple(p.decode() for p in c[3].get(3, [])): c[3]
                for c in rg.get(1, [])
                if 3 in c
            }
            if all(
                (col,) not in metas or chunk_admits(metas[(col,)], values)
                for col, values in lookups
            ):
                return True
        return False


def group_admits(group_dir: str, lookups: list[tuple[str, tuple]]) -> bool:
    """True unless the footer blooms PROVE no row of the group can
    satisfy every (col, candidate values) lookup. Any unreadable file
    or group, or an unencodable string, admits (read it)."""
    try:
        files = data_files(group_dir)
        return not files or any(_file_admits(p, lookups) for p in files)
    except (OSError, ValueError, IndexError, struct.error):
        return True
