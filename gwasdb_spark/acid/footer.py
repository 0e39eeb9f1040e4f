"""Parquet file footers, read on the driver in pure Python.

A parquet file ends with its metadata (thrift compact protocol), a
4-byte little-endian length and the magic `PAR1`. parquet-java writes,
for every column chunk of every row group, the chunk's null count and
its min/max (Statistics fields 3, 6 and 5), and every row group's row
count. That is exactly the per-column [min, max, null_count, rows]
triple an AcidTable manifest records for file skipping, so a commit
takes its stats from the footers of the files its own write job just
produced instead of aggregating the rows a second time:

- `read_footer` seeks the 8-byte tail and decodes the footer with a
  generic thrift-compact decoder (`_value`); `acid/bloom.py` uses the
  same read to find each chunk's bloom filter.
- `group_stats` folds the footers of one file group into the
  manifest's {logical column: [min, max, null_count, rows]}. Values are
  decoded by Spark type (INT32: byte, short, int, date, decimal <= 9
  digits; INT64: long, timestamp, timestamp_ntz, decimal <= 18;
  FIXED_LEN_BYTE_ARRAY: wider decimals, big-endian; FLOAT and DOUBLE;
  BYTE_ARRAY: UTF-8 strings; BOOLEAN) into the Python value Spark's own
  `collect` returns and rendered by `json_safe`, so a footer stat is
  the value a re-read `min`/`max` aggregate gives. The deprecated signed
  min/max fields (1, 2) are never read.

Soundness (predicates.Pred.may_match prunes on these stats):
- A chunk that holds non-null values but carries no min/max (an INT96
  timestamp chunk has only a null count; past its 4 KiB statistics
  limit, e.g. a long string, parquet-java writes no Statistics at all)
  gives its column NO entry, so the group is always admitted. It is
  never written as [None, None, ...], which reads as an all-NULL group.
- Combining chunks, NaN sorts greatest, as it does in Spark's ordering
  and in parquet-java's float comparator.
- A file that cannot be read, a column missing from a row group, a
  timestamp stored as INT96 or in nanoseconds: no entry (or no stats
  at all for an unreadable group), never a guess.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import os
import struct

# parquet physical types (parquet.thrift `Type`)
BOOLEAN, INT32, INT64, FLOAT, DOUBLE, BYTE_ARRAY, FIXED = 0, 1, 2, 4, 5, 6, 7
# SchemaElement.converted_type of INT64 timestamps → microseconds per unit
_TS_MICROS = {9: 1000, 10: 1}  # TIMESTAMP_MILLIS, TIMESTAMP_MICROS

# Spark types whose min/max are meaningful and orderable (decimals too)
STAT_TYPES = (
    "byte", "short", "integer", "long", "float", "double",
    "string", "boolean", "date", "timestamp", "timestamp_ntz",
)
_EPOCH_ORDINAL = _dt.date(1970, 1, 1).toordinal()


def is_stat_type(dtype) -> bool:
    """Does a column of Spark type `dtype` get manifest stats?"""
    name = dtype.typeName()
    return name in STAT_TYPES or name.startswith("decimal")


def json_safe(v):
    """A Spark value as the manifest stores it: decimals as floats,
    dates and timestamps as ISO strings."""
    if isinstance(v, _dec.Decimal):
        return float(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


# ---------------------------------------------------- thrift compact --
def _varint(buf: bytes, i: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if b < 0x80:
            return out, i
        shift += 7


def _zigzag(buf: bytes, i: int) -> tuple[int, int]:
    u, i = _varint(buf, i)
    return (u >> 1) ^ -(u & 1), i


def _value(buf: bytes, i: int, t: int):
    """One thrift-compact value of wire type `t` at `i` → (value, end).
    Structs decode to {field id: value}, lists/sets to lists; the
    parquet footer has no maps."""
    if t in (1, 2):  # bool folded into a field header
        return t == 1, i
    if t == 3:
        return buf[i], i + 1
    if t in (4, 5, 6):
        return _zigzag(buf, i)
    if t == 7:
        return buf[i:i + 8], i + 8
    if t == 8:
        n, i = _varint(buf, i)
        return buf[i:i + n], i + n
    if t in (9, 10):
        head = buf[i]
        i += 1
        n, et = head >> 4, head & 0x0F
        if n == 15:
            n, i = _varint(buf, i)
        out = []
        for _ in range(n):
            if et in (1, 2):  # list bools are one byte each
                v, i = buf[i] == 1, i + 1
            else:
                v, i = _value(buf, i, et)
            out.append(v)
        return out, i
    if t == 12:
        out, fid = {}, 0
        while True:
            head = buf[i]
            i += 1
            if head == 0:
                return out, i
            delta, ft = head >> 4, head & 0x0F
            if delta:
                fid += delta
            else:
                fid, i = _zigzag(buf, i)
            out[fid], i = _value(buf, i, ft)
    raise ValueError(f"unknown thrift compact type {t}")


def read_footer(fh) -> dict | None:
    """The decoded FileMetaData of an open parquet file ({field id:
    value}), or None when the footer is not plain thrift (encrypted or
    foreign)."""
    fh.seek(-8, os.SEEK_END)
    tail = fh.read(8)
    if tail[4:] != b"PAR1":
        return None
    (flen,) = struct.unpack("<I", tail[:4])
    fh.seek(-8 - flen, os.SEEK_END)
    return _value(fh.read(flen), 0, 12)[0]


def data_files(group_dir: str) -> list[str]:
    """The parquet data files of one file group (markers and hidden
    files excluded)."""
    return [
        os.path.join(group_dir, f)
        for f in sorted(os.listdir(group_dir))
        if f.endswith(".parquet") and f[0] not in "._"
    ]


# ------------------------------------------------------------- stats --
def _le(raw: bytes) -> int:
    return int.from_bytes(raw, "little", signed=True)


def _be(raw: bytes) -> int:
    return int.from_bytes(raw, "big", signed=True)


def _same(v):
    return v


def _codec(dtype, ptype: int, converted):
    """(decode, render) for a chunk of Spark type `dtype` stored as
    physical `ptype`: decode turns a stats field into a value that
    orders like the column, render turns that into what Spark's
    `collect` returns. None for a pairing this module does not read."""
    name = dtype.typeName()
    if name in ("byte", "short", "integer") and ptype == INT32:
        return _le, _same
    if name == "long" and ptype == INT64:
        return _le, _same
    if name == "date" and ptype == INT32:
        return _le, lambda d: _dt.date.fromordinal(d + _EPOCH_ORDINAL)
    if name in ("timestamp", "timestamp_ntz") and ptype == INT64:
        unit = _TS_MICROS.get(converted)
        if unit is None:
            return None
        # Spark's TimestampType / TimestampNTZType.fromInternal
        tz = None if name == "timestamp" else _dt.timezone.utc

        def render(us):
            ts = _dt.datetime.fromtimestamp(us // 1_000_000, tz)
            return ts.replace(microsecond=us % 1_000_000, tzinfo=None)

        return (lambda raw: _le(raw) * unit), render
    if name.startswith("decimal"):
        decode = {INT32: _le, INT64: _le, FIXED: _be, BYTE_ARRAY: _be}.get(ptype)
        if decode is None:
            return None
        # the string form is exact at any precision
        return decode, lambda u: _dec.Decimal(f"{u}E-{dtype.scale}")
    if name == "float" and ptype == FLOAT:
        return (lambda raw: struct.unpack("<f", raw)[0]), _same
    if name == "double" and ptype == DOUBLE:
        return (lambda raw: struct.unpack("<d", raw)[0]), _same
    if name == "string" and ptype == BYTE_ARRAY:
        # unsigned byte order of UTF-8 is code point order
        return _same, lambda raw: raw.decode("utf-8")
    if name == "boolean" and ptype == BOOLEAN:
        return (lambda raw: raw[0] != 0), _same
    return None


def _nan_last(v):
    """Sort key putting NaN above every number (Spark's float order)."""
    return (v != v, v)


def _column_stats(dtype, chunks: list, n_row_groups: int, rows: int):
    """[min, max, null_count, rows] of one column from its chunks'
    (ColumnMetaData, the column's converted_type), or None when the footers cannot
    vouch for every value (see the module doc)."""
    if len(chunks) != n_row_groups:
        return None  # the column is missing from some row group
    nulls, values, render = 0, [], None
    for meta, converted in chunks:
        st = meta.get(12) or {}
        if 3 not in st:
            return None
        nulls += st[3]
        if meta.get(5, 0) <= st[3]:
            continue  # an all-null chunk: no bounds to fold
        if 5 not in st or 6 not in st:
            return None  # no min/max for these values (e.g. INT96)
        codec = _codec(dtype, meta.get(1), converted)
        if codec is None:
            return None
        decode, render = codec
        values += [decode(st[6]), decode(st[5])]
    if sum(meta.get(5, 0) for meta, _ in chunks) != rows:
        return None  # not a flat column: counts do not add up
    if not values:
        return [None, None, nulls, rows]
    key = _nan_last if dtype.typeName() in ("float", "double") else None
    lo, hi = min(values, key=key), max(values, key=key)
    return [json_safe(render(lo)), json_safe(render(hi)), nulls, rows]


def _top_level(schema: list) -> dict:
    """{top-level column name: SchemaElement} of a footer's schema, a
    depth-first list whose element 0 is the root."""
    out, i = {}, 1
    while i < len(schema):
        out[schema[i][4].decode()] = schema[i]
        below = schema[i].get(5, 0)  # descendants still to pass over
        i += 1
        while below:
            below += schema[i].get(5, 0) - 1
            i += 1
    return out


def group_stats(group_dir: str, schema, column_map: dict | None = None) -> dict:
    """The manifest stats of one file group from its files' footers:
    {logical col: [min, max, null_count, rows]} for every stat-typed
    field of the LOGICAL `schema`, looked up in the files under its
    physical name (`column_map`: {logical: physical}). A column the
    footers cannot vouch for gets no entry; an unreadable group gets {}
    (always admitted, size unknown)."""
    cmap = column_map or {}
    fields = {
        cmap.get(f.name, f.name): f for f in schema.fields if is_stat_type(f.dataType)
    }
    chunks = {p: [] for p in fields}
    rows = n_row_groups = 0
    try:
        for path in data_files(group_dir):
            with open(path, "rb") as fh:
                footer = read_footer(fh)
            if footer is None:
                return {}
            top = _top_level(footer.get(2, []))
            for rg in footer.get(4, []):
                rows += rg.get(3, 0)
                n_row_groups += 1
                for c in rg.get(1, []):
                    meta = c.get(3) or {}
                    col_path = meta.get(3) or []
                    if len(col_path) == 1:
                        name = col_path[0].decode()
                        if name in chunks:
                            chunks[name].append((meta, top[name].get(6)))
    except (OSError, ValueError, IndexError, struct.error):
        return {}
    out = {}
    for phys, f in fields.items():
        try:
            st = _column_stats(f.dataType, chunks[phys], n_row_groups, rows)
        except (ValueError, OverflowError, OSError, struct.error):
            st = None  # e.g. a timestamp outside Python's datetime range
        if st is not None:
            out[f.name] = st
    return out
