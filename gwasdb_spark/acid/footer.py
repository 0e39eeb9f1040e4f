"""Parquet file footers, read on the driver.

parquet-java writes, for every column chunk of every row group, the
chunk's null count and its min/max, and every row group's row count.
That is exactly the per-column [min, max, null_count, rows] an AcidTable
manifest records for file skipping, so a commit takes its stats from
the footers of the files its own write job just produced instead of
aggregating the rows a second time. The warehouse's keyed probes
(gwas/warehouse.py) admit row groups on the same statistics.

- `row_group_stats` is the one reader of column-chunk statistics. From
  a footer pyarrow parsed (`pq.read_metadata`) it gives each row
  group's (min, max, null_count, num_values) of one top-level column,
  min and max as Spark's own `collect` returns them. It renders the raw
  statistics (`Statistics.min_raw`/`max_raw`) by Spark type: decimals
  by their scale, dates by ordinal, timestamps by the unit of their
  logical type, strings by UTF-8 decode. pyarrow's rendered
  `Statistics.min` raises for INT32/INT64 decimals and returns
  UTC-aware datetimes.
- `group_stats` folds it across the files of one file group into the
  manifest's {logical column: [min, max, null_count, rows]}, rendered
  by `json_safe`, so a footer stat is the value a re-read `min`/`max`
  aggregate gives.
- `read_footer` decodes a footer with a generic thrift-compact decoder
  (`_value`) for the one thing pyarrow does not expose: each chunk's
  bloom-filter offset and length, which `acid/bloom.py` probes.

Soundness (predicates.Pred.may_match prunes on these stats):
- A chunk that holds non-null values but carries no min/max (an INT96
  timestamp chunk has only a null count; past its 4 KiB statistics
  limit, e.g. a long string, parquet-java writes no Statistics at all)
  gives its column NO entry, so the group is always admitted. It is
  never written as [None, None, ...], which reads as an all-NULL group.
- Combining chunks, NaN sorts greatest, as it does in Spark's ordering
  and in parquet-java's float comparator.
- A file that cannot be read, a column missing from a row group or
  without a null count, a timestamp stored as INT96 or in nanoseconds:
  no entry (or no stats at all for an unreadable group), never a guess.

INT96 timestamps: Spark's default `outputTimestampType` is INT96 (only
`session.get_spark` sets TIMESTAMP_MICROS), so an AcidTable written in
a session that keeps the default has no timestamp stats and no
timestamp predicate prunes it. No per-writer option changes that: on
Spark 4.1.2, in an INT96 session, a write with
`.option(k, "TIMESTAMP_MICROS")` still stored INT96 for each of
`spark.sql.parquet.outputTimestampType`, `parquet.outputTimestampType`
and `outputTimestampType`. A fix needs the session's setting.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import json
import os
import struct

import pyarrow as pa
import pyarrow.parquet as pq

# parquet physical types (parquet.thrift `Type`) the bloom probe encodes
INT32, INT64, BYTE_ARRAY = 1, 2, 6

# Spark types whose min/max are meaningful and orderable (decimals too),
# each with the physical type its stats are read from
_PHYSICAL = {
    "byte": "INT32", "short": "INT32", "integer": "INT32", "date": "INT32",
    "long": "INT64", "timestamp": "INT64", "timestamp_ntz": "INT64",
    "float": "FLOAT", "double": "DOUBLE", "string": "BYTE_ARRAY",
    "boolean": "BOOLEAN",
}
STAT_TYPES = tuple(_PHYSICAL)
_EPOCH_ORDINAL = _dt.date(1970, 1, 1).toordinal()
# microseconds per unit of an INT64 timestamp's logical type
_TS_MICROS = {"milliseconds": 1000, "microseconds": 1}


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
def _renderer(dtype, column):
    """The function turning a raw statistic of `column` (a pyarrow
    ColumnSchema) into what Spark's `collect` returns for Spark type
    `dtype`, or None for a pairing this module does not read."""
    name, ptype = dtype.typeName(), column.physical_type
    if name.startswith("decimal"):
        if ptype not in ("INT32", "INT64", "FIXED_LEN_BYTE_ARRAY", "BYTE_ARRAY"):
            return None

        def unscaled(raw):
            if isinstance(raw, bytes):
                raw = int.from_bytes(raw, "big", signed=True)
            # the string form is exact at any precision
            return _dec.Decimal(f"{raw}E-{dtype.scale}")

        return unscaled
    if _PHYSICAL.get(name) != ptype:
        return None
    if name == "date":
        return lambda d: _dt.date.fromordinal(d + _EPOCH_ORDINAL)
    if name in ("timestamp", "timestamp_ntz"):
        unit = json.loads(column.logical_type.to_json()).get("timeUnit")
        if unit not in _TS_MICROS:
            return None
        # Spark's TimestampType / TimestampNTZType.fromInternal
        tz = None if name == "timestamp" else _dt.timezone.utc

        def timestamp(raw):
            us = raw * _TS_MICROS[unit]
            ts = _dt.datetime.fromtimestamp(us // 1_000_000, tz)
            return ts.replace(microsecond=us % 1_000_000, tzinfo=None)

        return timestamp
    if name == "string":
        # unsigned byte order of UTF-8 is code point order
        return lambda raw: raw.decode("utf-8")
    return lambda v: v


def row_group_stats(footer: pq.FileMetaData, col: str, dtype) -> list:
    """Each row group's (min, max, null_count, num_values) of top-level
    column `col`, of Spark type `dtype`, in a footer pyarrow read: min
    and max as Spark's `collect` returns them, (None, None, ...) for an
    all-null chunk, and None where the footer cannot vouch for the
    chunk's values (see the module doc)."""
    schema = footer.schema
    j = next(
        (j for j in range(footer.num_columns)
         if schema.column(j).path == schema.column(j).name == col),
        None,
    )
    if j is None:
        return [None] * footer.num_row_groups
    render = _renderer(dtype, schema.column(j))
    out = []
    for i in range(footer.num_row_groups):
        rg = footer.row_group(i)
        chunk = rg.column(j)
        st, n = chunk.statistics, chunk.num_values
        if st is None or not st.has_null_count or n != rg.num_rows:
            out.append(None)
        elif st.null_count == n:
            out.append((None, None, n, n))
        elif not st.has_min_max or render is None:
            out.append(None)  # values without bounds, e.g. INT96
        else:
            try:
                lo, hi = render(st.min_raw), render(st.max_raw)
                out.append((lo, hi, st.null_count, n))
            except (ValueError, OverflowError, OSError):
                out.append(None)  # e.g. a date outside Python's range
    return out


def _nan_last(v):
    """Sort key putting NaN above every number (Spark's float order)."""
    return (v != v, v)


def group_stats(group_dir: str, schema, column_map: dict | None = None) -> dict:
    """The manifest stats of one file group from its files' footers:
    {logical col: [min, max, null_count, rows]} for every stat-typed
    field of the LOGICAL `schema`, looked up in the files under its
    physical name (`column_map`: {logical: physical}). A column the
    footers cannot vouch for gets no entry; an unreadable group gets {}
    (always admitted, size unknown)."""
    cmap = column_map or {}
    try:
        footers = [pq.read_metadata(p) for p in data_files(group_dir)]
    except (OSError, pa.ArrowException):
        return {}
    rows = sum(f.num_rows for f in footers)
    out = {}
    for f in schema.fields:
        if not is_stat_type(f.dataType):
            continue
        phys = cmap.get(f.name, f.name)
        chunks = [s for ft in footers for s in row_group_stats(ft, phys, f.dataType)]
        if None in chunks:
            continue
        values = [v for lo, hi, _, _ in chunks if lo is not None for v in (lo, hi)]
        key = _nan_last if f.dataType.typeName() in ("float", "double") else None
        lo, hi = min(values, key=key, default=None), max(values, key=key, default=None)
        nulls = sum(c[2] for c in chunks)
        out[f.name] = [json_safe(lo), json_safe(hi), nulls, rows]
    return out
