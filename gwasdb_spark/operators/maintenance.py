"""Table maintenance: small-file compaction.

Streaming appends (foreachBatch) and incremental loads accumulate files
far smaller than a scan-efficient target; at 100 TB a table with 10^7
kilobyte-files spends more time in scheduling + footer reads than in
data. Compaction rewrites a parquet table to ~target-sized files,
preserving hive partitioning, through the same staged swap the gold
build uses (acid/swap.py; Delta's OPTIMIZE is the transactional
equivalent).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gwasdb_spark.acid.swap import recover, replacing


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _partition_cols(path: str) -> list[str]:
    """Hive partition columns at every nesting level (a=1/b=2/... -> [a, b])."""
    cols: list[str] = []
    cur = path
    while True:
        entries = [
            e
            for e in sorted(os.listdir(cur))
            if "=" in e and os.path.isdir(os.path.join(cur, e))
        ]
        if not entries:
            return cols
        cols.append(entries[0].split("=")[0])
        cur = os.path.join(cur, entries[0])


def _max_leaf_partition_bytes(path: str) -> int:
    """Largest per-directory parquet payload (leaf partition dirs)."""
    best = 0
    for root, _dirs, files in os.walk(path):
        b = sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
        best = max(best, b)
    return best


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> dict:
    """Rewrite the parquet table at `path` into ceil(size/target) files
    (per partition directory when hive-partitioned), optionally re-sorting
    rows within files to restore min/max skipping after many unsorted
    appends. Returns {files_before, files_after, bytes}.

    The rewrite is staged under the table's parent dir and swapped in
    by acid/swap.py: a crash leaves the table wholly old or wholly new,
    and the next swap under that parent finishes or discards it. Tables
    that share a parent share its swap, so compact them one at a time.
    A reader that listed the table before the swap must re-list it
    after, as after any replaced parquet directory."""
    parent, name = os.path.split(path.rstrip("/"))
    recover(parent)
    part_cols = _partition_cols(path)
    df = spark.read.parquet(path)
    n_bytes = _dir_bytes(path)
    files_before = sum(
        1 for root, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(n_bytes / target_file_bytes))

    out = df
    if part_cols:
        # Repartitioning on the partition columns alone would send every
        # row of a partition value to ONE writer — a 10 GB partition dir
        # becomes a single 10 GB file. Add a salt bounded by the per-dir
        # file budget so each partition dir splits into
        # ~ceil(dir_bytes/target) files while rows still co-locate by
        # partition value (the writer's partitionBy does the dir routing).
        files_per_part = max(
            1, math.ceil(_max_leaf_partition_bytes(path) / target_file_bytes)
        )
        data_cols = [c for c in df.columns if c not in part_cols] or df.columns
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in data_cols]), F.lit(files_per_part)
        )
        out = out.repartition(
            max(n_files, len(part_cols)),
            *[F.col(c) for c in part_cols],
            salt,
        )
    else:
        out = out.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)

    writer = out.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    with replacing(parent) as stage:
        writer.parquet(os.path.join(stage, name))

    files_after = sum(
        1 for root, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    return {"files_before": files_before, "files_after": files_after, "bytes": n_bytes}


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Persist a table Hive-bucketed (+ sorted) on its join key — the
    co-located-join layout: two tables bucketed the same way on the same
    key sort-merge join with NO exchange on either side, because every
    bucket i of the left matches only bucket i of the right. At 100 TB
    this converts the biggest fact⋈fact shuffle in the workload into a
    per-bucket local merge; the price is paid ONCE at write time.
    (`bucketBy` requires `saveAsTable` — bucket metadata lives in the
    catalog, not the parquet footer.) `path` makes it an external table
    (data outside the session warehouse dir)."""
    w = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def bucketed_join(
    spark,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket keys — the
    plan must show SortMergeJoin with zero Exchange (asserted in
    tests/test_plan_shape.py)."""
    l = spark.table(left_table)
    r = spark.table(right_table)
    return l.join(r, l[left_key] == r[right_key])


def zorder_value(cols: list[F.Column], bits: int = 16) -> F.Column:
    """Morton (Z-curve) value of small non-negative integer columns: bit i
    of column j lands at position i·len(cols)+j. Pure codegen bit
    arithmetic (shift/and/or), no UDF.

    Locality property: rows close in EVERY dimension are close in z, so a
    z-sorted file layout gives parquet row-group min/max stats pruning
    power on ALL interleaved dimensions at once — the multi-column answer
    where a plain sort helps only its leading column. (Delta/Iceberg
    OPTIMIZE ZORDER is this plus transactions; the sort itself needs no
    table format.) Callers bucketize wide domains down to `bits` bits
    first (e.g. pos div 1024)."""
    ndim = len(cols)
    z: F.Column | None = None
    for b in range(bits):
        for j, c in enumerate(cols):
            term = F.shiftleft(
                F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1)),
                b * ndim + j,
            )
            z = term if z is None else z.bitwiseOR(term)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int = 16,
) -> None:
    """Write `df` as parquet z-ordered on `cols`: range-partitioned by the
    Morton value (each file owns a z-range) and sorted by it within files
    (tight row-group stats). One extra shuffle at write time buys
    multi-dimensional row-group skipping for every subsequent scan."""
    z = zorder_value([F.col(c) for c in cols], bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    cols: list[str],
) -> DataFrame:
    """Dataset-version diff — the corpus-curation answer to `git diff`
    between two snapshots of a table: per id, `added` (only in new),
    `removed` (only in old), `changed` (content digest differs over
    `cols`), or `unchanged`. The digest is md5 over the compared columns
    (unit-separator joined), so the diff never compares wide payloads
    byte-by-byte in the join.

    Scale: digests are computed scan-side (projection, codegen) and the
    FULL OUTER join shuffles (id, 16-byte digest) pairs only — payload
    columns never enter the exchange. At 100 TB both snapshots hash-
    partition on the id; AQE handles the residual skew. Downstream counts
    (`groupBy("status")`) are a partial agg over the skinny join output.
    """
    digest = F.md5(F.concat_ws("\x1f", *[F.col(c) for c in cols]))
    o = old.select(
        F.col(id_col).alias("id"), digest.alias("old_digest")
    )
    n = new.select(
        F.col(id_col).alias("id"), digest.alias("new_digest")
    )
    return o.join(n, "id", "full_outer").select(
        "id",
        "old_digest",
        "new_digest",
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") != F.col("new_digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
