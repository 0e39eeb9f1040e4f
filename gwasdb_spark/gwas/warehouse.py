"""Warehouse layout + lifecycle: bronze → silver → gold over parquet.

Physical design for the 93M-variant / 100 TB case (SURVEY.md §4):

- silver tables `b37` and `gwas` are written partitioned by `chr` and
  sorted by `pos` within files: region queries (the app's whole read
  surface, gwasDB/app.R:82-87,149-154) bind chr + a pos range, so partition
  pruning eliminates 24/25ths of the data and parquet min/max row-group
  stats on sorted `pos` skip the rest. This replaces the reference's PK
  b-tree (R/gwas_ddl.sql:5,61).
- `study` is tiny → single file, always broadcast.
- gold `combined` is the persisted denormalized view (the reference's
  `combined` table / export view, R/postgres_process.Rmd:137) — persisted
  because Spark views re-execute while the app re-queries interactively.

Read path: a `Warehouse` resolves each table once. `read(name)` memoizes
the `spark.read.parquet` relation per instance, so file listing,
partition discovery and the schema-inference job happen on the first
read only; every later query plans against the cached file index. The
app's interactive queries were driver-bound on exactly that work.

Replacement: `build_combined` and `build_marker_index` rebuild their
table wholesale through the staged, marker-committed swap of
acid/swap.py (a throwaway `Warehouse` over the staging dir writes the
replacement with the usual layout), so a crash leaves the table wholly
old or wholly new. Every writer — `write` (and so `append`) and both
builds — first recovers an interrupted swap under the root, so a
writer must not run beside a build in flight on the same root (the
swap's single-coordinator contract).

Keyed probes: `key_range` serves a key-range probe — equality is
`lo == hi` — of a table sorted by the probed column on the driver, with
no Spark job: the marker index by name, and a `chr=` partition of
`combined` by pos. It groups the files the memoized relation lists
(`inputFiles()`) by partition directory, reads the footers of a
partition on its first probe only, and then reads only the row groups
whose min/max meet the range, cutting the range in Arrow. `local` turns
the result into a DataFrame over a local relation: collecting it, or
a filter or projection on it, runs on the driver without a job.
`marker_index` and `combined` are written in row groups of at most
`PROBE_ROW_GROUP_BYTES`, so at 93M markers a probe reads about one
~1 MiB row group per file rather than a file's single ~1.5M-row group.

Invalidation contract (the one Spark's catalog file-status cache has):
the memo holds each table's resolved relation and, once probed, its file
list and the footers of each probed partition. Every `Warehouse` method
that changes a table drops that table's memo entries once the write has
finished — `write`, `append`, `build_marker_index` and `build_combined`.
A writer that changes a table's files out of band (another process,
another `Warehouse` on the same root, a manual `rm`) must call
`refresh(name)` before this instance reads or probes that table again,
as Spark requires a `REFRESH TABLE` after an external write.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from gwasdb_spark.acid.swap import recover, replacing

SILVER_TABLES = ("b37", "marker", "study", "gwas", "no_gwas_result")
CHR_PARTITIONED = {"b37", "gwas", "combined"}
# parquet-java's row-group size for the tables `key_range` probes, set per
# writer: ~80-100k markers a group, so a probe reads small groups at any scale
PROBED_TABLES = ("marker_index", "combined")
PROBE_ROW_GROUP_BYTES = 1 << 20


class Warehouse:
    """A rooted parquet warehouse with the reference's five base tables and
    the gold `combined` table."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._relations: dict[str, DataFrame] = {}
        # {table: {chr partition value | None: [path]}}
        self._files: dict[str, dict] = {}
        # {table: {(partition, column): [(path, footer, [(min, max) | None
        # per row group])]}}
        self._footers: dict[str, dict] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(self, name: str, df: DataFrame, mode: str = "overwrite") -> None:
        """Write a silver table with its scale layout (chr-partitioned +
        pos-sorted for variant-grain tables).

        `gwas` carries no chr column in the reference DDL (chr lives in b37,
        R/gwas_ddl.sql:42-64); we derive a chr partition column from the
        kgp_id prefix (`{chr}:{pos}_{ref}_{alt}`) so the fact table prunes
        on region queries and co-partitions with b37 for the gold build."""
        recover(self.root)
        if name in CHR_PARTITIONED and "chr" not in df.columns and "kgp_id" in df.columns:
            df = df.withColumn(
                "chr", F.split(F.col("kgp_id"), ":").getItem(0).cast("int")
            )
        writer = df.write.mode(mode)
        if name in CHR_PARTITIONED and "chr" in df.columns:
            df = df.sortWithinPartitions("chr", "pos") if "pos" in df.columns else df
            writer = df.write.mode(mode).partitionBy("chr")
        if name in PROBED_TABLES:
            writer = writer.option("parquet.block.size", PROBE_ROW_GROUP_BYTES)
        try:
            writer.parquet(self.path(name))
        finally:
            self.refresh(name)

    def append(self, name: str, df: DataFrame) -> None:
        """INSERT INTO ... SELECT (SURVEY.md U2) as a partitioned append."""
        self.write(name, df, mode="append")

    def _replace(self, name: str, df: DataFrame) -> DataFrame:
        """Replace table `name` wholesale with `df`, written with
        `write`'s layout into the staged swap. The caller recovers the
        root before it reads the tables `df` is built from."""
        try:
            with replacing(self.root) as stage:
                Warehouse(self.spark, stage).write(name, df)
        finally:
            self.refresh(name)
        return self.read(name)

    def read(self, name: str) -> DataFrame:
        """The table's resolved relation, listed and schema-inferred on
        the first read only (module docstring: invalidation contract)."""
        df = self._relations.get(name)
        if df is None:
            df = self._relations[name] = self.spark.read.parquet(self.path(name))
        return df

    def refresh(self, name: str) -> None:
        """Drop `name`'s resolved relation, file list and probed footers;
        the next read or probe re-lists it."""
        self._relations.pop(name, None)
        self._files.pop(name, None)
        self._footers.pop(name, None)

    def key_range(
        self, name: str, col: str, lo, hi, *, chrom=None, cols=None
    ) -> pa.Table:
        """The rows of `name` whose `col` lies in [lo, hi], and for a
        chr-partitioned table whose partition is `chr = chrom`, read on
        the driver without a Spark job: what
        `read(name).filter(chr == chrom & col BETWEEN lo AND hi)` holds,
        as an Arrow table of `cols` (default: every column, in the
        relation's order). Rows come in file order, each file's in
        stored order. Only row groups whose footer min/max meet [lo, hi]
        are read; a row group without stats always is. `col` must be
        stored in the files, not be the partition column."""
        target = to_arrow_schema(self._schema(name, cols))
        part = str(chrom) if name in CHR_PARTITIONED else None
        stored = pa.schema([f for f in target if part is None or f.name != "chr"])
        tables = []
        for path, footer, bounds in self._probe_footers(name, part, col):
            groups = [
                i for i, b in enumerate(bounds)
                if b is None or (b[0] <= hi and lo <= b[1])
            ]
            if not groups:
                continue
            with pq.ParquetFile(path, metadata=footer) as f:
                t = f.read_row_groups(groups, columns=list({col, *stored.names}))
            t = t.filter((pc.field(col) >= lo) & (pc.field(col) <= hi))
            tables.append(t.select(stored.names).cast(stored))
        out = pa.concat_tables(tables) if tables else stored.empty_table()
        if len(stored) < len(target):  # the chr partition column
            field = target.field("chr")
            out = out.add_column(
                target.names.index("chr"), field,
                pa.repeat(pa.scalar(chrom, field.type), out.num_rows),
            )
        return out

    def local(self, name: str, table: pa.Table) -> DataFrame:
        """`table` (rows of `name`, e.g. from `key_range`) as a DataFrame
        over a local relation, typed as `read(name)` types its columns.
        Collecting it runs no Spark job, and the optimizer folds a filter
        or projection on it into the relation on the driver."""
        # one chunk: Spark's Arrow reader drops every row after a
        # zero-row record batch, as a range cut leaves when a file or
        # row group holds no row in the range
        return self.spark.createDataFrame(
            table.combine_chunks(), schema=self._schema(name, table.column_names)
        )

    def _schema(self, name: str, cols) -> StructType:
        schema = self.read(name).schema
        return schema if cols is None else StructType([schema[c] for c in cols])

    def _probe_footers(self, name: str, part, col: str) -> list:
        """Each file of `name`'s relation in partition directory `part`
        (`chr=<part>`; None for an unpartitioned table), with its footer
        and every row group's `col` min/max, read on the first probe of
        that partition only."""
        by_part = self._footers.setdefault(name, {})
        if (part, col) not in by_part:
            files = []
            for path in self._partition_files(name).get(part, []):
                footer = pq.read_metadata(path)
                j = footer.schema.names.index(col)
                bounds = []
                for i in range(footer.num_row_groups):
                    st = footer.row_group(i).column(j).statistics
                    has = st is not None and st.has_min_max
                    bounds.append((st.min, st.max) if has else None)
                files.append((path, footer, bounds))
            by_part[(part, col)] = files
        return by_part[(part, col)]

    def _partition_files(self, name: str) -> dict:
        """The files the memoized relation lists, sorted and grouped by
        their `chr=` partition value (all under None when `name` is not
        chr-partitioned)."""
        files = self._files.get(name)
        if files is None:
            files = self._files[name] = {}
            for uri in sorted(self.read(name).inputFiles()):
                path = unquote(urlparse(uri).path)
                part = None
                if name in CHR_PARTITIONED:
                    part = os.path.basename(os.path.dirname(path)).partition("chr=")[2]
                files.setdefault(part, []).append(path)
        return files

    def register_views(self) -> None:
        """Expose every table to SQL-text queries (entry-point 3)."""
        for name in SILVER_TABLES + ("combined",):
            p = self.path(name)
            if os.path.exists(p):
                self.read(name).createOrReplaceTempView(name)

    def has_table(self, name: str) -> bool:
        return os.path.exists(self.path(name))

    # -- marker name index ------------------------------------------------

    def build_marker_index(self, n_files: int = 64) -> DataFrame:
        """Skinny (kgp_id, chr, pos) lookup index, range-partitioned and
        sorted BY NAME — the engine's stand-in for the reference's
        `kgp_id` PK b-tree (R/gwas_ddl.sql:5) on the interactive probe
        path (gwasDB/app.R:97-101).

        b37's chr/pos layout serves region queries but a name probe scans
        everything. Here `repartitionByRange(kgp_id)` gives each file a
        disjoint name range and the in-file sort tightens parquet
        row-group min/max stats, so an equality or prefix probe pushed to
        the scan skips every non-overlapping row group: at 93M rows a
        lookup touches ~one file's worth of footer reads plus one row
        group. Row groups are bounded at `PROBE_ROW_GROUP_BYTES` (~80-100k
        markers), so that row group stays small however many markers a
        file holds, and `key_range` reads just it on the driver.
        Delta/Iceberg z-order+bloom is the transactional upgrade; no
        Delta jar ships in this container (documented ROADMAP.md)."""
        recover(self.root)
        idx = self.read("b37").select("kgp_id", "chr", "pos")
        return self._replace(
            "marker_index",
            idx.repartitionByRange(n_files, "kgp_id").sortWithinPartitions(
                "kgp_id"
            ),
        )

    # -- gold -------------------------------------------------------------

    def build_combined(self) -> DataFrame:
        """The denormalized export view (R/postgres_process.Rmd:137):

        gwas LEFT JOIN b37 USING (kgp_id)
             LEFT JOIN (SELECT id AS study_id, name, n, n_case, n_control
                        FROM study) USING (study_id)
        WHERE impute_score >= 0.3, with `stat` aliased `or`.

        The study side broadcasts; the gwas⋈b37 join co-partitions on chr
        when both sides carry it. Persisted chr-partitioned/pos-sorted in
        row groups of at most `PROBE_ROW_GROUP_BYTES`, so a locus window
        (`key_range` on pos) reads about one small row group per file."""
        recover(self.root)
        # drop gwas's derived chr partition column — b37 is authoritative
        # for coordinates in the view definition
        gwas = self.read("gwas").drop("chr")
        b37 = self.read("b37")
        study = self.read("study").select(
            F.col("id").alias("study_id"),
            "name",
            "n",
            "n_case",
            "n_control",
        )
        combined = (
            gwas.filter(F.col("impute_score") >= 0.3)
            .join(b37, "kgp_id", "left")
            .join(F.broadcast(study), "study_id", "left")
            .select(
                "kgp_id",
                "study_id",
                F.col("stat").alias("or"),
                "se",
                "neg_log10_p",
                "impute_score",
                "maf_all",
                "chr",
                "pos",
                "ref",
                "alt",
                "name",
                "n",
                "n_case",
                "n_control",
            )
        )
        return self._replace("combined", combined)
