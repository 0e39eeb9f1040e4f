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

Invalidation contract (the one Spark's catalog file-status cache has):
every `Warehouse` method that changes a table drops its memo entry once
the write has finished — `write`, `append`, `build_marker_index`, and
`build_combined`'s rename swap (`combined` and `combined_tmp_`). A writer
that changes a table's files out of band (another process, another
`Warehouse` on the same root, a manual `rm`) must call `refresh(name)`
before this instance reads that table again, as Spark requires a
`REFRESH TABLE` after an external write.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SILVER_TABLES = ("b37", "marker", "study", "gwas", "no_gwas_result")
CHR_PARTITIONED = {"b37", "gwas", "combined", "combined_tmp_"}


class Warehouse:
    """A rooted parquet warehouse with the reference's five base tables and
    the gold `combined` table."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._relations: dict[str, DataFrame] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(self, name: str, df: DataFrame, mode: str = "overwrite") -> None:
        """Write a silver table with its scale layout (chr-partitioned +
        pos-sorted for variant-grain tables).

        `gwas` carries no chr column in the reference DDL (chr lives in b37,
        R/gwas_ddl.sql:42-64); we derive a chr partition column from the
        kgp_id prefix (`{chr}:{pos}_{ref}_{alt}`) so the fact table prunes
        on region queries and co-partitions with b37 for the gold build."""
        if name in CHR_PARTITIONED and "chr" not in df.columns and "kgp_id" in df.columns:
            df = df.withColumn(
                "chr", F.split(F.col("kgp_id"), ":").getItem(0).cast("int")
            )
        writer = df.write.mode(mode)
        if name in CHR_PARTITIONED and "chr" in df.columns:
            df = df.sortWithinPartitions("chr", "pos") if "pos" in df.columns else df
            writer = df.write.mode(mode).partitionBy("chr")
        try:
            writer.parquet(self.path(name))
        finally:
            self.refresh(name)

    def append(self, name: str, df: DataFrame) -> None:
        """INSERT INTO ... SELECT (SURVEY.md U2) as a partitioned append."""
        self.write(name, df, mode="append")

    def read(self, name: str) -> DataFrame:
        """The table's resolved relation, listed and schema-inferred on
        the first read only (module docstring: invalidation contract)."""
        df = self._relations.get(name)
        if df is None:
            df = self._relations[name] = self.spark.read.parquet(self.path(name))
        return df

    def refresh(self, name: str) -> None:
        """Drop `name`'s resolved relation; the next read re-lists it."""
        self._relations.pop(name, None)

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
        group. Delta/Iceberg z-order+bloom is the transactional upgrade;
        no Delta jar ships in this container (documented ROADMAP.md)."""
        idx = self.read("b37").select("kgp_id", "chr", "pos")
        try:
            (
                idx.repartitionByRange(n_files, "kgp_id")
                .sortWithinPartitions("kgp_id")
                .write.mode("overwrite")
                .parquet(self.path("marker_index"))
            )
        finally:
            self.refresh("marker_index")
        return self.read("marker_index")

    # -- gold -------------------------------------------------------------

    def build_combined(self) -> DataFrame:
        """The denormalized export view (R/postgres_process.Rmd:137):

        gwas LEFT JOIN b37 USING (kgp_id)
             LEFT JOIN (SELECT id AS study_id, name, n, n_case, n_control
                        FROM study) USING (study_id)
        WHERE impute_score >= 0.3, with `stat` aliased `or`.

        The study side broadcasts; the gwas⋈b37 join co-partitions on chr
        when both sides carry it. Persisted chr-partitioned/pos-sorted so
        the app's locus windows stay pruned."""
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
        self.write("combined_tmp_", combined)
        # atomic-ish swap: write then rename (Delta would give true ACID;
        # plain parquet keeps the dependency surface minimal here)
        import shutil

        final = self.path("combined")
        try:
            if os.path.exists(final):
                shutil.rmtree(final)
            os.rename(self.path("combined_tmp_"), final)
        finally:
            # `write` already dropped combined_tmp_'s entry
            self.refresh("combined")
        return self.read("combined")
