"""DML over parquet tables (SURVEY.md §2.9): DELETE / UPDATE / MERGE /
INSERT VALUES as partition-granular rewrites.

The reference issues row-level SQL DML against Postgres
(R/wrangle_data.Rmd:360-390, R/postgres_process.Rmd:119). On a lakehouse the
equivalents are copy-on-write rewrites; with Delta these are single
statements, with plain parquet (this container) we implement the same
semantics: read → transform → rewrite. Each op takes and returns DataFrames
so the rewrite composes into one job; `Warehouse.write` persists it.

For TRANSACTIONAL semantics — atomic exclusive commits, snapshot
isolation, optimistic concurrency, time travel, vacuum — wrap the table
in `gwasdb_spark.acid.AcidTable`, whose delete_where/update_set/merge
apply exactly these functions under a version log (tests/test_acid_table.py).

PK enforcement (composite (kgp_id, study_id), R/gwas_ddl.sql:61) is
write-time: `merge_upsert` deduplicates on the key exactly like Delta MERGE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def delete_where(df: DataFrame, predicate: Column) -> DataFrame:
    """DELETE FROM t WHERE p — e.g. `delete from load_gwas where kgp_id='NA'`
    (R/wrangle_data.Rmd:360)."""
    return df.filter(~F.coalesce(predicate, F.lit(False)))


def update_set(df: DataFrame, predicate: Column, assignments: dict[str, Column]) -> DataFrame:
    """UPDATE t SET c=expr WHERE p — e.g. the comma-truncation fixup
    `UPDATE load_gwas SET kgp_id = SUBSTR(kgp_id,1,POSITION(',' IN kgp_id)-1)
    WHERE kgp_id LIKE '%,%'` (R/postgres_process.Rmd:119).

    SQL UPDATE semantics: the predicate AND every RHS evaluate against
    the PRE-update row, so all assignments go into ONE select (chained
    withColumn would let an earlier assignment change the column a later
    predicate/RHS reads — found by m01's status+price update, where
    rewriting the status first stopped the price uplift from ever
    firing). Null predicate = not matched, as in SQL.

    Each assignment is cast to its column's type (SQL store assignment,
    as Delta's UPDATE does): an UPDATE never changes the table schema,
    so `SET int_col = 1.5` stores 1."""
    cond = F.coalesce(predicate, F.lit(False))
    types = {f.name: f.dataType for f in df.schema.fields}
    return df.select(
        *[
            F.when(cond, assignments[c].cast(types[c]))
            .otherwise(F.col(c))
            .alias(c)
            if c in assignments
            else F.col(c)
            for c in df.columns
        ]
    )


def insert_values(df: DataFrame, rows: list[dict]) -> DataFrame:
    """INSERT INTO t VALUES (...) — manual one-row fixups
    (R/wrangle_data.Rmd:386-390)."""
    spark = df.sparkSession
    new = spark.createDataFrame(rows, schema=df.schema)
    return df.unionByName(new, allowMissingColumns=True)


def merge_upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE semantics (Delta-style): source rows win on key collision,
    target rows survive otherwise. One shuffle on the key. This is the PK
    enforcement path for (kgp_id, study_id)."""
    tagged = target.withColumn("__src", F.lit(0)).unionByName(
        source.withColumn("__src", F.lit(1)), allowMissingColumns=True
    )
    w = Window.partitionBy(*keys).orderBy(F.desc("__src"))
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def comma_truncate_fixup(df: DataFrame, col: str = "kgp_id") -> DataFrame:
    """The reference's specific UPDATE (R/postgres_process.Rmd:119) as a
    reusable op: truncate ids at the first comma."""
    has_comma = F.instr(F.col(col), ",") > 0
    truncated = F.expr(f"substr({col}, 1, instr({col}, ',') - 1)")
    return update_set(df, has_comma, {col: truncated})
