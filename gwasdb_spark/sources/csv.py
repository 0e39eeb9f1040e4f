"""Typed delimited readers — the reference's ingest conventions, Spark-first.

Covers SURVEY.md §2.1: vroom typed reads (S3/S4), janitor::clean_names header
normalization (S5/F18), 'NA'-string null handling (§1.2 — the reference
cleans literal 'NA' with sed, R/load_urate2020_gwas.Rmd:244-247), chunked /
multi-file reads (S6/S9 — native to Spark's partitioned reads), and awk/sed
pre-shaping (S16/F17) as read-time column expressions.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def snake_case(name: str) -> str:
    """janitor::clean_names semantics: lowercase, non-alnum → underscore,
    collapse repeats, strip edges (R/wrangle_data.Rmd:231)."""
    s = re.sub(r"[^0-9a-zA-Z]+", "_", name)
    s = re.sub(r"(?<=[a-z0-9])(?=[A-Z])", "_", s)
    return re.sub(r"_+", "_", s).strip("_").lower()


def clean_names(df: DataFrame) -> DataFrame:
    """Normalize all column names (F18)."""
    return df.toDF(*[snake_case(c) for c in df.columns])


def read_delim(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    sep: str = "\t",
    header: bool = True,
    col_names: list[str] | None = None,
    na_strings: tuple[str, ...] = ("NA", "NULL", ""),
    clean: bool = True,
) -> DataFrame:
    """Typed delimited read.

    - `schema` plays vroom's `col_types` (R/wrangle_data.Rmd:116): explicit
      StructType, no inference pass (at 100 TB an inference pass is a full
      extra scan — never rely on it).
    - `col_names` plays vroom's `col_names=` override for headerless files
      (R/wrangle_data.Rmd:75).
    - `na_strings` nulls literal 'NA' at read time instead of the reference's
      sed post-pass (R/wrangle_data.Rmd:358-361).
    - Glob paths give the multi-file union read (S9) for free; Spark splits
      large files into partitions (S6) natively.
    """
    reader = (
        spark.read.option("sep", sep)
        .option("header", header)
        .option("nullValue", na_strings[0])
        .option("emptyValue", None)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", False)
    df = reader.csv(path)
    names = df.columns if col_names is None else col_names
    if clean:
        names = [snake_case(c) for c in names]
    # one projection renames every column and nulls the remaining NA-ish
    # strings (the reader's nullValue takes only the first)
    cols = []
    for field, name in zip(df.schema.fields, names, strict=True):
        c = F.col("`" + field.name.replace("`", "``") + "`")
        if isinstance(field.dataType, T.StringType) and len(na_strings) > 1:
            c = F.when(c.isin(*na_strings), None).otherwise(c)
        cols.append(c.alias(name))
    return df.select(cols)


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV sink (S8/S10). `single_file` mirrors vroom_write's one-file output —
    only for small dims; never coalesce(1) a fact table."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)
