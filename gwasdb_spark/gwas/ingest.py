"""ETL entry-point 2 (SURVEY.md §3): per-study GWAS ingest as ONE DataFrame DAG.

The reference's pipeline (R/wrangle_data.Rmd:221-287, orchestrated per
(study × chromosome) by 22 furrr workers, staged through per-chr CSVs and
psql COPY into UNLOGGED tables) collapses here into a single lazy plan over
all chromosomes at once — Spark partitions replace the process pool, and the
CSV/COPY/UNLOGGED staging machinery disappears (SURVEY.md §4).

Stages (citations into /root/reference/):
1. typed reads of the raw inputs (vroom col_types → explicit schemas)
2. clean_names + QC flag: info_score < 0.3 → remove (R/wrangle_data.Rmd:234)
3. HWE long→wide pivot, 3 tests/SNP → 1 row (R/wrangle_data.Rmd:241-245)
4. gwas ⋈ HWE-wide (J2) ⋈ impute-info (J4)
5. MAF from genotype-count strings — native expression, no UDF
   (maf_calc, R/wrangle_data.Rmd:196-201)
6. QC split: removed rows → no_gwas_result tombstones; survivors continue
   (R/wrangle_data.Rmd:264, :376-381)
7. id resolution ⋈ marker table with conditional kgp_id rewrite
   (R/wrangle_data.Rmd:266-268)
8. 16-col conformed projection → append to `gwas` (R/wrangle_data.Rmd:269-287)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gwasdb_spark import schemas as S
from gwasdb_spark.functions.scalar import maf_expr, neg_log10
from gwasdb_spark.sources.csv import read_delim

HWE_TESTS = ("ALL", "AFF", "UNAFF")
HWE_VALUE_COLS = ("geno", "o_het", "e_het", "p", "maf")


@dataclass
class RawStudyInputs:
    """Paths (globs allowed — all chromosomes in one read) for one study's
    raw files (FIXTURES.md §B)."""

    gwas_tsv: str
    hwe_tsv: str
    mfi_tsv: str
    frq_tsv: str | None = None  # quantitative-trait variant only
    stat_col: str = "or"  # `beta` for quantitative traits


def read_raw(spark: SparkSession, inputs: RawStudyInputs) -> dict[str, DataFrame]:
    # the effect column (plink's OR or BETA) is named after `stat_col`,
    # so the DAG below binds whichever statistic the study carries
    gwas_schema = T.StructType(
        [
            T.StructField(inputs.stat_col, f.dataType, f.nullable)
            if f.name == "or"
            else f
            for f in S.GWAS_RAW.fields
        ]
    )
    gwas = read_delim(spark, inputs.gwas_tsv, schema=gwas_schema)
    hwe = read_delim(spark, inputs.hwe_tsv, schema=S.HWE_RAW)
    mfi = read_delim(spark, inputs.mfi_tsv, schema=S.MFI_RAW, header=False)
    out = {"gwas": gwas, "hwe": hwe, "mfi": mfi}
    if inputs.frq_tsv:
        out["frq"] = read_delim(spark, inputs.frq_tsv, schema=S.FRQ_RAW)
    return out


def pivot_hwe(hwe: DataFrame) -> DataFrame:
    """HWE long→wide (SURVEY.md A4): one row per (chr,snp,a1,a2) with
    `{col}_{test}` value columns + per-test MAF from the geno string.
    Explicit pivot values — no extra distinct scan. Replaces both the tidyr
    pivot_wider (R/wrangle_data.Rmd:210) and the production filter+join
    pivot (R/wrangle_data.Rmd:241-245) with one shuffle."""
    with_maf = hwe.withColumn("maf", maf_expr(F.col("geno")))
    piv = (
        with_maf.groupBy("chr", "snp", "a1", "a2")
        .pivot("test", list(HWE_TESTS))
        .agg(*[F.first(c).alias(c) for c in HWE_VALUE_COLS])
    )
    # normalize names to the reference's {value}_{test-lowered} convention
    return piv.withColumnsRenamed(
        {f"{t}_{c}": f"{c}_{t.lower()}" for t in HWE_TESTS for c in HWE_VALUE_COLS}
    )


def ingest_study(
    spark: SparkSession,
    inputs: RawStudyInputs,
    study_id: int,
    marker: DataFrame | None = None,
    maf_min: float | None = None,
    info_min: float = 0.3,
) -> tuple[DataFrame, DataFrame]:
    """Full transform DAG for one study. Returns (gwas_rows, tombstones) —
    both lazy; the caller appends them to the warehouse.

    QC semantics (R/wrangle_data.Rmd:234,264; R/load_urate2020_gwas.Rmd:138):
    - info_score < info_min        → removed
    - stat (or/beta) IS NULL       → removed
    - maf < maf_min (if given)     → removed (urate path, .frq input)
    """
    raw = read_raw(spark, inputs)
    stat = inputs.stat_col

    hwe_wide = pivot_hwe(raw["hwe"])

    # impute-info: QC flag + (snp → kgp-style id) resolution columns
    mfi = raw["mfi"].select(
        F.col("chr_pos_alleles"),
        F.col("snp_id"),
        F.col("info_score"),
        (F.col("info_score") < info_min).alias("remove_info"),
    )

    res = raw["gwas"]
    if "frq" in raw and maf_min is not None:
        low_maf = raw["frq"].filter(F.col("maf") < maf_min).select("snp")
        res = res.join(low_maf.withColumn("remove_maf", F.lit(True)), "snp", "left")
    else:
        res = res.withColumn("remove_maf", F.lit(None).cast("boolean"))

    # J2: gwas ⋈ HWE-wide on (chr, snp, a1)
    joined = res.join(
        hwe_wide.drop("a2"), on=["chr", "snp", "a1"], how="left"
    )

    # J4-analog: ⋈ impute info on snp name
    joined = joined.join(
        mfi, joined["snp"] == mfi["snp_id"], how="left"
    ).drop("snp_id")

    flagged = joined.withColumn(
        "remove_snp",
        F.coalesce(F.col("remove_info"), F.lit(False))
        | F.coalesce(F.col("remove_maf"), F.lit(False))
        | F.col(stat).isNull(),
    )

    # id resolution (J3 + P15, R/wrangle_data.Rmd:266-268): rs/Affx-named
    # markers resolve through the marker alias table (broadcast — it's a
    # name→id map, dimension-sized relative to the fact rows); positional
    # names become chr:pos_ref_alt ids with trailing ',position' stripped
    if marker is not None:
        alias_map = marker.select(
            F.col("marker_name"), F.col("kgp_id").alias("kgp_id_marker_table")
        )
        flagged = flagged.join(
            F.broadcast(alias_map),
            flagged["snp"] == alias_map["marker_name"],
            how="left",
        ).drop("marker_name")
    else:
        flagged = flagged.withColumn(
            "kgp_id_marker_table", F.lit(None).cast("string")
        )
    resolved = flagged.withColumn(
        "kgp_id",
        F.when(
            F.col("chr_pos_alleles").rlike("^(rs|Aff)"),
            F.col("kgp_id_marker_table"),
        ).otherwise(F.regexp_replace(F.col("chr_pos_alleles"), ",[0-9]+$", "")),
    ).withColumn("kgp_id", F.coalesce(F.col("kgp_id"), F.col("snp")))

    tombstones = (
        resolved.filter(F.col("remove_snp"))
        .select("kgp_id", F.lit(study_id).cast("int").alias("study_id"))
        .dropDuplicates(["kgp_id", "study_id"])
    )

    survivors = resolved.filter(~F.col("remove_snp"))

    # 16-col conformed projection (R/wrangle_data.Rmd:269-284); quantitative
    # traits have no aff/unaff strata → literal-NULL padding
    # (R/load_urate2020_gwas.Rmd:162)
    gwas_rows = survivors.select(
        "kgp_id",
        F.lit(study_id).cast("int").alias("study_id"),
        "a1",
        "a2",
        F.col(stat).alias("stat"),
        "se",
        neg_log10(F.col("p")).alias("neg_log10_p"),
        F.lit(None).cast("boolean").alias("imputed_tf"),
        F.col("info_score").alias("impute_score"),
        F.col("maf_all"),
        F.col("maf_aff"),
        F.col("maf_unaff"),
        F.col("geno_all"),
        F.col("geno_aff"),
        F.col("geno_unaff"),
        F.col("p_all").alias("hwe_p_all"),
        F.col("p_aff").alias("hwe_p_aff"),
        F.col("p_unaff").alias("hwe_p_unaff"),
    ).dropDuplicates(["kgp_id", "study_id"])

    return gwas_rows, tombstones


def next_study_id(study_df: DataFrame) -> int:
    """SERIAL emulation (SURVEY.md §1.4): max(id)+1 at append time."""
    row = study_df.agg(F.max("id").alias("m")).first()
    return int(row["m"] or 0) + 1
