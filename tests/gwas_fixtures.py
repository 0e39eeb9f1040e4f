"""Deterministic GWAS-shaped fixtures (FIXTURES.md §A/§B) — raw ETL input
files + expected properties, generated with a fixed seed — plus the
Spark job counter the job-count pins share."""

from __future__ import annotations

import csv
import os
import random

N_SNPS = 400
CHRS = (1, 2, 3, 23)  # includes X=23 plink coding


def _snp_universe(rng: random.Random):
    snps = []
    pos = {c: 10_000 for c in CHRS}
    for i in range(N_SNPS):
        c = CHRS[i % len(CHRS)]
        pos[c] += rng.randint(200, 5_000)
        ref, alt = rng.sample(["A", "C", "G", "T"], 2)
        chr_pos = f"{c}:{pos[c]}_{ref}_{alt}"
        # ~20% of markers are rs-named (exercise the id-resolution branch)
        if i % 5 == 0:
            name = f"rs{1_000_000 + i}"
        else:
            name = chr_pos
        snps.append(
            {
                "chr": c,
                "pos": pos[c],
                "ref": ref,
                "alt": alt,
                "kgp_id": chr_pos,
                "snp": name,
            }
        )
    return snps


def write_raw_study(tmpdir: str, seed: int = 42, quantitative: bool = False) -> dict:
    """Write one study's raw inputs (gwas/hwe/mfi TSVs) + return expected
    facts for assertions. A quantitative study carries plink's BETA
    (normal, around 0) where a case/control study carries OR."""
    rng = random.Random(seed)
    snps = _snp_universe(rng)
    os.makedirs(tmpdir, exist_ok=True)

    gwas_path = os.path.join(tmpdir, "study_gwas.tsv")
    hwe_path = os.path.join(tmpdir, "study_hwe.tsv")
    mfi_path = os.path.join(tmpdir, "study_mfi.tsv")

    n_null_or = 0
    n_low_info = 0
    with open(gwas_path, "w", newline="") as fg, open(
        hwe_path, "w", newline=""
    ) as fh, open(mfi_path, "w", newline="") as fm:
        wg = csv.writer(fg, delimiter="\t")
        wh = csv.writer(fh, delimiter="\t")
        wm = csv.writer(fm, delimiter="\t")
        wg.writerow(["CHR", "SNP", "A1", "A2", "BETA" if quantitative else "OR", "SE", "P"])
        wh.writerow(["CHR", "SNP", "TEST", "A1", "A2", "GENO", "O_HET", "E_HET", "P"])
        # mfi is headerless (R/wrangle_data.Rmd:234)
        for s in snps:
            or_val = round(rng.gauss(0, 0.05) if quantitative else rng.lognormvariate(0, 0.1), 4)
            p = max(rng.random(), 1e-12)
            null_or = rng.random() < 0.05
            if null_or:
                n_null_or += 1
            wg.writerow(
                [
                    s["chr"],
                    s["snp"],
                    s["ref"],
                    s["alt"],
                    "NA" if null_or else or_val,
                    round(rng.random() * 0.2, 4),
                    round(p, 6),
                ]
            )
            for test in ("ALL", "AFF", "UNAFF"):
                hom1 = rng.randint(0, 50)
                het = rng.randint(0, 100)
                hom2 = rng.randint(100, 500)
                wh.writerow(
                    [
                        s["chr"],
                        s["snp"],
                        test,
                        s["ref"],
                        s["alt"],
                        f"{hom1}/{het}/{hom2}",
                        round(rng.random(), 4),
                        round(rng.random(), 4),
                        round(rng.random(), 6),
                    ]
                )
            info = round(rng.uniform(0.1, 1.0), 3)
            if info < 0.3:
                n_low_info += 1
            wm.writerow(
                [
                    s["kgp_id"] if not s["snp"].startswith("rs") else s["snp"],
                    s["snp"],
                    s["pos"],
                    s["ref"],
                    s["alt"],
                    round(rng.uniform(0.0001, 0.5), 5),
                    s["ref"],
                    info,
                ]
            )

    return {
        "gwas_tsv": gwas_path,
        "hwe_tsv": hwe_path,
        "mfi_tsv": mfi_path,
        "n_snps": len(snps),
        "n_null_or": n_null_or,
        "n_low_info": n_low_info,
        "snps": snps,
    }


def b37_rows(snps) -> list[dict]:
    return [
        {"kgp_id": s["kgp_id"], "chr": s["chr"], "pos": s["pos"], "ref": s["ref"], "alt": s["alt"]}
        for s in snps
    ]


def marker_rows(snps) -> list[dict]:
    """The rs-name → kgp_id alias rows of the fixture's rs-named markers."""
    return [
        {"kgp_id": s["kgp_id"], "marker_name": s["snp"]}
        for s in snps
        if s["snp"].startswith("rs")
    ]


def build_warehouse(spark, root: str, raw_dir: str):
    """A warehouse built the operator's way from one raw study: the b37,
    study and marker dimensions, the study's ingest into gwas +
    no_gwas_result, then the gold `combined`. The raw study's facts ride
    along as `fixture_facts`."""
    from gwasdb_spark import schemas as S
    from gwasdb_spark.gwas.ingest import RawStudyInputs, ingest_study
    from gwasdb_spark.gwas.warehouse import Warehouse

    fx = write_raw_study(raw_dir)
    w = Warehouse(spark, root)
    w.write("b37", spark.createDataFrame(b37_rows(fx["snps"]), schema=S.B37))
    w.write("study", spark.createDataFrame(study_rows(), schema=S.STUDY))
    w.write("marker", spark.createDataFrame(marker_rows(fx["snps"]), schema=S.MARKER))
    inputs = RawStudyInputs(
        gwas_tsv=fx["gwas_tsv"], hwe_tsv=fx["hwe_tsv"], mfi_tsv=fx["mfi_tsv"]
    )
    gwas_rows, tombstones = ingest_study(
        spark, inputs, study_id=1, marker=w.read("marker")
    )
    w.write("gwas", gwas_rows)
    w.write("no_gwas_result", tombstones)
    w.build_combined()
    w.fixture_facts = fx
    return w


def study_rows() -> list[dict]:
    import datetime

    return [
        {
            "id": 1,
            "name": "ukbb_gout",
            "ancestry": "European",
            "model_formula": "gout ~ age + sex + PC1:40",
            "gwas_date": datetime.date(2019, 8, 1),
            "n": 332370,
            "n_case": 7131,
            "n_control": 325239,
            "imputed": True,
            "impute_ref_panel": "HRC + 1KGP",
            "summary_only": False,
            "citation": None,
            "url": None,
            "xsan_path": None,
            "comment": None,
        },
        {
            "id": 2,
            "name": "ukbb_urate",
            "ancestry": "European",
            "model_formula": "urate ~ age + sex + PC1:40",
            "gwas_date": datetime.date(2020, 2, 1),
            "n": 309708,
            "n_case": None,  # quantitative trait (R/load_urate2020_gwas.Rmd:73)
            "n_control": None,
            "imputed": True,
            "impute_ref_panel": "HRC + 1KGP",
            "summary_only": False,
            "citation": None,
            "url": None,
            "xsan_path": None,
            "comment": None,
        },
    ]


def spark_jobs(spark, fn) -> int:
    """Spark jobs submitted while `fn` runs, read from the DAG
    scheduler's job-id counter."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(dag.nextJobId())
    fn()
    return int(dag.nextJobId()) - j0
