"""End-to-end GWAS warehouse test: raw TSVs → ingest DAG → silver tables →
gold `combined` → app-surface queries → audits. Mirrors the reference's
entry-point 2 + 1 lifecycles (SURVEY.md §3) on deterministic fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gwasdb_spark import schemas as S
from gwasdb_spark.gwas import api
from gwasdb_spark.gwas.audit import chr_distribution, warehouse_audit
from gwasdb_spark.gwas.ingest import RawStudyInputs, ingest_study, next_study_id

from tests.gwas_fixtures import build_warehouse, marker_rows, write_raw_study


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    return build_warehouse(
        spark,
        str(tmp_path_factory.mktemp("gwas_wh")),
        str(tmp_path_factory.mktemp("raw")),
    )


def test_ingest_row_accounting(wh):
    """Every raw SNP lands in exactly one of gwas / no_gwas_result."""
    fx = wh.fixture_facts
    n_gwas = wh.read("gwas").count()
    n_tomb = wh.read("no_gwas_result").count()
    assert n_gwas + n_tomb == fx["n_snps"]
    assert n_tomb >= max(fx["n_null_or"], fx["n_low_info"])


def test_qc_semantics(wh):
    """Survivors all have impute_score >= 0.3 and non-null stat
    (R/wrangle_data.Rmd:234,264)."""
    g = wh.read("gwas")
    assert g.filter(F.col("impute_score") < 0.3).count() == 0
    assert g.filter(F.col("stat").isNull()).count() == 0


def test_maf_native_vs_pandas_udf(wh, spark):
    """The engine's two MAF implementations agree (SURVEY.md §2.11)."""
    from gwasdb_spark.functions.scalar import maf_expr, maf_pandas_udf

    g = wh.read("gwas").filter(F.col("geno_all").isNotNull()).limit(200)
    both = g.select(
        maf_expr(F.col("geno_all")).alias("native"),
        maf_pandas_udf(F.col("geno_all")).alias("vectorized"),
    )
    bad = both.filter(
        F.abs(F.col("native") - F.col("vectorized")) > 1e-12
    ).count()
    assert bad == 0


def test_combined_matches_manual_join(wh, spark):
    """Gold `combined` == the export-view definition computed independently
    (R/postgres_process.Rmd:137)."""
    gwas = wh.read("gwas")
    b37 = wh.read("b37")
    study = wh.read("study")
    expected = (
        gwas.filter(F.col("impute_score") >= 0.3)
        .join(b37, "kgp_id", "left")
        .join(
            study.select(F.col("id").alias("study_id"), "name"),
            "study_id",
            "left",
        )
        .count()
    )
    assert wh.read("combined").count() == expected
    # plotting columns present (gwasDB/app.R:164-182)
    for c in ("chr", "pos", "neg_log10_p", "name", "or"):
        assert c in wh.read("combined").columns


def test_ingest_binds_beta_for_quantitative_study(spark, tmp_path):
    """`stat_col="beta"` names the raw file's effect column `beta`, so a
    quantitative study ingests; its rows equal the default `or` binding
    of the same file (R/load_urate2020_gwas.Rmd:138)."""
    fx = write_raw_study(str(tmp_path), quantitative=True)
    marker = spark.createDataFrame(marker_rows(fx["snps"]), schema=S.MARKER)

    def ingest(**stat):
        inputs = RawStudyInputs(
            gwas_tsv=fx["gwas_tsv"],
            hwe_tsv=fx["hwe_tsv"],
            mfi_tsv=fx["mfi_tsv"],
            **stat,
        )
        rows, tombstones = ingest_study(spark, inputs, study_id=2, marker=marker)
        return sorted(map(tuple, rows.collect())), sorted(map(tuple, tombstones.collect()))

    beta_rows, beta_tombs = ingest(stat_col="beta")
    or_rows, or_tombs = ingest()
    assert beta_rows == or_rows and beta_tombs == or_tombs
    assert len(beta_rows) + len(beta_tombs) == fx["n_snps"]
    assert any(r[4] < 0 for r in beta_rows)  # a signed effect, not an OR


def test_locus_window_flagship(wh):
    """±10 kb locus window around a marker returns exactly the combined rows
    within the window on the same chromosome (gwasDB/app.R:149-154)."""
    some = wh.read("combined").orderBy("kgp_id").first()
    res = api.locus_window(wh, some["kgp_id"], flank=10_000).collect()
    assert len(res) >= 1
    for r in res:
        assert r["chr"] == some["chr"]
        assert abs(r["pos"] - some["pos"]) <= 10_000


def test_markers_by_region_and_probe(wh):
    b = wh.read("b37").filter(F.col("chr") == 1).orderBy("pos")
    lo = b.first()["pos"]
    res = api.markers_by_region(wh, 1, lo, lo + 50_000).collect()
    assert len(res) >= 1
    assert all(r["chr"] == 1 for r in res)

    probe = api.markers_by_probe(wh, "^1:").limit(5).collect()
    assert all(r["kgp_id"].startswith("1:") for r in probe)

    assert api.empty_markers(wh).count() == 0


def test_warehouse_audit_clean(wh):
    """Referential integrity holds after ingest (anti-join audits all empty —
    the reference's §5 checks)."""
    report = warehouse_audit(wh)
    assert report == {k: 0 for k in report}


def test_chr_distribution(wh):
    dist = {r["chr"]: r["n"] for r in chr_distribution(wh.read("b37")).collect()}
    assert set(dist) == {1, 2, 3, 23}
    assert sum(dist.values()) == wh.fixture_facts["n_snps"]


def test_serial_id_emulation(wh):
    assert next_study_id(wh.read("study")) == 3


def test_partition_layout(wh):
    """b37/gwas/combined are chr-partitioned on disk → region queries prune."""
    import os

    for t in ("b37", "gwas", "combined"):
        entries = os.listdir(wh.path(t))
        assert any(e.startswith("chr=") for e in entries), t


def test_dml_ops(wh, spark):
    from gwasdb_spark.gwas import dml

    g = wh.read("gwas")
    n0 = g.count()

    # DELETE WHERE (M1)
    deleted = dml.delete_where(g, F.col("study_id") == 1)
    assert deleted.count() == 0

    # UPDATE SET via comma-truncation fixup (M2)
    spiked = g.limit(1).withColumn("kgp_id", F.concat(F.col("kgp_id"), F.lit(",123")))
    fixed = dml.comma_truncate_fixup(spiked)
    assert fixed.filter(F.col("kgp_id").contains(",")).count() == 0

    # MERGE upsert: re-inserting the same keys must not grow the table (PK)
    merged = dml.merge_upsert(g, g.limit(10), ["kgp_id", "study_id"])
    assert merged.count() == n0

    # INSERT VALUES (M3)
    row = g.first().asDict()
    row["kgp_id"] = "9:131271296_C_T"  # the reference's manual fixup row
    grown = dml.insert_values(g, [row])
    assert grown.count() == n0 + 1


def test_locus_window_prunes_partitions(wh):
    """The flagship region query must show chr partition pruning in its
    physical plan (the engine's replacement for the reference's PK b-tree,
    SURVEY.md §4) — not just a partitioned directory layout."""
    from gwasdb_spark.gwas.api import combined_region

    df = combined_region(wh, chrom=1, start=0, end=10_000_000)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the chr predicate must appear inside the partition filters, and the
    # pos range must be pushed to the parquet scan
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("chr" in ln for ln in pf_lines), pf_lines
    assert any("pos" in ln for ln in plan.splitlines() if "PushedFilters" in ln)


def test_marker_index_point_lookup(wh):
    """The name-sorted marker index must (a) answer exact and anchored-
    prefix probes identically to the b37 scan path, and (b) serve them
    on the driver as a local relation — the PK-b-tree replacement for
    the interactive probe (gwasDB/app.R:97-101, R/gwas_ddl.sql:5) —
    where the b37 path pushes the sargable name predicate into the
    parquet scan so sorted min/max stats can skip row groups."""
    from gwasdb_spark.gwas.api import marker_exact, markers_by_probe

    def executed(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # baseline answers from the b37 path (index not built yet), whose
    # sargable predicates reach the scan: equality for the point lookup,
    # StartsWith for the anchored regex
    assert not wh.has_table("marker_index")
    some_id = wh.read("b37").select("kgp_id").first()["kgp_id"]
    before_exact = marker_exact(wh, some_id).collect()
    before_probe = {r.kgp_id for r in markers_by_probe(wh, "^rs").collect()}
    pushed = [ln for ln in executed(marker_exact(wh, some_id)).splitlines()
              if "PushedFilters" in ln]
    assert any("EqualTo(kgp_id" in ln for ln in pushed), pushed
    pushed = [ln for ln in executed(markers_by_probe(wh, "^rs")).splitlines()
              if "PushedFilters" in ln]
    assert any("StringStartsWith(kgp_id,rs" in ln for ln in pushed), pushed

    wh.build_marker_index(n_files=4)

    after_exact = marker_exact(wh, some_id).collect()
    assert after_exact == before_exact and len(after_exact) == 1

    probe = markers_by_probe(wh, "^rs")
    assert {r.kgp_id for r in probe.collect()} == before_probe

    # with the index, both are local relations: no parquet scan to plan
    for df in (marker_exact(wh, some_id), probe):
        plan = executed(df)
        assert "LocalTableScan" in plan and "FileScan" not in plan, plan


def test_literal_prefix_extraction():
    from gwasdb_spark.gwas.api import _literal_prefix

    assert _literal_prefix("^rs123") == "rs123"
    assert _literal_prefix(r"^rs12\d+") == "rs12"
    assert _literal_prefix("^Affx[-_]") == "Affx"
    assert _literal_prefix("rs123") == ""      # unanchored: full regex scan
    assert _literal_prefix("^(rs|Aff)") == ""  # alternation: no literal prefix
    assert _literal_prefix("^ab|cd") == ""  # 'xcd' matches
    # a quantifier that allows zero of the last char drops it
    assert _literal_prefix("^ab*") == _literal_prefix("^ab?c") == "a"
    assert _literal_prefix("^ab{0,2}") == "a"
    assert _literal_prefix("^ab+") == "ab"
    assert _literal_prefix("^é1") == ""  # ASCII only


def test_update_set_evaluates_against_pre_update_row(spark):
    """Regression: when one assignment rewrites the column the predicate
    reads, the OTHER assignments must still fire (SQL UPDATE sees the
    pre-update row throughout)."""
    from pyspark.sql import functions as F

    from gwasdb_spark.gwas.dml import update_set

    df = spark.createDataFrame(
        [(1, "P", 100.0), (2, "O", 100.0)], "id long, status string, price double"
    )
    out = {
        r.id: (r.status, r.price)
        for r in update_set(
            df,
            F.col("status") == "P",
            {"status": F.lit("F"), "price": F.col("price") * 2},
        ).collect()
    }
    assert out[1] == ("F", 200.0)   # both assignments applied
    assert out[2] == ("O", 100.0)   # untouched


def test_distance_clump_matches_python_reference(spark):
    """Greedy clump via per-chr applyInPandas must equal the serial
    pure-python algorithm exactly — leads, membership counts, all
    chromosomes — and clump invariants must hold (no two leads within
    the radius on one chr; members account for every variant)."""
    import numpy as np

    from gwasdb_spark.gwas.clump import distance_clump

    rng = np.random.default_rng(11)
    rows = [
        (int(c), int(p), int(i), float(rng.integers(0, 10_000)) / 10_000)
        for i, (c, p) in enumerate(
            zip(rng.integers(1, 4, 600), rng.integers(1, 2_000_000, 600))
        )
    ]
    assoc = spark.createDataFrame(
        rows, "chr int, pos long, variant_id long, p double"
    )
    radius = 150_000
    got = {
        (r.chr, r.variant_id): (r.pos, r.n_clumped)
        for r in distance_clump(assoc, radius=radius).collect()
    }

    # serial reference
    want = {}
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=["chr", "pos", "variant_id", "p"])
    for c, sub in pdf.groupby("chr"):
        sub = sub.sort_values(["p", "variant_id"]).reset_index(drop=True)
        alive = [True] * len(sub)
        for i in range(len(sub)):
            if not alive[i]:
                continue
            members = [
                j for j in range(len(sub))
                if alive[j] and abs(sub.pos[j] - sub.pos[i]) <= radius
            ]
            want[(c, int(sub.variant_id[i]))] = (int(sub.pos[i]), len(members))
            for j in members:
                alive[j] = False
    assert got == want
    # invariant: no two leads within radius on one chromosome
    leads = sorted((c, p) for (c, _vid), (p, _n) in got.items())
    for (c1, p1), (c2, p2) in zip(leads, leads[1:]):
        if c1 == c2:
            assert abs(p2 - p1) > radius
    # invariant: memberships partition the variant set
    assert sum(n for _pos, n in got.values()) == len(rows)


def test_distance_clump_extra_group_keys_shards_per_study(spark):
    """The memory-contract escape hatch: extra_group_keys=("study_id",)
    must clump each study independently (per-study p-value ranking),
    and equal running distance_clump separately per study."""
    import numpy as np

    from gwasdb_spark.gwas.clump import distance_clump

    rng = np.random.default_rng(7)
    rows = [
        (int(c), int(p), int(i), float(rng.integers(0, 10_000)) / 10_000, int(s))
        for i, (c, p, s) in enumerate(
            zip(
                rng.integers(1, 3, 400),
                rng.integers(1, 1_000_000, 400),
                rng.integers(0, 3, 400),
            )
        )
    ]
    assoc = spark.createDataFrame(
        rows, "chr int, pos long, variant_id long, p double, study_id int"
    )
    radius = 120_000
    got = {
        (r.study_id, r.chr, r.variant_id): (r.pos, r.n_clumped)
        for r in distance_clump(
            assoc, radius=radius, extra_group_keys=("study_id",)
        ).collect()
    }
    want = {}
    for s in {r[4] for r in rows}:
        sub = assoc.filter(assoc.study_id == s).drop("study_id")
        for r in distance_clump(sub, radius=radius).collect():
            want[(s, r.chr, r.variant_id)] = (r.pos, r.n_clumped)
    assert got == want
    # per-study membership totals partition each study's variant set
    from collections import Counter

    per_study_rows = Counter(r[4] for r in rows)
    per_study_members = Counter()
    for (s, _c, _v), (_pos, n) in got.items():
        per_study_members[s] += n
    assert per_study_members == per_study_rows
