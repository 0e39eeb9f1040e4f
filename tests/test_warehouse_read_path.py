"""The warehouse read path: each table is resolved once per `Warehouse`
(listing, partition discovery and schema inference on the first read
only), every writing method invalidates what it changed, and each
interactive `gwas.api` query runs one Spark job per step.

1. Memo invalidation: `append`, `build_combined` (rename swap) and
   `build_marker_index` make their tables' next read see the new files.
2. Job counts on a warm warehouse, read from the DAG scheduler's job-id
   counter: a region, point or anchored-probe query is one job (plan plus
   collect) and the two-step locus window is two. A regression that adds
   a sampling sort, a take that grows, or a per-call schema inference
   fails here.
3. The single-partition sorts return the same rows in the same order as
   a global `orderBy`.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gwasdb_spark import schemas as S
from gwasdb_spark.gwas import api
from gwasdb_spark.gwas.warehouse import Warehouse

from tests.gwas_fixtures import build_warehouse, study_rows


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    """A warehouse with its marker index built, queried read-only."""
    w = build_warehouse(
        spark,
        str(tmp_path_factory.mktemp("read_wh")),
        str(tmp_path_factory.mktemp("read_raw")),
    )
    w.build_marker_index(n_files=4)
    return w


def _jobs(spark, fn) -> int:
    """Spark jobs submitted while `fn` runs."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(dag.nextJobId())
    fn()
    return int(dag.nextJobId()) - j0


def test_read_resolves_each_table_once(wh):
    assert wh.read("b37") is wh.read("b37")
    assert wh.read("combined") is wh.read("combined")


def test_append_invalidates_the_memo(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "wh"))
    w.write("study", spark.createDataFrame(study_rows()[:1], schema=S.STUDY))
    assert w.read("study").count() == 1
    w.append("study", spark.createDataFrame(study_rows()[1:], schema=S.STUDY))
    assert sorted(r.id for r in w.read("study").collect()) == [1, 2]
    w.write("study", spark.createDataFrame(study_rows()[:1], schema=S.STUDY))
    assert [r.id for r in w.read("study").collect()] == [1]


def test_build_combined_twice_sees_appended_rows(spark, tmp_path_factory):
    w = build_warehouse(
        spark,
        str(tmp_path_factory.mktemp("swap_wh")),
        str(tmp_path_factory.mktemp("swap_raw")),
    )
    before = w.read("combined").collect()
    assert before
    # a second study with study 1's surviving rows, then a rebuild: the
    # memoized `combined` must follow the rename swap to the new files
    w.append(
        "gwas", w.read("gwas").drop("chr").withColumn("study_id", F.lit(2))
    )
    w.build_combined()
    after = w.read("combined").collect()
    assert len(after) == 2 * len(before)
    assert {r.study_id for r in after} == {1, 2}
    assert {r.name for r in after if r.study_id == 2} == {"ukbb_urate"}
    assert len(api.combined_region(w, 1, 0, 10**9).collect()) == sum(
        r.chr == 1 for r in after
    )


def test_build_marker_index_switches_the_marker_source(spark, tmp_path_factory):
    w = build_warehouse(
        spark,
        str(tmp_path_factory.mktemp("idx_wh")),
        str(tmp_path_factory.mktemp("idx_raw")),
    )
    some_id = w.fixture_facts["snps"][7]["kgp_id"]
    assert "ref" in api._marker_source(w).columns  # b37 before the index
    before = api.marker_exact(w, some_id).collect()
    w.build_marker_index(n_files=2)
    src = api._marker_source(w)
    assert src.columns == ["kgp_id", "chr", "pos"]
    assert all("marker_index" in f for f in src.inputFiles())
    assert api.marker_exact(w, some_id).collect() == before and len(before) == 1
    # a rebuild over a grown b37 replaces the index files the memo listed
    new_id = "2:999999_A_G"
    w.append(
        "b37",
        spark.createDataFrame(
            [{"kgp_id": new_id, "chr": 2, "pos": 999_999, "ref": "A", "alt": "G"}],
            schema=S.B37,
        ),
    )
    w.build_marker_index(n_files=3)
    assert [tuple(r) for r in api.marker_exact(w, new_id).collect()] == [
        (2, 999_999, new_id)
    ]
    assert api.marker_exact(w, some_id).collect() == before


def test_browse_queries_take_one_job_per_step(spark, wh):
    snp = wh.fixture_facts["snps"][12]
    chrom, pos, kgp = snp["chr"], snp["pos"], snp["kgp_id"]
    prefix = f"^{chrom}:{str(pos)[:2]}"
    calls = {
        "combined_region": lambda: api.combined_region(
            wh, chrom, pos - 50_000, pos + 50_000
        ).collect(),
        "marker_exact": lambda: api.marker_exact(wh, kgp).collect(),
        "markers_by_region": lambda: api.markers_by_region(
            wh, chrom, pos - 50_000, pos + 50_000
        ).collect(),
        "markers_by_probe": lambda: api.markers_by_probe(wh, prefix).collect(),
        "locus_window": lambda: api.locus_window(wh, kgp).collect(),
        "locus_window_studies": lambda: api.locus_window(
            wh, kgp, studies=["ukbb_gout"]
        ).collect(),
    }
    for fn in calls.values():  # warm: every table the calls touch resolved
        fn()
    got = {name: _jobs(spark, fn) for name, fn in calls.items()}
    assert got == {
        "combined_region": 1,
        "marker_exact": 1,
        "markers_by_region": 1,
        "markers_by_probe": 1,
        "locus_window": 2,
        "locus_window_studies": 2,
    }


def test_single_partition_sorts_match_global_order(wh):
    b37 = wh.read("b37")
    region = api.markers_by_region(wh, 2, 0, 10**9).collect()
    want = (
        b37.filter(F.col("chr") == 2)
        .select("chr", "pos", "kgp_id")
        .orderBy("pos")
        .collect()
    )
    assert region == want and len(region) > 1

    probe = api.markers_by_probe(wh, r"^1:\d{5}_").collect()
    want = (
        b37.filter(F.col("kgp_id").rlike(r"^1:\d{5}_"))
        .select("chr", "pos", "kgp_id")
        .orderBy("chr", "pos")
        .collect()
    )
    assert probe == want and len(probe) > 1


def test_locus_window_with_unknown_anchor_is_empty(wh):
    res = api.locus_window(wh, "99:1_A_C")
    assert res.columns == wh.read("combined").columns
    assert res.collect() == []
