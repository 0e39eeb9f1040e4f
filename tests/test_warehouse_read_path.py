"""The warehouse read path: each table is resolved once per `Warehouse`
(listing, partition discovery and schema inference on the first read
only), every writing method invalidates what it changed, and each
interactive `gwas.api` query runs one Spark job per step.

1. Memo invalidation: `append`, `build_combined` (rename swap) and
   `build_marker_index` make their tables' next read see the new files.
2. Job counts on a warm warehouse, read from the DAG scheduler's job-id
   counter: a region, point or anchored-probe query is one job (plan plus
   collect), and so is the two-step locus window, whose anchor is the
   driver-side marker-index probe. A regression that adds a sampling
   sort, a take that grows, a Spark anchor query or a per-call schema
   inference fails here.
3. The single-partition sorts return the same rows in the same order as
   a global `orderBy`.
4. `Warehouse.lookup` returns what the Spark anchor query returns, for
   known and unknown names, follows a rebuilt index, and reads one row
   group of a file that holds several.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gwasdb_spark import schemas as S
from gwasdb_spark.gwas import api
from gwasdb_spark.gwas.warehouse import Warehouse

from tests.gwas_fixtures import build_warehouse, spark_jobs, study_rows


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
    assert w.lookup("marker_index", "kgp_id", some_id, ["chr", "pos"]) == [
        (before[0].chr, before[0].pos)
    ]
    # a rebuild over a grown b37 replaces the index files the memo listed
    # and the footers the probe read
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
    assert w.lookup("marker_index", "kgp_id", new_id, ["chr", "pos"]) == [
        (2, 999_999)
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
    got = {name: spark_jobs(spark, fn) for name, fn in calls.items()}
    assert got == {
        "combined_region": 1,
        "marker_exact": 1,
        "markers_by_region": 1,
        "markers_by_probe": 1,
        "locus_window": 1,
        "locus_window_studies": 1,
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


def _spark_anchor(wh, key):
    return [
        tuple(r)
        for r in wh.read("marker_index")
        .filter(F.col("kgp_id") == key)
        .select("chr", "pos")
        .collect()
    ]


def _count_row_groups_read(monkeypatch) -> list[int]:
    """Row groups each `ParquetFile.read_row_groups` call reads."""
    reads = []
    real = pq.ParquetFile.read_row_groups

    def counting(self, row_groups, *args, **kwargs):
        reads.append(len(row_groups))
        return real(self, row_groups, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", counting)
    return reads


def test_lookup_matches_the_spark_anchor(wh, monkeypatch):
    # what the anchor query returns for every name, from one index scan
    want = {}
    for r in wh.read("marker_index").collect():
        want.setdefault(r.kgp_id, []).append((r.chr, r.pos))
    snps = wh.fixture_facts["snps"]
    assert len(want) == len(snps)
    for snp in snps:
        k = snp["kgp_id"]
        got = wh.lookup("marker_index", "kgp_id", k, ["chr", "pos"])
        assert got == want[k] == [(snp["chr"], snp["pos"])]
    for snp in snps[::40]:
        k = snp["kgp_id"]
        assert wh.lookup("marker_index", "kgp_id", k, ["chr", "pos"]) == (
            _spark_anchor(wh, k)
        )
    # unknown names: below every file, above every file, between two files
    ranges = sorted(
        (md.row_group(0).column(0).statistics.min,
         md.row_group(md.num_row_groups - 1).column(0).statistics.max)
        for md in (
            pq.read_metadata(urlparse(f).path)
            for f in wh.read("marker_index").inputFiles()
        )
        if md.num_rows
    )
    assert len(ranges) > 1
    below, above = ranges[0][0][:-1], ranges[-1][1] + "~"
    gap = ranges[0][1] + "~"
    assert below < ranges[0][0] and ranges[0][1] < gap < ranges[1][0]
    reads = _count_row_groups_read(monkeypatch)
    for k in (below, above, gap, "99:1_A_C"):
        assert wh.lookup("marker_index", "kgp_id", k, ["chr", "pos"]) == []
        assert _spark_anchor(wh, k) == []
    assert reads == []  # no row group admits a name outside every range


def test_lookup_reads_one_row_group(spark, tmp_path, monkeypatch):
    n = 300_000  # two files of ~150k markers; a 1 MiB row group holds ~97k
    w = Warehouse(spark, str(tmp_path / "wh"))
    w.write(
        "b37",
        spark.range(n).select(
            F.format_string("1:%d_A_G", F.col("id")).alias("kgp_id"),
            F.lit(1).alias("chr"),
            F.col("id").cast("int").alias("pos"),
            F.lit("A").alias("ref"),
            F.lit("G").alias("alt"),
        ),
    )
    w.build_marker_index(n_files=2)
    files = [urlparse(f).path for f in w.read("marker_index").inputFiles()]
    assert len(files) == 2
    assert all(pq.read_metadata(f).num_row_groups > 1 for f in files)
    reads = _count_row_groups_read(monkeypatch)
    for pos in (0, 77_777, n - 1):
        k = f"1:{pos}_A_G"
        assert w.lookup("marker_index", "kgp_id", k, ["chr", "pos"]) == [(1, pos)]
    assert reads == [1, 1, 1]


def test_lookup_reads_row_groups_without_stats(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "wh"))
    os.makedirs(w.path("marker_index"))
    t = pa.table({"kgp_id": ["1:5_A_G", "1:9_C_T"], "chr": [1, 1], "pos": [5, 9]})
    pq.write_table(
        t, os.path.join(w.path("marker_index"), "part-0.parquet"),
        write_statistics=False,
    )
    assert w.lookup("marker_index", "kgp_id", "1:9_C_T", ["chr", "pos"]) == [(1, 9)]
    assert w.lookup("marker_index", "kgp_id", "1:7_A_G", ["chr", "pos"]) == []
