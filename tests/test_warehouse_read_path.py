"""The warehouse read path: each table is resolved once per `Warehouse`
(listing, partition discovery and schema inference on the first read
only), every writing method invalidates what it changed, and each
interactive `gwas.api` query runs at most one Spark job per step.

1. Memo invalidation: `append`, `build_combined` (rename swap) and
   `build_marker_index` make their tables' next read see the new files.
2. Job counts on a warm warehouse, read from the DAG scheduler's job-id
   counter: a region query is one job (plan plus collect); the keyed
   probes — exact marker, anchored probe and both steps of the locus
   window — are served on the driver from parquet footers and run none.
   Without the marker index the name lookups are one b37 scan each. A
   regression that adds a sampling sort, a take that grows, a Spark
   anchor or window query or a per-call schema inference fails here.
3. The single-partition sorts return the same rows in the same order as
   a global `orderBy`.
4. `Warehouse.key_range` returns what the Spark anchor query returns, for
   known and unknown names, follows a rebuilt index, and reads one row
   group of a file that holds several, on the marker index and on a
   `combined` partition.
5. Each driver-served frame equals the Spark plan it replaced in rows,
   row order where ordered, and schema, and still composes.
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from gwasdb_spark import schemas as S
from gwasdb_spark.gwas import api
from gwasdb_spark.gwas.warehouse import Warehouse

from tests.gwas_fixtures import build_warehouse, spark_jobs, study_rows


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    """A warehouse with its marker index built and both studies in
    `combined` (study 2 a copy of study 1's rows), queried read-only."""
    w = build_warehouse(
        spark,
        str(tmp_path_factory.mktemp("read_wh")),
        str(tmp_path_factory.mktemp("read_raw")),
    )
    w.append("gwas", w.read("gwas").drop("chr").withColumn("study_id", F.lit(2)))
    w.build_combined()
    w.build_marker_index(n_files=4)
    return w


def _lookup(w, key) -> list[tuple]:
    """(chr, pos) of every marker-index row named `key`, off the footers."""
    t = w.key_range("marker_index", "kgp_id", key, key, cols=["chr", "pos"])
    return [tuple(r.values()) for r in t.to_pylist()]


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
    assert _lookup(w, some_id) == [(before[0].chr, before[0].pos)]
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
    assert _lookup(w, new_id) == [(2, 999_999)]
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
        "marker_exact": 0,
        "markers_by_region": 1,
        "markers_by_probe": 0,
        "locus_window": 0,
        "locus_window_studies": 0,
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
        assert _lookup(wh, k) == want[k] == [(snp["chr"], snp["pos"])]
    for snp in snps[::40]:
        k = snp["kgp_id"]
        assert _lookup(wh, k) == _spark_anchor(wh, k)
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
        assert _lookup(wh, k) == []
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
        assert _lookup(w, k) == [(1, pos)]
    assert reads == [1, 1, 1]


def test_lookup_reads_row_groups_without_stats(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "wh"))
    os.makedirs(w.path("marker_index"))
    t = pa.table({"kgp_id": ["1:5_A_G", "1:9_C_T"], "chr": [1, 1], "pos": [5, 9]})
    pq.write_table(
        t, os.path.join(w.path("marker_index"), "part-0.parquet"),
        write_statistics=False,
    )
    assert _lookup(w, "1:9_C_T") == [(1, 9)]
    assert _lookup(w, "1:7_A_G") == []


def test_lookup_skips_all_null_row_groups(spark, tmp_path, monkeypatch):
    """A row group whose probed column is all NULL holds no row in any
    range: it is not read."""
    w = Warehouse(spark, str(tmp_path / "wh"))
    os.makedirs(w.path("marker_index"))
    t = pa.table({
        "kgp_id": [None, None, "1:5_A_G", "1:9_C_T"],
        "chr": [1, 1, 1, 1],
        "pos": [1, 2, 5, 9],
    })
    pq.write_table(
        t, os.path.join(w.path("marker_index"), "part-0.parquet"),
        row_group_size=2,
    )
    reads = _count_row_groups_read(monkeypatch)
    assert _lookup(w, "1:9_C_T") == [(1, 9)]
    assert reads == [1]


@pytest.fixture(scope="module")
def big(spark, tmp_path_factory):
    """A warehouse whose `combined` chr=1 partition is two interleaved
    files of many row groups each (one holds the even positions, the
    other the odd ones), over a marker index of every position."""
    n = 200_000
    w = Warehouse(spark, str(tmp_path_factory.mktemp("big_wh")))

    def markers(pos):
        return [F.format_string("1:%d_A_G", pos).alias("kgp_id"),
                F.lit(1).alias("chr"), pos.cast("int").alias("pos")]

    ids = spark.range(n, numPartitions=2)
    w.write("b37", ids.select(*markers(F.col("id")), F.lit("A").alias("ref"),
                              F.lit("G").alias("alt")))
    w.build_marker_index(n_files=2)
    half = F.col("id") >= n // 2
    pos = F.when(half, 2 * (F.col("id") - n // 2) + 1).otherwise(2 * F.col("id"))
    w.write(
        "combined",
        ids.select(
            *markers(pos),
            F.when(half, 2).otherwise(1).alias("study_id"),
            (F.col("id") / 7).alias("neg_log10_p"),
            F.when(half, "ukbb_urate").otherwise("ukbb_gout").alias("name"),
        ),
    )
    return w


def _pos_bounds(w) -> list[list[tuple]]:
    """Each `combined` file's row-group (min, max) pos, files in order."""
    out = []
    for f in sorted(w.read("combined").inputFiles()):
        md = pq.read_metadata(urlparse(f).path)
        j = md.schema.names.index("pos")
        out.append([
            (md.row_group(i).column(j).statistics.min,
             md.row_group(i).column(j).statistics.max)
            for i in range(md.num_row_groups)
        ])
    return out


def test_window_reads_one_row_group_per_file(big, monkeypatch):
    bounds = _pos_bounds(big)
    assert len(bounds) == 2 and all(len(b) > 1 for b in bounds)
    centres = [(lo + hi) // 2 for lo, hi in (bounds[0][0], bounds[0][-1])]
    reads = _count_row_groups_read(monkeypatch)
    for pos in centres:
        got = api.locus_window(big, f"1:{pos}_A_G", flank=1_000).collect()
        assert sorted(r.pos for r in got) == list(range(pos - 1_000, pos + 1_001))
    # per window: the anchor's marker-index group, then one per file
    assert reads == [1, 1, 1] * len(centres)
    gout = api.locus_window(big, f"1:{centres[0]}_A_G", flank=1_000, studies=["ukbb_gout"])
    assert {r.pos % 2 for r in gout.collect()} == {0}


def test_local_keeps_rows_after_an_empty_batch(big):
    # a range cut that leaves a file with no row in the range yields an
    # empty chunk between two full ones
    t = big.key_range("combined", "pos", 0, 9, chrom=1).combine_chunks()
    t = pa.concat_tables([t.slice(0, 5), t.slice(0, 0), t.slice(5)])
    assert [b.num_rows for b in t.to_batches()] == [5, 0, 5]
    got = big.local("combined", t).collect()
    assert sorted(r.pos for r in got) == list(range(10))


def _jvm_schema(df) -> StructType:
    return StructType.fromJson(json.loads(df._jdf.schema().json()))


def _same(got, want, ordered: bool = False) -> list:
    """`got` equals the Spark plan `want` in schema (names, order, types,
    nullability) and rows; returns the rows."""
    assert got.schema == want.schema
    assert _jvm_schema(got) == _jvm_schema(want)
    g, w = got.collect(), want.collect()
    if not ordered:
        g, w = sorted(g, key=repr), sorted(w, key=repr)
    assert g == w
    return g


def _spark_exact(wh, kgp_id):
    """The Spark plan `marker_exact` ran over the marker index."""
    return (
        wh.read("marker_index")
        .filter(F.col("kgp_id") == kgp_id)
        .select("chr", "pos", "kgp_id")
    )


def _spark_probe(wh, regex):
    """The Spark plan an anchored `markers_by_probe` ran over the index."""
    prefix = api._literal_prefix(regex)
    return (
        wh.read("marker_index")
        .filter(F.col("kgp_id").startswith(prefix) & F.col("kgp_id").rlike(regex))
        .select("chr", "pos", "kgp_id")
        .coalesce(1)
        .sortWithinPartitions("chr", "pos")
    )


def _spark_window(wh, kgp_id, flank=10_000, studies=None):
    """The Spark plans `locus_window` ran: the anchor, then the window."""
    anchor = _spark_anchor(wh, kgp_id)
    if not anchor:
        return wh.read("combined").limit(0)
    chrom, pos = anchor[0]
    out = wh.read("combined").filter(
        (F.col("chr") == chrom) & F.col("pos").between(pos - flank, pos + flank)
    )
    if studies:
        out = out.filter(F.col("name").isin(studies))
    return out


def test_driver_served_exact_matches_spark_for_every_marker(wh):
    by_name = {}
    for r in wh.read("marker_index").select("chr", "pos", "kgp_id").collect():
        by_name.setdefault(r.kgp_id, []).append(r)
    snps = wh.fixture_facts["snps"]
    for snp in snps:
        assert api.marker_exact(wh, snp["kgp_id"]).collect() == by_name[snp["kgp_id"]]
    for snp in snps[::50]:
        _same(api.marker_exact(wh, snp["kgp_id"]), _spark_exact(wh, snp["kgp_id"]))
    assert _same(api.marker_exact(wh, "99:1_A_C"), _spark_exact(wh, "99:1_A_C")) == []


def test_driver_served_window_matches_spark_for_every_marker(wh):
    combined = wh.read("combined").collect()
    snps = wh.fixture_facts["snps"]
    for snp in snps:
        c, p = snp["chr"], snp["pos"]
        got = api.locus_window(wh, snp["kgp_id"]).collect()
        want = [r for r in combined if r.chr == c and p - 10_000 <= r.pos <= p + 10_000]
        assert sorted(got, key=repr) == sorted(want, key=repr)
    for snp in snps[::40]:
        assert _same(api.locus_window(wh, snp["kgp_id"]), _spark_window(wh, snp["kgp_id"]))


@pytest.mark.parametrize(
    "studies", [["ukbb_gout"], ["ukbb_gout", "ukbb_urate"], ["no_such_study"]]
)
def test_driver_served_window_filters_studies_like_spark(wh, studies):
    kgp = wh.read("combined").filter(F.col("study_id") == 1).first().kgp_id
    rows = _same(
        api.locus_window(wh, kgp, studies=studies), _spark_window(wh, kgp, studies=studies)
    )
    assert {r.name for r in rows} == set(studies) & {"ukbb_gout", "ukbb_urate"}


def test_driver_served_window_edges_match_spark(wh, big):
    snp = wh.fixture_facts["snps"][30]
    rows = _same(api.locus_window(wh, snp["kgp_id"], flank=0),
                 _spark_window(wh, snp["kgp_id"], flank=0))
    assert {r.pos for r in rows} == {snp["pos"]}
    _same(api.locus_window(wh, "99:1_A_C"), _spark_window(wh, "99:1_A_C"))
    # a window across the first row-group boundary of each `combined` file
    edge = max(b[0][1] for b in _pos_bounds(big))
    kgp = f"1:{edge}_A_G"
    rows = _same(api.locus_window(big, kgp, flank=500), _spark_window(big, kgp, flank=500))
    assert [r.pos for r in sorted(rows, key=lambda r: r.pos)] == list(
        range(edge - 500, edge + 501)
    )


def test_driver_served_probe_matches_spark_in_order(wh):
    for regex in (r"^1:\d{5}_", "^2:", r"^rs", "^23:1", "^9"):
        _same(api.markers_by_probe(wh, regex), _spark_probe(wh, regex), ordered=True)
    # \p{Digit} is Java regex: Python's re (and RE2) reject it, so a
    # match shows the probe's regex ran in Spark
    java_only = r"^1:\p{Digit}{3}"
    with pytest.raises(re.error):
        re.compile(java_only)
    rows = _same(api.markers_by_probe(wh, java_only), _spark_probe(wh, java_only),
                 ordered=True)
    assert rows and all(r.kgp_id.startswith("1:") for r in rows)


def test_driver_served_frames_compose(wh):
    kgp = wh.read("combined").filter(F.col("study_id") == 1).first().kgp_id
    study = wh.read("study").select(F.col("id").alias("study_id"), F.col("name").alias("study"))
    got, want = api.locus_window(wh, kgp), _spark_window(wh, kgp)
    assert len(got.limit(3).collect()) == 3
    assert sorted(got.join(study, "study_id").collect(), key=repr) == sorted(
        want.join(study, "study_id").collect(), key=repr
    )
    names = api.marker_exact(wh, kgp).join(
        api.locus_window(wh, kgp).select("kgp_id", "name"), "kgp_id"
    )
    assert sorted(r.name for r in names.collect()) == ["ukbb_gout", "ukbb_urate"]


def test_name_lookups_without_the_index_scan_once(spark, tmp_path_factory, wh):
    plain = build_warehouse(
        spark,
        str(tmp_path_factory.mktemp("plain_wh")),
        str(tmp_path_factory.mktemp("plain_raw")),
    )
    assert not plain.has_table("marker_index")
    snp = plain.fixture_facts["snps"][12]
    kgp = snp["kgp_id"]
    prefix = f"^{snp['chr']}:{str(snp['pos'])[:2]}"
    calls = {
        "marker_exact": lambda: api.marker_exact(plain, kgp).collect(),
        "markers_by_probe": lambda: api.markers_by_probe(plain, prefix).collect(),
        "locus_window": lambda: api.locus_window(plain, kgp).collect(),
    }
    for fn in calls.values():
        fn()
    assert {k: spark_jobs(spark, fn) for k, fn in calls.items()} == {
        "marker_exact": 1,  # b37 scan
        "markers_by_probe": 1,  # b37 scan
        "locus_window": 1,  # b37 anchor scan; the window is driver-served
    }
    # the same answers as the indexed warehouse over the same study 1 rows
    assert calls["marker_exact"]() == api.marker_exact(wh, kgp).collect()
    assert calls["markers_by_probe"]() == api.markers_by_probe(wh, prefix).collect()
    assert sorted(calls["locus_window"](), key=repr) == sorted(
        api.locus_window(wh, kgp, studies=["ukbb_gout"]).collect(), key=repr
    )

