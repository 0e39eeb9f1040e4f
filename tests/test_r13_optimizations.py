"""Focused fixtures for the round-13 optimization internals: each one
pins an invariant the optimization RELIES on, so a later refactor that
breaks the assumption fails here rather than (only) in a driver hash.

1. `_write_groups` stats (read from the parquet footers of the files
   the write produced) == a re-read aggregate of those files (the old
   two-pass truth source), for every stat type, on the single-group
   path and on the bucketed (relayout) path; and a write on a table
   without CHECKs observes nothing.
2. `upsert_cell_index`'s derived manifest (column slice of the merged
   index) stays exactly the index's (vec_id, cell) projection —
   including after an upsert that MOVES rows between cells and empties
   one.
3. `refresh_graph_sidecar(live=…)` (the in-memory relation the ops now
   hand it, enabling concurrent writes) produces byte-identical graph
   rows to the disk-reading form.
"""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _as_json(stats) -> str:
    # NaN != NaN: compare the manifest rendering (json writes NaN)
    return json.dumps(stats)


def _assert_stats_match_reread(t, m) -> None:
    """Every group's manifest stats equal `_group_stats` over its files
    (keyed back from physical to logical names)."""
    logical = {p: c for c, p in (m.get("column_map") or {}).items()}
    for g in m["file_groups"]:
        ref = t._group_stats(os.path.join(t._data, g))
        ref = {logical.get(c, c): v for c, v in ref.items()}
        assert _as_json(m["stats"][g]) == _as_json(ref), g


def _every_stat_type(spark, lo: int, hi: int, parts: int = 3):
    """One column per stat type (three decimal storage widths), nulls in
    each, an all-null column, non-ASCII strings, and NaN both inside a
    chunk (id 1234) and filling the last range partition (id >= 2000),
    so it also spans files."""
    ident = F.col("id")
    nan = F.lit(float("nan"))
    return spark.range(lo, hi, 1, parts).select(
        ident.alias("id"),
        F.when(ident % 7 == 0, None)
        .otherwise((ident % 200 - 100).cast("byte")).alias("b"),
        (ident * 7 % 1000 - 500).cast("short").alias("sh"),
        F.when(ident % 11 == 0, None)
        .otherwise((ident * 13 % 5000 - 2500).cast("int")).alias("i"),
        (ident * 1_000_003 - 10**9).alias("l"),
        F.when(ident >= 2000, nan)
        .when(ident % 17 == 0, None)
        .otherwise(ident / 7 - 100).cast("float").alias("f"),
        F.when(ident == 1234, nan)
        .otherwise(ident / 3 - 400.5).alias("d"),
        F.when(ident % 5 == 0, None)
        .otherwise(
            F.concat(
                F.element_at(F.array(*map(F.lit, ["é", "日本", "a", "Ω"])),
                             (ident % 4 + 1).cast("int")),
                ident.cast("string"),
            )
        ).alias("s"),
        F.when(ident % 13 == 0, None)
        .otherwise(ident % 3 == 0).alias("bo"),
        F.expr("date_add(date'1969-06-01', cast(id % 4000 as int))")
        .alias("dt"),
        F.when(ident % 19 == 0, None)
        .otherwise(F.expr("timestamp_micros(id * 123456789 - 100000000000000)"))
        .alias("ts"),
        F.expr("cast(timestamp_micros(id * 987654321 - 10) as timestamp_ntz)")
        .alias("ntz"),
        (ident / 100 - 10).cast("decimal(5,2)").alias("d5"),
        (ident * 1.001 - 1000).cast("decimal(15,3)").alias("d15"),
        F.expr(
            "cast(cast(id as decimal(30,4)) * 1234567890123.4567"
            " - 99999999999999.5 as decimal(30,4))"
        ).alias("d30"),
        F.lit(None).cast("int").alias("none"),
    )


def test_write_group_observed_stats_match_reread(spark, tmp_path):
    """Manifest stats, read from the footers the write produced, equal
    what a re-read aggregate of the just-written parquet reports (nulls,
    min/max, rows) for every stat type — the contract the manifest
    pruning relies on — on a group of several files and row groups, on
    appends and DML, after a rename, and on both relayouts."""
    from gwasdb_spark.acid import predicates as P
    from gwasdb_spark.acid.footer import STAT_TYPES, read_footer
    from gwasdb_spark.acid.table_log import AcidTable

    df = spark.createDataFrame(
        [(1, 10.5, "a"), (2, None, "b"), (3, -4.25, None)],
        "k int, x double, s string",
    )
    t = AcidTable.create(spark, str(tmp_path / "t"), df)
    m = t._manifest(t.latest_version())
    (group,) = m["file_groups"]
    st = m["stats"][group]
    # re-read the written files and recompute the same aggregate
    expected = t._group_stats(os.path.join(t._data, group))
    assert st == expected
    assert st["k"] == [1, 3, 0, 3]
    assert st["x"] == [-4.25, 10.5, 1, 3]
    assert st["s"][2] == 1  # one null string

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", "4096")  # several row groups per file
    try:
        w = AcidTable.create(
            spark, str(tmp_path / "w"), _every_stat_type(spark, 0, 3000)
        )
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)
    m = w._manifest(w.latest_version())
    (group,) = m["file_groups"]
    gdir = os.path.join(w._data, group)
    files = sorted(f for f in os.listdir(gdir) if f.endswith(".parquet"))
    assert len(files) == 3
    n_rg = []
    for f in files:
        with open(os.path.join(gdir, f), "rb") as fh:
            n_rg.append(len(read_footer(fh)[4]))
    assert min(n_rg) >= 2, n_rg
    st = m["stats"][group]
    types = {f.name: f.dataType.typeName() for f in w.read().schema.fields}
    assert set(STAT_TYPES) <= set(types.values())
    assert set(st) == set(types)  # every column has an entry
    assert st["none"] == [None, None, 3000, 3000]
    assert math.isnan(st["f"][1]) and not math.isnan(st["f"][0])
    assert math.isnan(st["d"][1]) and not math.isnan(st["d"][0])
    _assert_stats_match_reread(w, m)

    # appends, DML and a rename: the physical name is in the files, the
    # logical one in the manifest
    w.append(_every_stat_type(spark, 3000, 3400, parts=2))
    w.rename_column("i", "i2")
    w.append(_every_stat_type(spark, 3400, 3500, parts=1).withColumnRenamed(
        "i", "i2"
    ))
    w.update_set(P.Ge("id", 3450), {"f": F.lit(float("nan"))})
    w.delete_where(P.Lt("id", 100))
    m = w._manifest(w.latest_version())
    assert m["column_map"] == {"i2": "i"}
    assert all("i2" in st and "i" not in st for st in m["stats"].values())
    _assert_stats_match_reread(w, m)

    # the bucketed path: per-bucket stats from each bucket's footers
    mz = w._manifest(w.cluster_by_zorder(["l", "sh"], n_groups=3, tiles=4))
    assert len(mz["file_groups"]) == 3
    assert all("__bucket" not in st for st in mz["stats"].values())
    _assert_stats_match_reread(w, mz)
    assert sum(st["i2"][2] for st in mz["stats"].values()) == sum(
        1 for i in range(100, 3500) if i % 11 == 0
    )
    _assert_stats_match_reread(w, w._manifest(w.cluster_by("d", n_groups=4)))


def test_oversized_string_gets_no_stats_entry(spark, tmp_path):
    """parquet-java writes no Statistics for a chunk whose values pass
    its 4 KiB statistics limit. The column then has NO manifest entry
    (never [None, None, ...], which reads as all-NULL and would prune),
    and a point read on it still finds the row."""
    from gwasdb_spark.acid import predicates as P
    from gwasdb_spark.acid.table_log import AcidTable

    big = "x" * 5000
    df = spark.createDataFrame(
        [(1, big), (2, "short"), (3, None)], "k int, s string"
    )
    t = AcidTable.create(spark, str(tmp_path / "t"), df.coalesce(1))
    m = t._manifest(t.latest_version())
    (group,) = m["file_groups"]
    assert m["stats"][group] == {"k": [1, 3, 0, 3]}
    assert t._group_stats(os.path.join(t._data, group))["s"][1] == big
    assert [r["k"] for r in t.read_where(P.Eq("s", big)).collect()] == [1]
    assert t.scan_groups(P.Eq("s", big)) == (1, 1)


@pytest.mark.parametrize("stored", ["TIMESTAMP_MILLIS", "INT96"])
def test_timestamp_storage_types(spark, tmp_path, stored):
    """Millisecond timestamps decode to the re-read stats. INT96 chunks
    carry a null count but no min/max: the column gets no entry, and a
    timestamp read still finds its row."""
    import datetime as dt

    from gwasdb_spark.acid import predicates as P
    from gwasdb_spark.acid.table_log import AcidTable

    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, stored)
    try:
        t = AcidTable.create(
            spark,
            str(tmp_path / "t"),
            spark.sql(
                "select 1 as k, timestamp'2020-01-01 01:02:03.5' as ts union all"
                " select 2, timestamp'1960-06-01 00:00:00' union all"
                " select 3, null"
            ).coalesce(1),  # one chunk with a null: INT96 keeps its count
        )
    finally:
        spark.conf.set(key, old)
    m = t._manifest(t.latest_version())
    (group,) = m["file_groups"]
    st = m["stats"][group]
    if stored == "INT96":
        assert st == {"k": [1, 3, 0, 3]}
    else:
        _assert_stats_match_reread(t, m)
        assert st["ts"][2:] == [1, 3]
    hit = t.read_where(P.Eq("ts", dt.datetime(1960, 6, 1))).collect()
    assert [r["k"] for r in hit] == [2]


def test_writes_without_checks_never_observe(spark, tmp_path, monkeypatch):
    """On a table without CHECK constraints no write attaches an
    observation: stats come from the footers, and there is nothing else
    to observe."""
    from gwasdb_spark.acid import MultiTableTxn
    from gwasdb_spark.acid import predicates as P
    from gwasdb_spark.acid.table_log import AcidTable

    def no_observe(*a, **k):
        raise AssertionError("DataFrame.observe called")

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") % 7).cast("double").alias("v"),
        )

    # the concrete class: pyspark.sql.DataFrame is its abstract base
    monkeypatch.setattr(type(batch(0, 1)), "observe", no_observe)

    t = AcidTable.create(spark, str(tmp_path / "t"), batch(0, 100))
    t.append(batch(100, 150))
    MultiTableTxn(spark, str(tmp_path / "_txn")).commit_appends(
        [(t, batch(150, 200))]
    )
    t.merge(batch(190, 210).withColumn("v", F.lit(-1.0)), ["k"])
    t.delete_where(P.Eq("k", 3))
    t.update_set(P.Eq("k", 4), {"v": F.lit(9.0)})
    t.compact()
    t.cluster_by_zorder(["k", "v"], n_groups=2)
    assert t.read().count() == 209


def test_write_group_checks_still_abort_before_manifest(spark, tmp_path):
    """CHECK violations ride the same observed pass but must still
    abort the statement with no version committed and the group dir
    removed."""
    from gwasdb_spark.acid.table_log import AcidTable, CheckViolation

    t = AcidTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1,)], "k int"),
        checks={"k_pos": "k > 0"},
    )
    v0 = t.latest_version()
    with pytest.raises(CheckViolation):
        t.append(spark.createDataFrame([(-5,)], "k int"))
    assert t.latest_version() == v0
    # no orphaned group dir beyond the ones the manifest names
    named = set(t._manifest(v0)["file_groups"])
    on_disk = set(os.listdir(t._data))
    assert on_disk == named


def test_upsert_manifest_is_index_projection_after_cell_moves(
    spark, tmp_path
):
    """The upsert derives the merged manifest from the merged index
    (one checkpoint, no second manifest scan); this must hold exactly
    even when every resident of a cell is replaced into OTHER cells
    (the emptied-partition path)."""
    from gwasdb_spark.operators.ann_index import (
        build_cell_index,
        upsert_cell_index,
    )

    base = str(tmp_path / "idx")
    vecs = spark.createDataFrame(
        [(1, [9.0, 1.0, 0.0]), (2, [8.0, 0.0, 1.0]), (3, [0.0, 7.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    build_cell_index(vecs, base)  # cells: 1,1,2
    # move BOTH cell-1 residents to cell 3, add a new cell-2 row
    updates = spark.createDataFrame(
        [(1, [0.0, 1.0, 9.0]), (2, [0.0, 0.0, 8.0]), (9, [0.0, 5.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = upsert_cell_index(spark, base, updates)
    assert out["n_updates"] == 3
    index = spark.read.parquet(os.path.join(base, "index"))
    manifest = spark.read.parquet(os.path.join(base, "manifest"))
    assert _rows(manifest.select("vec_id", "cell")) == _rows(
        index.select("vec_id", "cell")
    )
    # cell 1 emptied: its partition dirs must be gone from BOTH trees
    for rel in ("index", "manifest"):
        assert not os.path.isdir(os.path.join(base, rel, "cell=1"))


def test_refresh_live_relation_matches_disk_read(spark, tmp_path):
    """refresh_graph_sidecar(live=) must produce the same graph rows as
    the disk-reading form — the equivalence that lets the maintenance
    ops run the refresh concurrently with their own writes."""
    from gwasdb_spark.operators.ann_graph import (
        build_graph_sidecar,
        refresh_graph_sidecar,
    )
    from gwasdb_spark.operators.ann_index import build_cell_index

    base = str(tmp_path / "idx")
    rows = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(4)])
        for i in range(1, 41)
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    build_cell_index(vecs, base)
    build_graph_sidecar(spark, base, R=3)
    gpath = os.path.join(base, "graphs")
    index = spark.read.parquet(os.path.join(base, "index"))
    cells = [r["cell"] for r in index.select("cell").distinct().collect()]

    refresh_graph_sidecar(spark, base, cells)  # disk-reading form
    disk_rows = _rows(
        spark.read.parquet(gpath).select("cell", "vec_id", "neighbors")
    )
    live = index.filter(F.col("cell").isin(cells))
    refresh_graph_sidecar(
        spark, base, cells, surviving=set(cells), live=live
    )
    live_rows = _rows(
        spark.read.parquet(gpath).select("cell", "vec_id", "neighbors")
    )
    assert disk_rows == live_rows
