"""Focused fixtures for the round-13 optimization internals: each one
pins an invariant the optimization RELIES on, so a later refactor that
breaks the assumption fails here rather than (only) in a driver hash.

1. `_write_groups` stats == a re-read aggregate of the written files
   (the old two-pass truth source), on the observed single-group path
   and on the bucketed (relayout) path.
2. `upsert_cell_index`'s derived manifest (column slice of the merged
   index) stays exactly the index's (vec_id, cell) projection —
   including after an upsert that MOVES rows between cells and empties
   one.
3. `refresh_graph_sidecar(live=…)` (the in-memory relation the ops now
   hand it, enabling concurrent writes) produces byte-identical graph
   rows to the disk-reading form.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_write_group_observed_stats_match_reread(spark, tmp_path):
    """The observe-based stats must equal what a re-read aggregate of
    the just-written parquet reports (nulls, min/max, rows) — the
    contract the manifest pruning relies on."""
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
    # the bucketed path: per-bucket stats from the grouped read-back of
    # the staged tree, null-bearing column included
    z = AcidTable.create(
        spark,
        str(tmp_path / "z"),
        spark.range(64).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 7 % 64).alias("y"),
            F.when(F.col("id") % 5 == 0, None)
            .otherwise(F.col("id") / 4)
            .alias("x"),
        ),
    )
    mz = z._manifest(z.cluster_by_zorder(["k", "y"], n_groups=4, tiles=4))
    assert len(mz["file_groups"]) == 4
    for g in mz["file_groups"]:
        assert mz["stats"][g] == z._group_stats(os.path.join(z._data, g))
    assert sum(st["x"][2] for st in mz["stats"].values()) == 13


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
