"""Regression fixtures for the round-11 ADVICE items:

1. retrain_codebook_index crash safety: the replacement layout is
   staged aside and swapped in behind a commit marker (acid/swap.py),
   so the live index is never deleted before its replacement is fully
   on disk. Recovery finishes a committed swap and reaps an uncommitted
   one — the old rmtree-before-build ordering lost the persisted index
   outright on any failure during retrain.
2. rename_column back-rename: rename(a->b) then rename(b->a) must land
   back on the physical name (map entry dropped), not trip the
   physical-collision guard on the column's OWN physical.
3. _refuse_referenced identifier boundaries: a column whose name is a
   substring of another identifier in a CHECK expression (column `v`,
   check on `value`) must not be spuriously refused.
4. x171 maintenance contract: after the probe, the arriving batch's
   bands are appended to the persisted store (marker-guarded), so a
   subsequent incremental batch sees this one — and a warm re-run of
   the adjudicated query returns the identical pair set.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- 1 ----
def _vec_df(spark, n=60, dim=8, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_retrain_builds_aside_and_survives_recover(spark, tmp_path, monkeypatch):
    from gwasdb_spark.acid import swap
    from gwasdb_spark.operators.ann_index import (
        load_codebook,
        read_cell_index,
        retrain_codebook_index,
    )
    from tests.crash import InjectedCrash, kill, untrained_codebook_index

    base = os.path.join(str(tmp_path), "cb")
    untrained_codebook_index(_vec_df(spark), base, n_cells=4)
    # killed BEFORE the commit marker: the whole replacement is staged,
    # the live index untouched — recovery reaps the stage
    monkeypatch.setattr(swap, "_link_durably", kill)
    with pytest.raises(InjectedCrash):
        retrain_codebook_index(spark, base, n_cells=3, seed=2)
    monkeypatch.undo()
    for rel in ("index", "manifest", "codebook"):
        assert os.path.isdir(os.path.join(base, "_swap.tmp", "new", rel))
    swap.recover(base)
    assert not os.path.exists(os.path.join(base, "_swap.tmp"))
    assert read_cell_index(spark, base).count() == 60
    assert len(load_codebook(spark, base)) == 4


def test_recover_adopts_committed_tmp_and_reaps_old(spark, tmp_path, monkeypatch):
    import shutil

    from gwasdb_spark.acid import swap
    from gwasdb_spark.operators.ann_index import load_codebook, read_cell_index
    from tests.crash import (
        InjectedCrash,
        kill_rename,
        untrained_codebook_index,
    )

    base = os.path.join(str(tmp_path), "cb2")
    untrained_codebook_index(_vec_df(spark), base, n_cells=4)

    # Killed mid-swap: full replacement committed, live `index` already
    # set aside, the staged index not yet renamed in.
    kill_rename(monkeypatch, dst=os.path.join(base, "index"))
    with pytest.raises(InjectedCrash):
        with swap.replacing(base) as stage:
            for rel in ("index", "manifest", "codebook"):
                shutil.copytree(os.path.join(base, rel), os.path.join(stage, rel))
    assert not os.path.exists(os.path.join(base, "index"))

    swap.recover(base)
    assert os.path.isdir(os.path.join(base, "index"))
    assert not os.path.exists(os.path.join(base, "_swap.tmp"))
    assert read_cell_index(spark, base).count() == 60
    assert len(load_codebook(spark, base)) == 4


# ---------------------------------------------------------------- 2 ----
def test_rename_column_roundtrip_back_to_original(spark, tmp_path):
    from gwasdb_spark.acid import AcidTable

    df = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    t = AcidTable.create(spark, os.path.join(str(tmp_path), "rt"), df)
    t.rename_column("v", "w")
    assert set(t.read().columns) == {"k", "w"}
    t.rename_column("w", "v")  # back to the physical name — must not raise
    assert set(t.read().columns) == {"k", "v"}
    assert sorted(r["v"] for r in t.read().collect()) == ["x", "y"]
    # the map entry drops entirely when logical == physical again
    m = t._manifest(t.latest_version())
    assert not (m.get("column_map") or {})
    # a rename onto ANOTHER column's physical still refuses
    t.rename_column("v", "z")
    with pytest.raises(ValueError, match="collides"):
        t.rename_column("k", "v")


# ---------------------------------------------------------------- 3 ----
def test_check_reference_guard_uses_identifier_boundaries(spark, tmp_path):
    from gwasdb_spark.acid import AcidTable
    from gwasdb_spark.acid.table_log import AcidTable as _AT

    df = spark.createDataFrame([(1, 5.0, 2.0)], "k int, value double, v double")
    t = AcidTable.create(spark, os.path.join(str(tmp_path), "ck"), df)
    t.add_check("pos_value", "value > 0")
    # `v` is a substring of `value` but NOT referenced by the check
    t.rename_column("v", "v2")
    assert set(t.read().columns) == {"k", "value", "v2"}
    # the referenced column itself still refuses
    with pytest.raises(ValueError, match="CHECK"):
        t.rename_column("value", "value2")
    # direct unit check on the guard
    m = {"checks": {"c": "value > 0 AND k < 10"}}
    _AT._refuse_referenced(m, "v2", "drop")  # no raise
    with pytest.raises(ValueError):
        _AT._refuse_referenced(m, "k", "drop")


# ---------------------------------------------------------------- 4 ----
def test_x171_appends_batch_bands_and_warm_rerun_is_stable(spark):
    import hashlib as _hl

    from gwasdb_spark.plans import QUERIES
    from gwasdb_spark.plans.helpers import stage_dir
    from gwasdb_spark.plans.mining_ops import _corpus_fingerprint

    sf_dir = "/root/testdata/sf0.001"
    store_path = stage_dir(
        "neardup_store_"
        + _hl.md5(sf_dir.encode()).hexdigest()[:12]
        + "_" + _corpus_fingerprint(sf_dir)
    )

    fn = QUERIES["x171_neardup_index_update"].fn
    first = {(r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
             for r in fn(spark, sf_dir).collect()}
    # the maintenance half: batch bands persisted beside the corpus's
    batches = os.path.join(store_path, "batches")
    assert os.path.isdir(batches)
    assert os.path.exists(os.path.join(store_path, "_batch_mod7_applied"))
    batch_docs = {
        r["doc"]
        for r in spark.read.parquet(batches).select("doc").distinct().collect()
    }
    assert batch_docs and all(d % 7 == 0 for d in batch_docs)
    # a later batch probing the store now sees THIS batch's bands
    store_docs = {
        r["doc"]
        for r in spark.read.parquet(os.path.join(store_path, "corpus"))
        .select("doc").distinct().collect()
    }
    assert batch_docs.isdisjoint(store_docs)

    # warm re-run: marker prevents double-append; result set identical
    second = {(r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
              for r in fn(spark, sf_dir).collect()}
    assert first == second
    n_files = len(os.listdir(batches))
    fn(spark, sf_dir).collect()
    assert len(os.listdir(batches)) == n_files
