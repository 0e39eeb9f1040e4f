"""Regression fixtures for the round-12 ADVICE items:

1. Recovery must FINISH a committed swap for every relation still
   staged — including relations whose live dir is intact because the
   crash hit BETWEEN per-relation swaps (index already swapped in,
   manifest not yet). Adopting only where the live dir is missing would
   reap the committed stage and permanently pair the NEW index with the
   OLD manifest — serve-path cell routing silently wrong.
2. x176's stage tag must carry the corpus fingerprint (like x173/c05/
   x171): a corpus regenerated at the same sf_dir must not reuse the
   stale persisted index + graph sidecar. The convention now lives in
   plans/extensions._fp_tag, which both x173 and x176 call.
3. scripts/round_close._load_ratio must use a TRUE median of the
   per-shape sentinel ratios — ratios[len//2] is the upper-middle
   element for even-length lists, which would bias the load normalizer
   high whenever the two bench maps share an even number of shapes.
"""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F


def _vec_df(spark, n=60, dim=8, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


# ---------------------------------------------------------------- 1 ----
def test_recover_finishes_cross_relation_committed_swap(
    spark, tmp_path, monkeypatch
):
    """Crash window: swap committed, `codebook` and `index` swapped in
    (the live index is the NEW one), `manifest` still staged. recover
    must adopt the pending relation — not skip it because its live dir
    exists, then reap the only copy."""
    from gwasdb_spark.acid import swap
    from gwasdb_spark.operators.ann_index import load_codebook, read_cell_index
    from tests.crash import (
        InjectedCrash,
        kill_rename,
        untrained_codebook_index,
    )

    base = os.path.join(str(tmp_path), "cbx")
    # OLD layout: 4 cells over 60 vectors
    untrained_codebook_index(_vec_df(spark, n=60, seed=1), base, n_cells=4)
    # NEW layout: 3 cells over 40 vectors (distinguishable from the old
    # one by both codebook size and row count), killed as the live
    # manifest is set aside
    kill_rename(monkeypatch, src=os.path.join(base, "manifest"))
    with pytest.raises(InjectedCrash):
        with swap.replacing(base) as stage:
            untrained_codebook_index(
                _vec_df(spark, n=40, seed=2), stage, n_cells=3
            )
    assert len(load_codebook(spark, base)) == 3

    swap.recover(base)

    assert not os.path.exists(os.path.join(base, "_swap.tmp"))
    # ALL relations are the new layout — index/manifest/codebook agree
    assert len(load_codebook(spark, base)) == 3
    idx = read_cell_index(spark, base)
    assert idx.count() == 40
    man = spark.read.parquet(os.path.join(base, "manifest"))
    assert man.count() == 40
    # manifest routes exactly the index's rows (the wrong-pairing bug
    # this fix closes: new index + old manifest disagree on cells)
    diff = (
        idx.select("vec_id", "cell")
        .exceptAll(man.select("vec_id", "cell"))
        .count()
    )
    assert diff == 0


def test_recover_restores_half_renamed_relation(tmp_path, monkeypatch):
    """Killed between setting a live relation aside and renaming its
    staged replacement in: the relation is missing from the base, but it
    is never stranded — recovery renames the replacement in, and the
    set-aside copy leaves with the staging dir."""
    from gwasdb_spark.acid import swap
    from tests.crash import InjectedCrash, kill_rename

    base = os.path.join(str(tmp_path), "cbr")
    rels = ("index", "manifest", "codebook")
    for rel in rels:
        os.makedirs(os.path.join(base, rel))
        with open(os.path.join(base, rel, "marker"), "w") as fh:
            fh.write(rel)
    kill_rename(monkeypatch, dst=os.path.join(base, "codebook"))
    with pytest.raises(InjectedCrash):
        with swap.replacing(base) as stage:
            for rel in rels:
                os.makedirs(os.path.join(stage, rel))
                with open(os.path.join(stage, rel, "marker"), "w") as fh:
                    fh.write(rel + " v2")
    assert not os.path.exists(os.path.join(base, "codebook"))
    swap.recover(base)
    assert sorted(os.listdir(base)) == sorted(rels)
    for rel in rels:
        with open(os.path.join(base, rel, "marker")) as fh:
            assert fh.read() == rel + " v2"


# ---------------------------------------------------------------- 2 ----
def test_fp_tag_tracks_corpus_regeneration(tmp_path):
    from gwasdb_spark.plans.extensions import _fp_tag

    sf = str(tmp_path)
    doc = os.path.join(sf, "documents.parquet")
    with open(doc, "wb") as fh:
        fh.write(b"a" * 100)
    t1 = _fp_tag(sf)
    os.utime(doc, ns=(1, 1))  # same path, regenerated content
    t2 = _fp_tag(sf)
    assert t1 != t2
    # the path-unique md5 prefix is stable across regeneration
    assert t1.split("_")[0] == t2.split("_")[0]


def test_persisted_store_queries_use_fingerprint_tag():
    """x176 (the ADVICE item) and x173 must derive their stage keys via
    _fp_tag, so the key can never silently drop the regeneration
    sensitivity again. st22's streaming-graph row follows the same
    convention (inline, beside mining_ops' own _corpus_fingerprint)."""
    import inspect

    from gwasdb_spark.plans import extensions as E
    from gwasdb_spark.plans import mining_ops as M

    assert "_fp_tag(sf_dir)" in inspect.getsource(E.x176_ann_graph_maintain)
    assert "_fp_tag(sf_dir)" in inspect.getsource(E.x173_incremental_ingest)
    assert "_corpus_fingerprint(sf_dir)" in inspect.getsource(
        M.st22_stream_graph_ann
    )


# ---------------------------------------------------------------- 3 ----
def _load_round_close():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "round_close", os.path.join(repo, "scripts", "round_close.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_load_ratio_true_median_for_even_shape_count():
    rc = _load_round_close()
    # two shared shapes: ratios 1.0 and 2.0 — a true median is 1.5; the
    # old upper-middle pick returned 2.0 and tripped/masked the gate
    new = {"sentinels": {"scan": 1.0, "shuffle": 4.0}}
    old = {"sentinels": {"scan": 1.0, "shuffle": 2.0}}
    ratio, how = rc._load_ratio(new, old)
    assert how.startswith("basket-median")
    assert abs(ratio - 1.5) < 1e-12
    # odd-length behavior unchanged
    new3 = {"sentinels": {"scan": 1.0, "shuffle": 2.0, "window": 3.0}}
    old3 = {"sentinels": {"scan": 1.0, "shuffle": 1.0, "window": 1.0}}
    ratio3, _ = rc._load_ratio(new3, old3)
    assert abs(ratio3 - 2.0) < 1e-12
