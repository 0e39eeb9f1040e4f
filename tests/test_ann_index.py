"""Incremental cell-index maintenance contracts (operators/ann_index):
upsert ≡ full rebuild bit-for-bit, untouched cell partitions stay
byte-stable on disk (never rewritten), and the upsert is idempotent."""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from gwasdb_spark.operators.ann_index import (
    axis_cell,
    build_cell_index,
    read_cell_index,
    upsert_cell_index,
)


def _corpus(spark, n=400, dim=8, seed=7):
    rng = np.random.default_rng(seed)
    rows = [
        (i, [float(x) for x in rng.standard_normal(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _snapshot(df):
    return sorted(
        (r["vec_id"], r["cell"], tuple(r["embedding"]))
        for r in df.collect()
    )


def _file_mtimes(base):
    return {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(base, "index", "cell=*", "*.parquet"))
    }


def test_upsert_equals_full_rebuild(spark, tmp_path):
    vecs = _corpus(spark)
    base = str(tmp_path / "idx")
    build_cell_index(vecs, base)

    rng = np.random.default_rng(11)
    batch_rows = [
        # replacements (ids 0..49 get new embeddings — many change cell)
        *[(i, [float(x) for x in rng.standard_normal(8)]) for i in range(50)],
        # additions
        *[
            (1000 + i, [float(x) for x in rng.standard_normal(8)])
            for i in range(10)
        ],
    ]
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<float>"
    )
    info = upsert_cell_index(spark, base, batch)
    assert info["n_updates"] == 60

    # full rebuild over the logically-updated corpus
    logical = vecs.join(
        batch.select("vec_id"), "vec_id", "left_anti"
    ).unionByName(batch)
    rebuilt = str(tmp_path / "rebuilt")
    build_cell_index(logical, rebuilt)
    assert _snapshot(read_cell_index(spark, base)) == _snapshot(
        read_cell_index(spark, rebuilt)
    )
    # manifest agrees with the index
    man = _snapshot(
        spark.read.parquet(os.path.join(base, "manifest")).withColumn(
            "embedding", F.array().cast("array<float>")
        )
    )
    idx = _snapshot(
        read_cell_index(spark, base).withColumn(
            "embedding", F.array().cast("array<float>")
        )
    )
    assert man == idx


def test_upsert_leaves_untouched_cells_bytestable(spark, tmp_path):
    vecs = _corpus(spark, n=500)
    base = str(tmp_path / "idx")
    build_cell_index(vecs, base)
    before = _file_mtimes(base)

    # a one-vector batch touches at most 2 cells (its old + new one)
    new_emb = [9.0] + [0.0] * 7  # forces cell 1
    batch = spark.createDataFrame(
        [(3, new_emb)], "vec_id long, embedding array<float>"
    )
    info = upsert_cell_index(spark, base, batch)
    assert len(info["touched_cells"]) <= 2

    after = _file_mtimes(base)
    touched_dirs = {
        os.path.join(base, "index", f"cell={c}")
        for c in info["touched_cells"]
    }
    for path, mtime in before.items():
        if os.path.dirname(path) in touched_dirs:
            continue
        assert path in after and after[path] == mtime, (
            f"untouched cell file rewritten: {path}"
        )


def test_upsert_is_idempotent(spark, tmp_path):
    vecs = _corpus(spark, n=200)
    base = str(tmp_path / "idx")
    build_cell_index(vecs, base)
    batch = spark.createDataFrame(
        [(7, [1.0] * 8), (201, [0.5] * 8)], "vec_id long, embedding array<float>"
    )
    upsert_cell_index(spark, base, batch)
    snap1 = _snapshot(read_cell_index(spark, base))
    upsert_cell_index(spark, base, batch)  # replayed batch
    assert _snapshot(read_cell_index(spark, base)) == snap1


def test_axis_cell_matches_numpy(spark):
    vecs = _corpus(spark, n=100, seed=3)
    got = {
        r["vec_id"]: r["c"]
        for r in vecs.select(
            "vec_id", axis_cell(F.col("embedding")).alias("c")
        ).collect()
    }
    for r in vecs.collect():
        assert got[r["vec_id"]] == int(np.argmax(r["embedding"])) + 1


def test_upsert_clears_emptied_cells(spark, tmp_path):
    """Dynamic partition overwrite writes nothing for a cell whose rows
    were ALL moved elsewhere — the upsert must still clear its stale
    files, or deleted rows resurrect on the next read."""
    from gwasdb_spark.operators.ann_index import read_cell_index

    rows = [
        (1, [9.0, 0.0, 0.0, 0.0]),  # cell 1
        (2, [8.0, 1.0, 0.0, 0.0]),  # cell 1
        (3, [0.0, 9.0, 0.0, 0.0]),  # cell 2
    ]
    base = str(tmp_path / "idx")
    build_cell_index(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        base,
    )
    # move BOTH cell-1 residents to cell 4: cell 1 ends up empty
    batch = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 9.0]), (2, [0.0, 0.0, 1.0, 8.0])],
        "vec_id long, embedding array<float>",
    )
    upsert_cell_index(spark, base, batch)
    got = {
        r["vec_id"]: r["cell"] for r in read_cell_index(spark, base).collect()
    }
    assert got == {1: 4, 2: 4, 3: 2}
    assert not os.path.isdir(os.path.join(base, "index", "cell=1"))
    assert not os.path.isdir(os.path.join(base, "manifest", "cell=1"))


def test_delete_equals_full_rebuild(spark, tmp_path):
    from gwasdb_spark.operators.ann_index import delete_from_cell_index

    vecs = _corpus(spark)
    base = str(tmp_path / "idx_del")
    build_cell_index(vecs, base)
    ids = spark.createDataFrame(
        [(i,) for i in range(0, 400, 13)] + [(9_999_999,)], "vec_id long"
    )
    info = delete_from_cell_index(spark, base, ids)
    assert info["n_deleted"] == len(range(0, 400, 13))  # absent id: no-op
    rebuilt = str(tmp_path / "idx_del_rebuild")
    build_cell_index(vecs.join(ids, "vec_id", "left_anti"), rebuilt)
    a = _snapshot(read_cell_index(spark, base))
    b = _snapshot(read_cell_index(spark, rebuilt))
    assert a == b
    # manifest shrank in lockstep with the index
    man = spark.read.parquet(os.path.join(base, "manifest"))
    assert man.count() == len(a)
    assert man.join(ids, "vec_id").count() == 0


def test_delete_leaves_untouched_cells_bytestable(spark, tmp_path):
    from gwasdb_spark.operators.ann_index import delete_from_cell_index

    vecs = _corpus(spark)
    base = str(tmp_path / "idx_del2")
    build_cell_index(vecs, base)
    # victims: every resident of cell 1 only
    victims = read_cell_index(spark, base).filter(F.col("cell") == 1)
    n_victims = victims.count()
    assert n_victims > 0
    before = _file_mtimes(base)
    info = delete_from_cell_index(spark, base, victims.select("vec_id"))
    assert info["touched_cells"] == [1]
    assert info["n_deleted"] == n_victims
    # cell 1 emptied: dropped from index AND manifest
    assert not os.path.isdir(os.path.join(base, "index", "cell=1"))
    assert not os.path.isdir(os.path.join(base, "manifest", "cell=1"))
    for p, m in before.items():
        if "/cell=1/" in p:
            continue
        assert os.path.getmtime(p) == m, f"delete rewrote untouched {p}"


def test_delete_is_idempotent_and_empty_batch_is_zero_io(spark, tmp_path):
    from gwasdb_spark.operators.ann_index import delete_from_cell_index

    vecs = _corpus(spark)
    base = str(tmp_path / "idx_del3")
    build_cell_index(vecs, base)
    ids = spark.createDataFrame([(3,), (77,)], "vec_id long")
    delete_from_cell_index(spark, base, ids)
    snap1 = _snapshot(read_cell_index(spark, base))
    before = _file_mtimes(base)
    # replay the same batch: victims already gone -> zero IO, same index
    info = delete_from_cell_index(spark, base, ids)
    assert info == {"touched_cells": [], "n_deleted": 0}
    assert _file_mtimes(base) == before
    assert _snapshot(read_cell_index(spark, base)) == snap1


# ------------------------------------------------- codebook variant ----
def test_codebook_index_full_coverage_is_exact(spark, tmp_path):
    """nprobe = n_cells probes every cell — recall 1 by construction, so
    the probe must reproduce the exact cosine top-k (the x05d
    full-coverage discipline applied to the persisted index)."""
    from gwasdb_spark.operators.ann_index import (
        build_codebook_index,
        probe_codebook_index,
    )
    from gwasdb_spark.operators.similarity import brute_force_topk

    vecs = _corpus(spark, n=300)
    base = str(tmp_path / "cbk")
    info = build_codebook_index(vecs, base, n_cells=4)
    assert info["n_cells"] == 4
    q = vecs.filter(F.col("vec_id") < 3)
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in probe_codebook_index(spark, base, q, k=5, nprobe=4).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in brute_force_topk(q, vecs, k=5).collect()
    }
    assert got == want


def test_codebook_retrain_after_biased_delete(spark, tmp_path):
    """Deleting most of the space leaves survivors crowded into stale
    cells; retrain must (a) preserve the exact vector set, (b) reduce
    occupancy skew measured over ALL codebook cells, (c) keep the
    full-coverage probe exact (serve path unchanged)."""
    from gwasdb_spark.operators.ann_index import (
        build_codebook_index,
        cell_occupancy,
        delete_from_cell_index,
        probe_codebook_index,
        retrain_codebook_index,
    )
    from gwasdb_spark.operators.similarity import brute_force_topk

    rng = np.random.default_rng(11)
    # two tight blobs far apart: deleting one concentrates survivors
    rows = []
    for i in range(400):
        center = 10.0 if i % 2 else -10.0
        v = rng.standard_normal(6) + center
        rows.append((i, [float(x) for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = str(tmp_path / "cbk_reb")
    build_codebook_index(vecs, base, n_cells=4)
    victims = spark.createDataFrame(
        [(i,) for i in range(400) if i % 2 == 0], "vec_id long"
    )
    delete_from_cell_index(spark, base, victims)
    occ = cell_occupancy(spark, base)
    assert sum(occ.values()) == 200
    stale_skew = max(occ.values()) / (sum(occ.values()) / 4)
    out = retrain_codebook_index(spark, base)
    assert out["n_vectors"] == 200
    assert out["skew_before"] == round(stale_skew, 3)
    assert out["skew_after"] < out["skew_before"]
    survivors = vecs.filter(F.col("vec_id") % 2 == 1)
    q = survivors.filter(F.col("vec_id") < 10)
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in probe_codebook_index(spark, base, q, k=5, nprobe=4).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in brute_force_topk(q, survivors, k=5).collect()
    }
    assert got == want


def test_upsert_of_nondeterministic_batch_reports_written_rows(spark, tmp_path):
    """The batch pin is eager: the probe collect reaches it through two
    concurrent consumers (the cell-count branch and the broadcast of its
    ids), so a nondeterministic batch is drawn once, and the returned
    touched_cells / n_updates describe exactly the rows written."""
    import random

    base = str(tmp_path / "idx")
    build_cell_index(_corpus(spark, n=200, dim=4), base)
    acc = spark.sparkContext.accumulator(0)
    dim, n = 4, 40

    def draw(_vec_id):
        acc.add(1)
        return [random.random() for _ in range(dim)]

    draw_udf = F.udf(draw, "array<float>").asNondeterministic()
    # ids 180..219: 20 replacements, 20 additions, over 4 partitions
    batch = spark.range(180, 180 + n, numPartitions=4).select(
        F.col("id").alias("vec_id"), draw_udf("id").alias("embedding")
    )
    info = upsert_cell_index(spark, base, batch)

    written = (
        read_cell_index(spark, base)
        .filter(F.col("vec_id") >= 180)
        .withColumn("want_cell", axis_cell(F.col("embedding")))
        .collect()
    )
    assert acc.value == n  # one draw per batch row
    assert info["n_updates"] == len(written) == n
    assert all(r["cell"] == r["want_cell"] for r in written)
    assert {r["cell"] for r in written} <= set(info["touched_cells"])
    manifest = spark.read.parquet(os.path.join(base, "manifest"))
    assert sorted(
        (r["vec_id"], r["cell"]) for r in manifest.filter("vec_id >= 180").collect()
    ) == sorted((r["vec_id"], r["cell"]) for r in written)
