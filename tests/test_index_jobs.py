"""Spark jobs per persisted-index operation, pinned.

Every maintenance and serve op of the persisted vector index
(operators/ann_index.py + the graph sidecar in operators/ann_graph.py)
and of the BM25 inverted index (operators/search.py) runs a fixed number
of Spark jobs on a fixed corpus: the probe collect, the surviving-cell
collect that materializes the rewrite's checkpoint, one write per
relation, the per-cell graph rebuild. A change that adds a re-read, a
count or a per-cell loop moves one of these figures and fails here; a
refactor of the rewrite path must leave all of them as they are.

The corpora: 400 8-dim vectors with an R=4 graph sidecar, and 200
documents, each op run once in a fixed order (each op's cost depends on
the layout the earlier ones left). `retrain_codebook_index` is left
out: its k-means training does not run a fixed number of jobs.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from gwasdb_spark.operators.ann_graph import (
    build_graph_sidecar,
    graph_probe_persisted,
)
from gwasdb_spark.operators.ann_index import (
    build_cell_index,
    delete_from_cell_index,
    upsert_cell_index,
)
from gwasdb_spark.operators.search import (
    bm25_topk_indexed,
    build_text_index,
    compact_text_index,
    delete_from_text_index,
    update_text_index,
)

from tests.gwas_fixtures import spark_jobs

_WORDS = (
    "hash join vector index marker locus study region probe cell graph "
    "shard merge scan plan"
).split()


def _vectors(spark, ids, dim=8, seed=7):
    rng = np.random.default_rng(seed)
    rows = [(int(i), [float(x) for x in rng.standard_normal(dim)]) for i in ids]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _docs(spark, lo, hi):
    rows = [
        (i, " ".join(_WORDS[(i * k + k) % len(_WORDS)] for k in range(1, 9)))
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _probes(spark, vecs, q_ids, nprobe=3):
    rows = []
    for r in vecs.filter(F.col("vec_id").isin(q_ids)).collect():
        qv = np.asarray(r["embedding"], dtype=np.float64)
        for c in np.lexsort((np.arange(qv.size), -qv))[:nprobe]:
            rows.append((int(r["vec_id"]), [float(x) for x in qv], int(c) + 1))
    return spark.createDataFrame(
        rows, "query_id long, q_vec array<float>, cell int"
    )


def test_jobs_per_vector_index_op(spark, tmp_path):
    base = os.path.join(str(tmp_path), "ann")
    vecs = _vectors(spark, range(400))
    # 40 replacements (new embeddings, many change cell) + 10 additions
    batch = _vectors(spark, [*range(40), *range(1000, 1010)], seed=11)
    victims = spark.range(100, 140).select(F.col("id").alias("vec_id"))
    absent = spark.range(5000, 5010).select(F.col("id").alias("vec_id"))
    probes = _probes(spark, vecs, [200, 250, 300])
    out: dict = {}

    calls = {
        "build_cell_index": lambda: build_cell_index(vecs, base),
        "build_graph_sidecar": lambda: build_graph_sidecar(spark, base, R=4),
        "upsert_cell_index": lambda: out.update(
            up=upsert_cell_index(spark, base, batch)
        ),
        "delete_from_cell_index": lambda: out.update(
            dd=delete_from_cell_index(spark, base, victims)
        ),
        "delete_from_cell_index(absent)": lambda: out.update(
            nd=delete_from_cell_index(spark, base, absent)
        ),
        "graph_probe_persisted+collect": lambda: out.update(
            hits=graph_probe_persisted(spark, base, probes, k=5).collect()
        ),
    }
    got = {name: spark_jobs(spark, fn) for name, fn in calls.items()}
    assert out["up"]["n_updates"] == 50 and out["up"]["graphs_refreshed"]
    assert out["dd"]["n_deleted"] == 40 and out["dd"]["graphs_refreshed"]
    assert out["nd"]["n_deleted"] == 0 and out["nd"]["touched_cells"] == []
    assert len(out["hits"]) == 15
    assert got == {
        "build_cell_index": 2,
        "build_graph_sidecar": 3,
        "upsert_cell_index": 14,
        "delete_from_cell_index": 12,
        "delete_from_cell_index(absent)": 3,
        "graph_probe_persisted+collect": 10,
    }


def test_jobs_per_text_index_op(spark, tmp_path):
    idx = os.path.join(str(tmp_path), "bm25")
    out: dict = {}
    calls = {
        "build_text_index": lambda: build_text_index(_docs(spark, 0, 200), idx),
        "update_text_index": lambda: update_text_index(
            _docs(spark, 200, 240), idx
        ),
        "delete_from_text_index": lambda: out.update(
            n=delete_from_text_index(
                spark.range(0, 30).select(F.col("id").alias("doc_id")), idx
            )
        ),
        "bm25_topk_indexed+collect": lambda: out.update(
            top=bm25_topk_indexed(
                spark, idx, ["hash", "join", "vector"], k=10
            ).collect()
        ),
        "compact_text_index": lambda: compact_text_index(spark, idx),
    }
    got = {name: spark_jobs(spark, fn) for name, fn in calls.items()}
    assert out["n"] == 30 and len(out["top"]) == 10
    assert not os.path.exists(os.path.join(idx, "tombstones"))
    assert got == {
        "build_text_index": 10,
        "update_text_index": 14,
        "delete_from_text_index": 12,
        "bm25_topk_indexed+collect": 12,
        "compact_text_index": 10,
    }


def _tree_mtimes(root):
    return {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    }


def test_empty_ops_skip_the_rewrite_and_report_the_sidecar(spark, tmp_path):
    """Upsert and delete return the same three keys on every path, and an
    op that touches no cell does no IO: an empty upsert runs only its
    probe (the eager batch pin plus the fused probe collect), and both
    still report that the index carries a graph sidecar."""
    base = os.path.join(str(tmp_path), "ann")
    build_cell_index(_vectors(spark, range(400)), base)
    build_graph_sidecar(spark, base, R=4)
    before = _tree_mtimes(base)
    out: dict = {}
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    jobs = spark_jobs(
        spark, lambda: out.update(up=upsert_cell_index(spark, base, empty))
    )
    dd = delete_from_cell_index(
        spark, base, spark.range(5000, 5010).select(F.col("id").alias("vec_id"))
    )
    assert out["up"] == {
        "touched_cells": [], "n_updates": 0, "graphs_refreshed": True
    }
    assert dd == {"touched_cells": [], "n_deleted": 0, "graphs_refreshed": True}
    assert jobs == 4
    assert _tree_mtimes(base) == before
