"""Round-14 invariants: the ADVICE-r13 fixes and the VERDICT-r13 #6
survivorship/concurrency guards, pinned as tests so a refactor fails
here rather than (only) in a driver hash.

1. A relayout on an EMPTIED table (delete-all then cluster/zorder)
   commits an empty layout instead of raising UNABLE_TO_INFER_SCHEMA
   (ADVICE r13 medium).
2. Graph-row/index-row survivorship: a delete that leaves a SINGLETON
   cell still produces a fresh graph row for the survivor (no stale
   edges to the deleted vector), and a delete that empties a cell drops
   its graph partition (VERDICT r13 §wrong 3).
3. No maintenance op mutates `spark.sql.sources.partitionOverwriteMode`
   on the session — dynamic overwrite is a per-writer option, so the
   pooled pipelines have no cross-thread conf coupling (ADVICE r13 /
   VERDICT r13 #6 guard).
4. `graph_probe_topk` evaluates the probes subtree ONCE (lazy
   localCheckpoint pin): the distinct-cell collect and the cogroup read
   one materialization, so a non-deterministic probes relation cannot
   collect a cell list that diverges from the cogrouped rows.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_relayout_on_emptied_table_commits_empty_layout(spark, tmp_path):
    from gwasdb_spark.acid.table_log import AcidTable

    t = AcidTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, s string"),
    )
    t.delete_where(F.col("k").isNotNull())  # empty the table
    assert t.read().count() == 0
    v_before = t.latest_version()
    # The bug: staging held zero parquet files and the stats read-back
    # raised UNABLE_TO_INFER_SCHEMA. The relayout must commit an empty
    # layout like the base commit did.
    v_after = t.cluster_by("k", n_groups=4)
    assert v_after == v_before + 1
    assert t.read().count() == 0
    assert t._manifest(v_after)["file_groups"] == []
    # a table whose one group holds zero rows stages an EMPTY tree: the
    # explicit-schema stats read-back must still commit an empty layout
    e = AcidTable.create(
        spark, str(tmp_path / "e"), spark.createDataFrame([], "k int, s string")
    )
    assert e._manifest(e.cluster_by_zorder(["k"], 4))["file_groups"] == []
    assert e.read().count() == 0


def _mk_vec(dim, hot):
    """Unit-ish vector whose argmax is position `hot` (1-based cell)."""
    v = [0.1 * (i + 1) / dim for i in range(dim)]
    v[hot - 1] = 1.0
    return v


def test_singleton_cell_delete_refreshes_graph_row(spark, tmp_path):
    """After a delete leaves exactly one resident in a touched cell,
    the graph sidecar must carry a FRESH row for the survivor (no edge
    to the deleted vector, still servable); when the last resident
    leaves, the graph partition must be dropped — graph-row existence
    tracks index-row existence exactly."""
    from gwasdb_spark.operators.ann_graph import build_graph_sidecar
    from gwasdb_spark.operators.ann_index import (
        build_cell_index,
        delete_from_cell_index,
    )

    base = str(tmp_path / "ann")
    dim = 4
    rows = [
        (1, _mk_vec(dim, 1)),
        (2, _mk_vec(dim, 1)),
        (3, _mk_vec(dim, 2)),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    build_cell_index(vecs, base)
    build_graph_sidecar(spark, base, R=4)

    # Delete vec 1: cell 1 keeps only vec 2.
    delete_from_cell_index(
        spark, base, spark.createDataFrame([(1,)], "vec_id long")
    )
    gpart = os.path.join(base, "graphs", "cell=1")
    assert os.path.isdir(gpart)
    g = spark.read.parquet(gpart).collect()
    assert [r["vec_id"] for r in g] == [2]
    assert list(g[0]["neighbors"]) == []  # no stale edge to vec 1

    # The survivor stays reachable through the serve path.
    probes = spark.createDataFrame(
        [(99, _mk_vec(dim, 1), 1)], "query_id long, q_vec array<double>, cell int"
    )
    from gwasdb_spark.operators.ann_graph import graph_probe_persisted

    served = graph_probe_persisted(spark, base, probes, k=3).collect()
    assert [r["neighbor_id"] for r in served] == [2]

    # Delete vec 2: cell 1 is empty — its graph partition must go.
    delete_from_cell_index(
        spark, base, spark.createDataFrame([(2,)], "vec_id long")
    )
    assert not os.path.isdir(gpart)
    assert not os.path.isdir(os.path.join(base, "index", "cell=1"))


def test_maintenance_ops_never_mutate_session_overwrite_mode(
    spark, tmp_path
):
    """Dynamic partition overwrite must be requested per-writer: no
    maintenance op may set the session-level conf, whose value other
    driver threads in the pooled pipelines would observe mid-write."""
    import inspect

    import gwasdb_spark.operators.ann_graph as ag
    import gwasdb_spark.operators.ann_index as ai
    import gwasdb_spark.plans.extensions as ext
    import gwasdb_spark.streaming.events as ev

    for mod in (ai, ag, ext, ev):
        src = inspect.getsource(mod)
        assert 'conf.set("spark.sql.sources.partitionOverwriteMode"' not in src, (
            f"{mod.__name__} mutates session partitionOverwriteMode; "
            "use .option('partitionOverwriteMode', 'dynamic') per writer"
        )

    # Runtime confirmation: run an upsert+delete on a graph-carrying
    # index with the session conf pinned to 'static'; it must still be
    # 'static' after, and the dynamic-overwrite behavior (untouched
    # partitions survive) must hold regardless.
    from gwasdb_spark.operators.ann_graph import build_graph_sidecar
    from gwasdb_spark.operators.ann_index import (
        build_cell_index,
        delete_from_cell_index,
        upsert_cell_index,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        base = str(tmp_path / "ann")
        dim = 4
        vecs = spark.createDataFrame(
            [(i, _mk_vec(dim, 1 + (i % 2))) for i in range(1, 7)],
            "vec_id long, embedding array<double>",
        )
        build_cell_index(vecs, base)
        build_graph_sidecar(spark, base, R=3)
        upsert_cell_index(
            spark,
            base,
            spark.createDataFrame(
                [(10, _mk_vec(dim, 1))], "vec_id long, embedding array<double>"
            ),
        )
        assert spark.conf.get(key) == "static"
        # cell=2 was untouched by the upsert and must still be present
        # (a static-mode overwrite would have clobbered it).
        cells = {
            r["cell"]
            for r in spark.read.parquet(os.path.join(base, "index"))
            .select("cell").distinct().collect()
        }
        assert cells == {1, 2}
        delete_from_cell_index(
            spark, base, spark.createDataFrame([(10,)], "vec_id long")
        )
        assert spark.conf.get(key) == "static"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_graph_probe_evaluates_probes_subtree_once(spark):
    """The probes relation feeds the distinct-cell collect AND the
    cogroup; the lazy localCheckpoint must make both read ONE
    materialization (otherwise a rand-derived probes relation could
    collect cells that diverge from the cogrouped rows)."""
    from gwasdb_spark.operators.ann_graph import (
        build_cell_graphs,
        graph_probe_topk,
    )

    acc = spark.sparkContext.accumulator(0)

    @F.udf("int")
    def counted_cell(c):
        acc.add(1)
        return c

    dim = 4
    index = spark.createDataFrame(
        [(i, _mk_vec(dim, 1 + (i % 2)), 1 + (i % 2)) for i in range(1, 9)],
        "vec_id long, embedding array<double>, cell int",
    )
    gindex = index.join(
        build_cell_graphs(index), ["cell", "vec_id"]
    ).localCheckpoint(eager=True)

    n_probes = 3
    probes = spark.createDataFrame(
        [(100 + i, _mk_vec(dim, 1), 1) for i in range(n_probes)],
        "query_id long, q_vec array<double>, cell int",
    ).withColumn("cell", counted_cell(F.col("cell")))

    res = graph_probe_topk(probes, gindex, k=2, ef=64).collect()
    assert len(res) > 0
    # One evaluation per probe row — not two (collect + cogroup).
    assert acc.value == n_probes
