"""Persisted cell-partitioned ANN index with INCREMENTAL maintenance.

x136 proved the serve path (probe-cell partition pruning); this module
adds the maintenance path a 100 TB deployment actually runs: vectors
arrive/change in batches, and the index must absorb them by rewriting
ONLY the touched cell partitions — the x62 LSM postings discipline
applied to IVF cells. Nobody rebuilds a corpus-scale index per batch.

Layout on disk (both parquet, partitioned by `cell`):

- `<base>/index`    — (vec_id, embedding, cell): the servable index.
- `<base>/manifest` — (vec_id, cell): the primary-key sidecar. An
  updated vector's OLD row lives in the cell its OLD embedding mapped
  to, which the new embedding cannot reveal — the manifest is how the
  upsert finds those rows without scanning the whole index. It carries
  two ints per vector (~0.01% of index bytes at embedding dim 64), and
  is itself maintained with the same touched-partition rewrites.

Upsert contract (exercised by x153_ann_index_upsert and the
stress_scale `annupsert` gate):

1. Assign each update row its cell (same deterministic rule as build).
2. Touched cells = old cells of replaced vec_ids (manifest semi-join)
   ∪ new cells of the batch — a ≤ n_cells driver list by contract.
3. Read ONLY the touched partitions (static IN-filter → partition
   pruning), drop rows whose vec_id is in the batch, union the new
   rows, and write back with dynamic partition overwrite — untouched
   cells' files are never opened, never rewritten (the stress gate
   asserts their mtimes are bit-stable).
4. Result is bit-equal to a full rebuild over (old \\ batch) ∪ batch.

Delete runs the same steps with an empty set of new rows: upsert and
delete share ONE touched-cell rewrite (`_rewrite_cells`, steps 3-4),
which also drops emptied cells and refreshes the graph sidecar's
touched cells, so each op keeps only its own probe (step 2).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gwasdb_spark.acid.swap import recover, replacing
from gwasdb_spark.session import run_concurrently


def axis_cell(embedding: Column) -> Column:
    """Deterministic cell id: 1-based index of the vector's max
    component (the SQL-expressible stand-in for learned IVF centroids;
    swap this for a broadcast-codebook argmin to get the learned
    variant — nothing else in the build/upsert path changes)."""
    return F.array_position(embedding, F.array_max(embedding)).cast("int")


def _index_path(base: str) -> str:
    return os.path.join(base, "index")


def _manifest_path(base: str) -> str:
    return os.path.join(base, "manifest")


def _overwrite_cells(df: DataFrame, root: str, touched, surviving) -> None:
    """Rewrite the cell partitions present in `df` under `root`, then
    drop every touched cell that has no surviving rows: dynamic overwrite
    only replaces partitions PRESENT in the written data, so a touched
    cell whose rows were all removed (every resident replaced into other
    cells, or deleted) would otherwise keep its stale files. Dynamic
    overwrite is requested per-writer — never via the session conf, which
    concurrent writes in other driver threads would observe (ADVICE
    r13)."""
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("cell").parquet(root)
    for c in touched:
        part = os.path.join(root, f"cell={c}")
        if c not in surviving and os.path.isdir(part):
            shutil.rmtree(part)


def _write_layout(assigned: DataFrame, base: str) -> None:
    """Full-layout write shared by both builds: overwrite (index,
    manifest) wholesale from the cell-assigned (vec_id, embedding, cell)
    rows. A pre-existing graph sidecar at this base describes the
    OVERWRITTEN layout — rebuild it wholesale with its recorded R (the
    same engine-enforced coherence as the incremental ops) rather than
    leave it describing dead rows."""
    from gwasdb_spark.operators.ann_graph import (
        build_graph_sidecar,
        sidecar_meta,
    )

    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        _index_path(base)
    )
    assigned.select("vec_id", "cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(_manifest_path(base))
    meta = sidecar_meta(base)
    if meta is not None:
        build_graph_sidecar(
            assigned.sparkSession, base, R=int(meta.get("R", 8))
        )


def _rewrite_cells(
    spark: SparkSession,
    base: str,
    touched,
    gone: DataFrame,
    added: DataFrame | None = None,
) -> bool:
    """The touched-cell rewrite that upsert and delete share: read ONLY
    the touched partitions (static IN-filter → partition pruning), drop
    the rows whose vec_id is in `gone`, union `added`, and rewrite the
    index, the manifest and — if `<base>/graphs` exists — the graph
    sidecar's touched cells. Untouched cells' files are never opened,
    never rewritten. Returns whether a graph sidecar is present; with no
    touched cell it returns that, runs no Spark job and writes nothing.

    Engine-enforced sidecar coherence (r12 verdict #2): every op that
    mutates index membership ends here, so the touched cells' graph
    partitions are re-derived with the sidecar's own recorded R — the
    invariant does not live in the caller (a streaming ingest or takedown
    on a graph-carrying index would otherwise strand stale graph rows
    that graph_probe_persisted then serves wrong)."""
    from gwasdb_spark.operators.ann_graph import (
        refresh_graph_sidecar,
        sidecar_meta,
    )

    meta = sidecar_meta(base)
    if not touched:
        return meta is not None
    rows = (
        spark.read.parquet(_index_path(base))
        .filter(F.col("cell").isin(touched))
        .join(F.broadcast(gone), "vec_id", "left_anti")
    )
    if added is not None:
        rows = rows.unionByName(added)
    # The writes replace the very partitions `rows` reads, so it must be
    # materialized before them. LAZY (r14, guide §1.4): the surviving-cell
    # collect below is the first action and does exactly that — the eager
    # form paid a dedicated job. Taken BEFORE the writes, the surviving
    # set needs no post-write job for the emptied-cell drops or the graph
    # refresh.
    rows = rows.localCheckpoint(eager=False)
    surviving = {r["cell"] for r in rows.select("cell").distinct().collect()}
    # The index write, the manifest write, and the graph refresh are
    # INDEPENDENT jobs over the same checkpointed relation: the manifest
    # is BY CONSTRUCTION the index's (vec_id, cell) projection, so it is
    # a column slice of `rows` (no second scan, anti-join or checkpoint),
    # and the refresh rebuilds from `rows` directly (no read-after-write
    # dependency on the index tree). Run them concurrently (guide §2.6)
    # instead of letting each job's tail idle the cluster.
    # Failure contract: these jobs are not atomic as a group. If any
    # write fails mid-op the layout is inconsistent (manifest/graphs may
    # describe rows the index does not serve) and the recovery is a full
    # build_cell_index rebuild.
    writes = [
        lambda: _overwrite_cells(
            rows, _index_path(base), touched, surviving
        ),
        lambda: _overwrite_cells(
            rows.select("vec_id", "cell"), _manifest_path(base), touched,
            surviving,
        ),
    ]
    if meta is not None:
        writes.append(lambda: refresh_graph_sidecar(
            spark, base, touched, R=int(meta.get("R", 8)),
            surviving=surviving, live=rows,
        ))
    run_concurrently(*writes)
    return meta is not None


def build_cell_index(vectors: DataFrame, base: str) -> None:
    """Full build: partition the corpus by cell, plus the manifest (and a
    rebuilt graph sidecar, if this base carries one)."""
    _write_layout(
        vectors.select(
            "vec_id", "embedding", axis_cell(F.col("embedding")).alias("cell")
        ),
        base,
    )


def read_cell_index(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.parquet(_index_path(base))


def upsert_cell_index(
    spark: SparkSession, base: str, updates: DataFrame
) -> dict:
    """Absorb a batch of (vec_id, embedding) rows — replacements and
    additions — rewriting only the touched cell partitions. Returns
    {"touched_cells": [...], "n_updates": n, "graphs_refreshed": bool}
    for observability. Each vec_id may appear once per batch: a batch
    that repeats one raises ValueError before anything is written (two
    rows for one key would otherwise both land in the index and the
    manifest).

    Idempotent: re-running the same batch replaces the same rows with
    the same values (the st16 at-least-once discipline). Like every
    writer of the index, it first finishes or discards a retrain that
    crashed mid-swap (acid/swap.py `recover`), so its touched-cell
    rewrite never lands on a half-swapped layout."""
    recover(base)
    # The batch is a bounded object by contract (one micro-batch /
    # ingest slice, not the corpus) — pin it once: it feeds the
    # touched-cell probe, two broadcast anti-joins, the union into the
    # merged layout, and the returned count. The old path re-evaluated
    # the batch subtree for each of those (four scans of the source).
    # EAGER on purpose: the op's first action over the batch (the fused
    # probe collect below) reaches it through concurrent consumers, the
    # groupBy branch and the broadcast of `upd_ids`. A lazy pin would
    # let each consumer evaluate the batch on its own, so a
    # nondeterministic batch could count and write different rows.
    updates = updates.select(
        "vec_id", "embedding", axis_cell(F.col("embedding")).alias("cell")
    ).localCheckpoint(eager=True)
    upd_ids = updates.select("vec_id")
    # ONE bounded action answers the batch's new cells, its row count,
    # the replaced rows' old cells, AND whether the batch repeats a
    # vec_id (r14, guide §1.4): the two probe subtrees (batch cell-counts;
    # manifest semi-join) are independent, so unioned under a single
    # collect their stages run CONCURRENTLY inside one job. The repeat
    # check rides the cell-count aggregate: beside the batch rows it
    # feeds their matches in the broadcast `upd_ids` (the manifest join's
    # broadcast, reused — no extra job). Each keyed row matches itself,
    # so `pairs` exceeds `keyed` exactly when some vec_id repeats.
    manifest = spark.read.parquet(_manifest_path(base))
    probe_rows = (
        updates.select("cell", "vec_id", F.lit(1).alias("own"))
        .unionByName(
            updates.join(F.broadcast(upd_ids), "vec_id").select(
                "cell", F.lit(None).cast("long").alias("vec_id"),
                F.lit(0).alias("own"),
            )
        )
        .groupBy("cell")
        .agg(
            F.sum("own").alias("count"),
            F.count("vec_id").alias("keyed"),
            F.sum(1 - F.col("own")).alias("pairs"),
        )
        .withColumn("src", F.lit("new"))
        .unionByName(
            manifest.join(F.broadcast(upd_ids), "vec_id")
            .groupBy("cell").count()
            .withColumn("src", F.lit("old")),
            allowMissingColumns=True,
        )
        .collect()
    )
    new_rows = [r for r in probe_rows if r["src"] == "new"]
    if sum(r["pairs"] - r["keyed"] for r in new_rows):
        raise ValueError(
            "upsert batch repeats a vec_id; each vec_id may appear once "
            "per batch"
        )
    n_updates = int(sum(r["count"] for r in new_rows))
    touched = sorted({r["cell"] for r in probe_rows})  # ≤ n_cells
    return {
        "touched_cells": [int(c) for c in touched],
        "n_updates": n_updates,
        "graphs_refreshed": _rewrite_cells(
            spark, base, touched, upd_ids, added=updates
        ),
    }


def delete_from_cell_index(
    spark: SparkSession, base: str, vec_ids: DataFrame
) -> dict:
    """Remove a batch of vec_ids from the index — the PII-takedown path
    (pairs with x31's scrub: a 100 TB embedding store must honor
    deletions, not just upserts). Same touched-only rewrite as the
    upsert: the manifest finds the victims' cells, ONLY those
    partitions are read and rewritten, a cell whose last resident leaves
    is dropped from index, manifest and graphs alike, and untouched
    cells' files stay byte-stable. Deleting an absent id is a no-op —
    idempotent under at-least-once replay (the st16 discipline).
    Returns {"touched_cells", "n_deleted", "graphs_refreshed"}."""
    recover(base)
    ids = vec_ids.select("vec_id")
    manifest = spark.read.parquet(_manifest_path(base))
    # ONE bounded action answers both the victims' cells and their
    # count (was two jobs: distinct-collect, then a full re-count).
    victim_counts = (
        manifest.join(F.broadcast(ids), "vec_id")
        .groupBy("cell").count().collect()
    )
    touched = sorted(r["cell"] for r in victim_counts)
    return {
        "touched_cells": [int(c) for c in touched],
        "n_deleted": int(sum(r["count"] for r in victim_counts)),
        "graphs_refreshed": _rewrite_cells(spark, base, touched, ids),
    }


# ---------------------------------------------------------------------------
# Learned-codebook variant (the documented axis_cell swap) + rebalance
# ---------------------------------------------------------------------------
def _codebook_path(base: str) -> str:
    return os.path.join(base, "codebook")


def save_codebook(spark: SparkSession, base: str, centroids) -> None:
    """Persist the (n_cells x dim) row-normalized centroid matrix beside
    the index — one tiny parquet, read whole at serve time."""
    rows = [(int(c), [float(x) for x in centroids[c]])
            for c in range(len(centroids))]
    spark.createDataFrame(
        rows, "cell int, centroid array<double>"
    ).repartition(1).write.mode("overwrite").parquet(_codebook_path(base))


def load_codebook(spark: SparkSession, base: str):
    import numpy as np

    rows = spark.read.parquet(_codebook_path(base)).collect()
    rows.sort(key=lambda r: r["cell"])
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def build_codebook_index(
    vectors: DataFrame,
    base: str,
    n_cells: int = 16,
    seed: int = 42,
    train_fraction: float = 1.0,
) -> dict:
    """Full build of the LEARNED-IVF persisted index: train spherical
    k-means centroids (optionally on a faiss-style sample), assign every
    vector to its nearest cell, write the same (index, manifest) layout
    the axis variant uses — delete_from_cell_index and upsert machinery
    work unchanged because they never interpret cell ids — plus the
    codebook sidecar the serve path probes with. This is the variant
    whose cells DO go stale under churn (axis_cell is data-independent;
    learned centroids are not), which is why retrain_codebook_index
    exists."""
    from gwasdb_spark.operators.similarity import (
        assign_cells,
        train_ivf_centroids,
    )

    spark = vectors.sparkSession
    C = train_ivf_centroids(
        vectors, "embedding", n_cells=n_cells, seed=seed,
        train_fraction=train_fraction,
    )
    assigned = assign_cells(vectors, C, "vec_id", "embedding").select(
        F.col("neighbor_id").alias("vec_id"),
        F.col("c_vec").alias("embedding"),
        "cell",
    )
    _write_layout(assigned, base)
    save_codebook(spark, base, C)
    return {"n_cells": int(len(C))}


def probe_codebook_index(
    spark: SparkSession,
    base: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Serve path: nearest-nprobe-centroid probe against the persisted
    index — the cell equi-join prunes the scan to the probed cells'
    partition files (ivf_probe's contract), so per-query cost is
    ~|index|·nprobe/n_cells rows, NOT |index|."""
    from gwasdb_spark.operators.similarity import ivf_probe

    C = load_codebook(spark, base)
    assigned = read_cell_index(spark, base).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        "cell",
    )
    return ivf_probe(queries, assigned, C, k=k, nprobe=nprobe)


def cell_occupancy(spark: SparkSession, base: str) -> dict:
    """{cell: rows} off the manifest sidecar (two-int rows — metadata-
    cheap even at corpus scale). The skew diagnostic that decides when
    to retrain: deletes concentrate survivors into few stale cells, and
    max/mean occupancy is the serve-cost amplification factor."""
    rows = (
        spark.read.parquet(_manifest_path(base))
        .groupBy("cell")
        .count()
        .collect()
    )
    return {int(r["cell"]): int(r["count"]) for r in rows}


def retrain_codebook_index(
    spark: SparkSession,
    base: str,
    n_cells: int | None = None,
    seed: int = 43,
    train_fraction: float = 1.0,
) -> dict:
    """Rebalance after heavy churn (VERDICT r10 §missing 4 — the
    text-index twin of x163's compaction applied to vectors): retrain
    the codebook on the SURVIVING vectors and relayout. Deliberately
    O(index) — the rare, scheduled maintenance op (like a Delta
    OPTIMIZE FULL), run when cell_occupancy skew crosses a threshold,
    NOT per delete batch; per-batch maintenance stays the touched-only
    delete/upsert. The serve path is unchanged code — it just reads a
    codebook that fits the current distribution again. Returns
    occupancy skew (max/mean over non-empty cells) before and after so
    callers can log the recovery.

    Crash safety: the new index, manifest, codebook and (when the index
    carries one) graph sidecar are built into one staged swap
    (acid/swap.py `replacing`) and replace the live relations together
    once the commit marker is published. The live index is never
    touched before its full replacement exists on disk, and a crash at
    any point leaves every relation wholly old or wholly new; the next
    writer's recovery finishes or discards the swap. The whole-dir
    replacement also means stale partition dirs from the old layout
    cannot survive, as emptied high-numbered cells would under an
    in-place overwrite."""
    from gwasdb_spark.operators.ann_graph import (
        build_graph_sidecar,
        sidecar_meta,
    )

    def skew(occ: dict, cells: int) -> float:
        """max over the MEAN ACROSS ALL codebook cells (empty included):
        an emptied cell still consumes probe budget — measuring only
        non-empty cells hides exactly the degradation this op fixes."""
        if not occ:
            return 0.0
        return max(occ.values()) / (sum(occ.values()) / cells)

    with replacing(base) as stage:
        occ_before = cell_occupancy(spark, base)
        book_cells = max(1, len(load_codebook(spark, base)))
        survivors = read_cell_index(spark, base).select("vec_id", "embedding")
        if n_cells is None:
            n_cells = book_cells
        # The live dirs stay servable (and remain the build's input — no
        # checkpoint needed, nothing overwrites what the scan reads)
        # until the commit point.
        stats = build_codebook_index(
            survivors, stage, n_cells=n_cells, seed=seed,
            train_fraction=train_fraction,
        )
        # Engine-enforced sidecar coherence (r12 verdict #2): a retrain
        # reassigns EVERY vector's cell, so a pre-existing graph sidecar
        # is invalidated wholesale. Its replacement is built from the
        # staged index and swaps in with the other relations.
        live_meta = sidecar_meta(base)
        if live_meta is not None:
            build_graph_sidecar(spark, stage, R=int(live_meta.get("R", 8)))
    occ_after = cell_occupancy(spark, base)
    return {
        "n_cells": stats["n_cells"],
        "n_vectors": int(sum(occ_after.values())),
        "skew_before": round(skew(occ_before, book_cells), 3),
        "skew_after": round(skew(occ_after, stats["n_cells"]), 3),
        "nonempty_cells_before": len(occ_before),
        "nonempty_cells_after": len(occ_after),
    }
