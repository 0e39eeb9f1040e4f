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
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


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


def _maybe_refresh_graphs(
    spark: SparkSession, base: str, touched, surviving=None, live=None
) -> bool:
    """Engine-enforced graph-sidecar coherence (r12 verdict #2): every
    op that mutates index membership calls this. If `<base>/graphs`
    exists, the touched cells' graph partitions are re-derived HERE,
    with the sidecar's own recorded R — the invariant no longer lives
    in the caller (before this, only x176's plan remembered to call
    refresh_graph_sidecar; a streaming ingest or takedown on a
    graph-carrying index would strand stale graph rows that
    graph_probe_persisted then serves wrong: new vectors unreachable,
    deleted ones still linked). `surviving` forwards the caller's
    already-computed set of touched cells that still hold rows, so the
    refresh does not re-derive it with another job; `live` forwards the
    caller's checkpointed post-op rows for the touched cells, so the
    graph rebuild reads memory instead of the just-written partitions
    (and can run CONCURRENTLY with the caller's own writes — no
    read-after-write dependency remains). Returns whether a sidecar
    was found."""
    from gwasdb_spark.operators.ann_graph import (
        refresh_graph_sidecar,
        sidecar_meta,
    )

    meta = sidecar_meta(base)
    if meta is None:
        return False
    refresh_graph_sidecar(
        spark, base, touched, R=int(meta.get("R", 8)), surviving=surviving,
        live=live,
    )
    return True


def build_cell_index(vectors: DataFrame, base: str) -> None:
    """Full build: partition the corpus by cell, plus the manifest. A
    pre-existing graph sidecar at this base is from the OVERWRITTEN
    layout — rebuild it wholesale (same engine-enforced coherence as
    the incremental ops) rather than leave it describing dead rows."""
    assigned = vectors.select(
        "vec_id", "embedding", axis_cell(F.col("embedding")).alias("cell")
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        _index_path(base)
    )
    assigned.select("vec_id", "cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(_manifest_path(base))
    from gwasdb_spark.operators.ann_graph import (
        build_graph_sidecar,
        sidecar_meta,
    )

    meta = sidecar_meta(base)
    if meta is not None:
        build_graph_sidecar(
            vectors.sparkSession, base, R=int(meta.get("R", 8))
        )


def read_cell_index(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.parquet(_index_path(base))


def upsert_cell_index(
    spark: SparkSession, base: str, updates: DataFrame
) -> dict:
    """Absorb a batch of (vec_id, embedding) rows — replacements and
    additions — rewriting only the touched cell partitions. Returns
    {"touched_cells": [...], "n_updates": n} for observability.

    Idempotent: re-running the same batch replaces the same rows with
    the same values (the st16 at-least-once discipline)."""
    # The batch is a bounded object by contract (one micro-batch /
    # ingest slice, not the corpus) — pin it once: it feeds the
    # touched-cell probe, two broadcast anti-joins, the union into the
    # merged layout, and the returned count. The old path re-evaluated
    # the batch subtree for each of those (four scans of the source).
    # EAGER on purpose: the op's first action over the batch (the fused
    # probe collect below) reaches it through two concurrent consumers,
    # the groupBy branch and the broadcast of `upd_ids`. A lazy pin would
    # let each consumer evaluate the batch on its own, so a
    # nondeterministic batch could count and write different rows.
    updates = updates.select(
        "vec_id", "embedding", axis_cell(F.col("embedding")).alias("cell")
    ).localCheckpoint(eager=True)
    upd_ids = updates.select("vec_id")
    # ONE bounded action answers the batch's new cells, its row count,
    # AND the replaced rows' old cells (r14, guide §1.4): the two probe
    # subtrees (batch cell-counts; manifest semi-join) are independent,
    # so unioned under a single collect their stages run CONCURRENTLY
    # inside one job — the r13 shape paid two sequential jobs.
    manifest = spark.read.parquet(_manifest_path(base))
    probe_rows = (
        updates.groupBy("cell").count()
        .withColumn("src", F.lit("new"))
        .unionByName(
            manifest.join(F.broadcast(upd_ids), "vec_id")
            .groupBy("cell").count()
            .withColumn("src", F.lit("old"))
        )
        .collect()
    )
    new_cells = {r["cell"] for r in probe_rows if r["src"] == "new"}
    n_updates = int(
        sum(r["count"] for r in probe_rows if r["src"] == "new")
    )
    old_cells = {r["cell"] for r in probe_rows if r["src"] == "old"}
    touched = sorted(new_cells | old_cells)  # ≤ n_cells by construction

    index = spark.read.parquet(_index_path(base))
    kept = index.filter(F.col("cell").isin(touched)).join(
        F.broadcast(upd_ids), "vec_id", "left_anti"
    )
    merged = kept.unionByName(updates).localCheckpoint(eager=False)
    # localCheckpoint materialized BEFORE the overwrite (the surviving-
    # cell collect below is the first action and computes every
    # partition): the merged relation reads the very partitions the
    # write replaces — without a materialization boundary the overwrite
    # would race its own input scan. LAZY (r14, guide §1.4): riding the
    # collect saves the dedicated eager-materialization job.
    # The manifest is BY CONSTRUCTION the index's (vec_id, cell)
    # projection, so the merged manifest is a column slice of the
    # already-checkpointed merged index — no second manifest scan, no
    # second anti-join, no second checkpoint (the old path paid all
    # three).
    man_merged = merged.select("vec_id", "cell")

    # Surviving-cell set from the checkpoint BEFORE the writes (it no
    # longer depends on them), so the emptied-partition cleanup and the
    # graph refresh need no post-write jobs. This distinct-collect is
    # the action that materializes the lazy checkpoint above.
    surviving = {
        r["cell"] for r in merged.select("cell").distinct().collect()
    }
    graphs = False
    # The index write, the manifest write, and the graph-sidecar
    # rebuild are three INDEPENDENT jobs over the same checkpointed
    # relation (the refresh consumes `merged` directly — no
    # read-after-write dependency on the index tree). Submit them
    # concurrently from driver threads (guide §2.6) instead of
    # letting each job's tail idle the cluster. Dynamic partition
    # overwrite is requested per-writer (`.option(...)`) — the session
    # conf is never mutated, so concurrent writes in other driver
    # threads cannot observe it (ADVICE r13).
    # Failure contract: these jobs are not atomic as a group. If any
    # write fails mid-op the layout is inconsistent (manifest/graphs may
    # describe rows the index does not serve) and the recovery is a full
    # build_cell_index rebuild — same contract as the previous
    # sequential ordering, which had the mirror-image window.
    from concurrent.futures import ThreadPoolExecutor

    def w_index():
        merged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("cell").parquet(_index_path(base))

    def w_manifest():
        man_merged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("cell").parquet(_manifest_path(base))

    def w_graphs():
        return _maybe_refresh_graphs(
            spark, base, touched, surviving=surviving, live=merged
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_i = pool.submit(w_index)
        f_m = pool.submit(w_manifest)
        f_g = pool.submit(w_graphs)
        f_i.result()
        f_m.result()
        graphs = f_g.result()
    # Dynamic overwrite only replaces partitions PRESENT in the written
    # data — a touched cell whose rows were all removed (every resident
    # replaced into other cells) writes nothing and its stale files
    # would silently survive. Drop emptied partitions explicitly.
    import shutil

    for c in touched:
        if c in surviving:
            continue
        for root in (_index_path(base), _manifest_path(base)):
            part = os.path.join(root, f"cell={c}")
            if os.path.isdir(part):
                shutil.rmtree(part)
    return {
        "touched_cells": [int(c) for c in touched],
        "n_updates": n_updates,
        "graphs_refreshed": graphs,
    }


def delete_from_cell_index(
    spark: SparkSession, base: str, vec_ids: DataFrame
) -> dict:
    """Remove a batch of vec_ids from the index — the PII-takedown path
    (pairs with x31's scrub: a 100 TB embedding store must honor
    deletions, not just upserts). Same touched-only discipline as the
    upsert: the manifest finds the victims' cells, ONLY those
    partitions are read and rewritten (dynamic partition overwrite),
    a cell whose last resident leaves is dropped from BOTH index and
    manifest (the emptied-partition lesson the upsert already
    learned), and untouched cells' files stay byte-stable. Deleting an
    absent id is a no-op — idempotent under at-least-once replay
    (the st16 discipline). Returns {"touched_cells", "n_deleted"}."""
    import shutil

    ids = vec_ids.select("vec_id")
    manifest = spark.read.parquet(_manifest_path(base))
    victims = manifest.join(F.broadcast(ids), "vec_id")
    # ONE bounded action answers both the victims' cells and their
    # count (was two jobs: distinct-collect, then a full re-count).
    victim_counts = victims.groupBy("cell").count().collect()
    touched = sorted(r["cell"] for r in victim_counts)
    if not touched:  # nothing to delete anywhere: zero IO
        return {"touched_cells": [], "n_deleted": 0}
    n_deleted = int(sum(r["count"] for r in victim_counts))

    index = spark.read.parquet(_index_path(base))
    kept = (
        index.filter(F.col("cell").isin(touched))
        .join(F.broadcast(ids), "vec_id", "left_anti")
        # The write replaces its own input, so the checkpoint must be
        # materialized before the writes; LAZY because the surviving-
        # cell collect below is the first action and does exactly that
        # (r14, guide §1.4 — the eager form paid a dedicated job).
        .localCheckpoint(eager=False)
    )
    # Manifest == index's (vec_id, cell) projection by construction:
    # slice the checkpointed survivors instead of re-scanning and
    # re-anti-joining the manifest (second scan + second checkpoint
    # removed — same discipline as the upsert).
    man_kept = kept.select("vec_id", "cell")
    # Surviving-cell set from the checkpoint BEFORE the writes — the
    # cleanup and the graph refresh need no post-write jobs. This
    # collect materializes the lazy checkpoint.
    surviving = {r["cell"] for r in kept.select("cell").distinct().collect()}
    graphs = False
    # Index write ∥ manifest write ∥ graph refresh — three independent
    # jobs over the checkpointed survivors (the upsert's concurrency,
    # per-writer-option, and failure-contract rationale apply verbatim).
    from concurrent.futures import ThreadPoolExecutor

    def w_index():
        kept.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("cell").parquet(_index_path(base))

    def w_manifest():
        man_kept.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("cell").parquet(_manifest_path(base))

    def w_graphs():
        return _maybe_refresh_graphs(
            spark, base, touched, surviving=surviving, live=kept
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_i = pool.submit(w_index)
        f_m = pool.submit(w_manifest)
        f_g = pool.submit(w_graphs)
        f_i.result()
        f_m.result()
        graphs = f_g.result()
    for c in touched:
        if c in surviving:
            continue
        for root in (_index_path(base), _manifest_path(base)):
            part = os.path.join(root, f"cell={c}")
            if os.path.isdir(part):
                shutil.rmtree(part)
    return {
        "touched_cells": [int(c) for c in touched],
        "n_deleted": n_deleted,
        "graphs_refreshed": graphs,
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
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        _index_path(base)
    )
    assigned.select("vec_id", "cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(_manifest_path(base))
    save_codebook(spark, base, C)
    from gwasdb_spark.operators.ann_graph import (
        build_graph_sidecar,
        sidecar_meta,
    )

    meta = sidecar_meta(base)
    if meta is not None:  # overwritten layout → sidecar is dead; rebuild
        build_graph_sidecar(spark, base, R=int(meta.get("R", 8)))
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


# "graphs" participates only when the index carries a graph sidecar —
# the swap/recover loops skip a relation with no tmp subdir.
_RETRAIN_RELS = ("index", "manifest", "codebook", "graphs")


def _retrain_tmp(base: str) -> str:
    return os.path.join(base, "_retrain.tmp")


def recover_codebook_index(base: str) -> None:
    """Adopt or discard `_retrain.tmp` left by a retrain that crashed
    (the compact_text_index/recover_text_index discipline applied to the
    vector index — ADVICE r11, hardened per ADVICE r12): a tmp tree
    carrying the `_COMMITTED` marker had fully written all three
    relations before any swap began, so the swap must be FINISHED for
    every relation whose tmp subdir still exists — including those whose
    live dir is intact because the crash hit BETWEEN per-relation swaps
    (e.g. index already swapped, manifest/codebook not yet: adopting only
    where live is missing would reap the committed tmp and permanently
    pair the new index with the old codebook, silently mis-routing every
    probe). The rule is therefore "committed and tmp exists", not
    "committed and live missing": rename any still-live dir aside, adopt
    the tmp, reap the aside. A tmp tree WITHOUT the marker is an
    incomplete build and the live relations are untouched — reap it. A
    leftover `<rel>.old` beside a live `<rel>` is the post-swap crash
    window, plain garbage; an `.old` with NO live and no committed tmp is
    a half-renamed relation — restore it. Idempotent and cheap; retrain
    runs it first."""
    import shutil

    tmp_base = _retrain_tmp(base)
    committed = os.path.exists(os.path.join(tmp_base, "_COMMITTED"))
    for rel in _RETRAIN_RELS:
        live, old, tmp = (
            os.path.join(base, rel),
            os.path.join(base, rel + ".old"),
            os.path.join(tmp_base, rel),
        )
        if committed and os.path.exists(tmp):
            # Finish this relation's swap regardless of live's state.
            if os.path.exists(live):
                if os.path.exists(old):  # double-crash leftover
                    shutil.rmtree(old)
                os.rename(live, old)
            os.rename(tmp, live)
            if os.path.exists(old):
                shutil.rmtree(old)
        elif not os.path.exists(live) and os.path.exists(old):
            # Crash between rename(live, old) and rename(tmp, live) with
            # the tmp already adopted or absent: put the relation back.
            os.rename(old, live)
        if os.path.exists(live) and os.path.exists(old):
            shutil.rmtree(old)
    if os.path.isdir(tmp_base):
        shutil.rmtree(tmp_base)


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

    Crash safety (ADVICE r11): the new layout is built into
    `<base>/_retrain.tmp/{index,manifest,codebook}`, a `_COMMITTED`
    marker is written once all three are complete, and only then are the
    live dirs swapped via rename-aside (rename live → `.old`, rename tmp
    in, reap `.old`). The live index is never deleted before its full
    replacement exists on disk; any crash window leaves a state
    `recover_codebook_index` repairs — the previous rmtree-before-build
    ordering could strand the index with nothing but an in-memory
    localCheckpoint."""
    import shutil

    recover_codebook_index(base)
    occ_before = cell_occupancy(spark, base)
    book_cells = max(1, len(load_codebook(spark, base)))

    def skew(occ: dict, cells: int) -> float:
        """max over the MEAN ACROSS ALL codebook cells (empty included):
        an emptied cell still consumes probe budget — measuring only
        non-empty cells hides exactly the degradation this op fixes."""
        if not occ:
            return 0.0
        return max(occ.values()) / (sum(occ.values()) / cells)

    survivors = read_cell_index(spark, base).select("vec_id", "embedding")
    if n_cells is None:
        n_cells = max(1, len(load_codebook(spark, base)))

    # Build the complete replacement layout aside; the live dirs stay
    # servable (and remain the build's input — no checkpoint needed,
    # nothing overwrites what the scan reads) until the commit point.
    tmp_base = _retrain_tmp(base)
    if os.path.isdir(tmp_base):
        shutil.rmtree(tmp_base)  # incomplete leftover; recover() keeps
        # committed ones, so anything still here is pre-commit garbage
    stats = build_codebook_index(
        survivors, tmp_base, n_cells=n_cells, seed=seed,
        train_fraction=train_fraction,
    )
    # Engine-enforced sidecar coherence (r12 verdict #2): a retrain
    # reassigns EVERY vector's cell, so a pre-existing graph sidecar is
    # invalidated wholesale. Build its replacement from the tmp index
    # BEFORE the commit marker — the sidecar swaps atomically with the
    # other relations, and no crash window pairs new cells with old
    # graphs.
    from gwasdb_spark.operators.ann_graph import (
        build_graph_sidecar,
        sidecar_meta,
    )

    live_meta = sidecar_meta(base)
    if live_meta is not None:
        build_graph_sidecar(spark, tmp_base, R=int(live_meta.get("R", 8)))
    with open(os.path.join(tmp_base, "_COMMITTED"), "w") as fh:
        fh.write("retrain complete; swap may proceed\n")

    # Swap: stale partition dirs from the old layout must not survive
    # (emptied high-numbered cells would under an in-place overwrite),
    # which the whole-dir rename gives us for free. A relation absent
    # from the tmp tree (graphs, when no sidecar exists) is skipped.
    for rel in _RETRAIN_RELS:
        live = os.path.join(base, rel)
        old = live + ".old"
        tmp = os.path.join(tmp_base, rel)
        if not os.path.exists(tmp):
            continue
        if os.path.exists(live):
            os.rename(live, old)
        os.rename(tmp, live)
        if os.path.exists(old):
            shutil.rmtree(old)
    shutil.rmtree(tmp_base)
    occ_after = cell_occupancy(spark, base)
    return {
        "n_cells": stats["n_cells"],
        "n_vectors": int(sum(occ_after.values())),
        "skew_before": round(skew(occ_before, book_cells), 3),
        "skew_after": round(skew(occ_after, stats["n_cells"]), 3),
        "nonempty_cells_before": len(occ_before),
        "nonempty_cells_after": len(occ_after),
    }
