"""Per-cell neighbor-graph ANN (NSW-lite inside IVF cells) + boundary
spill assignment — the graph-ANN spike (r11 verdict #6: IVF recall 0.76
at nprobe 6/16 on uniform corpora was the documented quality ceiling of
the similarity family).

Two complementary mechanisms layered on the cell-partitioned layout that
x136/x153/x157 already serve and maintain, both static artifacts that
fit DataFrame plans (arrays in parquet — no pointer-chasing store):

1. **Spill assignment** (SPANN-style multi-assignment,
   `spill_assign`): a vector whose runner-up centroid similarity is
   within `eps` of its best is ALSO stored in those runner-up cells.
   Recall at equal nprobe rises because each probed cell now contains
   the near-boundary vectors plain IVF misses; storage grows by a
   bounded, measured replication factor (the gate records it). Pure
   DataFrame: assignment becomes an explode over the qualifying cells.

2. **Per-cell neighbor graphs** (`build_cell_graphs` +
   `graph_probe_topk`): inside each cell a static R-nearest-neighbor
   graph (undirected, plus a vec_id-ordered backbone chain that
   guarantees connectivity) turns the per-cell scan into a greedy
   best-first beam search — distance evaluations per probed cell drop
   from |cell| to ~ef·R·hops, so at EQUAL distance-eval budget a
   deployment probes MORE cells and recall rises (the gate's claim:
   graph@nprobe=8 beats flat@nprobe=4 on recall at no more evals).
   Graphs are built once at write time inside applyInPandas — exact
   blocked-BLAS all-pairs (O(|cell|²·d)) for cells up to `exact_max`
   rows; above it, an RP-forest sampled build + neighbor-of-neighbor
   refinement (near-linear in |cell| — r12 verdict #4), `method="auto"`
   picking per cell, the search path unchanged either way. Search is a
   cogrouped applyInPandas over (queries-by-probed-cell × cell graph):
   every probed cell searches independently, results merge with one
   bounded top-k — the same partition-pruned physical shape as
   ivf_probe, never a global traversal.

Determinism: entries, neighbor order, and every heap tie-break are
(similarity, vec_id)-ordered, so results are run-to-run stable, and with
`ef >= |cell|` the beam provably visits the whole (connected) cell —
the flat-regime config under which x174's driver row is hash-adjudicated
against an exact SQL replay, the same recipe that oracles x05b/d/e.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def spill_assign(
    assigned: DataFrame,
    centroids: np.ndarray,
    eps: float = 0.05,
    id_col: str = "neighbor_id",
    vec_col: str = "c_vec",
) -> DataFrame:
    """Multi-assign boundary vectors: emit (id, vec, cell) rows for the
    best cell AND every cell whose centroid cosine is >= best - eps.
    Input/output schema matches assign_cells, so ivf_probe / the cell
    index writers consume it unchanged. The explode is bounded by the
    number of qualifying centroids (~1-2 in practice; the replication
    factor is count(out)/count(in) and the stress gate records it)."""
    Cn = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("array<int>")
    def spill_cells(vecs: pd.Series) -> pd.Series:
        out = []
        for v in vecs:
            q = np.asarray(v, dtype=np.float64)
            q = q / (np.linalg.norm(q) or 1.0)
            sims = Cn @ q
            best = float(sims.max())
            cells = np.flatnonzero(sims >= best - eps)
            # best cell first, then runner-ups by similarity desc
            order = np.lexsort((cells, -sims[cells]))
            out.append([int(cells[i]) for i in order])
        return pd.Series(out)

    return (
        assigned.select(id_col, vec_col, spill_cells(F.col(vec_col)).alias("cs"))
        .select(id_col, vec_col, F.explode("cs").alias("cell"))
    )


def _approx_knn(Mn, ids, r: int, seed: int, trees: int = 6,
                leaf: int = 2048, refine: int = 2):
    """Approximate per-node top-r neighbor indices: an RP-forest build
    (EFANNA/annoy-style sampled graph — the r12 verdict's "NN-descent
    or sampled-graph" swap) + NN-descent-style refinement passes.

    Why this shape: `trees` seeded random-projection trees each
    median-split the cell until leaves hold <= `leaf` rows, exact KNN
    runs INSIDE each leaf (pure dgemm — the operation numpy is actually
    fast at; the gather-heavy classic NN-descent local join benchmarked
    SLOWER than exact BLAS below ~50k rows), per-node candidates union
    across trees, and `refine` neighbor-of-my-neighbor passes close
    boundary misses. Cost O(trees·m·leaf·d + refine·m·r²·d) — LINEAR in
    m, vs the exact build's O(m²·d). Deterministic: projections,
    median splits, and every selection tie-break ((sim desc, id asc))
    are seeded/pure; ties at argpartition boundaries carry the same
    caveat as the exact path (edge choice never affects flat-regime
    exactness — the backbone keeps cells connected)."""
    m = len(ids)
    d = Mn.shape[1]

    def topr_rows(S, cand_ids):
        """Per-row deterministic top-r column indices: a vectorized
        argpartition cut to ~4r per row first (the leaf case has
        K = |leaf| — lexsorting the full matrix was the profile's 95%),
        then one flat lexsort keyed (row, -sim, candidate id). Exact-sim
        ties at the cut boundary carry the exact path's documented
        caveat (edge choice never affects flat-regime exactness)."""
        b, K = S.shape
        if K > 4 * r + 8:
            cut = 4 * r + 8
            part = np.argpartition(-S, cut - 1, axis=1)[:, :cut]
            Sc = np.take_along_axis(S, part, 1)
            Ic = np.take_along_axis(cand_ids, part, 1)
        else:
            cut = K
            part = np.broadcast_to(np.arange(K), (b, K))
            Sc, Ic = S, cand_ids
        flat = np.lexsort(
            (Ic.ravel(), -Sc.ravel(), np.repeat(np.arange(b), cut))
        ).reshape(b, cut)[:, : min(r, K)]
        cols = flat - (np.arange(b) * cut)[:, None]
        return np.take_along_axis(part, cols, 1)

    # ---- forest: leaves -> exact KNN inside each leaf ----------------
    cand_lists = [[] for _ in range(m)]

    def split(idx, depth, tree_rng):
        if len(idx) <= max(leaf, r + 1):
            sub = Mn[idx]
            S = sub @ sub.T
            np.fill_diagonal(S, -np.inf)
            cols = topr_rows(S, np.broadcast_to(ids[idx], S.shape))
            for a, row in enumerate(idx):
                cand_lists[row].append(idx[cols[a]])
            return
        g = tree_rng.normal(size=d)
        proj = Mn[idx] @ g
        cutv = np.median(proj)
        left = idx[proj <= cutv]
        right = idx[proj > cutv]
        if len(left) == 0 or len(right) == 0:  # degenerate projection
            half = len(idx) // 2
            order = np.argsort(proj, kind="stable")
            left, right = idx[order[:half]], idx[order[half:]]
        split(left, depth + 1, tree_rng)
        split(right, depth + 1, tree_rng)

    for t in range(trees):
        split(np.arange(m), 0, np.random.default_rng((seed, t)))

    # merge per node: union across trees, dedup, top-r
    width = max(len(np.concatenate(c)) for c in cand_lists)
    C = np.empty((m, width), dtype=np.int64)
    for i in range(m):
        cc = np.concatenate(cand_lists[i])
        C[i, : len(cc)] = cc
        C[i, len(cc):] = i  # self-pad, masked -inf below

    def select(Cb, lo, hi):
        S = np.einsum("bd,bkd->bk", Mn[lo:hi], Mn[Cb])
        S[Cb == np.arange(lo, hi)[:, None]] = -np.inf
        srt = np.argsort(Cb, axis=1, kind="stable")
        Cs = np.take_along_axis(Cb, srt, 1)
        Ss = np.take_along_axis(S, srt, 1)
        Ss[:, 1:][Cs[:, 1:] == Cs[:, :-1]] = -np.inf
        return np.take_along_axis(Cs, topr_rows(Ss, ids[Cs]), 1)

    nbr = np.empty((m, min(r, m - 1)), dtype=np.int64)
    block = 4096
    for lo in range(0, m, block):
        hi = min(lo + block, m)
        nbr[lo:hi] = select(C[lo:hi], lo, hi)

    # ---- refinement: my neighbors' neighbors are my candidates ------
    for _ in range(refine):
        rr = nbr.shape[1]
        for lo in range(0, m, block):
            hi = min(lo + block, m)
            Cb = np.concatenate(
                [nbr[lo:hi], nbr[nbr[lo:hi]].reshape(hi - lo, rr * rr)],
                axis=1,
            )
            nbr[lo:hi] = select(Cb, lo, hi)
    return nbr


def build_cell_graphs(
    index: DataFrame,
    R: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block: int = 2048,
    method: str = "auto",
    exact_max: int = 4096,
) -> DataFrame:
    """(cell, vec_id, neighbors array<bigint>) — per-cell undirected
    R-NN graph + vec_id-ordered backbone chain (connectivity guarantee:
    greedy search can always reach every node, so the flat-regime beam
    is exact, and no cell ever strands an island of vectors). Blocked
    BLAS keeps the per-task working set to O(block·|cell|) doubles.

    `method`: "exact" = all-pairs O(|cell|²·d); "nndescent" = the
    O(|cell|·R²·d·iters) approximate build (r12 verdict #4 — the build,
    not the serve, is the scale-killer once cells grow 100×);
    "auto" (default) = exact for cells ≤ `exact_max` rows, NN-descent
    above — small cells keep the provably-exact edge set for free, big
    cells get the near-linear build. The serve path is unchanged either
    way, and flat-regime exactness never depends on WHICH near-equal
    edges the graph carries (the backbone keeps every cell connected);
    beam-regime recall parity is measured by the `anngraph` gate."""

    def knn(pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        m = len(pdf)
        cell = int(pdf["cell"].iloc[0])
        M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        Mn = M / nrm
        r = min(R, m - 1)
        nbrs = [set() for _ in range(m)]
        use_nnd = method == "nndescent" or (
            method == "auto" and m > exact_max
        )
        if r > 0 and use_nnd:
            top = _approx_knn(Mn, ids, r, seed=cell + 1)
            for i in range(m):
                for j in top[i]:
                    nbrs[i].add(int(j))
                    nbrs[int(j)].add(i)  # undirected
            for i in range(m - 1):  # backbone chain
                nbrs[i].add(i + 1)
                nbrs[i + 1].add(i)
            return pd.DataFrame(
                {
                    "cell": cell,
                    "vec_id": ids,
                    "neighbors": [
                        [int(ids[j]) for j in sorted(ns)] for ns in nbrs
                    ],
                }
            )
        for lo in range(0, m, block):
            hi = min(lo + block, m)
            S = Mn[lo:hi] @ Mn.T
            for i in range(lo, hi):
                S[i - lo, i] = -2.0
            if r > 0:
                # top-r by (similarity desc, vec_id asc): vectorized
                # argpartition shortlist, then a tiny per-row lexsort —
                # O(m) per row instead of O(m log m). Exact-sim ties at
                # the shortlist boundary could swap an edge, which only
                # perturbs WHICH near-equal neighbors link; flat-regime
                # exactness never depends on edge choice (backbone
                # keeps every cell connected).
                cut = min(4 * r + 8, m)
                part = np.argpartition(-S, cut - 1, axis=1)[:, :cut]
                for i in range(lo, hi):
                    csel = part[i - lo]
                    row = S[i - lo, csel]
                    order = np.lexsort((ids[csel], -row))[:r]
                    for j in csel[order]:
                        nbrs[i].add(int(j))
                        nbrs[int(j)].add(i)  # undirected
        for i in range(m - 1):  # backbone chain
            nbrs[i].add(i + 1)
            nbrs[i + 1].add(i)
        return pd.DataFrame(
            {
                "cell": cell,
                "vec_id": ids,
                "neighbors": [
                    [int(ids[j]) for j in sorted(ns)] for ns in nbrs
                ],
            }
        )

    return index.groupBy("cell").applyInPandas(
        knn, "cell int, vec_id long, neighbors array<bigint>"
    )


def _beam_search(qv, Mn, ids, adj, entries, ef, exclude, mask=None):
    """Best-first beam over one cell's graph. Returns ([(sim, id)...]
    result pool sorted desc, n_evals). Deterministic: all heap keys are
    (similarity, vec_id) pairs.

    `mask` (optional bool array over cell rows) marks which nodes are
    COLLECTIBLE — the filtered-search contract (x179): traversal still
    routes through every node (restricting the walk to matching nodes
    would fragment the graph and strand matching islands — the standard
    filtered-HNSW pitfall), but only masked nodes enter the result
    pool. Flat-regime exactness survives filtering: when fewer than
    `ef` nodes match, the pool never fills, the early-exit test never
    fires, and the beam visits the entire connected cell — so
    ef >= |cell| still yields the exact filtered answer."""
    import heapq

    visited = set()
    cand: list = []  # min-heap of (-sim, id, idx)
    res: list = []  # min-heap of (sim, -id, idx): worst kept on top
    evals = 0
    for eidx in entries:
        if eidx in visited:
            continue
        visited.add(eidx)
        s = float(Mn[eidx] @ qv)
        evals += 1
        heapq.heappush(cand, (-s, ids[eidx], eidx))
        if mask is None or mask[eidx]:
            heapq.heappush(res, (s, -ids[eidx], eidx))
    while cand:
        negs, _, idx = heapq.heappop(cand)
        if len(res) >= ef and -negs < res[0][0]:
            break
        for nb in adj[idx]:
            if nb in visited:
                continue
            visited.add(nb)
            sn = float(Mn[nb] @ qv)
            evals += 1
            if len(res) < ef or sn > res[0][0]:
                heapq.heappush(cand, (-sn, ids[nb], nb))
                if mask is None or mask[nb]:
                    heapq.heappush(res, (sn, -ids[nb], nb))
                    if len(res) > ef:
                        heapq.heappop(res)
    pool = sorted(
        ((s, ids[idx]) for s, _, idx in res if ids[idx] != exclude),
        key=lambda t: (-t[0], t[1]),
    )
    return pool, evals


def graph_probe_topk(
    probes: DataFrame,
    graph_index: DataFrame,
    k: int = 10,
    ef: int = 64,
    with_evals: bool = False,
) -> DataFrame:
    """Serve path: greedy beam search inside each probed cell, then one
    bounded global top-k merge. `probes` is (query_id, q_vec, cell) —
    one row per (query, probed cell), the same probe relation ivf_probe
    builds; `graph_index` is (cell, vec_id, embedding, neighbors), the
    persisted artifact (partition BY CELL at 100 TB; the explicit
    probed-cell filter below prunes the scan — and the cogroup
    exchange, and the Arrow transfer into Python — to those cells
    only; unprobed cells' rows used to ride the whole pipeline just to
    cogroup against zero queries). Entries are the vec_id-ordered
    first/middle nodes — deterministic. With ef >= |cell| the search is
    exact within the cell (connected graph, beam never rejects)."""
    # The distinct probed-cell list is ≤ n_cells rows by construction
    # (one bounded collect); an unprobed cell contributes nothing to the
    # result, so this filter is plan-only: fewer rows shuffled/pickled,
    # identical output. The lazy localCheckpoint pins the probes subtree
    # so the collect and the cogroup read ONE materialization — without
    # it a non-deterministic probes relation (sampled/rand-derived)
    # could collect a cell list that diverges from the cogrouped rows
    # and silently drop probed cells (ADVICE r13), and a deterministic
    # one still paid the subtree twice.
    probes = probes.localCheckpoint(eager=False)
    probe_cells = [
        r["cell"] for r in probes.select("cell").distinct().collect()
    ]
    graph_index = graph_index.filter(F.col("cell").isin(probe_cells))

    def search(key, qpdf, cpdf):
        import pandas as pd

        out_q, out_n, out_c, out_e, out_cell = [], [], [], [], []
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n,
                 "cosine": out_c, "n_evals": out_e, "cell": out_cell}
            )
        cell_no = int(cpdf["cell"].iloc[0])
        cpdf = cpdf.sort_values("vec_id").reset_index(drop=True)
        ids = cpdf["vec_id"].to_numpy()
        pos = {int(v): i for i, v in enumerate(ids)}
        M = np.stack(cpdf["embedding"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        Mn = M / nrm
        adj = [
            [pos[int(n)] for n in ns if int(n) in pos]
            for ns in cpdf["neighbors"]
        ]
        m = len(ids)
        entries = sorted({0, m // 2})
        for qrow in qpdf.itertuples(index=False):
            qv = np.asarray(qrow.q_vec, dtype=np.float64)
            qv = qv / (np.linalg.norm(qv) or 1.0)
            pool, evals = _beam_search(
                qv, Mn, ids, adj, entries, min(ef, m) if ef else m,
                int(qrow.query_id),
            )
            for s, nid in pool[:k]:
                out_q.append(int(qrow.query_id))
                out_n.append(int(nid))
                out_c.append(float(s))
                out_e.append(int(evals))
                out_cell.append(cell_no)
        return pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_n,
             "cosine": out_c, "n_evals": out_e, "cell": out_cell}
        )

    per_cell = (
        probes.groupBy("cell")
        .cogroup(graph_index.groupBy("cell"))
        .applyInPandas(
            search,
            "query_id long, neighbor_id long, cosine double, "
            "n_evals long, cell int",
        )
    )
    if with_evals:
        # raw per-(query, cell) relation for cost accounting: n_evals is
        # per-cell-search, repeated on each of its result rows — dedup
        # on (query_id, cell) before summing
        return per_cell
    # global merge: spill can surface one neighbor from several probed
    # cells — keep one copy, then the bounded per-query top-k
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    merged = per_cell.select(
        "query_id", "neighbor_id", "cosine"
    ).dropDuplicates(["query_id", "neighbor_id"])
    return (
        merged.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def graph_probe_topk_filtered(
    probes: DataFrame,
    graph_index: DataFrame,
    k: int = 10,
    ef: int = 64,
) -> DataFrame:
    """Metadata-FILTERED graph serve (x179): like graph_probe_topk, but
    each query collects only nodes whose `attr` equals the query's
    `want_attr` — the tenant/label-scoped retrieval shape x05g serves
    by equi-join, here under the beam. `probes` is (query_id, q_vec,
    cell, want_attr); `graph_index` is (cell, vec_id, embedding,
    neighbors, attr). The predicate gates COLLECTION, never traversal
    (see _beam_search's mask contract) — matching nodes reachable only
    through non-matching ones are still found, and with ef >= |cell|
    the result is the exact filtered top-k within the probed cells.
    At scale the attr column rides the same cell-partitioned sidecar
    files (column-pruned when unfiltered serves read them); selective
    filters want a larger ef, the documented filtered-HNSW trade."""
    # Same probed-cell pruning as graph_probe_topk: unprobed cells can
    # contribute nothing, so drop them before the cogroup exchange. Same
    # lazy-checkpoint pin: one probes materialization feeds the collect
    # AND the cogroup (ADVICE r13 determinism note).
    probes = probes.localCheckpoint(eager=False)
    probe_cells = [
        r["cell"] for r in probes.select("cell").distinct().collect()
    ]
    graph_index = graph_index.filter(F.col("cell").isin(probe_cells))

    def search(key, qpdf, cpdf):
        import pandas as pd

        out_q, out_n, out_c, out_e, out_cell = [], [], [], [], []
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n,
                 "cosine": out_c, "n_evals": out_e, "cell": out_cell}
            )
        cell_no = int(cpdf["cell"].iloc[0])
        cpdf = cpdf.sort_values("vec_id").reset_index(drop=True)
        ids = cpdf["vec_id"].to_numpy()
        pos = {int(v): i for i, v in enumerate(ids)}
        attrs = cpdf["attr"].to_numpy()
        M = np.stack(cpdf["embedding"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        Mn = M / nrm
        adj = [
            [pos[int(n)] for n in ns if int(n) in pos]
            for ns in cpdf["neighbors"]
        ]
        m = len(ids)
        entries = sorted({0, m // 2})
        for qrow in qpdf.itertuples(index=False):
            qv = np.asarray(qrow.q_vec, dtype=np.float64)
            qv = qv / (np.linalg.norm(qv) or 1.0)
            mask = attrs == qrow.want_attr
            pool, evals = _beam_search(
                qv, Mn, ids, adj, entries, min(ef, m) if ef else m,
                int(qrow.query_id), mask=mask,
            )
            for s, nid in pool[:k]:
                out_q.append(int(qrow.query_id))
                out_n.append(int(nid))
                out_c.append(float(s))
                out_e.append(int(evals))
                out_cell.append(cell_no)
        return pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_n,
             "cosine": out_c, "n_evals": out_e, "cell": out_cell}
        )

    per_cell = (
        probes.groupBy("cell")
        .cogroup(graph_index.groupBy("cell"))
        .applyInPandas(
            search,
            "query_id long, neighbor_id long, cosine double, "
            "n_evals long, cell int",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    merged = per_cell.select(
        "query_id", "neighbor_id", "cosine"
    ).dropDuplicates(["query_id", "neighbor_id"])
    return (
        merged.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Graph sidecar for the PERSISTED cell index (operators/ann_index.py layout)
# ---------------------------------------------------------------------------
def _graphs_path(base: str) -> str:
    import os

    return os.path.join(base, "graphs")


def _meta_path(base: str) -> str:
    import os

    # Leading underscore: Spark/parquet readers ignore _-prefixed files
    # (the _SUCCESS convention), so the meta lives inside the graphs dir
    # without perturbing scans.
    return os.path.join(_graphs_path(base), "_GRAPH_META")


def sidecar_meta(base: str) -> dict | None:
    """The graph sidecar's build parameters ({"R": int}) if `<base>/
    graphs` exists, else None. This is how the index-maintenance ops
    (ann_index.upsert/delete/retrain — engine-enforced coherence, r12
    verdict #2) detect a sidecar and refresh it with the SAME R it was
    built with, instead of trusting every caller to remember."""
    import json
    import os

    if not os.path.isdir(_graphs_path(base)):
        return None
    try:
        with open(_meta_path(base)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        # Pre-meta sidecar (or torn write): fall back to the default R.
        return {"R": 8}


def _write_meta(base: str, R: int) -> None:
    import json

    with open(_meta_path(base), "w") as fh:
        json.dump({"R": int(R)}, fh)


def build_graph_sidecar(spark, base: str, R: int = 8) -> None:
    """Materialize per-cell neighbor graphs beside the persisted cell
    index (`<base>/graphs`, parquet partitioned by cell — the third
    sidecar after index and manifest), plus a `_GRAPH_META` file
    recording R. Built once at write time; after that the maintenance
    ops in ann_index.py keep it consistent THEMSELVES (engine-enforced:
    upsert/delete refresh touched cells, retrain rebuilds — callers no
    longer need to remember `refresh_graph_sidecar`)."""
    from gwasdb_spark.operators.ann_index import read_cell_index

    build_cell_graphs(read_cell_index(spark, base), R=R).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(_graphs_path(base))
    _write_meta(base, R)  # after the write: overwrite clears the dir


def refresh_graph_sidecar(
    spark, base: str, cells, R: int | None = None, surviving=None,
    live: DataFrame | None = None,
) -> None:
    """Re-derive the graph partitions of the given TOUCHED cells after
    an upsert/delete (their membership changed, so their R-NN edges are
    stale), leaving every other cell's graph files byte-stable — the
    same touched-only discipline as the index/manifest rewrites. Cost ∝
    Σ|touched cell|², never the index. An emptied cell's graph
    partition is dropped outright. R defaults to the sidecar's recorded
    build parameter (mixing Rs across cells would make reachability
    depend on which cells churned). `surviving` (optional) is the set
    of touched cells that still hold index rows — the maintenance ops
    already know it, and a graph row exists exactly when its cell has a
    live index row, so passing it skips the re-derivation job. `live`
    (optional) is the touched cells' POST-OP index rows as an
    already-materialized relation — the maintenance ops hold exactly
    that (their checkpointed rewrite input is what they wrote), so
    passing it lets the graph rebuild read memory instead of
    re-scanning the just-written partitions, and lets the caller run
    this refresh CONCURRENTLY with its own index/manifest writes (no
    read-after-write dependency remains).

    The write reads the index (tree or `live` relation) and overwrites
    the GRAPHS tree — disjoint paths — so unlike the index rewrites no
    materialization boundary is needed: the per-cell KNN computes
    exactly once, inside the write job (the old localCheckpoint
    materialized every graph row into driver-tracked block storage
    first, an extra full pass)."""
    import os

    from gwasdb_spark.operators.ann_index import (
        _overwrite_cells,
        read_cell_index,
    )

    cells = sorted({int(c) for c in cells})
    if not cells:
        return
    if R is None:
        meta = sidecar_meta(base)
        R = int((meta or {}).get("R", 8))
    if live is None:
        live = read_cell_index(spark, base).filter(F.col("cell").isin(cells))
    if surviving is None:
        # Cheap: a partition-column-only scan of the touched dirs.
        surviving = {
            r["cell"] for r in live.select("cell").distinct().collect()
        }
    _overwrite_cells(
        build_cell_graphs(live, R=R), _graphs_path(base), cells, surviving
    )
    # Dynamic overwrite leaves root-level files alone, but a pre-meta
    # sidecar gets upgraded here so future refreshes know their R.
    if not os.path.exists(_meta_path(base)):
        _write_meta(base, R)


def graph_probe_persisted(
    spark,
    base: str,
    probes: DataFrame,
    k: int = 10,
    ef: int = 64,
) -> DataFrame:
    """Serve path against the persisted index + graph sidecar: join the
    probed cells' index rows with their graph rows (both partitioned by
    cell — the equi-join prunes to probed partitions) and beam-search.
    A vector the sidecar has no graph row for is UNREACHABLE, so a
    refresh that missed a touched cell breaks the result — x176 turns
    that into a driver hash failure."""
    from gwasdb_spark.operators.ann_index import read_cell_index

    gindex = read_cell_index(spark, base).join(
        spark.read.parquet(_graphs_path(base)), ["cell", "vec_id"]
    )
    return graph_probe_topk(probes, gindex, k=k, ef=ef)
