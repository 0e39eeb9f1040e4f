"""The maintained vector and text indexes, churned in the traced pass.

After its op loop, `acid_churn`'s traced pass runs one seeded maintenance
sequence over each index, every call in its layer's span:

- `operators.ann_index` / `operators.ann_graph`: `build_cell_index` and
  `build_graph_sidecar` over generated embeddings, a flat-regime (`ef=0`)
  `graph_probe_persisted` top-10, one `upsert_cell_index` batch
  (replacements and additions), one `delete_from_cell_index` batch, and
  the same probe again over the churned index.
- `operators.search`: `build_text_index` over generated documents, a
  `bm25_topk_indexed` query, one `update_text_index` batch, one
  `delete_from_text_index` batch, and a second query.

The calls take one to two seconds each, far too long for the op stream's
latency percentiles, and the whole sequence about 20 s, too long to repeat
in every set-up. So it gives the `operators.*` per-layer metrics and no
end-to-end metric. `check` runs after the sequence, outside every span:
each probe against an exact numpy cosine top-10 over the probed cells,
each query against `bm25_topk` over the live documents, and the
maintenance calls' touched cells and counts against the generator's own.
The update runs before the delete: `update_text_index` after a text delete
counts the tombstoned documents in `avgdl`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from perfbench import gen

N_VEC, DIM = 1_200, 16  # axis cells: one per dimension
N_REPLACE, N_ADD, N_VEC_DELETE = 30, 30, 40
N_QUERIES, CELLS_PER_QUERY, K = 4, 3, 10
QUERY_ID0 = 1_000_000  # apart from every vec_id, so no probe excludes a hit
N_DOCS, N_NEW_DOCS, N_DOC_DELETE = 600, 60, 30
QUERY_TERMS = 3
PROBE_SCHEMA = pa.schema([("query_id", pa.int64()), ("q_vec", pa.list_(pa.float32())),
                          ("cell", pa.int32())])
ID_SCHEMA = pa.schema([("vec_id", pa.int64())])
DOC_ID_SCHEMA = pa.schema([("doc_id", pa.int64())])


def _cells(vecs) -> np.ndarray:
    """`ann_index.axis_cell` in numpy: 1-based index of the first maximum."""
    return np.argmax(np.stack(vecs), axis=1).astype(np.int32) + 1


def generate(g: str, seed: int) -> dict:
    """Every input of the sequence, written under `g` before timing."""
    r = gen.rng(seed, 30)
    base = gen.embeddings(seed, 31, np.arange(N_VEC), DIM)
    replaced = np.sort(r.choice(N_VEC, N_REPLACE, replace=False))
    upsert = gen.embeddings(seed, 32, np.concatenate([replaced, N_VEC + np.arange(N_ADD)]), DIM)
    after_upsert = pd.concat([base[~base["vec_id"].isin(replaced)], upsert], ignore_index=True)
    victims = np.sort(r.choice(after_upsert["vec_id"].values, N_VEC_DELETE, replace=False))
    churned = after_upsert[~after_upsert["vec_id"].isin(victims)]
    queries = gen.embeddings(seed, 33, QUERY_ID0 + np.arange(N_QUERIES), DIM)
    qcells = [np.argsort(-v, kind="stable")[:CELLS_PER_QUERY] + 1 for v in queries["embedding"]]
    probes = pd.DataFrame({
        "query_id": np.repeat(queries["vec_id"].values, CELLS_PER_QUERY),
        "q_vec": [v for v in queries["embedding"] for _ in range(CELLS_PER_QUERY)],
        "cell": np.concatenate(qcells).astype(np.int32),
    })

    docs = gen.documents(seed, 34, np.arange(N_DOCS))
    new_docs = gen.documents(seed, 35, N_DOCS + np.arange(N_NEW_DOCS))
    doc_victims = np.sort(r.choice(N_DOCS + N_NEW_DOCS, N_DOC_DELETE, replace=False))
    terms = [sorted(r.choice([f"t{i:03d}" for i in range(5, 120)], QUERY_TERMS, replace=False).tolist())
             for _ in range(2)]

    files = {}
    for name, df, schema in (
        ("vectors", base, gen.EMB_SCHEMA), ("upsert", upsert, gen.EMB_SCHEMA),
        ("vec_victims", pd.DataFrame({"vec_id": victims}), ID_SCHEMA),
        ("probes", probes, PROBE_SCHEMA), ("docs", docs, gen.DOC_SCHEMA),
        ("new_docs", new_docs, gen.DOC_SCHEMA),
        ("doc_victims", pd.DataFrame({"doc_id": doc_victims}), DOC_ID_SCHEMA),
    ):
        files[name] = f"{g}/{name}.parquet"
        gen.write_parquet(df, files[name], schema)
    return {
        "files": files, "terms": terms, "probes": probes,
        "corpora": (base, churned),
        "touched": (sorted(set(_cells(upsert["embedding"])) |
                           set(_cells(base[base["vec_id"].isin(replaced)]["embedding"]))),
                    sorted(set(_cells(after_upsert[after_upsert["vec_id"].isin(victims)]["embedding"])))),
        "doc_victims": doc_victims.tolist(),
        "sizes": {"vectors": N_VEC, "dim": DIM, "docs": N_DOCS,
                  "doc_tokens": int(docs["text"].str.count(" ").sum() + N_DOCS)},
    }


def run(spark, work: str, inputs: dict, tracer):
    """The maintenance sequence, one traced root. Returns the root span and
    the results `check` judges."""
    from gwasdb_spark.operators.ann_graph import build_graph_sidecar, graph_probe_persisted
    from gwasdb_spark.operators.ann_index import (
        build_cell_index, delete_from_cell_index, upsert_cell_index,
    )
    from gwasdb_spark.operators.search import (
        build_text_index, bm25_topk_indexed, delete_from_text_index, update_text_index,
    )

    f, base, tix = inputs["files"], f"{work}/ann", f"{work}/text"
    out: dict = {"probes": [], "queries": []}

    def probe():
        with tracer.span("operators.ann_graph.probe"):
            out["probes"].append(
                graph_probe_persisted(spark, base, spark.read.parquet(f["probes"]), k=K, ef=0).collect())

    def query(terms):
        with tracer.span("operators.search.query"):
            out["queries"].append(bm25_topk_indexed(spark, tix, terms, k=K).collect())

    with tracer.root("phase.indexes") as root:
        with tracer.span("operators.ann_index.build"):
            build_cell_index(spark.read.parquet(f["vectors"]), base)
        with tracer.span("operators.ann_graph.build_sidecar"):
            build_graph_sidecar(spark, base, R=6)
        probe()
        with tracer.span("operators.ann_index.upsert") as s:
            out["upsert"] = upsert_cell_index(spark, base, spark.read.parquet(f["upsert"]))
            s.attrs["touched_cells"] = len(out["upsert"]["touched_cells"])
        with tracer.span("operators.ann_index.delete") as s:
            out["delete"] = delete_from_cell_index(spark, base, spark.read.parquet(f["vec_victims"]))
            s.attrs["touched_cells"] = len(out["delete"]["touched_cells"])
        probe()
        with tracer.span("operators.search.build"):
            build_text_index(spark.read.parquet(f["docs"]), tix)
        query(inputs["terms"][0])
        with tracer.span("operators.search.update"):
            update_text_index(spark.read.parquet(f["new_docs"]), tix)
        with tracer.span("operators.search.delete"):
            out["deleted_docs"] = delete_from_text_index(spark.read.parquet(f["doc_victims"]), tix)
        query(inputs["terms"][1])
    return root, out


def _exact_topk(corpus: pd.DataFrame, probes: pd.DataFrame) -> tuple[list, list]:
    """(query_id, neighbor_id, rank) and cosines of the exact top-K over
    each query's probed cells, ordered as the serve path orders them."""
    M = np.stack(corpus["embedding"]).astype(np.float64)
    nrm = np.linalg.norm(M, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0
    Mn, ids, cells = M / nrm, corpus["vec_id"].to_numpy(), _cells(corpus["embedding"])
    keys, cos = [], []
    for qid, grp in probes.groupby("query_id", sort=True):
        qv = np.asarray(grp["q_vec"].iloc[0], dtype=np.float64)
        qv = qv / (np.linalg.norm(qv) or 1.0)
        mask = np.isin(cells, grp["cell"].to_numpy())
        sims = Mn[mask] @ qv
        order = np.lexsort((ids[mask], -sims))[:K]
        keys += [(int(qid), int(ids[mask][j]), rank) for rank, j in enumerate(order, 1)]
        cos += [float(sims[j]) for j in order]
    return keys, cos


def _probe_ok(rows, corpus, probes) -> bool:
    rows = sorted(rows, key=lambda r: (r["query_id"], r["rank"]))
    keys, cos = _exact_topk(corpus, probes)
    return ([(r["query_id"], r["neighbor_id"], r["rank"]) for r in rows] == keys
            and all(abs(r["cosine"] - c) <= 1e-9 for r, c in zip(rows, cos)))


def check(spark, inputs: dict, out: dict) -> list[tuple[str, bool]]:
    from pyspark.sql import functions as F

    from gwasdb_spark.operators.search import bm25_topk

    base, churned = inputs["corpora"]
    f, victims = inputs["files"], inputs["doc_victims"]
    docs = spark.read.parquet(f["docs"])
    live = docs.unionByName(spark.read.parquet(f["new_docs"])).filter(~F.col("doc_id").isin(victims))
    checks = [
        ("graph probe equals exact top-10", _probe_ok(out["probes"][0], base, inputs["probes"])),
        ("graph probe after churn equals exact top-10",
         _probe_ok(out["probes"][1], churned, inputs["probes"])),
        ("upsert touched the replaced and new cells",
         out["upsert"]["touched_cells"] == inputs["touched"][0]
         and out["upsert"]["n_updates"] == N_REPLACE + N_ADD),
        ("delete touched the victims' cells",
         out["delete"]["touched_cells"] == inputs["touched"][1]
         and out["delete"]["n_deleted"] == N_VEC_DELETE),
        ("text delete tombstoned every victim", out["deleted_docs"] == len(victims)),
    ]
    for i, (corpus, terms) in enumerate(((docs, inputs["terms"][0]), (live, inputs["terms"][1]))):
        want = [tuple(r) for r in bm25_topk(corpus, terms, k=K).orderBy("rank").collect()]
        got = [tuple(r) for r in sorted(out["queries"][i], key=lambda r: r["rank"])]
        checks.append((f"bm25_topk_indexed query {i + 1} equals bm25_topk", got == want))
    return checks


def layers(root) -> dict:
    """The `operators.*` per-layer metrics from the sequence's traced root."""
    def spans(name):
        return [s for s in root.walk() if s.name == name]

    def mean_wall(name):
        xs = [s.wall_ms for s in spans(name)]
        return sum(xs) / len(xs) if xs else 0.0

    def jobs(*names):
        ss = [s for n in names for s in spans(n)]
        return sum(x.counters["jobs"] for s in ss for x in s.walk()) / max(1, len(ss))

    maint = spans("operators.ann_index.upsert") + spans("operators.ann_index.delete")
    return {
        "operators.ann_index.upsert_ms": mean_wall("operators.ann_index.upsert"),
        "operators.ann_index.delete_ms": mean_wall("operators.ann_index.delete"),
        "operators.ann_index.jobs_per_op": jobs("operators.ann_index.upsert", "operators.ann_index.delete"),
        "operators.ann_index.touched_cells_frac":
            sum(s.attrs.get("touched_cells", 0) for s in maint) / max(1, DIM * len(maint)),
        "operators.ann_graph.probe_ms": mean_wall("operators.ann_graph.probe"),
        "operators.ann_graph.jobs_per_probe": jobs("operators.ann_graph.probe"),
        "operators.search.update_ms": mean_wall("operators.search.update"),
        "operators.search.delete_ms": mean_wall("operators.search.delete"),
        "operators.search.query_ms": mean_wall("operators.search.query"),
    }
