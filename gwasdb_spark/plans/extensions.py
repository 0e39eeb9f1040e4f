"""Training-data-pipeline extension queries (BASELINE.json north star).

Beyond the reference's own operator surface: deduplication families,
embedding similarity search, text analysis, streaming-shaped rollups, and
multimodal binary plumbing — each a `queries()` entry, and since round 12
EVERY entry carries a DuckDB oracle (zero `oracle=None` registrations —
guarded by tests/test_registry_shape.py). Hash-based families (minhash/
simhash/LSH) replay their exact hash pipelines in SQL (the md5-derived
h32/h60 recipe below); sketch queries pin error-bound predicates beside
exact anchors (x13's graduation contract).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gwasdb_spark.catalog import table
from gwasdb_spark.functions import text as TX
from gwasdb_spark.functions.vectors import cosine, dot, l2_norm
from gwasdb_spark.operators import dedup as DD
from gwasdb_spark.operators.similarity import brute_force_topk, hyperplane_lsh_topk
from gwasdb_spark.plans.base import query
from gwasdb_spark.plans.helpers import cents, hour_str, money, stage_dir
from gwasdb_spark.session import run_concurrently


def _fp_tag(sf_dir: str) -> str:
    """The stage-key convention for every persisted-store query:
    md5(sf_dir) (path-unique across harness sf dirs) + the corpus
    metadata fingerprint (regeneration-sensitive — ADVICE r9/r12: a
    corpus regenerated at the SAME path must not reuse a stale
    persisted index/sidecar). x171/c05 in other modules follow the
    same shape; new persisted-store queries should call this."""
    import hashlib as _hl

    from gwasdb_spark.plans.mining_ops import _corpus_fingerprint

    return (
        _hl.md5(sf_dir.encode()).hexdigest()[:12]
        + "_"
        + _corpus_fingerprint(sf_dir)
    )

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "x01_dedup_exact",
    "X-dedup",
    oracle="""
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def x01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on a 128-bit content digest, min-id
    survivor. One shuffle of skinny (hash,id) rows — never the documents."""
    d = table(spark, sf_dir, "documents")
    return DD.exact_duplicates(d, "doc_id", "text")


@query(
    "x02_ngram_jaccard_pairs",
    "X-dedup",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(w) - 2, 0) + 1),
                 i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingles
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents)
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) <= 100),
    pruned AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN rare USING (shingle)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM pruned a JOIN pruned b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.12
    """,
)
def x02_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs. Shingle-equi-join with a
    frequency prune (shingles in >100 docs dropped) — the quadratic-blowup
    guard that makes this viable at corpus scale. Jaccard is an exact
    integer ratio: engine-portable unrounded."""
    d = table(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.12, max_shingle_docs=100
    )


@query(
    "x45_shingle_containment",
    "X-dedup",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(w) - 2, 0) + 1),
                 i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingles
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents)
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh WHERE len(shingles) > 0),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) <= 100),
    pruned AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN rare USING (shingle)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM pruned a JOIN pruned b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_shared AS DOUBLE) / sa.n_sh AS containment
    FROM shared JOIN sizes sa ON sa.doc_id = id_a
    WHERE CAST(n_shared AS DOUBLE) / sa.n_sh >= 0.5
    """,
)
def x45_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED containment pairs — C(A→B) = |shingles(A) ∩ shingles(B)|
    / |shingles(A)| ≥ 0.5: doc A is (half-)contained in B. Jaccard (x02)
    misses subset relations (a quote inside a long doc has tiny union
    ratio but containment ≈ 1) — this is the quote/boilerplate/
    benchmark-decontamination detector. Same bucketed shingle-equi-join
    physical shape as x02 (ONE shingle pipeline, frequency prune bounds
    the pair blowup); the ratio is an exact integer quotient, divided
    once. Asymmetric: both directions emitted."""
    d = table(spark, sf_dir, "documents")
    return DD.shingle_containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_shingle_docs=100
    )


# --- x03's cross-engine minhash family (the x04 graduation recipe) ------
# Affine permutations (a_i*h + b_i) mod p over an md5-derived 32-bit
# shingle hash: h < 2^32, a_i|b_i < 2^30, so a_i*h + b_i < 2^63 — every
# intermediate fits int64 on BOTH engines, no wraparound to reconcile.
# The constants are Python-computed once and embedded as literals in the
# Spark plan AND the oracle SQL, so there is no formula to keep in sync.
_MH_P = 4294967311  # smallest prime > 2^32
_MH_AB = [
    (
        (((2 * i + 1) * 2654435761) % (1 << 30)) | 1,
        (i * 40503 + 2654435769) % (1 << 30),
    )
    for i in range(32)
]
_MH_BANDS, _MH_RPB = 8, 4  # 8 bands x 4 rows over the 32 mins


def _mh_h32(c):
    """md5-derived 32-bit shingle key (cross-engine; see _MH_AB note)."""
    return F.conv(
        F.substring(F.md5(c.cast("binary")), 1, 8), 16, 10
    ).cast("long")


def _mh_band60(rows):
    """md5-h60 of the pipe-joined band mins — the cross-engine band key."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", *[r.cast("string") for r in rows]
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def _x03_oracle(doc_where: str = "") -> str:
    mins = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {_MH_P}) AS m{i}"
        for i, (a, b) in enumerate(_MH_AB)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, concat({parts}) AS ks FROM mins".format(
            b=b,
            parts=", '|', ".join(
                f"CAST(m{b * _MH_RPB + r} AS VARCHAR)" for r in range(_MH_RPB)
            ),
        )
        for b in range(_MH_BANDS)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(32)
    )
    doc_where = (" WHERE " + doc_where) if doc_where else ""
    return f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(w) - 2, 0) + 1),
               i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS gram
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents{doc_where})
    ),
    h AS (
      SELECT doc_id, CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) AS h
      FROM sh
    ),
    mins AS (
      SELECT doc_id,
             {mins}
      FROM h GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, band_idx,
             CAST('0x' || substr(md5(ks), 1, 15) AS BIGINT) AS key
      FROM ({band_selects})
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM bands a JOIN bands c
        ON a.band_idx = c.band_idx AND a.key = c.key
       AND a.doc_id < c.doc_id
    )
    SELECT id_a, id_b, ({eq_sum}) / 32.0 AS est_jaccard
    FROM cand
    JOIN mins sa ON sa.doc_id = id_a
    JOIN mins sb ON sb.doc_id = id_b
    WHERE ({eq_sum}) / 32.0 >= 0.2
    """


@query("x03_minhash_lsh_pairs", "X-dedup", oracle=_x03_oracle())
def x03_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (32 hashes, 8 bands × 4 rows).
    GRADUATED from the no-oracle set in round 11 via the x04 recipe:
    the shingle key is the md5-based h32, the hash family is the
    classic affine (a·h + b) mod p with Python-generated constants
    embedded in both plans, and the band key is the md5-h60 of the
    pipe-joined band mins — making signatures, band bucketing, the
    candidate join AND the estimated-Jaccard filter all replayable in
    DuckDB SQL. max_bucket_docs=None so the engine enumerates exactly
    the pairs the oracle does (x04's cap lesson). The operator's
    xxhash64 defaults are unchanged for other callers; recall vs exact
    Jaccard stays pinned in tests/test_quality.py."""
    d = table(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=32, bands=_MH_BANDS,
        min_est_jaccard=0.2, max_bucket_docs=None,
        shingle_hash_fn=_mh_h32, perm_params=(_MH_P, _MH_AB),
        band_hash_fn=_mh_band60,
    ).orderBy("id_a", "id_b")


@query(
    "x171_neardup_index_update",
    "X-dedup",
    oracle=f"""
    WITH all_pairs AS ({{x03}}
    )
    SELECT id_a, id_b, est_jaccard,
           CASE WHEN id_a % 7 = 0 AND id_b % 7 = 0 THEN 'batch_batch'
                ELSE 'batch_corpus' END AS pair_type
    FROM all_pairs
    WHERE id_a % 7 = 0 OR id_b % 7 = 0
    """.replace("{x03}", _x03_oracle()),
)
def x171_neardup_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup detection against a PERSISTED signature
    store — x44's daily-ingest shape lifted from exact digests to
    MinHash-LSH (the LSM maintenance gap in the near-dup family: x62
    updates the BM25 index, x153 the ANN cells; this updates the band
    store). The corpus partition's banded signatures (minhash_bands,
    x03's cross-engine config) are built ONCE into a corpus-keyed
    stage; an arriving batch (doc_id % 7 = 0) computes ONLY ITS OWN
    signatures (cost scales with the batch, never the corpus), probes
    the store with a band equi-join for batch-vs-corpus candidates,
    enumerates batch-internal candidates with the usual bounded bucket
    explode, verifies both with the estimated-Jaccard filter, and
    appends its bands to the store (at 100 TB: partitioned by
    band_idx/bucketed by band_key so the probe join is co-located and
    the append touches only new files). The oracle replays x03's full
    pipeline over the WHOLE corpus and keeps pairs with >= 1 batch
    side — proving the incremental path finds exactly what the batch
    rebuild would, including estimate values."""
    import hashlib as _hl

    batch_mod = 7
    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % batch_mod != 0)
    batch = d.filter(F.col("doc_id") % batch_mod == 0)
    cfg = dict(
        n=3, num_hashes=32, bands=_MH_BANDS,
        shingle_hash_fn=_mh_h32, perm_params=(_MH_P, _MH_AB),
        band_hash_fn=_mh_band60,
    )
    from gwasdb_spark.plans.mining_ops import _corpus_fingerprint

    store_path = stage_dir(
        "neardup_store_"
        + _hl.md5(sf_dir.encode()).hexdigest()[:12]
        + "_" + _corpus_fingerprint(sf_dir)
    )
    corpus_store = os.path.join(store_path, "corpus")
    batch_store = os.path.join(store_path, "batches")
    if not os.path.isdir(corpus_store):
        DD.minhash_bands(corpus, "doc_id", "text", **cfg).write.parquet(
            corpus_store
        )
    store = spark.read.parquet(corpus_store)
    if os.path.isdir(batch_store):
        # warm re-run: this batch's bands were already appended — the
        # cross probe then also surfaces batch-batch pairs, which the
        # (id_a,id_b) dedup in _neardup_probe collapses onto the
        # `within` copies, so the result set is unchanged
        store = store.unionByName(spark.read.parquet(batch_store))
    bb = DD.minhash_bands(batch, "doc_id", "text", **cfg).localCheckpoint(
        eager=True
    )  # computed once, probed twice (cross + within) AND appended

    # the maintenance half of the contract: after probing, the batch's
    # bands join the store so the NEXT incremental batch sees this one
    # (marker-guarded for idempotent warm re-runs; at 100 TB this is an
    # append of new band_idx-partitioned files only — no store rewrite)
    marker = os.path.join(store_path, f"_batch_mod{batch_mod}_applied")
    if not os.path.exists(marker):
        bb.write.mode("append").parquet(batch_store)
        with open(marker, "w") as fh:
            fh.write("batch bands appended\n")

    return (
        _neardup_probe(bb, store)
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            F.when(
                (F.col("id_a") % batch_mod == 0)
                & (F.col("id_b") % batch_mod == 0),
                F.lit("batch_batch"),
            )
            .otherwise(F.lit("batch_corpus"))
            .alias("pair_type"),
        )
        .orderBy("id_a", "id_b")
    )


def _neardup_probe(bb: DataFrame, store: DataFrame) -> DataFrame:
    """Verified near-dup pairs for a batch's banded signatures `bb`
    against a persisted band store + within the batch itself: band
    equi-join for cross candidates, bounded bucket explode for internal
    ones, estimated-Jaccard >= 0.2 verify, (id_a < id_b) dedup. Shared
    by x171 (store update) and x172 (store delete)."""
    cross = (
        bb.select(
            F.col("doc").alias("b_doc"),
            F.col("signature").alias("b_sig"),
            "band_idx",
            "band_key",
        )
        .join(store, ["band_idx", "band_key"])
        .filter(F.col("doc") != F.col("b_doc"))
        .select(
            F.least("b_doc", "doc").alias("id_a"),
            F.greatest("b_doc", "doc").alias("id_b"),
            DD.est_jaccard(F.col("b_sig"), F.col("signature"), 32).alias(
                "est_jaccard"
            ),
        )
    )
    within = DD._bucket_pairs(
        bb, payload=["signature"], max_bucket_docs=None
    ).select(
        F.col("a.doc").alias("id_a"),
        F.col("b.doc").alias("id_b"),
        DD.est_jaccard(
            F.col("a.signature"), F.col("b.signature"), 32
        ).alias("est_jaccard"),
    )
    return (
        cross.unionByName(within)
        .filter(F.col("est_jaccard") >= 0.2)
        .dropDuplicates(["id_a", "id_b"])
    )


@query(
    "x172_neardup_index_delete",
    "X-dedup,X-dml",
    oracle=f"""
    WITH all_pairs AS ({{x03}}
    ),
    bp AS (
      SELECT id_a, id_b, est_jaccard FROM all_pairs
      WHERE id_a % 7 = 0 OR id_b % 7 = 0
    )
    SELECT p.path, bp.id_a, bp.id_b, bp.est_jaccard
    FROM bp CROSS JOIN (
      VALUES ('tombstoned'), ('compacted'), ('rebuilt')
    ) p(path)
    """.replace(
        "{x03}",
        _x03_oracle("NOT (doc_id % 7 <> 0 AND doc_id % 17 = 3)"),
    ),
)
def x172_neardup_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown deletes for the persisted near-dup band store — the
    delete-maintenance symmetry the other two index families already
    have (BM25 x163, ANN cells x157), closing the matrix for minhash.
    Victims (corpus docs with doc_id % 17 = 3) land as an LSM tombstone
    relation: the serve path anti-joins them at probe time (O(batch)
    takedown — no store IO), and compaction folds them into a rewritten
    store (at 100 TB the store is partitioned by band_idx and bucketed
    by band_key, so only victim-holding buckets rewrite — x163's
    discipline). The driver row probes THREE stores with the same batch
    — tombstoned, compacted, and rebuilt-from-surviving-corpus — and
    the oracle (x03's replay over documents-minus-victims, batch-
    touching pairs, one copy per path label) forces all three to agree
    exactly: a tombstone leak, a compaction that drops a survivor's
    bands, or a stale-signature bug each breaks a different label."""
    import hashlib as _hl

    batch_mod = 7
    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % batch_mod != 0)
    batch = d.filter(F.col("doc_id") % batch_mod == 0)
    victims = corpus.filter(F.col("doc_id") % 17 == 3).select(
        F.col("doc_id").alias("doc")
    )
    live_corpus = corpus.join(
        victims.select(F.col("doc").alias("doc_id")), "doc_id", "left_anti"
    )
    cfg = dict(
        n=3, num_hashes=32, bands=_MH_BANDS,
        shingle_hash_fn=_mh_h32, perm_params=(_MH_P, _MH_AB),
        band_hash_fn=_mh_band60,
    )
    from gwasdb_spark.plans.mining_ops import _corpus_fingerprint

    tag = (
        _hl.md5(sf_dir.encode()).hexdigest()[:12]
        + "_" + _corpus_fingerprint(sf_dir)
    )
    store_path = stage_dir(f"neardup_delstore_{tag}")
    tomb_path = stage_dir(f"neardup_tomb_{tag}")
    compact_path = stage_dir(f"neardup_delstore_compact_{tag}")
    if not os.path.isdir(store_path):
        DD.minhash_bands(corpus, "doc_id", "text", **cfg).write.parquet(
            store_path
        )
    if not os.path.isdir(tomb_path):  # the takedown batch: O(victims) IO
        victims.write.parquet(tomb_path)
    store = spark.read.parquet(store_path)
    tomb = spark.read.parquet(tomb_path)
    if not os.path.isdir(compact_path):  # compaction folds tombstones in
        store.join(F.broadcast(tomb), "doc", "left_anti").write.parquet(
            compact_path
        )

    bb = DD.minhash_bands(batch, "doc_id", "text", **cfg).localCheckpoint(
        eager=False
    )  # one signature pass, probed against all three stores
    paths = [
        ("tombstoned", store.join(F.broadcast(tomb), "doc", "left_anti")),
        ("compacted", spark.read.parquet(compact_path)),
        ("rebuilt", DD.minhash_bands(live_corpus, "doc_id", "text", **cfg)),
    ]
    out = None
    for label, st in paths:
        part = _neardup_probe(bb, st).select(
            F.lit(label).alias("path"), "id_a", "id_b", "est_jaccard"
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("path", "id_a", "id_b")


@query(
    "x04_simhash_pairs",
    "X-dedup",
    oracle=r"""
    WITH t AS (
      SELECT DISTINCT doc_id,
             CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), '\s+')) AS token
        FROM documents
      ) WHERE token <> ''
    ),
    votes AS (
      SELECT t.doc_id, CAST(p.j AS INT) AS j,
             SUM(((h >> CAST(p.j AS INT)) & 1) * 2 - 1) AS v
      FROM t CROSS JOIN range(0, 60) p(j)
      GROUP BY 1, 2
    ),
    sig AS (
      SELECT doc_id,
             SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << j
                 ELSE CAST(0 AS BIGINT) END) AS s
      FROM votes GROUP BY 1
    ),
    bands AS (
      SELECT doc_id, CAST(q.b AS INT) AS b,
             (s >> CAST(16 * q.b AS INT)) & 65535 AS key
      FROM sig CROSS JOIN range(0, 4) q(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sa.s, sb.s)) AS BIGINT) AS hamming
    FROM cand
    JOIN sig sa ON sa.doc_id = id_a
    JOIN sig sb ON sb.doc_id = id_b
    WHERE bit_count(xor(sa.s, sb.s)) <= 12
    """,
)
def x04_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (64-bit signatures, 4 bands, hamming ≤ 12).
    Signature aggregation is expression-only (codegen); band join bounds
    the candidate set. GRADUATED from the no-oracle set in round 10:
    token hashing switched to the md5-based h60 (the x16/x170 shared
    cross-engine hash), making the ENTIRE pipeline — vote signs, packed
    signature, band bucketing, bounded candidate join, hamming verify —
    replayable in DuckDB SQL, so band-candidate generation and the
    radius filter are hash-adjudicated, not just recall-tested. Bits
    60-63 of h60 are structurally zero, so those votes are uniformly
    negative: a 60-bit effective signature, identical on both engines
    (the operator's xxhash64 default is unchanged for other callers)."""
    h60 = lambda c: F.conv(  # noqa: E731 — column-expression shorthand
        F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10
    ).cast("long")
    d = table(spark, sf_dir, "documents")
    # max_bucket_docs=None: the oracle enumerates ALL band-bucket pairs,
    # so the adjudicated query must too — the 10k skew cap would silently
    # drop pairs the oracle emits on a skewed band key (ADVICE r10).
    return DD.simhash_near_pairs(
        d, "doc_id", "text", max_hamming=12, bands=4, hash_fn=h60,
        max_bucket_docs=None,
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COS_SQL = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)

# Shared by x05 (brute force), x05c (vectorized kernel) and — in their
# full-coverage correctness configuration — x05b (LSH), x05d (IVF), x05e
# (PQ): all five must reproduce the exact cosine top-10 with identical
# (cosine DESC, neighbor_id) tie-breaking.
_X05_EXACT_TOPK_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             {_COS_SQL.format(a='qv', b='cv')}
               / (sqrt({_COS_SQL.format(a='qv', b='qv')})
                  * sqrt({_COS_SQL.format(a='cv', b='cv')})) AS cos_raw
      FROM q CROSS JOIN c WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           ROUND(cos_raw, 6) AS cosine
    FROM (
      SELECT query_id, neighbor_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


def _ann_flat_regime(corpus: DataFrame) -> bool:
    """True when the corpus is too small for a bucketed/compressed index to
    beat a flat scan (the faiss index-selection rule of thumb: below ~1k
    vectors use IndexFlat). The registered approximate-ANN queries then run
    their machinery in FULL-COVERAGE configuration — every bucket/cell/
    candidate probed — which is recall-1 by construction and therefore
    hash-checkable against the brute-force oracle. At bench/corpus scale
    (n > 1000) they keep genuinely approximate parameters; recall contracts
    for that regime live in tests/test_similarity.py. The count is a
    parquet-metadata-only job."""
    return corpus.count() <= 1000


@query("x05_ann_cosine_topk", "X-sim", oracle=_X05_EXACT_TOPK_ORACLE)
def x05_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors — the exact ANN
    baseline. Queries broadcast; corpus scanned once; cosine is a codegen'd
    sequential fold. Rounded to 6 dp (engines may associate the 64-term sum
    differently at ~1e-13)."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    res = brute_force_topk(q, e, "vec_id", "embedding", k=10)
    return res.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


@query(
    "x05c_ann_topk_vectorized",
    "X-sim",
    oracle=_X05_EXACT_TOPK_ORACLE,
)
def x05c_ann_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN top-k via the Arrow/numpy mapInPandas kernel — one BLAS
    matmul per batch, per-batch top-k, global window reduce. Same oracle
    as x05: the two implementations must agree to 6 dp."""
    from gwasdb_spark.operators.similarity import brute_force_topk_vectorized

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    res = brute_force_topk_vectorized(q, e, "vec_id", "embedding", k=10)
    return res.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


@query("x05b_ann_lsh_topk", "X-sim", oracle=_X05_EXACT_TOPK_ORACLE)
def x05b_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN (the scale path): signatures bucket the
    corpus, exact cosine re-scores bucket-mates only.

    Adaptive index selection: in the flat regime (corpus ≤ 1000, the
    correctness SFs) the band machinery runs with a single zero-bit band —
    one all-corpus bucket, so coverage (hence recall) is exactly 1 and the
    result is hash-checkable against the brute-force oracle. Above that,
    real 4×8-bit banding; recall contract for the approximate regime is
    tests/test_similarity.py::test_ann_lsh_recall_on_neardups."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    if _ann_flat_regime(e):
        res = hyperplane_lsh_topk(
            q, e, "vec_id", "embedding", k=10, dim=64, bands=1, bits_per_band=0
        )
    else:
        res = hyperplane_lsh_topk(q, e, "vec_id", "embedding", k=10, dim=64)
    return res.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    ).orderBy("query_id", "rank")


@query(
    "x10_embedding_neardup",
    "X-dedup,X-sim",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_COS_SQL.format(a='a.embedding', b='b.embedding')}
                 / (sqrt({_COS_SQL.format(a='a.embedding', b='a.embedding')})
                    * sqrt({_COS_SQL.format(a='b.embedding', b='b.embedding')})),
                 6) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_COS_SQL.format(a='a.embedding', b='b.embedding')}
          / (sqrt({_COS_SQL.format(a='a.embedding', b='a.embedding')})
             * sqrt({_COS_SQL.format(a='b.embedding', b='b.embedding')})) >= 0.35
    """,
)
def x10_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact brute-force baseline
    (id_a < id_b, cosine >= 0.35 — the synthetic
    corpus is random noise with max pair cosine ~0.5, so the threshold sits
    at the top tail to exercise the pipeline on real rows). The LSH twin x10b is the scale path;
    its recall vs this truth is asserted in tests."""
    from gwasdb_spark.operators.similarity import embedding_neardup_pairs

    e = table(spark, sf_dir, "embeddings")
    res = embedding_neardup_pairs(e, "vec_id", "embedding", threshold=0.35)
    return res.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


@query(
    "x10b_embedding_neardup_lsh",
    "X-dedup,X-sim",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_COS_SQL.format(a='a.embedding', b='b.embedding')}
                 / (sqrt({_COS_SQL.format(a='a.embedding', b='a.embedding')})
                    * sqrt({_COS_SQL.format(a='b.embedding', b='b.embedding')})),
                 6) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_COS_SQL.format(a='a.embedding', b='b.embedding')}
          / (sqrt({_COS_SQL.format(a='a.embedding', b='a.embedding')})
             * sqrt({_COS_SQL.format(a='b.embedding', b='b.embedding')})) >= 0.35
    """,
)
def x10b_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH buckets + exact
    re-score of bucket-mates only — never O(n^2) pairs at scale.

    Adaptive index selection (same rule as the x05 ANN family): in the
    flat regime (corpus ≤ 1000, the correctness SFs) a single zero-bit
    band puts the whole corpus in one bucket — candidate coverage is
    exactly 1 and the result hash-matches x10's exact-pairs oracle. At
    scale, real 8×8-bit banding; recall vs x10 is tested in
    tests/test_similarity.py."""
    from gwasdb_spark.operators.similarity import embedding_neardup_pairs_lsh

    e = table(spark, sf_dir, "embeddings")
    if _ann_flat_regime(e):
        res = embedding_neardup_pairs_lsh(
            e, "vec_id", "embedding", threshold=0.35, dim=64, bands=1,
            bits_per_band=0,
        )
    else:
        res = embedding_neardup_pairs_lsh(
            e, "vec_id", "embedding", threshold=0.35, dim=64, bands=8,
            bits_per_band=8,
        )
    return res.select("id_a", "id_b", F.round("cos", 6).alias("cos")).orderBy(
        "id_a", "id_b"
    )


@query(
    "x53_embedding_dim_stats",
    "X-sim",
    oracle="""
    WITH e AS (
      SELECT vec_id, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) - 1 AS dim
      FROM embeddings
    )
    SELECT CAST(dim AS INT) AS dim,
           ROUND(AVG(CAST(v AS DOUBLE)), 9) AS mean_v,
           ROUND(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) / COUNT(*)
                 - AVG(CAST(v AS DOUBLE)) * AVG(CAST(v AS DOUBLE)), 9)
             AS var_v,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM e GROUP BY dim
    """,
)
def x53_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION corpus statistics (mean, population variance) — the
    whitening/centering pre-pass embedding pipelines run before cosine
    retrieval (anisotropic embedding spaces benefit measurably; also the
    input to PCA/OPQ rotations). posexplode flips (vec × dim) to skinny
    (dim, value) rows; one 64-group aggregate. Variance via the
    E[x²]−E[x]² moments so both engines reduce in the same fixed order
    after rounding."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(
        F.posexplode("embedding").alias("dim", "v")
    ).select("dim", F.col("v").cast("double").alias("v"))
    mean = F.sum("v") / F.count(F.lit(1))
    return (
        ex.groupBy("dim")
        .agg(
            F.round(mean, 9).alias("mean_v"),
            F.round(
                F.sum(F.col("v") * F.col("v")) / F.count(F.lit(1)) - mean * mean,
                9,
            ).alias("var_v"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("dim", "mean_v", "var_v", "n")
    )


@query(
    "x09_embedding_stats",
    "X-sim",
    oracle="""
    SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
           ROUND(sqrt(list_sum(list_transform(range(1, 65),
                 i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 6)
             AS l2_norm,
           ROUND(list_sum(list_transform(range(1, 65),
                 i -> CAST(embedding[i] AS DOUBLE))) / 64.0, 6) AS mean_val
    FROM embeddings
    """,
)
def x09_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector column statistics — norm/mean via sequential folds (rounded:
    cross-engine FP association)."""
    e = table(spark, sf_dir, "embeddings")
    s = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(l2_norm(F.col("embedding")), 6).alias("l2_norm"),
        F.round(s / F.lit(64.0), 6).alias("mean_val"),
    )


@query(
    "x43_int8_quantize",
    "X-sim,§2.11",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_aggregate(
               list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
               'max') AS amax
      FROM embeddings
    )
    SELECT e.vec_id,
           ROUND(CASE WHEN q.amax > 0 THEN 127.0 / q.amax END, 9) AS scale,
           CASE WHEN q.amax > 0 THEN array_to_string(
             list_transform(e.embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / q.amax)) AS INT)),
             ',') END AS codes_csv,
           CAST(CASE WHEN q.amax > 0 THEN len(list_filter(
             list_transform(e.embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / q.amax)) AS INT)),
             c -> abs(c) = 127)) ELSE 0 END AS BIGINT) AS n_saturated
    FROM embeddings e JOIN q USING (vec_id)
    """,
)
def x43_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/serving
    compression every vector database applies before ANN (4× smaller than
    float32; PQ (x05e) is the aggressive sibling). Pure array
    higher-order functions (transform/array_max/filter) — whole-stage
    codegen, no UDF, no shuffle: the quantizer is a projection. Codes are
    emitted CSV-joined (engine-portable rendering of the array); zero
    vectors quantize to NULL scale/codes rather than dividing by zero."""
    e = table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    amax = F.array_max(xd)
    scale = F.lit(127.0) / amax
    codes = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * scale).cast("int"),
    )
    nonzero = amax > 0
    return e.select(
        "vec_id",
        F.round(F.when(nonzero, scale), 9).alias("scale"),
        F.when(nonzero, F.array_join(codes, ",")).alias("codes_csv"),
        F.when(
            nonzero,
            F.size(F.filter(codes, lambda c: F.abs(c) == 127)),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_saturated"),
    )


@query(
    "x44_incremental_dedup",
    "X-dedup",
    oracle="""
    WITH batch AS (
      SELECT doc_id, md5(text) AS content_hash FROM documents
      WHERE doc_id % 7 = 0
    ),
    corpus AS (
      SELECT DISTINCT md5(text) AS content_hash FROM documents
      WHERE doc_id % 7 <> 0
    ),
    labeled AS (
      SELECT b.doc_id, b.content_hash,
             CASE
               WHEN c.content_hash IS NOT NULL THEN 'dup_corpus'
               WHEN b.doc_id <> MIN(b.doc_id) OVER (PARTITION BY b.content_hash)
                 THEN 'dup_batch'
               ELSE 'new'
             END AS status
      FROM batch b LEFT JOIN corpus c USING (content_hash)
    )
    SELECT doc_id, content_hash, status FROM labeled
    """,
)
def x44_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingestion dedup — the shape a 100 TB corpus actually
    runs daily: only the incoming batch (here: doc_id % 7 = 0) is checked,
    (a) against the existing corpus's digest set (skinny hash anti/left
    join — at scale a pre-materialized digest table or bloom filter, never
    the corpus text) and (b) within itself (min-id window per digest).
    Each doc labels as dup_corpus / dup_batch / new; cost scales with the
    BATCH, not the corpus."""
    d = table(spark, sf_dir, "documents")
    # ONE scan, ONE exchange, NO join: every signal (corpus membership,
    # min batch id) is a window aggregate over the digest group — the
    # corpus-vs-batch split is a flag inside the group, not a second
    # branch over the table (a branched plan re-scans: column pruning
    # diverges the two subtrees and defeats exchange reuse).
    hashed = d.select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        (F.col("doc_id") % 7 == 0).alias("__is_batch"),
    )
    w = Window.partitionBy("content_hash")
    has_corpus = (
        F.max((~F.col("__is_batch")).cast("int")).over(w) == 1
    )
    min_batch = F.min(
        F.when(F.col("__is_batch"), F.col("doc_id"))
    ).over(w)
    return (
        hashed.withColumn("__has_corpus", has_corpus)
        .withColumn("__min_batch", min_batch)
        .filter(F.col("__is_batch"))
        .select(
            "doc_id",
            "content_hash",
            F.when(F.col("__has_corpus"), F.lit("dup_corpus"))
            .when(F.col("doc_id") != F.col("__min_batch"), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "x06_text_stats",
    "X-text",
    oracle=r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                AS BIGINT) AS n_tokens_bpe,
           CASE WHEN length(text) > 0
                THEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
                          AS DOUBLE) / CAST(length(text) AS DOUBLE)
                END AS punct_ratio,
           CAST(len(regexp_extract_all(lower(text),
                '\b(the|and|of|to|a|in|is|that)\b')) AS BIGINT) AS n_stopwords_en
    FROM documents
    """,
)
def x06_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics: token counts (whitespace + BPE-ish
    regex), punctuation ratio, stopword count — all JVM-side regexp
    expressions folded into the scan projection."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        TX.n_tokens_ws(F.col("text")).alias("n_tokens_ws"),
        TX.n_tokens_bpe(F.col("text")).alias("n_tokens_bpe"),
        F.when(
            F.length("text") > 0,
            F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9\s]")).cast("double")
            / F.length("text").cast("double"),
        ).alias("punct_ratio"),
        TX.stopword_count(F.col("text"), "en").alias("n_stopwords_en"),
    )


@query(
    "x07_lang_id",
    "X-text",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
        CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|ein|nicht|mit)\b')) AS BIGINT) AS score_de,
        CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that)\b')) AS BIGINT) AS score_en,
        CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|un|es)\b')) AS BIGINT) AS score_es,
        CAST(len(regexp_extract_all(lower(text), '\b(le|la|de|et|un|est|que|pour)\b')) AS BIGINT) AS score_fr
      FROM documents
    )
    SELECT doc_id, score_de, score_en, score_es, score_fr,
           CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                WHEN score_de >= score_en AND score_de >= score_es
                     AND score_de >= score_fr THEN 'de'
                WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM s
    """,
)
def x07_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language-ID heuristic: per-language word-boundary regexp
    scores, deterministic argmax (ties → lexicographically first language,
    all-zero → 'und')."""
    d = table(spark, sf_dir, "documents")
    scores = TX.lang_scores(F.col("text"))
    return d.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(scores)],
        TX.lang_id(F.col("text")).alias("lang_pred"),
    )


@query(
    "x08_fingerprint",
    "X-text",
    oracle=r"""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def x08_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint: lowercase → strip punctuation →
    collapse whitespace → md5. Formatting-robust exact-dup key."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Streaming-shaped rollups (batch-equivalent; live streams in streaming/)
# ---------------------------------------------------------------------------


@query(
    "st01_hourly_rollup",
    "X-stream,§2.10",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0)
             AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def st01_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed event rollup — the batch twin of the watermarked streaming
    aggregation in gwasdb_spark.streaming.events (same grouping, same exact-
    cents sums; structured-streaming parity asserted in tests)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            hour_str("ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(F.sum(cents(F.col("value")))).alias("total_value"),
        )
    )


@query(
    "st02_sessionize",
    "X-stream",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ),
    f AS (
      SELECT user_id, event_id,
             CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM g
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions
    FROM f GROUP BY user_id
    """,
)
def st02_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag window — exact
    integer microsecond arithmetic, engine-portable. The stateful-streaming
    twin uses applyInPandasWithState (gwasdb_spark.streaming.sessions)."""
    e = table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id"))
    g = e.select(
        "user_id",
        "event_id",
        ts_us.alias("ts_us"),
        F.lag(ts_us).over(w).alias("prev_us"),
    )
    f = g.select(
        "user_id",
        F.when(
            F.col("prev_us").isNull()
            | ((F.col("ts_us") - F.col("prev_us")) > 1800 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    return f.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("new_session").cast("long").alias("n_sessions"),
    )


@query(
    "st11_session_window_builtin",
    "X-stream",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ),
    f AS (
      SELECT user_id,
             CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us >= 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM g
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions
    FROM f GROUP BY user_id
    """,
)
def st11_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the ENGINE-NATIVE `session_window` aggregate —
    the one-expression form of st02's hand-rolled lag/cumsum (and the
    same operator Structured Streaming merges stateful session windows
    with). Boundary semantics differ from st02 by one ulp: a session
    window spans [start, last+gap), so a gap of EXACTLY 30 min starts a
    new session (st02's lag rule is strictly-greater) — the oracle uses
    >= accordingly. Two hash aggregates, one (user) shuffle."""
    e = table(spark, sf_dir, "events")
    per_session = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_session.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_sessions"),
    )


@query(
    "st03_stream_hourly_rollup",
    "X-stream,§2.10",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0)
             AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def st03_stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE Structured Streaming: watermarked hourly rollup executed over
    the events parquet as a file-source stream (Trigger.AvailableNow),
    returned as the final batch result. Must exactly equal the batch twin
    st01 — the oracle is the same SQL."""
    from gwasdb_spark.streaming.events import (
        hourly_rollup_stream,
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_available_now(hourly_rollup_stream(stream), "complete")


@query(
    "st04_stream_sessionize_stateful",
    "X-stream,§2.11",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ),
    f AS (
      SELECT user_id, event_id,
             CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM g
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions
    FROM f GROUP BY user_id
    """,
)
def st04_stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE custom stateful streaming: applyInPandasWithState per-user
    sessionizer over the events file stream. Cumulative (n_events,
    n_sessions) rows are emitted per micro-batch; both are monotone
    nondecreasing, so max() per user recovers the final state regardless
    of how many micro-batches the file source produced. Oracle: the batch
    lag-window sessionizer's SQL (st02)."""
    from gwasdb_spark.streaming.events import read_events_stream, run_available_now
    from gwasdb_spark.streaming.sessions import sessionize_stateful

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    out = run_available_now(sessionize_stateful(stream), "update")
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("n_sessions").alias("n_sessions"),
    )


@query(
    "st05_stream_dedup",
    "X-stream,X-dedup",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def st05_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming dedup with bounded state: the events file read as TWO
    unioned streams (every event arrives twice) →
    dropDuplicatesWithinWatermark(event_id) restores exactly-once rows.
    State evicts past the watermark horizon — O(rate × lateness), the only
    viable streaming-dedup shape at sustained ingest scale."""
    from gwasdb_spark.streaming.events import (
        dedup_stream,
        read_events_stream,
        run_available_now,
    )

    path = f"{sf_dir}/events.parquet"
    doubled = read_events_stream(spark, path).union(read_events_stream(spark, path))
    out = run_available_now(dedup_stream(doubled), "append")
    return out.select("event_id", "user_id", "event_type")


@query(
    "st12_stream_jsonl_ingest",
    "X-stream,S-ext",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT '__quarantined__', 10, 0
    """,
)
def st12_stream_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming JSONL ingestion with corrupt-line quarantine — the
    streaming twin of s20's batch read: documents staged as JSONL plus 10
    injected malformed lines, streamed as text (splittable; the file
    source's backpressure knob applies), parsed per micro-batch with
    from_json PERMISSIVE. Malformed lines become quarantine rows (counted
    under '__quarantined__'), clean rows aggregate per language — job
    survival through bad input is the 100 TB ingest contract, same as the
    batch path. Bounded replay via Trigger.AvailableNow."""
    import tempfile as _tf

    from gwasdb_spark.plans.helpers import stage_dir
    from gwasdb_spark.streaming.events import run_available_now

    d = table(spark, sf_dir, "documents")
    src = stage_dir("stream_jsonl_src")
    d.select("doc_id", "text", "lang", "n_chars").repartition(4).write.mode(
        "overwrite"
    ).json(src)
    bad = os.path.join(src, "zz_corrupt.json")  # after part files, one batch
    with open(bad, "w") as f:
        for i in range(10):
            f.write(f"corrupt line number {i}\n")

    schema = "doc_id bigint, text string, lang string, n_chars bigint"
    parsed = F.from_json(
        F.col("value"),
        schema + ", _corrupt string",
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    lines = (
        spark.readStream.format("text").load(src)
        .select(parsed.alias("r"))
        .select(
            F.when(F.col("r._corrupt").isNull(), F.col("r.lang"))
            .otherwise(F.lit("__quarantined__"))
            .alias("lang"),
            F.coalesce(F.col("r.n_chars"), F.lit(0)).alias("n_chars"),
        )
    )
    agg = lines.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    return run_available_now(agg, "complete")


# ---------------------------------------------------------------------------
# Multimodal binary plumbing
# ---------------------------------------------------------------------------


@query(
    "mm01_binary_meta",
    "X-multimodal",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest
    FROM documents
    """,
)
def mm01_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing: text payload → binary, byte length +
    content digest. The decode/feature UDF surface (stubbed — no media libs
    in-container) lives in gwasdb_spark.multimodal."""
    d = table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("digest"),
    )


@query(
    "mm02_fake_features",
    "X-multimodal",
    oracle="""
    WITH h AS (
      SELECT doc_id, sha256(text) AS hx FROM documents WHERE text IS NOT NULL
    )
    SELECT h.doc_id,
           'text/plain' AS media_type,
           CAST(t.dim AS INT) AS dim,
           ((instr('0123456789abcdef', substr(hx, CAST(2*t.dim+1 AS INT), 1)) - 1) * 16
            + (instr('0123456789abcdef', substr(hx, CAST(2*t.dim+2 AS INT), 1)) - 1))
             / 255.0 AS value,
           'ok_fake' AS decode_status
    FROM h, range(8) t(dim)
    """,
)
def mm02_fake_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature-extraction plumbing over binary payloads with a
    deterministic fake decoder (real schema/batching, stubbed media decode).

    The registered query posexplodes the feature vector to (doc_id, dim,
    value) — the harness canonicalizer can't hash raw array cells, and the
    flat shape gives the fake feature a REAL SQL oracle (sha256 hex bytes
    / 255, byte-exact in double). Library callers use
    multimodal.binary.extract_fake_features directly for the array form;
    determinism is additionally asserted in tests/test_multimodal.py."""
    from gwasdb_spark.multimodal.binary import extract_fake_features, to_binary_table

    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    feats = extract_fake_features(to_binary_table(d))
    return feats.select(
        "doc_id",
        "media_type",
        F.posexplode("feature").alias("dim", "value"),
        "decode_status",
    ).select(
        "doc_id", "media_type", F.col("dim").cast("int").alias("dim"),
        "value", "decode_status",
    )


@query(
    "mm10_media_headers",
    "X-multimodal",
    oracle="""
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif'
           END AS format,
           CAST((doc_id * 7) % 1999 + 1 AS INT) AS width,
           CAST((doc_id * 13) % 1499 + 1 AS INT) AS height,
           'ok' AS parse_status
    FROM documents
    """,
)
def mm10_media_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL (unstubbed) multimodal metadata: format/width/height parsed
    from the payload's own magic bytes — PNG IHDR (big-endian uint32
    dims), JPEG SOF frame header reached by walking APP/comment segment
    lengths, GIF logical-screen size (little-endian uint16) — via
    multimodal.binary.parse_image_header inside the standard Arrow
    mapInPandas plumbing (media_headers). No PIL/ffmpeg: header dims
    are pure byte-slicing; only PIXEL decode stays container-gated.

    The fixture corpus is built IN-PLAN: each doc gets a payload with a
    byte-correct PNG/JPEG/GIF header (format by doc_id % 3, dims by
    doc_id arithmetic) assembled from hex literals + the doc's text as
    opaque body bytes — so builder (JVM hex/unhex expressions) and
    parser (python byte-walker) are independent implementations, and
    the oracle pins the round trip with plain arithmetic. Real-file
    coverage (zlib-CRC PNG, EXIF-segment JPEG, truncated/garbage blobs)
    lives in tests/test_multimodal.py."""
    from gwasdb_spark.multimodal.binary import media_headers

    d = table(spark, sf_dir, "documents")
    w = (F.col("doc_id") * 7) % 1999 + 1
    h = (F.col("doc_id") * 13) % 1499 + 1
    w8 = F.lpad(F.hex(w), 8, "0")  # PNG: big-endian uint32
    h8 = F.lpad(F.hex(h), 8, "0")
    w4 = F.lpad(F.hex(w), 4, "0")  # JPEG: big-endian uint16
    h4 = F.lpad(F.hex(h), 4, "0")
    # GIF wants little-endian uint16: swap the BE hex byte pairs
    w_le = F.concat(F.substring(w4, 3, 2), F.substring(w4, 1, 2))
    h_le = F.concat(F.substring(h4, 3, 2), F.substring(h4, 1, 2))
    body = F.hex(F.encode(F.col("text"), "UTF-8"))
    png = F.concat(
        F.lit("89504E470D0A1A0A"),  # signature
        F.lit("0000000D49484452"),  # IHDR length 13 + type
        w8, h8,
        F.lit("0806000000"),  # bit depth 8, RGBA, std methods
        F.lit("00000000"),  # CRC placeholder (not validated by header parse)
        body,
    )
    jpeg = F.concat(
        F.lit("FFD8"),  # SOI
        F.lit("FFE000104A46494600010100004800480000"),  # APP0/JFIF, len 16
        F.lit("FFC00011" "08"), h4, w4,  # SOF0, len 17, 8-bit precision
        F.lit("03011100021101031101"),  # 3 components
        body,
        F.lit("FFD9"),  # EOI
    )
    gif = F.concat(
        F.lit("474946383961"),  # GIF89a
        w_le, h_le,
        F.lit("F70000"),  # packed fields / background / aspect
        body,
    )
    payload = F.unhex(
        F.when(F.col("doc_id") % 3 == 0, png)
        .when(F.col("doc_id") % 3 == 1, jpeg)
        .otherwise(gif)
    )
    bt = d.select("doc_id", payload.alias("payload"))
    return media_headers(bt)


# ---------------------------------------------------------------------------
# Semi-structured (JSON) and iterative graph extensions
# ---------------------------------------------------------------------------


@query(
    "e01_json_props",
    "X-text,§1.2",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k
    FROM events GROUP BY event_type
    """,
)
def e01_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: parse the JSON `props` payload column
    (get_json_object — JVM-side JSON path, no Python) and aggregate the
    extracted field per event type. The engine's schema-on-read surface
    for the reference's string-encoded nested values (§1.1 geno strings
    are the same pattern)."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").alias("sum_k"),
    )


@query(
    "e02_json_construct_parse",
    "X-events,§2.11",
    oracle="""
    WITH j AS (
      SELECT o_orderkey,
             json_object('status', o_orderstatus,
                         'cents', CAST(ROUND(o_totalprice * 100) AS BIGINT))
               AS payload
      FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT o_orderkey,
           json_extract_string(payload, '$.status') AS status,
           CAST(json_extract(payload, '$.cents') AS BIGINT) AS cents
    FROM j
    """,
)
def e02_json_construct_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON CONSTRUCTION + TYPED PARSE round-trip (the sink→source twin of
    e01's path extraction): rows serialize to JSON documents with
    to_json(struct(...)), then parse back through from_json with an
    explicit schema — the event-payload encode/decode every JSON topic
    producer/consumer pair needs, all JVM-side (Jackson), no Python.
    Exact-cents integer rides through the string form untouched."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    payload = F.to_json(
        F.struct(
            F.col("o_orderstatus").alias("status"),
            cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    parsed = F.from_json(payload, "status string, cents bigint")
    return o.select(
        "o_orderkey",
        parsed.getField("status").alias("status"),
        parsed.getField("cents").alias("cents"),
    )


# Shared near-dup graph construction (3-gram Jaccard >= 0.12, both edge
# directions) — the CTE prefix of both the x11 connected-components oracle
# and the x39 fixed-iteration PageRank oracle.
_NEARDUP_EDGES_CTE = """
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(w) - 2, 0) + 1),
                 i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingles
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents)
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) <= 100),
    pruned AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN rare USING (shingle)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM pruned a JOIN pruned b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.12
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),"""


@query(
    "x11_dedup_clusters",
    "X-dedup",
    oracle=_NEARDUP_EDGES_CTE
    + """
    reach(id, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.id
    )
    SELECT CAST(id AS BIGINT) AS id, CAST(MIN(lbl) AS BIGINT) AS component
    FROM reach GROUP BY id
    """,
)
def x11_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact transitive near-dup clusters: connected components (alternating
    large-star/small-star rounds, distributed per iteration) over the exact
    3-gram Jaccard pair graph (x02's pair set, so labels are deterministic
    given that set: component = min reachable doc_id). Oracle: DuckDB
    recursive CTE computing min-label reachability over the same pairs;
    additionally verified against a driver-side union-find in
    tests/test_graph.py."""
    from gwasdb_spark.operators.graph import connected_components

    d = table(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.12, max_shingle_docs=100
    )
    return connected_components(pairs).orderBy("id")


@query(
    "x49_cluster_keep_best",
    "X-dedup,X-quality",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(w) - 2, 0) + 1),
                 i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingles
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents)
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) <= 100),
    pruned AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN rare USING (shingle)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM pruned a JOIN pruned b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.12
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(id, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.id
    ),
    comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
    q AS (
      SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars FROM documents
    )
    SELECT CAST(c.component AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(c.id) AS BIGINT) AS min_id,
           CAST((array_agg(c.id ORDER BY q.n_chars DESC, c.id))[1] AS BIGINT)
             AS best_id
    FROM comp c JOIN q ON q.doc_id = c.id
    GROUP BY c.component
    """,
)
def x49_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-cluster canonicalization — x29's keep-best upgraded from
    exact-digest groups to FULL near-dup clusters: connected components
    over the exact Jaccard pair graph, then one representative per
    component by quality (longest text, id tiebreak — the FineWeb 'keep
    the most complete member' rule; a chain a~b, b~c keeps ONE doc, which
    per-pair dedup cannot guarantee). Quality ranking is a window over
    component groups only; cluster labels are deterministic given the
    pair set, so the whole composition hash-checks against the
    recursive-CTE oracle."""
    from gwasdb_spark.operators.graph import connected_components

    d = table(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.12, max_shingle_docs=100
    )
    comp = connected_components(pairs)
    q = d.select(F.col("doc_id").alias("id"), F.length("text").alias("n_chars"))
    joined = comp.join(q, "id")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("id")
    )
    return (
        joined.withColumn("__rk", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("id").alias("min_id"),
            F.min(F.when(F.col("__rk") == 1, F.col("id"))).alias("best_id"),
        )
    )


@query(
    "mm03_resize_thumbs",
    "X-multimodal",
    oracle="""
    WITH txt AS (
      SELECT doc_id, 'text/plain' AS media_type, 8 AS width, 8 AS height,
             64 AS n_bytes, 'ok_fake' AS decode_status,
             CAST(NULL AS BIGINT) AS pixel_sum
      FROM documents
    ),
    bmp AS (
      SELECT doc_id + 10000000 AS doc_id, 'image/bmp' AS media_type,
             8 AS width, 8 AS height, 246 AS n_bytes,
             'ok_real' AS decode_status,
             4 * SUM((doc_id + rf * 16 + c * 4 + ch) % 256) AS pixel_sum
      FROM documents, range(0, 4) t1(rf), range(0, 4) t2(c),
           range(0, 3) t3(ch)
      WHERE doc_id % 10 = 0
      GROUP BY doc_id
    )
    SELECT doc_id, media_type, CAST(width AS INT) AS width,
           CAST(height AS INT) AS height, CAST(n_bytes AS BIGINT) AS n_bytes,
           decode_status, CAST(pixel_sum AS BIGINT) AS pixel_sum
    FROM (SELECT * FROM txt UNION ALL SELECT * FROM bmp)
    """,
)
def mm03_resize_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnailing with a REAL decode path (round 10 — previously the
    last stubbed query): every 10th document mints an in-plan 4x4
    24-bit BMP whose pixel bytes follow a SQL-computable formula
    ((doc_id + row*16 + col*4 + chan) % 256, built with hex/unhex
    expressions so builder and decoder are independent); resize_images
    REALLY decodes it (decode_bmp — raw BGR rows, no codec needed),
    nearest-neighbor upsamples 4x4 -> 8x8 (each source pixel sampled
    exactly 4x by the floor index map), and re-encodes a valid 246-byte
    BMP. The output's pixel_sum is the thumbnail's exact RGB byte sum,
    which the ORACLE recomputes as 4x the generation formula's sum — so
    decode, resample geometry, and re-encode size accounting are all
    hash-adjudicated, converting mm03 from a rows-only structural check
    into an oracle-green query. Text payloads keep the deterministic
    digest-thumbnail stub path (ok_fake, 64 bytes — no codec for
    compressed formats in this container; bit-exact numpy parity for
    the real path is additionally pinned in tests/test_multimodal.py,
    including padded strides and top-down BMPs the in-plan fixture
    cannot exercise)."""
    from gwasdb_spark.multimodal.binary import resize_images, to_binary_table

    d = table(spark, sf_dir, "documents")
    pix_hex = F.expr(
        "concat_ws('', transform(sequence(0, 47), i -> "
        "lpad(hex((doc_id + (i div 12) * 16 + ((i % 12) div 3) * 4 "
        "+ (i % 3)) % 256), 2, '0')))"
    )
    payload = F.unhex(F.concat(F.lit("424D660000000000000036000000280000000400000004000000010018000000000030000000130B0000130B00000000000000000000"), pix_hex))
    bmps = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.lit("image/bmp").alias("media_type"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("digest"),
        payload.alias("payload"),
    )
    out = resize_images(to_binary_table(d).unionByName(bmps), 8, 8)
    return out.select(
        "doc_id", "media_type", "width", "height",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        "decode_status", "pixel_sum",
    )


@query(
    "mm04_frame_sample",
    "X-multimodal",
    oracle="""
    WITH b AS (
      SELECT doc_id, octet_length(encode(text)) AS n FROM documents
    ),
    f AS (
      SELECT doc_id, n,
             unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT), 4)) AS frame_idx
      FROM b
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(LEAST(64, n - frame_idx * 64) AS BIGINT) AS n_frame_bytes
    FROM f
    """,
)
def mm04_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (every 4th 64-byte 'frame' of each payload) — the
    1→many UDTF-shaped mapInPandas stage. The oracle checks the full frame
    geometry (which frames get sampled, each frame's byte length) against
    pure SQL arithmetic."""
    from gwasdb_spark.multimodal.binary import sample_frames, to_binary_table

    d = table(spark, sf_dir, "documents")
    out = sample_frames(to_binary_table(d), frame_bytes=64, every_n=4)
    return out.select(
        "doc_id", "frame_idx", F.octet_length("frame_payload").alias("n_frame_bytes")
    )


@query(
    "c03_gopher_gate",
    "X-quality,X-text",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         s -> s <> '') AS words
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(words) AS n_words,
             CASE WHEN len(words) > 0 THEN
               CAST(list_sum(list_transform(words, s -> length(s))) AS DOUBLE)
                 / len(words) ELSE 0.0 END AS mean_word_len,
             len(list_filter(words,
                 s -> s IN ('the','and','of','to','a','in','is','that')))
               AS n_stop,
             CASE WHEN len(words) > 0 THEN
               CAST(len(list_filter(words, s -> regexp_matches(s, '^\d+$')))
                    AS DOUBLE) / len(words) ELSE 0.0 END AS numeric_frac
      FROM w
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           ROUND(mean_word_len, 9) AS mean_word_len,
           (n_words BETWEEN 10 AND 10000) AS ok_length,
           (mean_word_len >= 2.0 AND mean_word_len <= 8.0) AS ok_word_len,
           (n_stop >= 2) AS ok_stopwords,
           (numeric_frac <= 0.3) AS ok_numeric,
           ((n_words BETWEEN 10 AND 10000)
            AND mean_word_len >= 2.0 AND mean_word_len <= 8.0
            AND n_stop >= 2 AND numeric_frac <= 0.3) AS passes
    FROM m
    """,
)
def c03_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1, the
    filter set FineWeb/RefinedWeb descend from), adapted to the synthetic
    corpus' scale: word-count bounds, mean-word-length band, minimum
    stopword evidence, numeric-token ceiling — each rule a pure codegen
    array expression folded into the scan projection, with per-rule flags
    kept (the audit trail a filtering pipeline must emit, not just the
    verdict). Zero shuffles, zero UDFs."""
    d = table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda s: s != ""
    )
    n_words = F.size(words)
    sum_len = F.aggregate(
        F.transform(words, F.length),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_wl = F.when(
        n_words > 0, sum_len.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    stops = ("the", "and", "of", "to", "a", "in", "is", "that")
    n_stop = F.size(F.filter(words, lambda s: s.isin(*stops)))
    num_frac = F.when(
        n_words > 0,
        F.size(F.filter(words, lambda s: s.rlike(r"^\d+$"))).cast("double")
        / n_words.cast("double"),
    ).otherwise(F.lit(0.0))
    ok_length = n_words.between(10, 10000)
    ok_word_len = (mean_wl >= 2.0) & (mean_wl <= 8.0)
    ok_stop = n_stop >= 2
    ok_num = num_frac <= 0.3
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 9).alias("mean_word_len"),
        ok_length.alias("ok_length"),
        ok_word_len.alias("ok_word_len"),
        ok_stop.alias("ok_stopwords"),
        ok_num.alias("ok_numeric"),
        (ok_length & ok_word_len & ok_stop & ok_num).alias("passes"),
    )


@query(
    "x46_casefold_dedup",
    "X-dedup,X-text",
    oracle=r"""
    SELECT md5(regexp_replace(lower(nfc_normalize(trim(text))),
               '\s+', ' ', 'g')) AS canon_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def x46_casefold_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize-then-dedup (the CCNet/CC-style normalization chain):
    NFC → casefold → whitespace collapse → digest → min-id survivor.
    Catches near-duplicates that differ only in case, composed Unicode
    forms, or spacing — invisible to the byte-exact x01. The NFC step is
    the x37 Arrow-batched UDF; everything after is codegen. One skinny
    (hash) shuffle, text never re-shuffles."""
    from gwasdb_spark.functions.text import nfc_normalize_udf

    d = table(spark, sf_dir, "documents")
    canon = F.regexp_replace(
        F.lower(nfc_normalize_udf()(F.trim(F.col("text")))), r"\s+", " "
    )
    return (
        d.select("doc_id", F.md5(canon).alias("canon_hash"))
        .groupBy("canon_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "x47_corpus_mix_report",
    "X-quality,A2",
    oracle=r"""
    WITH t AS (
      SELECT source, lang,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                  s -> s <> '')) AS BIGINT) AS n_tok
      FROM documents
    ),
    g AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM t GROUP BY 1, 2
    )
    SELECT source, lang, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE)
                 / (SELECT SUM(n_tokens) FROM g), 9) AS token_share
    FROM g
    """,
)
def x47_corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report — the (source × lang) token census every
    training-mix decision starts from: doc and token counts per cell plus
    each cell's share of the corpus token budget. One narrow aggregate;
    the corpus total rides as a broadcast 1-row cross join."""
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda s: s != "")
    )
    g = (
        d.select("source", "lang", n_tok.cast("long").alias("n_tok"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    tot = g.agg(F.sum("n_tokens").alias("tot"))
    return g.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.col("tot").cast("double"), 9
        ).alias("token_share"),
    )


@query(
    "mm05_modality_dispatch",
    "X-multimodal",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN 'image/png'
               WHEN 1 THEN 'audio/wav'
               ELSE 'video/mp4' END AS media_type,
             sha256(text) AS hx,
             octet_length(encode(text)) AS n
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, media_type,
           CASE WHEN media_type LIKE 'image/%' THEN 'pixel_mean_stub'
                WHEN media_type LIKE 'audio/%' THEN 'energy_stub'
                ELSE 'n_frames' END AS feat_kind,
           ROUND(CASE
             WHEN media_type LIKE 'image/%' THEN
               ((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1)) / 255.0
             WHEN media_type LIKE 'audio/%' THEN
               ((instr('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
                + (instr('0123456789abcdef', substr(hx, 4, 1)) - 1)) / 255.0
             ELSE CAST(ceil(n / 64.0) AS DOUBLE) END, 9) AS feat_val
    FROM b
    """,
)
def mm05_modality_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-modality feature extraction in ONE mapInPandas stage
    (multimodal/binary.py dispatch_features): image, audio and video rows
    interleave in one binary table; each Arrow batch is sliced by
    media_type and routed to its own vectorized path — no per-type
    repartition, no per-type scan. Decoders are the documented
    deterministic stubs, so the ROUTING is what the oracle checks: each
    row must come back through exactly its modality's path."""
    from gwasdb_spark.multimodal.binary import dispatch_features, to_binary_table

    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    bt = to_binary_table(d).withColumn(
        "media_type",
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4"),
    )
    out = dispatch_features(bt)
    return out.select(
        "doc_id", "media_type", "feat_kind", F.round("feat_val", 9).alias("feat_val")
    )


@query("x05d_ann_ivf_topk", "X-sim", oracle=_X05_EXACT_TOPK_ORACLE)
def x05d_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (second scale path next to LSH): spherical-k-means
    cells trained once (sampled k-means|| at scale), corpus assigned via
    vectorized matmul, queries probe nprobe nearest cells only.

    Adaptive index selection: in the flat regime (corpus ≤ 1000, the
    correctness SFs) every cell is probed (nprobe = n_cells), so the full
    train/assign/probe machinery runs with recall exactly 1 — hash-checked
    against the brute-force oracle. Above that, nprobe=6/16.

    Measured at sf0.01 on the UNIFORM random corpus (IVF's adversarial
    case — no cluster structure): recall vs exact top-10 is 0.52 at
    nprobe=4/16, 0.76 at 6/16, 0.86 at 8/16. On the near-dup corpus the
    recall test holds ≥19/20. nprobe=6 balances recall vs the 6/16 scan
    fraction there."""
    from gwasdb_spark.operators.similarity import ivf_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    nprobe = 16 if _ann_flat_regime(e) else 6
    res = ivf_topk(q, e, "vec_id", "embedding", k=10, n_cells=16, nprobe=nprobe)
    return res.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    ).orderBy("query_id", "rank")


@query(
    "c01_corpus_clean",
    "X-text,X-dedup",
    oracle=r"""
    WITH q AS (
      SELECT doc_id, text,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws,
             CASE WHEN length(text) > 0
                  THEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
                            AS DOUBLE) / length(text)
                  ELSE 0.0 END AS pr,
             CAST(len(regexp_extract_all(lower(text),
                  '\b(the|and|of|to|a|in|is|that)\b')) AS BIGINT) AS n_sw
      FROM documents
    ),
    scored AS (
      SELECT doc_id, n_ws,
             ROUND(
               0.3 * (CASE WHEN length(text) BETWEEN 50 AND 20000
                           THEN 1.0 ELSE 0.3 END)
             + 0.4 * LEAST(
                 (CASE WHEN n_ws > 0
                       THEN CAST(n_sw AS DOUBLE) / n_ws ELSE 0.0 END) * 2.5,
                 1.0)
             + 0.3 * (1.0 - LEAST(pr * 4.0, 1.0)),
             9) AS quality
      FROM q
    ),
    keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    )
    SELECT s.doc_id, s.n_ws AS n_tokens, s.quality
    FROM scored s JOIN keepers USING (doc_id)
    WHERE s.quality >= 0.5 AND s.n_ws >= 10
    """,
)
def c01_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-corpus cleaning pipeline — the operators composed
    the way a real data pipeline runs them: heuristic quality gate
    (length/stopword/punctuation score >= 0.5) + minimum token count +
    exact-dedup survivor selection (min-id per content digest), in ONE
    declarative plan: the quality expressions fold into the scan
    projection, the dedup survivor check is a semi-join against the
    digest aggregate."""
    d = table(spark, sf_dir, "documents")
    survivors = DD.exact_duplicates(d, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    return (
        d.select(
            "doc_id",
            TX.n_tokens_ws(F.col("text")).alias("n_tokens"),
            TX.quality_score(F.col("text")).alias("quality"),
        )
        .join(survivors, "doc_id", "left_semi")
        .filter((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 10))
    )


@query(
    "sk01_salted_join",
    "§4,J-scale",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderdate, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    """,
)
def sk01_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact⋈dim join (8 salts): the planned-ahead hot-key mitigation
    when broadcast is off the table and AQE's runtime split is too late.
    Must be result-identical to the plain join — the oracle IS the plain
    join."""
    from gwasdb_spark.operators.skew import salted_join

    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    return salted_join(l, o, "l_orderkey", how="inner", salts=8).select(
        "l_orderkey", "l_linenumber", "o_orderdate", "o_totalprice"
    )


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Stage lineitem and orders as BUCKETED tables (8 buckets on the join
    key, sorted within buckets), built once per (process, sf_dir). External
    tables: data lands under the per-process stage dir, only the metastore
    entry lives in the session catalog. Returns the two table names."""
    from gwasdb_spark.operators.maintenance import write_bucketed
    from gwasdb_spark.plans.helpers import stage_dir

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    li_name, o_name = f"li_bkt_{tag}", f"o_bkt_{tag}"
    if not spark.catalog.tableExists(li_name):
        write_bucketed(
            table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_linenumber", "l_quantity"
            ),
            li_name,
            "l_orderkey",
            path=stage_dir(f"bkt_{tag}/lineitem"),
        )
    if not spark.catalog.tableExists(o_name):
        write_bucketed(
            table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_totalprice", "o_orderpriority"
            ),
            o_name,
            "o_orderkey",
            path=stage_dir(f"bkt_{tag}/orders"),
        )
    return li_name, o_name


@query(
    "sk02_bucketed_join",
    "§4,J-scale",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    """,
)
def sk02_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact⋈fact join via BUCKETING — the pre-shuffle answer to
    a join both of whose sides are too big to broadcast: both tables are
    bucketed 8-ways on the join key and sorted within buckets, so the
    sort-merge join consumes matching buckets directly — ZERO Exchange on
    either side (plan-guarded in tests/test_plan_shape.py). At 100 TB this
    converts every recurring join on the bucketed key from a full shuffle
    of both relations into a file-local merge; the bucketing cost is paid
    once at write time. The merge hint pins SMJ so the demo measures the
    bucketed path, not a small-SF broadcast."""
    li_name, o_name = _bucketed_tables(spark, sf_dir)
    li = spark.table(li_name)
    o = spark.table(o_name).filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        li.hint("merge")
        .join(o.hint("merge"), li["l_orderkey"] == o["o_orderkey"])
        .select("l_orderkey", "l_linenumber", "o_totalprice")
    )


@query(
    "x12_bm25_search",
    "X-text,X-search",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    postings AS (
      SELECT doc, term, COUNT(*) AS tf FROM toks WHERE term <> ''
      GROUP BY 1, 2
    ),
    doclen AS (SELECT doc, SUM(tf) AS dl FROM postings GROUP BY 1),
    consts AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM doclen) AS avgdl
    ),
    q(term) AS (VALUES ('hash'), ('join'), ('vector')),
    hit AS (SELECT p.doc, p.term, p.tf FROM postings p JOIN q USING (term)),
    dfc AS (SELECT term, COUNT(DISTINCT doc) AS df_t FROM hit GROUP BY 1),
    scored AS (
      SELECT doc,
             SUM(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                 * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             ) AS score
      FROM hit JOIN dfc USING (term) JOIN doclen USING (doc) CROSS JOIN consts
      GROUP BY doc
    )
    SELECT doc AS doc_id, ROUND(score, 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT doc, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def x12_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked search for a 3-term query over the documents table —
    the inverted-index access path expressed declaratively: postings
    pruned to the query's terms by a broadcast semi-join BEFORE any
    scoring fan-out, tf/df as exact integer aggregates, fixed-order
    floating arithmetic. Oracle replicates the arithmetic verbatim."""
    from gwasdb_spark.operators.search import bm25_topk

    d = table(spark, sf_dir, "documents")
    return bm25_topk(d, ["hash", "join", "vector"], "doc_id", "text", k=10)


@query(
    "x12b_bm25_and",
    "X-text,X-search",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    postings AS (
      SELECT doc, term, COUNT(*) AS tf FROM toks WHERE term <> ''
      GROUP BY 1, 2
    ),
    doclen AS (SELECT doc, SUM(tf) AS dl FROM postings GROUP BY 1),
    consts AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM doclen) AS avgdl
    ),
    q(term) AS (VALUES ('hash'), ('join'), ('vector')),
    hit AS (SELECT p.doc, p.term, p.tf FROM postings p JOIN q USING (term)),
    dfc AS (SELECT term, COUNT(DISTINCT doc) AS df_t FROM hit GROUP BY 1),
    scored AS (
      SELECT doc,
             SUM(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                 * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             ) AS score
      FROM hit JOIN dfc USING (term) JOIN doclen USING (doc) CROSS JOIN consts
      GROUP BY doc
      HAVING COUNT(*) = 3
    )
    SELECT doc AS doc_id, ROUND(score, 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT doc, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def x12b_bm25_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with AND semantics: only docs matching EVERY query term rank.
    Same single-plan scorer as x12 (constants in-plan, no driver
    actions); the all-terms gate is a HAVING on matched-term count."""
    from gwasdb_spark.operators.search import bm25_topk

    d = table(spark, sf_dir, "documents")
    return bm25_topk(
        d, ["hash", "join", "vector"], "doc_id", "text", k=10, mode="and"
    )


@query(
    "x12c_bm25_phrase",
    "X-text,X-search",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    postings AS (
      SELECT doc, term, COUNT(*) AS tf FROM toks WHERE term <> ''
      GROUP BY 1, 2
    ),
    doclen AS (SELECT doc, SUM(tf) AS dl FROM postings GROUP BY 1),
    consts AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM doclen) AS avgdl
    ),
    phrase_docs AS (
      SELECT doc_id AS doc FROM documents
      WHERE regexp_matches(lower(text),
                           '(^|[^a-z0-9])hash[^a-z0-9]+join([^a-z0-9]|$)')
    ),
    q(term) AS (VALUES ('hash'), ('join')),
    hit AS (
      SELECT p.doc, p.term, p.tf
      FROM postings p JOIN q USING (term) JOIN phrase_docs USING (doc)
    ),
    dfc AS (SELECT term, COUNT(DISTINCT doc) AS df_t FROM hit GROUP BY 1),
    scored AS (
      SELECT doc,
             SUM(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                 * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             ) AS score
      FROM hit JOIN dfc USING (term) JOIN doclen USING (doc) CROSS JOIN consts
      GROUP BY doc
    )
    SELECT doc AS doc_id, ROUND(score, 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT doc, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def x12c_bm25_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search ("hash join" adjacent, in order) ranked by
    constituent-term BM25 — the standard filter-then-rank shape. The
    phrase filter is an m-way positional equi-join on single-term pruned
    postings (occurrence = terms at consecutive split positions), never a
    corpus scan per phrase; the oracle replicates adjacency with a
    tokenizer-equivalent regex."""
    from gwasdb_spark.operators.search import bm25_topk

    d = table(spark, sf_dir, "documents")
    return bm25_topk(d, ["hash", "join"], "doc_id", "text", k=10, mode="phrase")


@query(
    "st06_stream_stream_join",
    "X-stream,J-interval",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id
    FROM events c JOIN events e
      ON c.user_id = e.user_id
     AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
    WHERE c.event_type = 'click' AND e.event_type = 'error'
    """,
)
def st06_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE stream-stream interval join (click → error within 10 min per
    user), both sides watermarked so join state stays bounded. Run to
    completion over the events file stream; oracle is the equivalent batch
    self-join."""
    from gwasdb_spark.streaming.events import (
        click_error_funnel_stream,
        read_events_stream,
        run_available_now,
    )

    path = f"{sf_dir}/events.parquet"
    clicks = read_events_stream(spark, path).filter(F.col("event_type") == "click")
    errors = read_events_stream(spark, path).filter(F.col("event_type") == "error")
    out = run_available_now(
        click_error_funnel_stream(clicks, errors), "append"
    )
    return out.select("user_id", "click_id", "error_id")


@query(
    "st07_stream_left_outer_join",
    "X-stream,J-interval",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id
    FROM events c LEFT JOIN events e
      ON c.user_id = e.user_id
     AND e.event_type = 'error'
     AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
    WHERE c.event_type = 'click'
    """,
)
def st07_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE stream-stream LEFT OUTER interval join: every click, paired
    with following errors within 10 min or null error columns — the
    "clicks with NO error" funnel users actually ask for (filter
    error_id IS NULL). Null rows are watermark-eviction output, so the
    bounded replay appends click+error sentinels (user_id -1) past the
    tail to push BOTH filtered streams' watermarks over every pending
    interval — a live stream advances naturally. Oracle is the
    equivalent batch LEFT JOIN."""
    from gwasdb_spark.streaming.events import (
        click_error_left_outer_stream,
        read_events_stream,
        run_available_now,
        stream_dir_with_flush,
    )

    d = stream_dir_with_flush(
        f"{sf_dir}/events.parquet", sentinel_types=("click", "error")
    )
    clicks = read_events_stream(spark, d).filter(F.col("event_type") == "click")
    errors = read_events_stream(spark, d).filter(F.col("event_type") == "error")
    out = run_available_now(
        click_error_left_outer_stream(clicks, errors), "append"
    )
    return out.filter(F.col("user_id") >= 0).select(
        "user_id", "click_id", "error_id"
    )


@query(
    "x13_sketch_aggregates",
    "A-approx",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
    FROM events GROUP BY event_type
    """,
)
def x13_sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates per event type: HyperLogLog++ distinct
    users (approx_count_distinct, rsd=0.01) and approximate value
    percentiles (accuracy 10k) — the sub-linear-memory path for 100 TB
    cardinality and quantile questions.

    GRADUATED from the no-oracle set in round 12 via the bound-check
    formulation (r11 verdict #5): sketch ESTIMATES are engine-specific
    (no DuckDB twin computes the same HLL registers or quantile
    summary), so the hashed contract is the error-bound predicate
    itself, per group — `hll_ok` = |est − exact| ≤ max(2, 3σ) with σ =
    rsd·exact (3-sigma of the advertised 1% rsd), and each `pNN_ok` =
    the approx percentile lies inside the EXACT ±2%-rank value band
    around its target (far wider than the sketch's 1/accuracy = 0.01%
    rank guarantee, tight enough that a broken sketch cannot pass).
    The oracle pins every flag to literal TRUE plus the exact
    n_events / n_users anchors, so a degraded sketch (register
    corruption, summary-merge drift, accuracy regression) breaks the
    driver hash instead of hiding behind a rows-only check. The exact
    twins ride the SAME single group-by pass — one shuffle, map-side
    partials; at 100 TB you would drop the exact columns and keep the
    sketches, which is the point of the bound being the contract.
    tests/test_sketches.py additionally pins exact-twin equality for
    the percentiles below the accuracy threshold and 3-sigma HLL
    determinism."""
    e = table(spark, sf_dir, "events")
    pcts = F.percentile_approx("value", [0.5, 0.95, 0.99], 10_000)
    # exact ±2%-rank bands per target percentile (p99's upper clamps
    # to the max); Spark-exact `percentile` interpolates, the sketch
    # is nearest-rank — a ±2% rank band absorbs that convention gap
    # at every SF while staying 200x looser than the sketch's own
    # rank-error guarantee, i.e. it only trips on real degradation
    bands = F.expr(
        "percentile(value, array(0.48D, 0.52D, 0.93D, 0.97D, 0.97D, 1.0D))"
    )
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users_exact"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        pcts.alias("value_pcts"),
        bands.alias("bandv"),
    )
    hll_err = F.abs(F.col("approx_users") - F.col("n_users_exact"))
    return agg.select(
        "event_type",
        "n_events",
        "n_users_exact",
        (hll_err <= F.greatest(
            F.lit(2.0), F.col("n_users_exact") * 0.03
        )).alias("hll_ok"),
        F.col("value_pcts")[0].between(
            F.col("bandv")[0], F.col("bandv")[1]
        ).alias("p50_ok"),
        F.col("value_pcts")[1].between(
            F.col("bandv")[2], F.col("bandv")[3]
        ).alias("p95_ok"),
        F.col("value_pcts")[2].between(
            F.col("bandv")[4], F.col("bandv")[5]
        ).alias("p99_ok"),
    )


@query(
    "x14_asof_join",
    "X-stream,J-asof",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
         e AS (SELECT * FROM events WHERE event_type = 'error')
    SELECT c.event_id, c.user_id, e.value AS asof_value
    FROM c ASOF LEFT JOIN e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
)
def x14_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has none built in): each click gains the value of
    the user's most recent prior-or-equal error. Composed as union +
    last-ignorenulls window — ONE shuffle of |L|+|R| skinny rows, no
    O(|L|·|R|) pair blow-up. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from gwasdb_spark.operators.asof import asof_join_backward

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    errors = ev.filter(F.col("event_type") == "error")
    out = asof_join_backward(
        clicks, errors, ts_col="ts", by_cols=["user_id"],
        value_cols=["value"], tiebreak_col="event_id",
    )
    return out.select("event_id", "user_id", F.col("asof_value"))


@query(
    "x15_value_outliers",
    "A-moments,X-quality",
    oracle="""
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s1,
             SUM(CAST(ROUND(value * 100) AS BIGINT)
                 * CAST(ROUND(value * 100) AS BIGINT)) AS s2
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(
             (CAST(ROUND(e.value * 100) AS BIGINT) - CAST(m.s1 AS DOUBLE) / m.n)
             / sqrt(CAST(m.s2 AS DOUBLE) / m.n
                    - (CAST(m.s1 AS DOUBLE) / m.n) * (CAST(m.s1 AS DOUBLE) / m.n)),
             6) AS zscore
    FROM events e JOIN m USING (event_type)
    WHERE abs(
            (CAST(ROUND(e.value * 100) AS BIGINT) - CAST(m.s1 AS DOUBLE) / m.n)
            / sqrt(CAST(m.s2 AS DOUBLE) / m.n
                   - (CAST(m.s1 AS DOUBLE) / m.n) * (CAST(m.s1 AS DOUBLE) / m.n))
          ) >= 2.5
    """,
)
def x15_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| >= 2.5) with EXACT integer
    moments: count/sum/sum-of-squares accumulate in scaled-bigint cents
    (order-independent), mean/variance derive from those three integers
    with a fixed expression order — so both engines produce bit-identical
    doubles, unlike naive avg/stddev whose partial-aggregation order
    drifts. The moments join broadcasts (one row per event type)."""
    e = table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100).cast("long")
    m = (
        e.select("event_type", vc.alias("vc"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vc").alias("s1"),
            F.sum(F.col("vc") * F.col("vc")).alias("s2"),
        )
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    z = (vc - mean) / F.sqrt(var)
    return (
        e.join(F.broadcast(m), "event_type")
        .select("event_id", "event_type", F.round(z, 6).alias("zscore"), z.alias("__z"))
        .filter(F.abs(F.col("__z")) >= 2.5)
        .drop("__z")
    )


# ---------------------------------------------------------------------------
# dataset assembly: splits, packing, quotas, contamination
# ---------------------------------------------------------------------------


@query(
    "x48_mlm_masking",
    "X-sample,X-text",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         s -> s <> '') AS words
      FROM documents
    ),
    t AS (
      SELECT doc_id, len(words) AS n_tokens,
             list_filter(range(1, len(words) + 1),
               p -> substring(md5(CAST(doc_id AS VARCHAR) || ':'
                                  || CAST(p AS VARCHAR)), 1, 2) <= '26')
               AS masked
      FROM w
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(len(masked) AS BIGINT) AS n_masked,
           -- DuckDB's array_to_string of an EMPTY list is NULL (Spark's
           -- array_join is '') — coalesce to match
           COALESCE(array_to_string(list_transform(
             CASE WHEN len(masked) > 16 THEN masked[1:16] ELSE masked END,
             p -> CAST(p AS VARCHAR)), ','), '') AS first_masked_csv
    FROM t
    """,
)
def x48_mlm_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic masked-LM token selection — the MLM/span-corruption
    prep step done CONTENT-ADDRESSED instead of with an RNG: token
    position p of doc d is masked iff the first two hex chars of
    md5(d:p) fall below '27' (38/256 ≈ 14.8%, the BERT-class ~15% rate).
    Reproducible on any engine and any re-run, no seed state to
    checkpoint — the same trick as x16's hash split, applied per-token.
    Emits the mask count and the first 16 masked positions (bounded
    audit column); all codegen array ops, no shuffle."""
    d = table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda s: s != ""
    )
    n_tokens = F.size(words)
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not empty
    positions = F.when(n_tokens > 0, F.sequence(F.lit(1), n_tokens)).otherwise(
        F.array().cast("array<int>")
    )
    key = lambda p: F.concat(  # noqa: E731
        F.col("doc_id").cast("string"), F.lit(":"), p.cast("string")
    )
    masked = F.filter(
        positions, lambda p: F.substring(F.md5(key(p)), 1, 2) <= "26"
    )
    first16 = F.when(
        F.size(masked) > 16, F.slice(masked, 1, 16)
    ).otherwise(masked)
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.size(masked).cast("long").alias("n_masked"),
        F.array_join(
            F.transform(first16, lambda p: p.cast("string")), ","
        ).alias("first_masked_csv"),
    )


@query(
    "x51_pmi_collocations",
    "X-text",
    oracle=r"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    toks2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    df AS (
      SELECT term, COUNT(*) AS df_t FROM toks2 GROUP BY term
      HAVING COUNT(*) >= 20
    ),
    kept AS (SELECT t.doc_id, t.term FROM toks2 t JOIN df USING (term)),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_ab
      FROM kept a JOIN kept b
        ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2 HAVING COUNT(*) >= 10
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks2)
    SELECT term_a, term_b, CAST(n_ab AS BIGINT) AS n_ab,
           ROUND(ln(CAST(n_ab AS DOUBLE) * n_docs
                    / (da.df_t * CAST(db.df_t AS DOUBLE))), 9) AS pmi
    FROM pairs
    JOIN df da ON da.term = term_a
    JOIN df db ON db.term = term_b
    CROSS JOIN n
    """,
)
def x51_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocations over document
    co-occurrence — the corpus-linguistics signal behind phrase mining
    and tokenizer merge candidates. Pair space is BOUNDED before any
    fan-out: only terms in ≥20 docs participate and only pairs
    co-occurring ≥10 times emerge, so the per-doc self-join explodes
    (kept-terms-per-doc)², never vocabulary². Presence-based (distinct
    term per doc); PMI = ln(n_ab·N / (df_a·df_b)); corpus size rides as
    a broadcast 1-row cross join."""
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.split(F.lower(F.trim(F.col("text"))), r"[^a-z0-9]+")
                )
            ).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    df_t = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
        .filter(F.col("df_t") >= 20)
    )
    kept = toks.join(F.broadcast(df_t.select("term")), "term")
    a = kept.select("doc_id", F.col("term").alias("term_a"))
    b = kept.select("doc_id", F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 10)
    )
    n = toks.agg(F.count_distinct("doc_id").alias("n_docs"))
    pmi = F.log(
        F.col("n_ab").cast("double")
        * F.col("n_docs")
        / (F.col("df_a") * F.col("df_b").cast("double"))
    )
    return (
        pairs.join(
            F.broadcast(df_t.select(F.col("term").alias("term_a"),
                                    F.col("df_t").alias("df_a"))),
            "term_a",
        )
        .join(
            F.broadcast(df_t.select(F.col("term").alias("term_b"),
                                    F.col("df_t").alias("df_b"))),
            "term_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "term_a", "term_b", "n_ab", F.round(pmi, 9).alias("pmi")
        )
    )


@query(
    "x50_chunk_overlap",
    "X-text,X-sample",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         s -> s <> '') AS words
      FROM documents
    ),
    c AS (
      SELECT doc_id, len(words) AS n_words,
             unnest(range(0,
               greatest(CAST(ceil((len(words) - 64) / 48.0) AS BIGINT), 0)
                 + 1)) AS chunk_idx,
             words
      FROM w WHERE len(words) > 0
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(least(chunk_idx * 48 + 64, n_words) - chunk_idx * 48
                AS BIGINT) AS n_tokens,
           md5(array_to_string(
             words[CAST(chunk_idx * 48 + 1 AS BIGINT)
                   : CAST(least(chunk_idx * 48 + 64, n_words) AS BIGINT)],
             ' ')) AS chunk_digest
    FROM c
    """,
)
def x50_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking — the RAG/embedding prep step:
    64-token chunks at stride 48 (16-token overlap so no boundary loses
    context), last chunk truncated, every doc emits ≥1 chunk. The chunk
    text never materializes as its own shuffled column here — the digest
    proves exact chunk content; a production pipeline feeds the slice
    straight to the embedder. posexplode over a computed start grid +
    slice: codegen array ops, zero UDFs, zero shuffles."""
    d = table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda s: s != ""
    )
    base = d.select("doc_id", words.alias("words")).filter(
        F.size("words") > 0
    )
    n_words = F.size("words")
    # number of stride steps whose chunk still starts inside the doc:
    # ceil((n-64)/48) extra chunks after the first, clamped at 0
    n_chunks = (
        F.greatest(
            F.ceil((n_words - F.lit(64)).cast("double") / 48.0).cast("long"),
            F.lit(0).cast("long"),
        )
        + 1
    )
    grid = F.sequence(F.lit(0).cast("long"), n_chunks - 1)
    exploded = base.select(
        "doc_id",
        "words",
        n_words.alias("n_words"),
        F.explode(grid).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * 48
    end = F.least(start + 64, F.col("n_words"))
    chunk = F.slice(F.col("words"), (start + 1).cast("int"), (end - start).cast("int"))
    return exploded.select(
        "doc_id",
        "chunk_idx",
        (end - start).cast("long").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_digest"),
    )


@query(
    "s23_lang_partitioned_corpus",
    "S-ext,§4",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'
    """,
)
def s23_lang_partitioned_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned corpus layout + partition-pruned read: documents
    written partitionBy(lang), then a lang-bound read resolves to ONE
    partition directory — the directory listing itself is the index
    (PartitionFilters in the scan, plan-guarded in
    tests/test_plan_shape.py). The corpus twin of the warehouse's chr
    partitioning; at 100 TB a per-language training run reads only its
    language's files."""
    from gwasdb_spark.plans.helpers import stage_dir

    d = table(spark, sf_dir, "documents")
    # sf-keyed: one process touches several SFs (warmup, gate, driver);
    # an unkeyed stage would serve the first SF's corpus to the rest.
    path = stage_dir(
        f"corpus_by_lang_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    if not os.path.isdir(path):
        d.write.mode("overwrite").partitionBy("lang").parquet(path)
    return (
        spark.read.parquet(path)
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "x16_hash_split",
    "X-sample",
    oracle="""
    SELECT doc_id,
           CASE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                WHEN 'c' THEN 'val' WHEN 'd' THEN 'val'
                WHEN 'e' THEN 'test' WHEN 'f' THEN 'test'
                ELSE 'train' END AS split
    FROM documents
    """,
)
def x16_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed train/val/test split (12/2/2
    sixteenths of the md5 nibble space). Pure projection — parallel,
    reproducible across runs/engines, and stable under corpus growth
    (new ids never move old ids between splits, unlike rand(seed) with
    a changed row order)."""
    from gwasdb_spark.operators.sampling import hash_split

    d = table(spark, sf_dir, "documents")
    return hash_split(d, "doc_id").select("doc_id", "split")


@query(
    "x17_pack_chunks",
    "X-sample",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS start
      FROM t
    )
    SELECT doc_id AS id, n_tokens,
           CAST(start % 512 AS BIGINT) AS start_offset,
           CAST(start // 512 AS BIGINT) AS pack_id
    FROM c
    """,
)
def x17_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (512-token budget): every doc
    assigned the pack where it starts in the concatenated id-ordered
    token stream. The global running count is computed two-level —
    parallel per-id-bucket cumsums, one tiny window over bucket totals —
    never a single-task global Window (operators/sampling.py)."""
    from gwasdb_spark.functions import text as TX
    from gwasdb_spark.operators.sampling import packed_sequences

    d = table(spark, sf_dir, "documents")
    return packed_sequences(
        d, "doc_id", TX.n_tokens_ws(F.col("text")), budget=512
    )


@query(
    "x18_quota_per_lang",
    "X-sample,X-text",
    oracle=r"""
    WITH s AS (
      SELECT doc_id, text,
        CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|ein|nicht|mit)\b')) AS BIGINT) AS score_de,
        CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that)\b')) AS BIGINT) AS score_en,
        CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|un|es)\b')) AS BIGINT) AS score_es,
        CAST(len(regexp_extract_all(lower(text), '\b(le|la|de|et|un|est|que|pour)\b')) AS BIGINT) AS score_fr
      FROM documents
    ),
    lang AS (
      SELECT doc_id, text,
           CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                WHEN score_de >= score_en AND score_de >= score_es
                     AND score_de >= score_fr THEN 'de'
                WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
      FROM s
    ),
    q AS (
      SELECT doc_id, lang_pred,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws,
             CASE WHEN length(text) > 0
                  THEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
                            AS DOUBLE) / length(text)
                  ELSE 0.0 END AS pr,
             CAST(len(regexp_extract_all(lower(text),
                  '\b(the|and|of|to|a|in|is|that)\b')) AS BIGINT) AS n_sw,
             length(text) AS n_chars
      FROM lang
    ),
    scored AS (
      SELECT doc_id, lang_pred,
             ROUND(
               0.3 * (CASE WHEN n_chars BETWEEN 50 AND 20000
                           THEN 1.0 ELSE 0.3 END)
             + 0.4 * LEAST(
                 (CASE WHEN n_ws > 0
                       THEN CAST(n_sw AS DOUBLE) / n_ws ELSE 0.0 END) * 2.5,
                 1.0)
             + 0.3 * (1.0 - LEAST(pr * 4.0, 1.0)),
             9) AS quality
      FROM q
    ),
    ranked AS (
      SELECT doc_id, lang_pred, quality,
             ROW_NUMBER() OVER (PARTITION BY lang_pred
                                ORDER BY quality DESC, doc_id) AS rn
      FROM scored
    )
    SELECT doc_id, lang_pred, quality
    FROM ranked WHERE rn <= 20
    """,
)
def x18_quota_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balance quota: at most 20 docs per predicted language,
    best-quality first (deterministic doc_id tiebreak) — lang-id +
    quality scoring + windowed quota composed in one plan, the
    domain-mix primitive of corpus assembly."""
    from gwasdb_spark.functions import text as TX
    from gwasdb_spark.operators.sampling import quota_per_group

    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        TX.lang_id(F.col("text")).alias("lang_pred"),
        F.round(TX.quality_score(F.col("text")), 9).alias("quality"),
    )
    return quota_per_group(
        scored, "lang_pred", [F.desc("quality"), F.asc("doc_id")], k=20
    )


@query(
    "x19_contamination",
    "X-dedup,X-sample",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(w) - 7, 0) + 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                   || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]
                   || ' ' || w[i+7])) AS shingles
      FROM w
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    bench AS (SELECT DISTINCT s FROM ex WHERE doc_id < 20),
    hits AS (
      SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
      FROM ex e JOIN bench USING (s)
      WHERE e.doc_id >= 20
      GROUP BY 1
    )
    SELECT doc_id, n_shared_shingles FROM hits
    """,
)
def x19_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: corpus docs (id >= 20) sharing any
    8-gram word shingle with the benchmark set (id < 20), with distinct
    shared-shingle counts. Both sides reduce to 8-byte shingle hashes;
    the benchmark hash set broadcasts (fixed-size dim by nature). The
    oracle joins shingle STRINGS — hash-collision-free ground truth, the
    same discipline as x02."""
    from gwasdb_spark.operators.dedup import contaminated_docs

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 20)
    corpus = d.filter(F.col("doc_id") >= 20)
    return contaminated_docs(corpus, bench, "doc_id", "text", n=8)


@query(
    "x20_range_join",
    "X-sample,J-interval",
    oracle="""
    SELECT c.event_id AS click_id, e.event_id AS error_id
    FROM events c JOIN events e
      ON e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 5 MINUTE
    WHERE c.event_type = 'click' AND e.event_type = 'error'
    """,
)
def x20_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (NO equi-key): every click paired with every error
    in the following 5 minutes, across ALL users. Spark's native plan for
    this is BroadcastNestedLoopJoin — O(|L|*|R|) and broadcast-bound; the
    bucketed operator manufactures a gap-width time-bucket equi-key
    (left probes 2 buckets) so it runs as a plain shuffled equi-join,
    O(2|L|+|R|) shuffle (operators/range_join.py; plan-asserted no
    nested loop in tests/test_range_join.py)."""
    from gwasdb_spark.operators.range_join import range_join_bucketed

    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts")
    )
    return range_join_bucketed(
        clicks, errors, "c_ts", "e_ts", max_gap_seconds=300
    ).select("click_id", "error_id")


# ---------------------------------------------------------------------------
# corpus vocabulary & scrubbing
# ---------------------------------------------------------------------------


@query(
    "x21_top_terms",
    "X-text",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE token <> '' GROUP BY 1, 2
    ),
    dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    r AS (
      SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, dfq.df ASC,
                                         tf.token ASC) AS term_rank
      FROM tf JOIN dfq USING (token)
    )
    SELECT doc_id, token, tf, df, CAST(term_rank AS BIGINT) AS term_rank
    FROM r WHERE term_rank <= 5
    """,
)
def x21_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document salient terms: top-5 by (tf desc, df asc, token) —
    the tf-idf ordering expressed integer-only, so ranks are
    bit-identical across engines (no log() floats). tf and df are two
    partial-aggregated shuffles; the tf⋈df token join leaves stop-word
    skew to AQE skew-splitting (operators/vocab.py scale notes)."""
    from gwasdb_spark.operators.vocab import top_terms_per_doc

    d = table(spark, sf_dir, "documents")
    return top_terms_per_doc(d, "doc_id", "text", k=5).withColumn(
        "term_rank", F.col("term_rank").cast("long")
    )


@query(
    "x22_vocabulary",
    "X-text",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    ),
    stats AS (
      SELECT token,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM tok WHERE token <> '' GROUP BY 1
    )
    SELECT token, n_occurrences, n_docs,
           CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token)
                AS BIGINT) AS vocab_rank
    FROM stats
    ORDER BY vocab_rank LIMIT 40
    """,
)
def x22_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-40 tokens by occurrence count with
    document frequency. The head is taken with TakeOrdered (parallel
    per-partition top-n) BEFORE the rank window, so the un-partitioned
    row_number only ever sees 40 rows — never the full vocabulary
    (operators/vocab.py)."""
    from gwasdb_spark.operators.vocab import vocabulary

    d = table(spark, sf_dir, "documents")
    return vocabulary(d, "doc_id", "text", top_n=40).withColumn(
        "vocab_rank", F.col("vocab_rank").cast("long")
    )


@query(
    "x23_scrub_boilerplate",
    "X-text,F-regex",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\b(the|a|value|table|row)\b'))
                AS BIGINT) AS n_scrubbed,
           md5(trim(regexp_replace(
                 regexp_replace(text, '\b(the|a|value|table|row)\b', '', 'g'),
                 '\s+', ' ', 'g'))) AS clean_hash,
           CAST(length(trim(regexp_replace(
                 regexp_replace(text, '\b(the|a|value|table|row)\b', '', 'g'),
                 '\s+', ' ', 'g'))) AS BIGINT) AS clean_len
    FROM documents
    """,
)
def x23_scrub_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern scrub / redaction audit: strip a stop-phrase pattern set,
    emit per-doc match count, md5 of the scrubbed text, and its length.
    Pure codegen projection in the scan stage. The same operator does
    PII-style tagging (\\b\\d{3}[-.]... -> '<PHONE>') — exercised with
    real email/phone fixtures in tests/test_vocab.py; patterns stay in
    the RE2-compatible subset for Java/DuckDB parity
    (operators/vocab.py scrub_patterns)."""
    from gwasdb_spark.operators.vocab import scrub_patterns

    d = table(spark, sf_dir, "documents")
    return scrub_patterns(
        d, "text", [(r"\b(the|a|value|table|row)\b", "")]
    ).select(
        "doc_id",
        "n_scrubbed",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_hash"),
        F.length("clean_text").cast("long").alias("clean_len"),
    )


@query(
    "x24_reservoir_per_lang",
    "X-sample",
    oracle=r"""
    SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= 15
    """,
)
def x24_reservoir_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 15-doc sample per language: rows ranked inside each
    group by md5(id) — an engine-portable pseudo-random order, so the
    draw is reproducible across runs, engines, and partitionings (no
    rand() seed drift). One per-group window scan, no global sort
    (operators/vocab.py reservoir_per_group)."""
    from gwasdb_spark.operators.vocab import reservoir_per_group

    d = table(spark, sf_dir, "documents")
    return reservoir_per_group(d, "lang", "doc_id", k=15).select(
        "doc_id", "lang", F.col("sample_rank").cast("long").alias("sample_rank")
    )


@query(
    "x12d_bm25_boosted",
    "X-text,X-search",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    postings AS (
      SELECT doc, term, COUNT(*) AS tf FROM toks WHERE term <> ''
      GROUP BY 1, 2
    ),
    doclen AS (SELECT doc, SUM(tf) AS dl FROM postings GROUP BY 1),
    consts AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM doclen) AS avgdl
    ),
    q(term, boost) AS (VALUES ('hash', 2.0), ('join', 1.0), ('vector', 0.5)),
    hit AS (SELECT p.doc, p.term, p.tf, q.boost FROM postings p JOIN q USING (term)),
    dfc AS (SELECT term, COUNT(DISTINCT doc) AS df_t FROM hit GROUP BY 1),
    scored AS (
      SELECT doc,
             SUM(boost * ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                 * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             ) AS score
      FROM hit JOIN dfc USING (term) JOIN doclen USING (doc) CROSS JOIN consts
      GROUP BY doc
    )
    SELECT doc AS doc_id, ROUND(score, 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT doc, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def x12d_bm25_boosted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-side term weighting: per-term boosts (hash x2, vector x0.5)
    multiply each term's BM25 contribution. The boost travels inside the
    broadcast terms relation — identical plan shape to x12, different
    literals — so relevance tuning never re-plans the query."""
    from gwasdb_spark.operators.search import bm25_topk

    d = table(spark, sf_dir, "documents")
    return bm25_topk(
        d,
        ["hash", "join", "vector"],
        "doc_id",
        "text",
        k=10,
        boosts={"hash": 2.0, "vector": 0.5},
    )


@query(
    "x12e_bm25_multiphrase",
    "X-text,X-search",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    postings AS (
      SELECT doc, term, COUNT(*) AS tf FROM toks WHERE term <> ''
      GROUP BY 1, 2
    ),
    doclen AS (SELECT doc, SUM(tf) AS dl FROM postings GROUP BY 1),
    consts AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM doclen) AS avgdl
    ),
    p1 AS (
      SELECT doc_id AS doc FROM documents
      WHERE regexp_matches(lower(text),
                           '(^|[^a-z0-9])sort[^a-z0-9]+merge([^a-z0-9]|$)')
    ),
    p2 AS (
      SELECT doc_id AS doc FROM documents
      WHERE regexp_matches(lower(text),
                           '(^|[^a-z0-9])table[^a-z0-9]+scan([^a-z0-9]|$)')
    ),
    q(term) AS (VALUES ('sort'), ('merge'), ('table'), ('scan')),
    hit AS (
      SELECT p.doc, p.term, p.tf
      FROM postings p JOIN q USING (term)
           JOIN p1 USING (doc) JOIN p2 USING (doc)
    ),
    dfc AS (SELECT term, COUNT(DISTINCT doc) AS df_t FROM hit GROUP BY 1),
    scored AS (
      SELECT doc,
             SUM(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                 * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             ) AS score
      FROM hit JOIN dfc USING (term) JOIN doclen USING (doc) CROSS JOIN consts
      GROUP BY doc
    )
    SELECT doc AS doc_id, ROUND(score, 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT doc, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def x12e_bm25_multiphrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-phrase AND: docs must contain BOTH "sort merge" and
    "table scan" adjacently (each phrase its own positional-join
    semi-filter on pruned single-term postings), ranked by BM25 over the
    constituent terms. The filter-then-rank shape for compound queries."""
    from gwasdb_spark.operators.search import bm25_topk

    d = table(spark, sf_dir, "documents")
    return bm25_topk(
        d,
        ["sort", "merge", "table", "scan"],
        "doc_id",
        "text",
        k=10,
        phrases=[["sort", "merge"], ["table", "scan"]],
    )


@query(
    "x12f_bm25_proximity",
    "X-text,X-search",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    postings AS (
      SELECT doc, term, COUNT(*) AS tf FROM toks WHERE term <> ''
      GROUP BY 1, 2
    ),
    doclen AS (SELECT doc, SUM(tf) AS dl FROM postings GROUP BY 1),
    consts AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM doclen) AS avgdl
    ),
    q(term) AS (VALUES ('hash'), ('join'), ('vector')),
    hit AS (SELECT p.doc, p.term, p.tf FROM postings p JOIN q USING (term)),
    dfc AS (SELECT term, COUNT(DISTINCT doc) AS df_t FROM hit GROUP BY 1),
    scored AS (
      SELECT doc,
             SUM(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                 * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             ) AS score
      FROM hit JOIN dfc USING (term) JOIN doclen USING (doc) CROSS JOIN consts
      GROUP BY doc
    ),
    ptoks AS (
      SELECT doc, term, pos FROM (
        SELECT doc_id AS doc,
               unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+'))
                 AS term,
               generate_subscripts(
                 string_split_regex(lower(trim(text)), '[^a-z0-9]+'), 1) AS pos
        FROM documents
      ) r WHERE term <> ''
    ),
    qtok AS (SELECT doc, term, pos FROM ptoks JOIN q USING (term)),
    prox AS (
      SELECT a.doc, MIN(ABS(a.pos - b.pos)) AS min_dist
      FROM qtok a JOIN qtok b ON a.doc = b.doc AND a.term < b.term
      GROUP BY a.doc
    ),
    adj AS (
      SELECT s.doc,
             s.score * COALESCE(1.0 + 1.0 / (1.0 + CAST(p.min_dist AS DOUBLE)),
                                1.0) AS score
      FROM scored s LEFT JOIN prox p USING (doc)
    )
    SELECT doc AS doc_id, ROUND(score, 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT doc, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS rank
      FROM adj
    ) WHERE rank <= 10
    """,
)
def x12f_bm25_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity-decayed BM25: same 3-term query as x12, but each doc's
    score is multiplied by 1 + 1/(1 + min positional gap between two
    distinct query terms) — co-located matches outrank scattered ones.
    The gap enumeration self-joins only the query-pruned positional
    postings (bounded by in-doc query-term occurrences), and the decay
    is fixed-order double arithmetic applied before rounding
    (operators/search.py bm25_topk proximity notes)."""
    from gwasdb_spark.operators.search import bm25_topk

    d = table(spark, sf_dir, "documents")
    return bm25_topk(
        d, ["hash", "join", "vector"], "doc_id", "text", k=10, proximity=True
    )


@query("x05e_ann_pq_topk", "X-sim", oracle=_X05_EXACT_TOPK_ORACLE)
def x05e_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN with exact re-rank (third scale path next to LSH
    and IVF): the corpus pass reads m-byte PQ codes (8 bytes/vector here
    vs 256 bytes raw), asymmetric-distance shortlists `refine`
    candidates per query, exact cosine re-ranks only the shortlist.

    Adaptive index selection: in the flat regime (corpus ≤ 1000, the
    correctness SFs) the ADC shortlist covers the whole corpus
    (refine ≥ n), so the exact re-rank restores recall 1 regardless of
    codebook quality — hash-checked against the brute-force oracle. Above
    that, refine=50; shortlist recall for the approximate regime is
    tested in tests/test_similarity.py."""
    from gwasdb_spark.operators.similarity import pq_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    refine = 2048 if _ann_flat_regime(e) else 50
    res = pq_topk(q, e, "vec_id", "embedding", k=10, m=8, nbits=4, refine=refine)
    return res.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    ).orderBy("query_id", "rank")


@query(
    "x14b_asof_forward",
    "X-stream,J-asof",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
         e AS (SELECT * FROM events WHERE event_type = 'error')
    SELECT c.event_id, c.user_id, r.asof_value
    FROM c LEFT JOIN LATERAL (
      SELECT e.value AS asof_value FROM e
      WHERE e.user_id = c.user_id AND e.ts >= c.ts
      ORDER BY e.ts, e.event_id LIMIT 1
    ) r ON TRUE
    """,
)
def x14b_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click gains the value of the user's NEXT
    error at-or-after it — same single-shuffle union+window composition
    as x14, with the carry frame flipped to first-following. Oracle:
    correlated LATERAL top-1 (DuckDB's ASOF is backward-only)."""
    from gwasdb_spark.operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    errors = ev.filter(F.col("event_type") == "error")
    out = asof_join(
        clicks, errors, ts_col="ts", by_cols=["user_id"],
        value_cols=["value"], tiebreak_col="event_id", direction="forward",
    )
    return out.select("event_id", "user_id", F.col("asof_value"))


@query(
    "x14c_asof_nearest",
    "X-stream,J-asof",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
         e AS (SELECT * FROM events WHERE event_type = 'error')
    SELECT c.event_id, c.user_id, r.asof_value
    FROM c LEFT JOIN LATERAL (
      SELECT e.value AS asof_value FROM e
      WHERE e.user_id = c.user_id
      ORDER BY abs(epoch(c.ts) - epoch(e.ts)),
               CASE WHEN e.ts <= c.ts THEN 0 ELSE 1 END,
               CASE WHEN e.ts <= c.ts THEN -e.event_id ELSE e.event_id END
      LIMIT 1
    ) r ON TRUE
    """,
)
def x14c_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: each click gains the value of the user's
    temporally CLOSEST error, equidistant resolving backward (pandas
    merge_asof semantics). Both window frames (preceding + following)
    evaluate over ONE exchange. Oracle: correlated LATERAL ranked by
    absolute gap with the backward/tiebreak preference spelled out."""
    from gwasdb_spark.operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    errors = ev.filter(F.col("event_type") == "error")
    out = asof_join(
        clicks, errors, ts_col="ts", by_cols=["user_id"],
        value_cols=["value"], tiebreak_col="event_id", direction="nearest",
    )
    return out.select("event_id", "user_id", F.col("asof_value"))


@query(
    "x05g_filtered_topk",
    "X-sim",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label
          FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, q.label AS fkey,
             {_COS_SQL.format(a='qv', b='cv')}
               / (sqrt({_COS_SQL.format(a='qv', b='qv')})
                  * sqrt({_COS_SQL.format(a='cv', b='cv')})) AS cos_raw
      FROM q JOIN c ON q.label = c.label
      WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(fkey AS INT) AS fkey,
           CAST(rank AS BIGINT) AS rank, ROUND(cos_raw, 6) AS cosine
    FROM (
      SELECT query_id, neighbor_id, fkey, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def x05g_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search: top-5 cosine neighbors per query
    AMONG ROWS SHARING THE QUERY'S LABEL. The filter predicate becomes
    the join key (equi-join, not cross join) so each query scores only
    its segment — the tenant-scoped retrieval shape
    (operators/similarity.py filtered_topk)."""
    from gwasdb_spark.operators.similarity import filtered_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    res = filtered_topk(q, e, "label", "vec_id", "embedding", k=5)
    return res.select(
        "query_id", "neighbor_id", "fkey", "rank",
        F.round("cosine", 6).alias("cosine"),
    )


@query(
    "x32_hybrid_rrf",
    "X-search,X-sim",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    postings AS (
      SELECT doc, term, COUNT(*) AS tf FROM toks WHERE term <> ''
      GROUP BY 1, 2
    ),
    doclen AS (SELECT doc, SUM(tf) AS dl FROM postings GROUP BY 1),
    consts AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM doclen) AS avgdl
    ),
    qt(term) AS (VALUES ('hash'), ('join'), ('vector')),
    hit AS (SELECT p.doc, p.term, p.tf FROM postings p JOIN qt USING (term)),
    dfc AS (SELECT term, COUNT(DISTINCT doc) AS df_t FROM hit GROUP BY 1),
    bm25s AS (
      SELECT doc,
             SUM(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                 * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             ) AS score
      FROM hit JOIN dfc USING (term) JOIN doclen USING (doc) CROSS JOIN consts
      GROUP BY doc
    ),
    bm25r AS (
      SELECT doc AS doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS rank
      FROM bm25s QUALIFY rank <= 20
    ),
    qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cosr AS (
      SELECT neighbor_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM (
        SELECT vec_id AS neighbor_id,
               {_COS_SQL.format(a='qv', b='embedding')}
                 / (sqrt({_COS_SQL.format(a='qv', b='qv')})
                    * sqrt({_COS_SQL.format(a='embedding', b='embedding')}))
                 AS cos_raw
        FROM embeddings CROSS JOIN qv WHERE vec_id != 0
      ) QUALIFY rank <= 20
    ),
    contrib AS (
      SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM bm25r
      UNION ALL
      SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM cosr
    ),
    fused AS (SELECT doc_id, SUM(c) AS rrf_score FROM contrib GROUP BY 1)
    SELECT doc_id, ROUND(rrf_score, 6) AS rrf_score, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT doc_id, rrf_score,
             ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
      FROM fused
    ) WHERE rank <= 10
    """,
)
def x32_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 keyword candidates (top-20 for a 3-term
    query) fused with dense cosine candidates (top-20 around doc 0's
    embedding; doc_id ≡ vec_id) by reciprocal-rank fusion, final top-10.
    Each retriever keeps its own optimal plan (pruned postings / one
    corpus scan); fusion itself touches only the bounded candidate
    lists (operators/search.py rrf_fuse)."""
    from gwasdb_spark.operators.search import bm25_topk_indexed, rrf_fuse
    from gwasdb_spark.operators.similarity import brute_force_topk

    e = table(spark, sf_dir, "embeddings")
    # keyword arm reads the materialized index (result-identical to the
    # ad-hoc bm25_topk; drops four corpus scans from this query's plan)
    kw = bm25_topk_indexed(
        spark, _text_index(spark, sf_dir), ["hash", "join", "vector"],
        "doc_id", k=20,
    ).select("doc_id", "rank")
    qv = e.filter(F.col("vec_id") == 0)
    dense = brute_force_topk(qv, e, "vec_id", "embedding", k=20).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([kw, dense], "doc_id", k=10)


@query(
    "st08_stream_sliding_rate",
    "X-stream,§2.10",
    oracle="""
    WITH w AS (
      SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
                        - k.k * INTERVAL '15 minutes',
                      '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type, value
      FROM events CROSS JOIN range(4) k(k)
    )
    SELECT window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0)
             AS total_value
    FROM w GROUP BY 1, 2
    """,
)
def st08_stream_sliding_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming sliding windows: 1-hour windows every 15 minutes per
    event type (each event belongs to exactly 4 overlapping windows) —
    the rate/SLA monitor. Oracle expands the same 4-window membership
    with a bounded cross join on the 15-minute grid; money sums in exact
    cents both sides."""
    from gwasdb_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        sliding_rate_stream,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_available_now(sliding_rate_stream(stream), "complete")


@query(
    "c02_training_mix",
    "X-pipeline",
    oracle=r"""
    WITH surv AS (
      SELECT doc_id, text, lang FROM (
        SELECT doc_id, text, lang,
               ROW_NUMBER() OVER (PARTITION BY md5(text)
                                  ORDER BY n_chars DESC, doc_id) AS rk
        FROM documents
      ) WHERE rk = 1
    ),
    scrub AS (
      SELECT doc_id, lang,
             regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'),
               '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '[PHONE]', 'g') AS stext,
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(text,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
             + len(regexp_extract_all(text,
               '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS n_pii
      FROM surv
    ),
    gated AS (
      SELECT doc_id, lang, CAST(n_pii AS BIGINT) AS n_pii,
             CAST(len(regexp_extract_all(stext, '\S+')) AS BIGINT) AS n_tokens
      FROM scrub
      WHERE len(regexp_extract_all(stext, '\S+')) >= 10
    ),
    splitd AS (
      SELECT *,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d')
                    THEN 'val'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f')
                    THEN 'test'
                  ELSE 'train' END AS split
      FROM gated
    ),
    packed AS (
      SELECT doc_id,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM splitd WHERE split = 'train'
    )
    SELECT s.doc_id, s.lang, s.split, s.n_tokens, s.n_pii,
           CAST(p.start // 2048 AS BIGINT) AS pack_id,
           CAST(p.start % 2048 AS BIGINT) AS start_offset
    FROM splitd s LEFT JOIN packed p USING (doc_id)
    """,
)
def c02_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data assembly in ONE declarative plan — the
    engine's flagship composite: canonical-doc dedup (keep best copy per
    content) → PII scrub → minimum-length gate on the SCRUBBED text →
    content-addressed train/val/test split → GPT-style concat-and-chunk
    packing of the train split (2048-token budget, two-level distributed
    cumsum — no global single-task window over documents).

    Every stage is the already-tested operator (dedup.keep_best_per_content,
    quality.pii_scrub, sampling.split_label/packed_sequences); the
    composition shuffles digests, token counts, and bucket totals — never
    raw text after the scrub projection."""
    from gwasdb_spark.functions import text as TX
    from gwasdb_spark.operators.dedup import keep_best_per_content
    from gwasdb_spark.operators.quality import pii_scrub
    from gwasdb_spark.operators.sampling import packed_sequences, split_label

    d = table(spark, sf_dir, "documents")
    kept = keep_best_per_content(d, "doc_id", "text", "n_chars").select("doc_id")
    base = d.join(kept, "doc_id", "left_semi")
    scrub = pii_scrub(base, "doc_id", "text")
    gated = (
        base.select("doc_id", "lang")
        .join(scrub, "doc_id")
        .select(
            "doc_id",
            "lang",
            (F.col("n_emails") + F.col("n_ips") + F.col("n_phones"))
            .cast("long")
            .alias("n_pii"),
            TX.n_tokens_ws(F.col("scrubbed_text")).cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") >= 10)
    )
    splitd = gated.withColumn("split", split_label(F.col("doc_id")))
    train = splitd.filter(F.col("split") == "train")
    packed = packed_sequences(train, "doc_id", F.col("n_tokens"), budget=2048).select(
        F.col("id").alias("doc_id"), "pack_id", "start_offset"
    )
    return splitd.join(packed, "doc_id", "left").select(
        "doc_id", "lang", "split", "n_tokens", "n_pii", "pack_id", "start_offset"
    )


@query(
    "st09_incremental_rollup_serve",
    "X-stream,§2.10",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0)
             AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def st09_incremental_rollup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE continuous-aggregate maintenance, end to end: the UPDATE-mode
    hourly rollup stream drives foreach_batch_upsert_rollup — dynamic
    partition overwrite rewrites exactly the (hour, event_type) keys each
    micro-batch touched — and the SERVING TABLE (plain partitioned
    parquet, directly queryable at any moment) is what this query
    returns. Write cost per batch is proportional to touched keys, not
    table size (the timescale hypertable-rollup shape). Oracle: the batch
    rollup SQL (st01's)."""
    return _serve_hourly_rollup(spark, sf_dir)


def _serve_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the UPDATE-mode hourly rollup stream to completion into a fresh
    per-run serving directory (dynamic-partition-overwrite upserts) and
    return the serving table — shared by st09 (raw serve) and st13
    (serve-time rank)."""
    import tempfile as _tf

    from gwasdb_spark.streaming.events import (
        foreach_batch_upsert_rollup,
        hourly_rollup_stream,
        read_events_stream,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    updates = hourly_rollup_stream(stream)
    base = _tf.mkdtemp(prefix="rollup_serve_")
    out = os.path.join(base, "serving")
    q = foreach_batch_upsert_rollup(
        updates, out, os.path.join(base, "ckpt")
    )
    q.awaitTermination()
    prev = spark.conf.get(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "true"
    )
    spark.conf.set(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "false"
    )
    try:
        serving = spark.read.parquet(out)
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionColumnTypeInference.enabled", prev
        )
    return serving.select("hour", "event_type", "n_events", "total_value")


@query(
    "st13_stream_trending",
    "X-stream,§2.10",
    oracle="""
    WITH rolled AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
             event_type, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT hour, event_type, n_events, CAST(rk AS BIGINT) AS rank
    FROM (
      SELECT hour, event_type, n_events,
             ROW_NUMBER() OVER (PARTITION BY hour
                                ORDER BY n_events DESC, event_type) AS rk
      FROM rolled
    ) WHERE rk <= 3
    """,
)
def st13_stream_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-items query over the LIVE rollup: per-hour top-3 event
    types by count, where the counting is the streaming upsert pipeline
    (st09's) and the rank is a serve-time window over the serving table.
    The split is the scalable design: a global top-k inside the stream
    would hold unbounded rank state, while the continuous aggregate keeps
    streaming state ∝ open windows and the serve-time rank costs O(rows
    of the rollup) — partitioned by hour, so ~|event types| per task."""
    serving = _serve_hourly_rollup(spark, sf_dir)
    w = Window.partitionBy("hour").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        serving.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("hour", "event_type", "n_events", "rank")
    )


# Built text indexes, keyed by (sf_dir, corpus FINGERPRINT), not sf_dir
# alone — if documents.parquet at the same path is regenerated
# mid-process the stale index is rebuilt, not silently served. (Build
# once per corpus per harness process — the serving-path contract:
# queries after the first measure pure query cost, not corpus
# tokenization.)
_TEXT_INDEX_CACHE: dict[tuple, str] = {}


def _text_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialized inverted index for sf_dir's current corpus, built on
    first use and rebuilt if the corpus file changes underneath."""
    import tempfile as _tf

    from gwasdb_spark.operators.search import build_text_index
    from gwasdb_spark.plans.mining_ops import _corpus_fingerprint

    key = (sf_dir, _corpus_fingerprint(sf_dir))
    idx = _TEXT_INDEX_CACHE.get(key)
    if idx is None or not os.path.isdir(os.path.join(idx, "postings")):
        idx = _tf.mkdtemp(prefix="text_index_")
        build_text_index(table(spark, sf_dir, "documents"), idx, "doc_id", "text")
        _TEXT_INDEX_CACHE[key] = idx
    return idx


# Full-corpus BM25 ground truth: shared by x12g (one-shot index build)
# and x62 (base build + incremental update) — both must reproduce it.
_X12G_FULL_BM25_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    postings AS (
      SELECT doc, term, COUNT(*) AS tf FROM toks WHERE term <> ''
      GROUP BY 1, 2
    ),
    doclen AS (SELECT doc, SUM(tf) AS dl FROM postings GROUP BY 1),
    consts AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM doclen) AS avgdl
    ),
    q(term) AS (VALUES ('hash'), ('join'), ('vector')),
    hit AS (SELECT p.doc, p.term, p.tf FROM postings p JOIN q USING (term)),
    dfc AS (SELECT term, COUNT(DISTINCT doc) AS df_t FROM hit GROUP BY 1),
    scored AS (
      SELECT doc,
             SUM(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                 * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             ) AS score
      FROM hit JOIN dfc USING (term) JOIN doclen USING (doc) CROSS JOIN consts
      GROUP BY doc
    )
    SELECT doc AS doc_id, ROUND(score, 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT doc, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@query(
    "x12g_bm25_indexed",
    "X-text,X-search",
    oracle=_X12G_FULL_BM25_ORACLE,
)
def x12g_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over a MATERIALIZED inverted index (term-sorted postings +
    doclen + constants parquet): per-query work scales with the query
    terms' posting lists, not the corpus — the serving path. bm25_topk's
    ad-hoc form scans the corpus per query; at 100 TB the index build
    amortizes after one query. The index is built once per process per
    sf_dir; the term-IN predicate prunes row groups via the sort order's
    min/max stats. Result-identical to x12 (same oracle)."""
    from gwasdb_spark.operators.search import bm25_topk_indexed

    idx = _text_index(spark, sf_dir)
    return bm25_topk_indexed(spark, idx, ["hash", "join", "vector"], "doc_id", k=10)


@query(
    "x12h_bm25_fielded",
    "X-text,X-search",
    oracle=r"""
    WITH tok_text AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tok_src AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(lower(trim(source)), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    p_text AS (
      SELECT doc, term, COUNT(*) * 1.0 AS wtf FROM tok_text WHERE term <> ''
      GROUP BY 1, 2
    ),
    p_src AS (
      SELECT doc, term, COUNT(*) * 3.0 AS wtf FROM tok_src WHERE term <> ''
      GROUP BY 1, 2
    ),
    postings AS (
      SELECT doc, term, SUM(wtf) AS wtf
      FROM (SELECT * FROM p_text UNION ALL SELECT * FROM p_src)
      GROUP BY 1, 2
    ),
    doclen AS (SELECT doc, SUM(wtf) AS wdl FROM postings GROUP BY 1),
    consts AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT CAST(SUM(wdl) AS DOUBLE) / COUNT(*) FROM doclen) AS avgwdl
    ),
    q(term) AS (VALUES ('hash'), ('join'), ('src3')),
    hit AS (SELECT p.doc, p.term, p.wtf FROM postings p JOIN q USING (term)),
    dfc AS (SELECT term, COUNT(DISTINCT doc) AS df_t FROM hit GROUP BY 1),
    scored AS (
      SELECT doc,
             SUM(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                 * (wtf * 2.2)
                 / (wtf + 1.2 * (1 - 0.75 + 0.75 * CAST(wdl AS DOUBLE) / avgwdl))
             ) AS score
      FROM hit JOIN dfc USING (term) JOIN doclen USING (doc) CROSS JOIN consts
      GROUP BY doc
    )
    SELECT doc AS doc_id, ROUND(score, 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT doc, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def x12h_bm25_fielded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25F per-field weighted search (closes the ROADMAP per-field-
    weights item): body `text` at weight 1, the short `source` tag field
    at weight 3 — a 'src3' query term hit in the tag field outranks body
    matches, the title-boost behavior every fielded search engine ships.
    Weighted tf/length fold across fields before saturation (simple
    BM25F); the oracle replicates the arithmetic verbatim."""
    from gwasdb_spark.operators.search import bm25f_topk

    d = table(spark, sf_dir, "documents")
    return bm25f_topk(
        d, ["hash", "join", "src3"], [("text", 1.0), ("source", 3.0)], "doc_id", k=10
    )


@query(
    "x35_conversion_funnel",
    "X-events,A-group",
    oracle="""
    WITH fc AS (
      SELECT user_id, MIN(ts) AS first_click
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    conv AS (
      SELECT DISTINCT fc.user_id
      FROM fc JOIN events p
        ON p.user_id = fc.user_id
       AND p.event_type = 'purchase'
       AND p.ts >= fc.first_click
       AND p.ts <= fc.first_click + INTERVAL 7 DAY
    )
    SELECT strftime(CAST(fc.first_click AS DATE), '%Y-%m-%d') AS cohort_day,
           CAST(COUNT(*) AS BIGINT) AS n_clicked,
           CAST(SUM(CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted
    FROM fc LEFT JOIN conv ON conv.user_id = fc.user_id
    GROUP BY 1
    """,
)
def x35_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohorted conversion funnel: users grouped by first-click day,
    counting who purchased within 7 days of that first click — the
    product-analytics sequence-match shape as two skinny aggregates and
    one time-bounded join (no per-user Python, no window over the full
    event stream; the purchase probe joins only (user, first_click)
    pairs)."""
    e = table(spark, sf_dir, "events")
    fc = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("p_ts")
    )
    conv = (
        fc.join(p, "user_id")
        .filter(
            (F.col("p_ts") >= F.col("first_click"))
            & (F.col("p_ts") <= F.col("first_click") + F.expr("INTERVAL 7 DAY"))
        )
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    return (
        fc.join(conv, "user_id", "left")
        .groupBy(F.date_format(F.to_date("first_click"), "yyyy-MM-dd").alias("cohort_day"))
        .agg(
            F.count(F.lit(1)).alias("n_clicked"),
            F.sum(F.coalesce(F.col("converted"), F.lit(0)))
            .cast("long")
            .alias("n_converted"),
        )
    )


@query(
    "x36_split_drift",
    "X-sample,X-quality",
    oracle="""
    WITH s AS (
      SELECT lang,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ('c','d','e','f')
                  THEN 'holdout' ELSE 'train' END AS split
      FROM documents
    ),
    counts AS (
      SELECT lang,
             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_train,
             CAST(SUM(CASE WHEN split = 'holdout' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_holdout
      FROM s GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(n_train) AS DOUBLE) AS t_train,
             CAST(SUM(n_holdout) AS DOUBLE) AS t_holdout
      FROM counts
    )
    SELECT lang, n_train, n_holdout,
           CASE WHEN n_train > 0 AND n_holdout > 0 THEN
             ROUND((CAST(n_train AS DOUBLE) / t_train
                    - CAST(n_holdout AS DOUBLE) / t_holdout)
                   * LN((CAST(n_train AS DOUBLE) / t_train)
                        / (CAST(n_holdout AS DOUBLE) / t_holdout)), 9)
           ELSE NULL END AS psi_term
    FROM counts CROSS JOIN tot
    """,
)
def x36_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-drift monitor: per-language population-stability-index terms
    between the content-addressed train split and the holdout
    (val+test) — the data-QA check that a hash split didn't skew a
    stratum (sum the terms corpus-wide; PSI > 0.1 flags drift). Totals
    ride as a 1-row cross join; one (lang) shuffle total. A stratum
    empty in either split yields psi_term NULL (guarded in both plan and
    oracle — log-of-zero would otherwise diverge between engines)."""
    from gwasdb_spark.operators.sampling import split_label

    d = table(spark, sf_dir, "documents")
    s = d.select(
        "lang",
        F.when(split_label(F.col("doc_id")) == "train", "train")
        .otherwise("holdout")
        .alias("split"),
    )
    counts = s.groupBy("lang").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "holdout", 1).otherwise(0))
        .cast("long")
        .alias("n_holdout"),
    )
    tot = counts.agg(
        F.sum("n_train").cast("double").alias("t_train"),
        F.sum("n_holdout").cast("double").alias("t_holdout"),
    )
    p = F.col("n_train").cast("double") / F.col("t_train")
    q = F.col("n_holdout").cast("double") / F.col("t_holdout")
    guarded = F.when(
        (F.col("n_train") > 0) & (F.col("n_holdout") > 0),
        F.round((p - q) * F.log(p / q), 9),
    )
    return counts.crossJoin(tot).select(
        "lang",
        "n_train",
        "n_holdout",
        guarded.alias("psi_term"),
    )


@query(
    "s21_orc_roundtrip",
    "S-ext",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
    FROM documents GROUP BY lang
    """,
)
def s21_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink→source round-trip: the second columnar interchange format
    (native Spark datasource — splittable stripes, predicate pushdown,
    column pruning, same scale contract as parquet). Digest aggregate
    proves byte fidelity, mirroring s20's JSONL check."""
    d = table(spark, sf_dir, "documents")
    out = stage_dir("docs_orc")
    d.repartition(4).write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.count_distinct(F.md5("text")).alias("n_distinct_texts"),
    )


@query(
    "x37_unicode_normalize",
    "X-text,§2.11",
    oracle="""
    SELECT doc_id,
           md5(nfc_normalize(text)) AS nfc_digest,
           CAST(length(nfc_normalize(text)) AS BIGINT) AS nfc_len,
           (nfc_normalize(text) = text) AS already_nfc
    FROM documents
    """,
)
def x37_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC Unicode canonicalization via an Arrow-batched pandas UDF (no
    Spark built-in exists) — the normalize-before-dedup step that makes
    composed and decomposed accents hash equal. Oracle: DuckDB's native
    nfc_normalize; behavior on genuinely decomposed input is asserted in
    tests (the corpus itself is ASCII → already_nfc all true, which the
    hash check still proves)."""
    from gwasdb_spark.functions.text import nfc_normalize_udf

    d = table(spark, sf_dir, "documents")
    nfc = nfc_normalize_udf()(F.col("text"))
    return d.select(
        "doc_id",
        F.md5(nfc).alias("nfc_digest"),
        F.length(nfc).cast("long").alias("nfc_len"),
        (nfc == F.col("text")).alias("already_nfc"),
    )


@query(
    "x38_length_bucketing",
    "X-sample,X-assembly",
    oracle=r"""
    WITH t AS (
      SELECT doc_id AS id,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT id, n_tokens,
             CAST((ROW_NUMBER() OVER (ORDER BY n_tokens, id) - 1) // 32
                  AS BIGINT) AS batch_id
      FROM t
    ),
    stats AS (
      SELECT batch_id,
             CAST(MAX(n_tokens) AS BIGINT) AS batch_max_tokens,
             CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
               AS batch_padding
      FROM ranked GROUP BY batch_id
    )
    SELECT id, n_tokens, batch_id, batch_max_tokens, batch_padding
    FROM ranked JOIN stats USING (batch_id)
    """,
)
def x38_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment: docs sorted by token count into
    fixed-count batches so padding waste is minimal — training-loader
    prep. The global rank is two-level (per-length local rank + offsets
    over distinct lengths), never a single-task window
    (operators/sampling.py length_bucketed_batches)."""
    from gwasdb_spark.functions import text as TX2
    from gwasdb_spark.operators.sampling import length_bucketed_batches

    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", TX2.n_tokens_ws(F.col("text")).alias("n_tokens"))
    return length_bucketed_batches(t, "doc_id", "n_tokens", batch_size=32)


@query(
    "m01_dml_roundtrip",
    "M1,M2,M3,§2.9",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM orders
      WHERE NOT (o_orderpriority = '5-LOW' AND o_totalprice < 50000)
    ),
    updated AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN 'F' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderstatus = 'P'
                  THEN CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11
                             + 5) // 10 AS DOUBLE) / 100.0
                  ELSE o_totalprice END
               AS o_totalprice,
             o_orderpriority
      FROM base
    ),
    inserted AS (
      SELECT * FROM updated
      UNION ALL
      SELECT -1, 'O', 123.45, '1-URGENT'
      UNION ALL
      SELECT -2, 'O', 67.89, '2-HIGH'
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           (CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
            / 100.0) AS total_value
    FROM inserted GROUP BY o_orderstatus
    """,
)
def m01_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DML surface (M1/M2/M3) as a driver-checked round-trip through the
    parquet warehouse: stage orders → DELETE WHERE (low-priority cheap
    orders) → UPDATE SET (pending→final with a 10% uplift in exact integer cents)
    → INSERT VALUES (two synthetic rows) — each step a
    read-transform-REWRITE with rename-swap (gwas/dml.py; Delta MERGE is
    the transactional twin) — then aggregate the final table state.
    The oracle expresses the same final state declaratively."""
    import tempfile as _tf

    from gwasdb_spark.gwas.dml import delete_where, insert_values, update_set
    from gwasdb_spark.gwas.warehouse import Warehouse

    wh = Warehouse(spark, _tf.mkdtemp(prefix="dml_wh_"))
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    # each step rewrites to a NEW versioned table then reads it back —
    # the rename-swap discipline: a lazy plan must never overwrite the
    # files it is still reading (Delta's transaction log is the
    # in-place-safe twin)
    wh.write("orders_v0", o)

    t = delete_where(
        wh.read("orders_v0"),
        (F.col("o_orderpriority") == "5-LOW") & (F.col("o_totalprice") < 50000),
    )
    wh.write("orders_v1", t)

    t = update_set(
        wh.read("orders_v1"),
        F.col("o_orderstatus") == "P",
        {
            "o_orderstatus": F.lit("F"),
            # 10% uplift in EXACT integer cents ((c*11+5) div 10 = 2-dp
            # HALF_UP) — ROUND(double, 2) tie-breaks differently across
            # engines; integer arithmetic cannot
            "o_totalprice": F.expr(
                "CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11 + 5)"
                " DIV 10 AS DOUBLE) / 100.0"
            ),
        },
    )
    wh.write("orders_v2", t)

    t = insert_values(
        wh.read("orders_v2"),
        [
            {"o_orderkey": -1, "o_orderstatus": "O", "o_totalprice": 123.45,
             "o_orderpriority": "1-URGENT"},
            {"o_orderkey": -2, "o_orderstatus": "O", "o_totalprice": 67.89,
             "o_orderpriority": "2-HIGH"},
        ],
    )
    wh.write("orders_v3", t)

    final = wh.read("orders_v3")
    return final.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(F.sum(cents(F.col("o_totalprice")))).alias("total_value"),
    )


@query(
    "m02_scd2_upsert",
    "M2-ext,§2.9",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_mktsegment AS segment,
             '1995-01-01' AS valid_from,
             CAST(NULL AS VARCHAR) AS valid_to,
             TRUE AS is_current
      FROM customer
    ),
    chg AS (
      SELECT c_custkey, 'UPGRADED' AS segment, '1997-06-01' AS eff
      FROM customer
      WHERE c_custkey % 10 = 3 AND c_mktsegment <> 'UPGRADED'
    ),
    closed AS (
      SELECT b.c_custkey, b.segment, b.valid_from,
             c.eff AS valid_to, FALSE AS is_current
      FROM base b JOIN chg c USING (c_custkey)
    ),
    untouched AS (
      SELECT * FROM base
      WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)
    ),
    fresh AS (
      SELECT c_custkey, segment, eff AS valid_from,
             CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
      FROM chg
    )
    SELECT * FROM untouched
    UNION ALL SELECT * FROM closed
    UNION ALL SELECT * FROM fresh
    """,
)
def m02_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension maintenance (operators/scd.py) — the
    warehouse-scale answer to the reference's in-place dimension UPDATE
    (M2, R/postgres_process.Rmd): a change batch (customers ending in 3
    move to segment UPGRADED effective 1997-06-01) closes each affected
    current row and appends the new version; history and untouched rows
    pass through. One keyed join + two anti/semi splits, change batch
    broadcast — the MERGE shape without Delta. Validity bounds are date
    STRINGS here so both engines compare identical values."""
    from gwasdb_spark.operators.scd import scd2_apply

    c = table(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1995-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = c.filter(
        (F.col("c_custkey") % 10 == 3) & (F.col("c_mktsegment") != "UPGRADED")
    ).select(
        "c_custkey",
        F.lit("UPGRADED").alias("segment"),
        F.lit("1997-06-01").alias("eff"),
    )
    return scd2_apply(dim, changes, ["c_custkey"], ["segment"], eff_col="eff")


@query(
    "st10_stream_enrich",
    "X-stream,J5",
    oracle="""
    SELECT e.event_id, e.event_type, e.user_id,
           c.c_mktsegment AS segment
    FROM events e
    LEFT JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.event_type = 'purchase'
    """,
)
def st10_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE stream⋈dimension enrichment via the foreachBatch
    broadcast-refresh pattern: the dimension parquet is RE-READ inside
    each micro-batch (so a dropped-in snapshot takes effect at the next
    batch boundary without restarting the stream) and broadcast per
    batch. Output lands in a parquet sink; the query returns the sink.
    Oracle: the equivalent batch left join."""
    import tempfile as _tf

    from gwasdb_spark.streaming.events import (
        foreach_batch_enrich_append,
        read_events_stream,
    )

    base = _tf.mkdtemp(prefix="enrich_")
    dim_path = os.path.join(base, "dim")
    out = os.path.join(base, "out")
    (
        table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"),
                F.col("c_mktsegment").alias("segment"))
        .write.mode("overwrite")
        .parquet(dim_path)
    )
    stream = (
        read_events_stream(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "event_type", "user_id")
    )
    q = foreach_batch_enrich_append(
        stream, dim_path, "user_id", out, os.path.join(base, "ckpt")
    )
    q.awaitTermination()
    return spark.read.parquet(out).select(
        "event_id", "event_type", "user_id", "segment"
    )


@query(
    "u04_geomean_udaf",
    "§2.11,A-ext",
    oracle="""
    SELECT event_type,
           ROUND(EXP(AVG(LN(value))), 9) AS geomean_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def u04_geomean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDAF (Arrow GROUPED_AGG): geometric mean
    of event value per type — the engine's UDAF surface (the reference
    has none; SURVEY §2.11). The UDF receives each group's values as ONE
    pandas Series (vectorized numpy log/mean, no per-row Python); at
    scale this is a full shuffle of the value column — the native
    `exp(avg(ln(x)))` twin (the oracle) stays map-side-combinable, which
    is why UDAFs are the fallback, not the default. Rounded to 9 dp
    (log-sum association)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _geomean(v):
        return float(np.exp(np.log(v.to_numpy()).mean()))

    _geomean.__annotations__ = {"v": pd.Series, "return": float}
    geomean = pandas_udf(_geomean, "double")

    e = table(spark, sf_dir, "events")
    # a GROUPED_AGG pandas UDF cannot share an Aggregate with JVM
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — two aggs, one join
    g = e.groupBy("event_type").agg(
        F.round(geomean(F.col("value")), 9).alias("geomean_value")
    )
    n = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return g.join(n, "event_type")


@query(
    "u05_sentence_udtf",
    "§2.11,X-text",
    oracle=r"""
    SELECT doc_id,
           CAST(idx - 1 AS INT) AS sentence_idx,
           trim(s) AS sentence,
           CAST(len(regexp_extract_all(trim(s), '\S+')) AS BIGINT)
             AS n_sent_tokens
    FROM (
      SELECT doc_id,
             unnest(string_split_regex(text, '[.!?]+')) AS s,
             generate_subscripts(string_split_regex(text, '[.!?]+'), 1) AS idx
      FROM documents WHERE doc_id < 50
    )
    WHERE trim(s) <> ''
    """,
)
def u05_sentence_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) sentence splitter applied as a SQL
    LATERAL join — the engine's UDTF surface (SURVEY §2.11; none in the
    reference). One input row → N (sentence_idx, sentence, token_count)
    rows. Arrow-batched; demo-scoped to 50 docs because a UDTF is a
    Python-side expansion — the production splitter is the codegen
    split+posexplode twin (oracle expresses exactly that)."""
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx int, sentence string, n_sent_tokens long")
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            idx = 0
            for raw in _re.split(r"[.!?]+", text):
                s = raw.strip()
                if s:
                    yield idx, s, len(_re.findall(r"\S+", s))
                idx += 1

    spark.udtf.register("split_sentences", SplitSentences)
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("docs_head_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence_idx, s.sentence, s.n_sent_tokens
        FROM docs_head_udtf d, LATERAL split_sentences(d.text) s
        """
    )


@query(
    "x39_pagerank_neardup",
    "X-graph",
    oracle=_NEARDUP_EDGES_CTE
    + """
    deg AS (SELECT u, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY u),
    nodes AS (SELECT DISTINCT u AS id FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    ew AS (SELECT e.u, e.v, 1.0 / d.deg AS w FROM edges e JOIN deg d USING (u)),
    pr(iter, id, r) AS (
      SELECT 0, id, 1.0 / n FROM nodes CROSS JOIN nn
      UNION ALL
      SELECT p.iter + 1, e.v,
             (1.0 - 0.85) / nn.n + 0.85 * SUM(p.r * e.w)
      FROM pr p JOIN ew e ON e.u = p.id CROSS JOIN nn
      WHERE p.iter < 20
      GROUP BY p.iter, e.v, nn.n
    )
    SELECT CAST(id AS BIGINT) AS id, ROUND(r, 9) AS rank
    FROM pr WHERE iter = 20
    """,
)
def x39_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the exact 3-gram Jaccard near-dup graph
    (undirected → both edge directions): ranks the most-connected
    duplicate hubs — the doc to inspect first when a dup cluster is
    large. Power iteration pinned to EXACTLY 20 rounds (tol=0.0 — no
    data-dependent early exit), which makes the result a deterministic
    function of the edge set and lets a DuckDB recursive-CTE twin
    hash-match it (r4 verdict item 7; previously rows-only). The
    undirected construction gives every node an out-edge, so the
    dangling-mass term is identically zero here and the recursion is the
    pure weighted-contribution update r_v = (1-d)/N + d·Σ r_u/deg_u;
    the distributed operator's dangling correction stays exercised by
    tests/test_graph.py's directed-graph numpy parity. 9-dp rounding
    absorbs summation-order float noise (~1e-14 on ~1e-2 ranks)."""
    from gwasdb_spark.operators.graph import pagerank

    d = table(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.12, max_shingle_docs=100
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    return (
        pagerank(edges, max_iter=20, tol=0.0)
        .select("id", F.round("rank", 9).alias("rank"))
        .orderBy("id")
    )


_X56_KNN_SQL = f"""
    WITH n AS (SELECT vec_id AS id, embedding AS v FROM embeddings
               WHERE vec_id % 5 = 0),
    scored AS (
      SELECT a.id AS src, b.id AS dst,
             {_COS_SQL.format(a='a.v', b='b.v')}
               / (sqrt({_COS_SQL.format(a='a.v', b='a.v')})
                  * sqrt({_COS_SQL.format(a='b.v', b='b.v')})) AS cos_raw
      FROM n a CROSS JOIN n b WHERE a.id != b.id
    ),
    directed AS (
      SELECT src, dst, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cos_raw DESC, dst) AS rank
      FROM scored QUALIFY rank <= 5
    )
    SELECT f.src AS id_a, f.dst AS id_b, ROUND(f.cos_raw, 6) AS cosine,
           CAST(f.rank AS BIGINT) AS rank_ab,
           CAST(r.rank AS BIGINT) AS rank_ba
    FROM directed f
    JOIN directed r ON r.src = f.dst AND r.dst = f.src
    WHERE f.src < f.dst
    """


@query("x56_mutual_knn_graph", "X-sim,X-dedup", oracle=_X56_KNN_SQL)
def x56_mutual_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN graph over a deterministic node subset (vec_id % 5):
    undirected edges kept only when BOTH endpoints rank each other in
    their top-5 by cosine — the edge set SemDeDup-style semantic dedup
    clusters over (feed x11's connected components with these edges).
    Directed edges come from the Arrow/BLAS vectorized exact scorer
    (x05c's kernel — oracle-proven 6-dp-identical to the expression
    fold), so the quadratic scoring runs one matmul per Arrow batch; at
    corpus scale the same symmetrization join consumes
    hyperplane_lsh_topk/ivf_topk directed edges unchanged
    (operators/similarity.py mutual_knn_graph)."""
    from gwasdb_spark.operators.similarity import (
        brute_force_topk_vectorized,
        mutual_knn_graph,
    )

    nodes = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    directed = brute_force_topk_vectorized(nodes, nodes, "vec_id", "embedding", k=5)
    g = mutual_knn_graph(nodes, "vec_id", "embedding", k=5, directed=directed)
    return g.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine"), "rank_ab", "rank_ba"
    )


@query(
    "x57_skew_report",
    "X-ops,A2",
    oracle="""
    WITH counts AS (
      SELECT event_type AS key, COUNT(*) AS n_rows FROM events GROUP BY 1
    ),
    t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total_rows FROM events),
    k AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_keys FROM counts)
    SELECT key, CAST(n_rows AS BIGINT) AS n_rows,
           ROUND(n_rows / total_rows, 9) AS share,
           ROUND(n_rows * n_keys / total_rows, 9) AS skew_ratio,
           CAST(GREATEST(1, CEIL(n_rows / 10000.0)) AS BIGINT)
             AS suggested_salts
    FROM counts CROSS JOIN t CROSS JOIN k
    ORDER BY n_rows DESC, key LIMIT 20
    """,
)
def x57_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: exact top-20 heavy hitters on
    events.event_type with table share, skew ratio vs a uniform key, and
    the salt factor `salted_join` (sk01) should use at a 10k-rows-per-
    task target. One map-side-combined groupBy + a bounded TakeOrdered
    head; totals ride as broadcast 1-row aggregates
    (operators/skew.py skew_report)."""
    from gwasdb_spark.operators.skew import skew_report

    e = table(spark, sf_dir, "events")
    rep = skew_report(e, "event_type", top_n=20, target_rows_per_task=10_000)
    return rep.select(
        "key",
        "n_rows",
        F.round("share", 9).alias("share"),
        F.round("skew_ratio", 9).alias("skew_ratio"),
        "suggested_salts",
    )


@query(
    "x58_snapshot_diff",
    "X-ops,J9",
    oracle="""
    WITH v1 AS (SELECT doc_id, md5(text) AS old_digest FROM documents),
    v2 AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 17 = 1 THEN upper(text) ELSE text END)
               AS new_digest
      FROM documents WHERE doc_id % 17 != 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, md5(text) AS new_digest
      FROM documents WHERE doc_id % 17 = 2
    )
    SELECT COALESCE(v1.doc_id, v2.doc_id) AS id, old_digest, new_digest,
           CASE WHEN old_digest IS NULL THEN 'added'
                WHEN new_digest IS NULL THEN 'removed'
                WHEN old_digest != new_digest THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    """,
)
def x58_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — dataset versioning without a table format:
    v2 is derived deterministically from v1 (every 17th doc removed, the
    next residue class rewritten to upper case, the one after re-added
    under a shifted id) and the diff labels every id added / removed /
    changed / unchanged by content digest. The FULL OUTER join shuffles
    (id, md5) pairs only — never document text
    (operators/maintenance.py snapshot_diff)."""
    from gwasdb_spark.operators.maintenance import snapshot_diff

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = (
        d.filter(F.col("doc_id") % 17 != 0)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 17 == 1, F.upper("text")).otherwise(
                F.col("text")
            ),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 17 == 2).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
    )
    return snapshot_diff(d, v2, "doc_id", ["text"])


@query(
    "st14_stream_dedup_ingest",
    "X-stream,X-dedup",
    oracle="""
    WITH arr AS (
      SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 500000 AS doc_id, md5(text) AS digest
      FROM documents WHERE doc_id % 7 = 1 AND doc_id % 3 = 0
    ),
    corp AS (
      SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id % 7 != 0
    )
    SELECT digest,
           CASE WHEN digest IN (SELECT digest FROM corp) THEN 'dup_corpus'
                ELSE 'accepted' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_arrivals,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM arr GROUP BY digest
    """,
)
def st14_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming dedup-on-ingest — the streaming twin of x44's
    incremental dedup: arrivals (every 7th doc, staged as JSON and read
    as a file stream) are content-hashed per micro-batch and anti-joined
    against the existing corpus' digest set; both accepted and
    corpus-duplicate arrivals land in a status sink. The result is the
    digest-grain ingest ledger (status, arrival count, first id) — built
    by aggregation over the sink, so it is independent of how the file
    source happened to cut micro-batches. Scale: the per-batch work is
    one equi-join on 16-byte digests (corpus side is a digest projection,
    never text) plus an append ∝ batch size; ledger aggregation is
    partial-agg'd on digest."""
    import tempfile as _tf

    from gwasdb_spark.streaming.events import run_available_now  # noqa: F401

    d = table(spark, sf_dir, "documents")
    base = _tf.mkdtemp(prefix="dedup_ingest_")
    src = os.path.join(base, "arrivals")
    arrivals_df = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", "text")
        .unionByName(
            # Re-submissions of existing corpus docs under new ids: the
            # dup_corpus path must actually fire in every run.
            d.filter((F.col("doc_id") % 7 == 1) & (F.col("doc_id") % 3 == 0))
            .select((F.col("doc_id") + 500000).alias("doc_id"), "text")
        )
    )
    arrivals_df.repartition(4).write.mode("overwrite").json(src)

    corpus_digests = (
        d.filter(F.col("doc_id") % 7 != 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    sink = os.path.join(base, "sink")

    def _ingest(batch_df, batch_id):
        hashed = batch_df.select(
            "doc_id", F.md5("text").alias("digest")
        )
        accepted = hashed.join(corpus_digests, "digest", "left_anti")
        dup = hashed.join(corpus_digests, "digest", "left_semi")
        out = accepted.withColumn("status", F.lit("accepted")).unionByName(
            dup.withColumn("status", F.lit("dup_corpus"))
        )
        # Idempotent under at-least-once retry: a replayed batch
        # overwrites its own batch_id partition instead of appending a
        # second copy (the st13/st16 upsert discipline). Dynamic mode is
        # a per-writer option, not a session-conf mutation (ADVICE r13).
        (
            out.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(sink)
        )

    arrivals = (
        spark.readStream.schema("doc_id bigint, text string").json(src)
    )
    q = (
        arrivals.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(sink)
        .groupBy("digest", "status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_arrivals"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
    )


@query(
    "x60_copurchase_lift",
    "J1,A2,X-events",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pair_n AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS n_both
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    part_n AS (SELECT l_partkey, COUNT(*) AS n_part FROM items GROUP BY 1),
    tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
            FROM items)
    SELECT part_a, part_b, CAST(n_both AS BIGINT) AS n_both,
           ROUND(n_both * n_orders / (pa.n_part * pb.n_part), 9) AS lift
    FROM pair_n
    JOIN part_n pa ON pa.l_partkey = part_a
    JOIN part_n pb ON pb.l_partkey = part_b
    CROSS JOIN tot
    ORDER BY n_both DESC, part_a, part_b LIMIT 20
    """,
)
def x60_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: top-20 part pairs by co-order count
    with lift = P(a,b)/(P(a)P(b)) — x51's PMI collocations transplanted
    to the order/part domain. The pair explosion is the self-equi-join on
    l_orderkey over DISTINCT (order, part) rows — bounded by per-order
    basket size squared, never |parts|²; counts shuffle (part, part)
    pairs; the order total rides as a broadcast 1-row constant; the
    head is a bounded TakeOrdered."""
    # Lazy checkpoint: the distinct (order, part) relation feeds both
    # pair sides, the per-part counts, and the order total — four
    # consumers that would each rescan lineitem and re-shuffle the
    # distinct.
    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pair_n = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    part_n = items.groupBy(F.col("l_partkey")).agg(
        F.count(F.lit(1)).alias("n_part")
    )
    tot = items.agg(
        F.count_distinct("l_orderkey").cast("double").alias("n_orders")
    )
    pa = part_n.select(
        F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a")
    )
    pb = part_n.select(
        F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")
    )
    return (
        pair_n.join(pa, "part_a")
        .join(pb, "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.round(
                F.col("n_both") * F.col("n_orders") / (F.col("n_a") * F.col("n_b")),
                9,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_both"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


@query(
    "x61_retention_cohorts",
    "X-events,A2,§2.5",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS act_week
      FROM events e
    )
    SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS BIGINT)
             AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def x61_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts — the canonical product-analytics rollup:
    users bucketed by first-seen week, counted as active at each week
    offset. Two partial-aggregated shuffles (per-user first-seen, then
    (cohort, offset) counts) and one user-keyed equi-join; the
    (user, week) distinct bounds the join input to active user-weeks,
    not raw events."""
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )


def x62_phases(spark: SparkSession, sf_dir: str):
    """x62 decomposed into its three cost phases — (build, update, query)
    thunks — so bench.py can time them separately (r5 verdict: a
    serve-path regression must not hide inside index-build noise).
    `build` and `update` are write jobs returning None; `query` returns
    the DataFrame. The index lands under a stage_dir path — stable
    WITHIN a process (repeated invocations reuse one directory via
    mode("overwrite"), which also clears prior runs' delta segments)
    but PID-scoped, so a concurrent harness run can never interleave
    its build() overwrite with this process's query() scan."""
    import hashlib as _hl

    from gwasdb_spark.operators.search import (
        bm25_topk_indexed,
        build_text_index,
        update_text_index,
    )

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:12]
    idx = os.path.join(stage_dir(f"bm25_incr_{tag}"), "index")
    d = table(spark, sf_dir, "documents")

    def build() -> None:
        build_text_index(d.filter(F.col("doc_id") % 5 != 0), idx)

    def update() -> None:
        update_text_index(d.filter(F.col("doc_id") % 5 == 0), idx)

    def query() -> DataFrame:
        return bm25_topk_indexed(
            spark, idx, ["hash", "join", "vector"], "doc_id", k=10
        )

    return build, update, query


@query(
    "x62_bm25_index_update",
    "X-text,X-search,X-stream",
    oracle=_X12G_FULL_BM25_ORACLE,
)
def x62_bm25_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance, proven equivalent to a
    full rebuild: the index is built from 4/5 of the corpus, the
    remaining fifth arrives as an update batch (update_text_index — new
    term-sorted delta segments + doclen append + consts refresh, cost ∝
    batch), and the SAME query must reproduce the full-corpus BM25
    ground truth x12g answers from its one-shot build. This is the index
    freshness path a streaming ingest (st14) feeds
    (operators/search.py update_text_index). Phase split + staging-dir
    lifecycle live in x62_phases (benched per-phase)."""
    build, update, query = x62_phases(spark, sf_dir)
    build()
    update()
    return query()


# x02's exact 3-gram Jaccard pair graph as a DuckDB CTE chain (threshold
# 0.12, shingle-df prune 100) — shared verbatim with x49/x11's oracles.
_JACCARD_PAIRS_CTE = r"""
    sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(w) - 2, 0) + 1),
                 i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingles
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
            FROM documents)
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) <= 100),
    pruned AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN rare USING (shingle)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM pruned a JOIN pruned b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.12
    )
"""


@query(
    "x63_triangle_counts",
    "X-dedup,X-graph",
    oracle=f"""
    WITH {_JACCARD_PAIRS_CTE},
    tri AS (
      SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
      FROM pairs e1
      JOIN pairs e2 ON e2.id_a = e1.id_b
      JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ),
    nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
    per AS (
      SELECT id, COUNT(*) AS n FROM (
        SELECT x AS id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY id
    )
    SELECT n.id, CAST(COALESCE(per.n, 0) AS BIGINT) AS n_triangles
    FROM nodes n LEFT JOIN per USING (id)
    """,
)
def x63_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the exact near-dup pair graph —
    dense-clique structure detection (boilerplate families triangle
    heavily; incidental pair matches do not). Degree-ordered edge
    orientation (Cohen) bounds wedge enumeration by Σ d_out² with
    d_out ≤ O(√|E|) — the hub-node skew-killer; wedge closure is one
    equi-join against the canonical edge set
    (operators/graph.py triangle_counts)."""
    from gwasdb_spark.operators.graph import triangle_counts

    d = table(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.12, max_shingle_docs=100
    )
    return triangle_counts(pairs)


@query(
    "x64_event_debounce",
    "X-events,§2.5",
    oracle="""
    WITH g AS (
      SELECT event_id, user_id, event_type, ts,
             date_diff('second',
                       LAG(ts) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id),
                       ts) AS gap_s
      FROM events
    )
    SELECT event_id, user_id, event_type,
           CAST(COALESCE(gap_s, -1) AS BIGINT) AS gap_s
    FROM g WHERE gap_s IS NULL OR gap_s >= 300
    """,
)
def x64_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-leader filter (debounce/throttle): keep only events opening
    a new burst — first ever, or ≥300 s after the PREVIOUS event of the
    same (user, event_type). The repeated-click / retry-storm suppressor
    of event pipelines; st02's sessionizer groups these bursts, this op
    filters to their leaders. One lag() window partitioned by the group
    key — parallel per (user, type), no cross-group state; gap_s = −1
    marks first-ever events in the output."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    return (
        e.withColumn("gap_s", gap)
        .filter(F.col("gap_s").isNull() | (F.col("gap_s") >= 300))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.coalesce(F.col("gap_s"), F.lit(-1)).cast("long").alias("gap_s"),
        )
    )


_X65_SEMDEDUP_ORACLE = f"""
    WITH RECURSIVE n AS (SELECT vec_id AS id, embedding AS v
                         FROM embeddings),
    scored AS (
      SELECT a.id AS src, b.id AS dst,
             {_COS_SQL.format(a='a.v', b='b.v')}
               / (sqrt({_COS_SQL.format(a='a.v', b='a.v')})
                  * sqrt({_COS_SQL.format(a='b.v', b='b.v')})) AS cos_raw
      FROM n a CROSS JOIN n b WHERE a.id != b.id
    ),
    directed AS (
      SELECT src, dst, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cos_raw DESC, dst) AS rank
      FROM scored QUALIFY rank <= 3
    ),
    mutual AS (
      SELECT f.src AS id_a, f.dst AS id_b
      FROM directed f JOIN directed r ON r.src = f.dst AND r.dst = f.src
      WHERE f.src < f.dst AND f.cos_raw >= 0.4
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM mutual
      UNION SELECT id_b AS u, id_a AS v FROM mutual
    ),
    reach(id, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.id
    ),
    comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id)
    SELECT CAST(c.component AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(c.id) AS BIGINT) AS min_id,
           CAST((array_agg(c.id ORDER BY d.n_chars DESC, c.id))[1] AS BIGINT)
             AS best_id
    FROM comp c JOIN documents d ON d.doc_id = c.id
    GROUP BY c.component
    """


@query("x65_semantic_dedup", "X-sim,X-dedup", oracle=_X65_SEMDEDUP_ORACLE)
def x65_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end to end: mutual-3-NN edges over the embedding space
    gated at cosine ≥ 0.4 → connected components → one canonical doc per
    semantic cluster by quality (n_chars, id tiebreak) — x49's
    keep-best, with the pair graph coming from EMBEDDINGS instead of
    n-gram overlap (catches paraphrase duplicates lexical dedup misses;
    embeddings align with doc ids in the test tables). Exact vectorized
    scoring here (x05c kernel, flat regime); at corpus scale the
    directed edges come from hyperplane_lsh_topk/ivf_topk and the rest
    of the plan is unchanged (operators/similarity.py mutual_knn_graph,
    operators/graph.py connected_components)."""
    from gwasdb_spark.operators.graph import connected_components
    from gwasdb_spark.operators.similarity import (
        brute_force_topk_vectorized,
        mutual_knn_graph,
    )

    emb = table(spark, sf_dir, "embeddings")
    directed = brute_force_topk_vectorized(emb, emb, "vec_id", "embedding", k=3)
    edges = mutual_knn_graph(emb, "vec_id", "embedding", k=3, directed=directed).filter(
        F.col("cosine") >= 0.4
    )
    comp = connected_components(edges)
    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "n_chars"
    )
    joined = comp.join(d, "id")
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("id"))
    return (
        joined.withColumn("__rk", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("id").alias("min_id"),
            F.min(F.when(F.col("__rk") == 1, F.col("id"))).alias("best_id"),
        )
    )


@query(
    "x66_mad_outliers",
    "X-events,X-quality",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS d
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (SELECT event_type, quantile_cont(d, 0.5) AS mad
            FROM dev GROUP BY 1)
    SELECT event_id, dev.event_type, value,
           ROUND(med, 9) AS med, ROUND(mad, 9) AS mad,
           ROUND((value - med) / (1.4826 * mad), 9) AS robust_z
    FROM dev JOIN mad USING (event_type)
    WHERE mad > 0 AND ABS(value - med) > 3 * 1.4826 * mad
    """,
)
def x66_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection — median/MAD instead of x15's mean/σ
    (one fat-tailed burst inflates σ and hides its own members; the
    median absolute deviation does not break down until half the data is
    corrupt). Flag = |v − med| > 3·1.4826·MAD (the σ-consistent scale).
    Two-phase exact medians: per-type median, then median of absolute
    deviations — two broadcast-dim joins back onto the fact rows, so the
    fact table is scanned twice but never shuffled on a data-dependent
    key; groups with MAD = 0 are excluded in both engines (the z-score
    is undefined there)."""
    e = table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(d, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(
            (F.col("mad") > 0)
            & (F.col("d") > F.lit(3 * 1.4826) * F.col("mad"))
        )
        .select(
            "event_id",
            "event_type",
            "value",
            F.round("med", 9).alias("med"),
            F.round("mad", 9).alias("mad"),
            F.round(
                (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad")), 9
            ).alias("robust_z"),
        )
    )


@query(
    "x67_winsorize",
    "X-events,X-quality",
    oracle="""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY 1
    )
    SELECT event_id, e.event_type, value,
           ROUND(CASE WHEN value < p05 THEN p05
                      WHEN value > p95 THEN p95
                      ELSE value END, 9) AS value_w,
           (value < p05 OR value > p95) AS clipped
    FROM events e JOIN q USING (event_type)
    """,
)
def x67_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization — clip each event's value to its type's
    exact [p05, p95] band: the tail-taming rewrite feature pipelines
    apply before aggregation when x66's diagnostics say the tails are
    noise. One exact-percentile aggregate per group (broadcast-dim
    joined back), then a pure projection — the fact table shuffles
    never."""
    e = table(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    return e.join(F.broadcast(q), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.round(
            F.when(F.col("value") < F.col("p05"), F.col("p05"))
            .when(F.col("value") > F.col("p95"), F.col("p95"))
            .otherwise(F.col("value")),
            9,
        ).alias("value_w"),
        ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95"))).alias(
            "clipped"
        ),
    )


@query(
    "mm06_binary_dedup",
    "X-multimodal,X-dedup",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 600000 AS doc_id, text
      FROM documents WHERE doc_id % 11 = 0
    )
    SELECT md5(text) AS digest,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           CAST((COUNT(*) - 1) * MIN(octet_length(encode(text))) AS BIGINT)
             AS bytes_saved
    FROM corpus GROUP BY 1
    """,
)
def mm06_binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dedup of binary media payloads — the first pass
    of every multimodal curation pipeline (identical images/audio enter
    the corpus many times under different ids; byte-level hashing
    removes them before any expensive decode). Runs on the binary table
    (payload digests computed scan-side in to_binary_table); the
    aggregate shuffles 16-byte digests, the payload bytes never leave
    the scan. bytes_saved prices the dedup win per content."""
    from gwasdb_spark.multimodal.binary import to_binary_table

    d = table(spark, sf_dir, "documents")
    # Re-submitted payloads under fresh ids: every run must exercise the
    # duplicate branch, not just hash singletons.
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 11 == 0).withColumn(
            "doc_id", F.col("doc_id") + 600000
        )
    )
    bt = to_binary_table(corpus)
    return bt.groupBy("digest").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min("doc_id").cast("long").alias("keeper_id"),
        ((F.count(F.lit(1)) - 1) * F.min("n_bytes")).cast("long").alias(
            "bytes_saved"
        ),
    )


@query(
    "x69_rolling_distinct",
    "X-events,A2",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    days AS (SELECT DISTINCT d FROM daily),
    win AS (
      SELECT dy.d AS window_day, da.user_id
      FROM days dy JOIN daily da
        ON da.d BETWEEN dy.d - INTERVAL 6 DAY AND dy.d
    )
    SELECT strftime(window_day, '%Y-%m-%d') AS window_day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_7d
    FROM win GROUP BY 1
    """,
)
def x69_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the sliding
    COUNT(DISTINCT) no window frame computes (distinct is not
    decomposable over frames). Scale shape: each (user, day) pair
    EXPLODES to the ≤7 window-days it contributes to, then one
    partial-agg'd distinct count per window-day — input is the distinct
    user-day relation (bounded by activity, not events), the fan-out is
    the fixed window length, and there is no range join. The oracle
    states the same set with the range join DuckDB plans well at test
    scale."""
    e = table(spark, sf_dir, "events")
    daily = e.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    days = daily.select("d").distinct()
    exploded = daily.withColumn(
        "window_day", F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6)))
    )
    return (
        exploded.join(
            F.broadcast(days.select(F.col("d").alias("window_day"))),
            "window_day",
            "left_semi",
        )
        .groupBy(F.date_format("window_day", "yyyy-MM-dd").alias("window_day"))
        .agg(F.count_distinct("user_id").cast("long").alias("n_active_7d"))
    )


@query(
    "st15_session_durations",
    "X-stream,§2.5",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ),
    f AS (
      SELECT user_id, event_id, ts_us,
             CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM g
    ),
    s AS (
      SELECT user_id, event_id, ts_us,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts_us, event_id) AS session_id
      FROM f
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS duration_us
    FROM s GROUP BY user_id, session_id
    """,
)
def st15_session_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-grain metrics — st02's sessionizer carried one step
    further: the running sum of session-start flags numbers each user's
    sessions, and the per-session aggregate yields event count and
    duration (exact integer microseconds; single-event sessions are
    duration 0). Both windows partition by user — parallel per user, no
    global state; this is the batch shape of what the streaming
    applyInPandasWithState sessionizer emits incrementally."""
    e = table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id"))
    flagged = e.select(
        "user_id",
        "event_id",
        ts_us.alias("ts_us"),
        F.when(
            F.lag(ts_us).over(w).isNull()
            | ((ts_us - F.lag(ts_us).over(w)) > 1800 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        flagged.withColumn(
            "session_id", F.sum("new_session").over(w2).cast("long")
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.max("ts_us") - F.min("ts_us")).cast("long").alias("duration_us"),
        )
    )


@query(
    "x70_activity_streaks",
    "X-events,§2.5",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    grouped AS (
      SELECT user_id, d,
             date_diff('day', DATE '1970-01-01', d)
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
      FROM daily
    ),
    streaks AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS streak_len
      FROM grouped GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(streak_len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(streak_len) AS BIGINT) AS longest_streak
    FROM streaks GROUP BY user_id
    """,
)
def x70_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user — the gaps-and-islands
    shape (day-number minus per-user row_number is constant within a
    run of consecutive days). Input is the distinct user-day relation;
    the only window partitions by user; two partial-agg'd rollups close
    it out. The engagement metric behind every retention dashboard's
    'streak' tile."""
    e = table(spark, sf_dir, "events")
    daily = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grouped = daily.withColumn(
        "grp",
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w),
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("streak_len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("streak_len").cast("long").alias("longest_streak"),
    )


@query(
    "x72_cumulative_uniques",
    "X-events,§2.5",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    new_per_day AS (
      SELECT first_day AS d, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY 1
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, n_new,
           CAST(SUM(n_new) OVER (ORDER BY d) AS BIGINT) AS n_cumulative
    FROM new_per_day
    """,
)
def x72_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative unique users over time — the growth curve: each user
    collapses to their first-seen day, new-user counts aggregate per
    day, and the running total is a window over the DAY relation (one
    row per active day — bounded by calendar time, not users or
    events). The expanding-distinct that a naive per-day
    COUNT(DISTINCT user) over growing windows recomputes quadratically
    falls out of one first-seen aggregation here."""
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("d")
    )
    per_day = firsts.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    w = Window.orderBy("d")
    return per_day.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("n_cumulative"),
    )


@query(
    "j11_nullsafe_join",
    "J-ext,§2.3",
    oracle="""
    WITH keyed AS (
      SELECT event_id,
             NULLIF(CAST(json_extract_string(props, '$.k') AS BIGINT) % 5, 4)
               AS bucket
      FROM events
    ),
    dim(bucket, label) AS (
      VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma'), (3, 'delta'),
             (NULL, 'unclassified')
    )
    SELECT d.label, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM keyed k JOIN dim d ON k.bucket IS NOT DISTINCT FROM d.bucket
    GROUP BY d.label
    """,
)
def j11_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — the join
    semantics a plain `=` silently breaks: a nullable classification key
    (here a JSON-extracted bucket where residue 4 maps to NULL) must
    still match its dimension's NULL row instead of dropping. Spark
    plans `<=>` as a hash join (null-safe keys hash like values), so
    the dim broadcasts exactly as with `=` — semantics change, plan
    shape does not."""
    e = table(spark, sf_dir, "events")
    keyed = e.select(
        "event_id",
        F.nullif(
            F.get_json_object("props", "$.k").cast("long") % 5, F.lit(4)
        ).alias("bucket"),
    )
    dim = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "gamma"), (3, "delta"), (None, "unclassified")],
        "bucket bigint, label string",
    )
    return (
        keyed.join(F.broadcast(dim), keyed["bucket"].eqNullSafe(dim["bucket"]))
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


@query(
    "x73_langid_confusion",
    "X-text,X-quality",
    oracle=r"""
    WITH s AS (
      SELECT doc_id, lang,
        CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|ein|nicht|mit)\b')) AS BIGINT) AS score_de,
        CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that)\b')) AS BIGINT) AS score_en,
        CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|un|es)\b')) AS BIGINT) AS score_es,
        CAST(len(regexp_extract_all(lower(text), '\b(le|la|de|et|un|est|que|pour)\b')) AS BIGINT) AS score_fr
      FROM documents
    ),
    pred AS (
      SELECT lang AS labeled,
           CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                WHEN score_de >= score_en AND score_de >= score_es
                     AND score_de >= score_fr THEN 'de'
                WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS detected
      FROM s
    )
    SELECT labeled, detected, CAST(COUNT(*) AS BIGINT) AS n_docs,
           labeled = detected AS agree
    FROM pred GROUP BY labeled, detected
    """,
)
def x73_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion census — the detector-quality audit a lang
    gate needs before anyone trusts it: x07's stopword-argmax detector
    against the corpus' labeled `lang` column, counted per (labeled,
    detected) cell. Pure scan-side scoring + one tiny group-by (cells ≤
    |langs|²); the `agree` flag makes the diagonal trivially
    filterable."""
    from gwasdb_spark.functions import text as TX

    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("labeled"),
            TX.lang_id(F.col("text")).alias("detected"),
        )
        .groupBy("labeled", "detected")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn("agree", F.col("labeled") == F.col("detected"))
    )


# ---------------------------------------------------------------------------
# Round-6 batch: skew-mitigation, leakage-safe splits, schema drift.
# ---------------------------------------------------------------------------


@query(
    "sk03_salted_skew_agg",
    "X-skew,§2.4",
    oracle="""
    SELECT CASE WHEN l_suppkey % 10 < 3 THEN -1 ELSE l_suppkey END AS hot_key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem
    GROUP BY 1
    """,
)
def sk03_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-level aggregation over a deliberately skewed key: the
    key gains a deterministic 16-way suffix (l_orderkey % 16 —
    content-derived, no RNG), is partially aggregated per (key, salt),
    then finalized per key. Integer cents arithmetic makes the
    two-level re-aggregation bit-identical to the oracle's single
    GROUP BY (the associativity proof is exact, not floating-point).

    Honesty note on WHEN the salt pays (measured in
    scripts/stress_scale.py stress_skew): for plain sums/counts,
    Spark's map-side partial aggregation already reduces every task to
    one (key, partial) row, so the final exchange is tiny and the naive
    GROUP BY is skew-free — this query demonstrates the exact-
    associativity MECHANICS on the cheapest payload. The pattern is
    load-bearing where partial aggregation cannot pre-reduce: distinct
    aggregates (the deduped (key, value) stream still funnels the hot
    key's values to one reducer — there the salt must hash the VALUE so
    per-salt distinct sets stay disjoint and their sum exact),
    collect_list/set payloads, and holistic UDAFs. AQE's skew handling
    splits JOIN partitions only; none of these aggregate shapes get
    runtime relief. The demo key funnels every l_suppkey with residue
    <3 mod 10 (~30% of the table) into one value."""
    li = table(spark, sf_dir, "lineitem")
    hot = F.when(F.col("l_suppkey") % 10 < 3, F.lit(-1)).otherwise(
        F.col("l_suppkey")
    )
    salted = li.select(
        hot.alias("hot_key"),
        (F.col("l_orderkey") % 16).alias("salt"),
        cents(F.col("l_extendedprice")).alias("cents"),
    )
    partial = salted.groupBy("hot_key", "salt").agg(
        F.count(F.lit(1)).alias("n_part"),
        F.sum("cents").alias("cents_part"),
    )
    return partial.groupBy("hot_key").agg(
        F.sum("n_part").cast("long").alias("n_rows"),
        F.sum("cents_part").cast("long").alias("revenue_cents"),
    )


@query(
    "x99_leakage_safe_split",
    "X-sample,X-qa",
    oracle="""
    WITH b AS (
      SELECT doc_id, source, n_chars,
             CAST('0x' || substr(md5(source), 1, 8) AS BIGINT) % 100
               AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY 1
    """,
)
def x99_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test split — hash the SOURCE, not the doc:
    a doc-level hash split leaks near-duplicate documents from one
    crawl host across the train/eval boundary (the classic
    contamination-by-split bug); bucketing md5(source) % 100 into
    80/10/10 keeps every host entirely inside one split, by
    construction, on any engine, forever (content-addressed — re-runs
    and incremental batches land identically; no RNG state). One
    scan-side projection + one 3-row aggregate; the no-source-spans-
    splits invariant needs no verification query because the split is
    a pure function of source."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("source").cast("binary")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "source", "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("source").cast("long").alias("n_sources"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@query(
    "e03_props_key_census",
    "X-events,X-qa",
    oracle="""
    WITH keys AS (
      SELECT unnest(json_keys(props)) AS key FROM events
    ),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_events FROM events)
    SELECT key, CAST(COUNT(*) AS BIGINT) AS n_present,
           ROUND(COUNT(*) / n_events, 6) AS coverage
    FROM keys CROSS JOIN tot
    GROUP BY key, n_events
    """,
)
def e03_props_key_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema-drift census: which keys actually occur in
    the JSON payload column and what fraction of events carry each —
    the audit that catches a producer silently adding/dropping fields
    before a typed from_json schema goes stale. Keys come from parsing
    props as map<string,string> (JVM Jackson, no Python); the event
    total rides as a broadcast 1-row constant. Output is
    |distinct keys| rows — scan-bounded work, key-grain shuffle.

    Dirty-input contract: coverage is the fraction of ALL events that
    carry the key — events whose props is NULL or unparseable JSON
    yield no keys from from_json (it returns NULL rather than erroring)
    but still count in the n_events denominator, i.e. parse failures
    count as key-absent. A strict engine (DuckDB json_keys) would
    instead error on malformed JSON; the generated dataset has none, so
    the oracles agree, but a real-data consumer should pre-filter or
    quarantine malformed payloads if they want them surfaced."""
    e = table(spark, sf_dir, "events")
    keys = e.select(
        F.explode(
            F.map_keys(F.from_json(F.col("props"), "map<string,string>"))
        ).alias("key")
    )
    tot = e.agg(F.count(F.lit(1)).cast("double").alias("n_events"))
    return (
        keys.crossJoin(F.broadcast(tot))
        .groupBy("key", "n_events")
        .agg(F.count(F.lit(1)).cast("long").alias("n_present"))
        .select(
            "key",
            "n_present",
            F.round(F.col("n_present") / F.col("n_events"), 6).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# Round 7: vector storage, clustering profile, dedup distribution,
# event attribution
# ---------------------------------------------------------------------------


@query(
    "x101_int8_quant_audit",
    "X-sim,X-qa",
    oracle="""
    WITH vals AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    scales AS (SELECT dim, MAX(ABS(v)) AS scale FROM vals GROUP BY 1),
    err AS (
      SELECT vals.dim, scale,
             CASE WHEN scale > 0
                  THEN ABS(v - ROUND(v / scale * 127.0) * scale / 127.0)
                  ELSE 0.0 END AS err
      FROM vals JOIN scales USING (dim)
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           scale,
           ROUND(AVG(err), 9) AS mean_abs_err,
           ROUND(MAX(err), 9) AS max_abs_err
    FROM err GROUP BY dim, scale
    """,
)
def x101_int8_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding-quantization audit: per-DIMENSION symmetric scale
    (corpus-wide max|v| — the codebook a column-quantized store shares
    across all vectors) and the reconstruction error the 4× storage/IO
    cut costs. Complements x43, which is the per-VECTOR encode step
    (each row carries its own scale); this is the corpus-statistics +
    error-measurement side that decides whether shared-scale int8 is
    safe to deploy. Two skinny aggregates over the posexploded
    (dim, value) stream; the |dims|-row scale table broadcasts back for
    the error pass (operators/similarity.py int8_quantization_audit)."""
    from gwasdb_spark.operators.similarity import int8_quantization_audit

    e = table(spark, sf_dir, "embeddings")
    res = int8_quantization_audit(e, "embedding")
    return res.select(
        F.col("dim").cast("long").alias("dim"),
        "n_values",
        "scale",
        F.round("mean_abs_err", 9).alias("mean_abs_err"),
        F.round("max_abs_err", 9).alias("max_abs_err"),
    )


_X102_COS9 = (
    "ROUND(" + _COS_SQL.format(a="e.embedding", b="c.cv")
    + " / (sqrt(" + _COS_SQL.format(a="e.embedding", b="e.embedding")
    + ") * sqrt(" + _COS_SQL.format(a="c.cv", b="c.cv") + ")), 9)"
)


@query(
    "x102_kmeans_cluster_profile",
    "X-sim,X-sample",
    oracle=f"""
    WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv
               FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.centroid_id, {_X102_COS9} AS cos9
      FROM embeddings e CROSS JOIN c
    ),
    assigned AS (
      SELECT vec_id, centroid_id, cos9,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos9 DESC, centroid_id) AS rk
      FROM scored
    )
    SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_assigned,
           ROUND(AVG(cos9), 6) AS avg_cosine,
           ROUND(MIN(cos9), 6) AS min_cosine
    FROM assigned WHERE rk = 1 GROUP BY centroid_id
    """,
)
def x102_kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-profile report over a fixed 8-centroid codebook (vectors
    id < 8): nearest-centroid assignment by cosine, per-cluster
    occupancy and cohesion — the k-means E-step / IVF cell-assign
    surfaced as an auditable query (cluster-balanced sampling and
    SemDeDup-style curation read exactly this table). Codebook
    broadcasts; assignment argmax is a per-vector window (parallel);
    ties break on 9-dp-rounded cosine then centroid id so both engines
    bucket identically (operators/similarity.py
    nearest_centroid_profile)."""
    from gwasdb_spark.operators.similarity import nearest_centroid_profile

    e = table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 8)
    return nearest_centroid_profile(e, cents, "vec_id", "embedding")


@query(
    "x103_dup_similarity_histogram",
    "X-dedup,X-qa",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(w) - 2, 0) + 1),
                 i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingles
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents)
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) <= 100),
    pruned AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN rare USING (shingle)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM pruned a JOIN pruned b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared)
               AS jaccard
      FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.05
    )
    SELECT CAST(LEAST(FLOOR(jaccard * 10), 9) AS BIGINT) AS sim_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(jaccard), 6) AS avg_jaccard,
           ROUND(MAX(jaccard), 6) AS max_jaccard
    FROM pairs GROUP BY 1
    """,
)
def x103_dup_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate similarity DISTRIBUTION — candidate-pair counts per
    Jaccard decile above 0.05 — the threshold-sweep report that decides
    where a dedup pipeline should cut (a bimodal histogram → safe
    threshold in the valley; mass piled at the cut → the threshold is
    doing real work and needs review). Reuses x02's exact shingle
    machinery (shared exchange, ≤100-doc frequency prune bounding the
    pair blow-up); the histogram adds one ≤10-row aggregate on top, so
    the sweep costs ONE pass over the pair set rather than re-running
    dedup per candidate threshold."""
    d = table(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.05, max_shingle_docs=100
    )
    bucket = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("long")
    return (
        pairs.groupBy(bucket.alias("sim_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
    )


@query(
    "e04_last_touch_attribution",
    "X-events,§2.5",
    oracle="""
    WITH purch AS (
      SELECT event_id AS purchase_id, user_id, ts
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id AS click_id, user_id, ts
      FROM events WHERE event_type = 'click'
    ),
    cand AS (
      SELECT p.purchase_id, c.click_id, c.ts AS click_ts, p.ts AS p_ts,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY c.ts DESC, c.click_id DESC) AS rk
      FROM purch p JOIN clicks c
        ON c.user_id = p.user_id
       AND c.ts <= p.ts
       AND c.ts >= p.ts - INTERVAL 7 DAY
    )
    SELECT p.purchase_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           CAST(COALESCE(w.click_id, -1) AS BIGINT) AS click_id,
           CAST(COALESCE(date_diff('second', w.click_ts, p.ts), -1)
                AS BIGINT) AS gap_s
    FROM purch p
    LEFT JOIN (SELECT purchase_id, click_id, click_ts FROM cand WHERE rk = 1)
      w ON w.purchase_id = p.purchase_id
    """,
)
def e04_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credits the user's most
    recent click within a 7-day lookback (ties at equal ts → highest
    click id; no click in window → −1 sentinel). The canonical marketing
    /product-analytics join, and an as-of join in disguise — built on
    operators/asof.py's union+window composition, so the cost is ONE
    shuffle of |purchases|+|clicks| skinny rows hash-partitioned by
    user, not a per-user pair blow-up. The 7-day window applies as a
    post-filter on the carried click ts: any in-window click is
    necessarily more recent than an out-of-window one, so backward-asof
    + filter ≡ most-recent-in-window."""
    from gwasdb_spark.operators.asof import asof_join

    e = table(spark, sf_dir, "events")
    purch = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.col("user_id"), F.col("ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts"),
        F.col("ts").alias("click_ts"),
    )
    joined = asof_join(
        purch,
        clicks,
        ts_col="ts",
        by_cols=["user_id"],
        value_cols=["click_id", "click_ts"],
        tiebreak_col="click_id",
        direction="backward",
    )
    in_window = F.col("asof_click_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
    gap = F.col("ts").cast("long") - F.col("asof_click_ts").cast("long")
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.when(in_window, F.col("asof_click_id"))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("click_id"),
        F.when(in_window, gap).otherwise(F.lit(-1)).cast("long").alias("gap_s"),
    )


@query(
    "x105_source_overlap_matrix",
    "X-dedup,X-qa",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT source, shingle FROM (
        SELECT source,
               unnest(list_transform(
                 range(1, greatest(len(w) - 2, 0) + 1),
                 i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingle
        FROM (SELECT source, string_split_regex(trim(text), '\\s+') AS w
              FROM documents)
      )
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY 1),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared)
             AS jaccard
    FROM shared
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    """,
)
def x105_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level 3-gram Jaccard — which SOURCES duplicate
    each other (mirrors, re-crawls, syndication) before any doc-grain
    dedup decides survivors. Distinct (source, shingle-hash) grain
    bounds the self-join fan-out at |sources|² per shingle regardless of
    corpus size; the distinct relation is pinned once and feeds sizes +
    both join sides (operators/dedup.py source_overlap_matrix; the
    oracle joins shingle STRINGS — collision-free ground truth, x02
    discipline)."""
    d = table(spark, sf_dir, "documents")
    return DD.source_overlap_matrix(d, "source", "text", n=3)


_COS16_SQL = (
    "list_sum(list_transform(range(1, 17), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@query(
    "x107_matryoshka_audit",
    "X-sim,X-qa",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    full_rank AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               {_COS_SQL.format(a='qv', b='cv')}
                 / (sqrt({_COS_SQL.format(a='qv', b='qv')})
                    * sqrt({_COS_SQL.format(a='cv', b='cv')})) DESC,
               neighbor_id) AS rank
      FROM q CROSS JOIN c WHERE query_id != neighbor_id
    ),
    trunc_rank AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               {_COS16_SQL.format(a='qv', b='cv')}
                 / (sqrt({_COS16_SQL.format(a='qv', b='qv')})
                    * sqrt({_COS16_SQL.format(a='cv', b='cv')})) DESC,
               neighbor_id) AS rank
      FROM q CROSS JOIN c WHERE query_id != neighbor_id
    )
    SELECT f.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(COUNT(t.neighbor_id) AS DOUBLE) / 10.0 AS overlap_frac
    FROM (SELECT * FROM full_rank WHERE rank <= 10) f
    LEFT JOIN (SELECT * FROM trunc_rank WHERE rank <= 10) t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
)
def x107_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/truncated-embedding fidelity audit: for each query,
    how much of the exact 64-dim cosine top-10 survives when retrieval
    runs on the FIRST 16 DIMENSIONS only — the measured basis for the
    truncate-to-serve decision (4× less vector IO and ANN memory, the
    dimensional sibling of x101's int8 depth cut; MRL-style embeddings
    make prefixes usable by construction, this measures whether THESE
    embeddings tolerate it). Two broadcast-query top-k scans (full +
    sliced) joined on (query, neighbor); output is |queries| rows.
    At corpus scale the truncated pass reads a 16-float column — the
    win this audit prices."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    full = brute_force_topk(q, e, "vec_id", "embedding", k=10).select(
        "query_id", "neighbor_id"
    )
    e16 = e.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    q16 = e16.filter(F.col("vec_id") < 5)
    trunc = brute_force_topk(q16, e16, "vec_id", "embedding", k=10).select(
        "query_id", F.col("neighbor_id").alias("t_neighbor")
    )
    hit = full.join(
        trunc,
        (full.query_id == trunc.query_id)
        & (full.neighbor_id == trunc.t_neighbor),
        "left",
    ).select(full.query_id, "t_neighbor")
    return hit.groupBy("query_id").agg(
        F.count("t_neighbor").cast("long").alias("n_overlap"),
        (F.count("t_neighbor").cast("double") / F.lit(10.0)).alias(
            "overlap_frac"
        ),
    )


@query(
    "e05_event_transitions",
    "X-events,§2.5",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    t AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (
      SELECT from_type, CAST(SUM(n_transitions) AS DOUBLE) AS n_from
      FROM t GROUP BY 1
    )
    SELECT t.from_type, t.to_type, t.n_transitions,
           ROUND(t.n_transitions / tot.n_from, 6) AS p_transition
    FROM t JOIN tot USING (from_type)
    """,
)
def e05_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition census over per-user event streams:
    counts and conditional probabilities of event_type → next
    event_type — the path-analysis primitive behind funnel discovery
    ("what do users actually do after an error?") and synthetic-session
    generation. One lag window partitioned by user (parallel, no
    cross-user state), a |types|²-bounded count aggregate, and the
    per-source totals joined back — at most |types| rows broadcast.
    Order within a user ties on (ts, event_id), same as x64/st02."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    t = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions")
    )
    tot = t.groupBy("from_type").agg(
        F.sum("n_transitions").cast("double").alias("n_from")
    )
    return (
        t.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.round(F.col("n_transitions") / F.col("n_from"), 6).alias(
                "p_transition"
            ),
        )
    )


@query(
    "mm07_binary_neardup_pairs",
    "X-multimodal,X-dedup",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 700000, text || ' v2-tail-marker'
      FROM documents WHERE doc_id % 7 = 0
    ),
    hx AS (SELECT doc_id, hex(encode(text)) AS h FROM corpus),
    grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, substr(h, CAST(p AS INT), 16) AS g
        FROM (SELECT doc_id, h,
                     unnest(range(1, greatest(len(h) - 15, 0) + 1, 8)) AS p
              FROM hx)
      ) WHERE len(g) = 16
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM grams GROUP BY 1),
    rare AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) <= 100),
    pruned AS (SELECT grams.doc_id, grams.g FROM grams JOIN rare USING (g)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM pruned a JOIN pruned b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared)
             AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.3
    """,
)
def mm07_binary_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level near-duplicate pairs over binary media payloads —
    mm06's fuzzy sibling: catches blobs differing in a few bytes
    (retagged audio, EXIF-touched images, re-serialized containers)
    that digest dedup misses, WITHOUT decoding. Near-dups are planted
    (every 7th payload re-enters with a short tail appended under a
    fresh id) so the pair branch is always exercised; byte 8-grams at
    stride 4 feed the same bounded-bucket pair pipeline as text dedup
    (multimodal/binary.py byte_shingle_near_pairs; oracle joins gram
    STRINGS — collision-free ground truth)."""
    from gwasdb_spark.multimodal.binary import (
        byte_shingle_near_pairs,
        to_binary_table,
    )

    d = table(spark, sf_dir, "documents")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + 700000
        ).withColumn("text", F.concat(F.col("text"), F.lit(" v2-tail-marker")))
    )
    bt = to_binary_table(corpus)
    return byte_shingle_near_pairs(bt, gram_bytes=8, stride_bytes=4, threshold=0.3)


@query(
    "x110_diversified_topk",
    "X-sim",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, label, embedding AS cv
          FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, label,
             {_COS_SQL.format(a='qv', b='cv')}
               / (sqrt({_COS_SQL.format(a='qv', b='qv')})
                  * sqrt({_COS_SQL.format(a='cv', b='cv')})) AS cos_raw
      FROM q CROSS JOIN c WHERE query_id != neighbor_id
    ),
    capped AS (
      SELECT query_id, neighbor_id, label, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id, label
                                ORDER BY cos_raw DESC, neighbor_id)
               AS label_rank
      FROM scored QUALIFY label_rank <= 2
    )
    SELECT query_id, neighbor_id, label,
           CAST(rank AS BIGINT) AS rank, ROUND(cos_raw, 6) AS cosine
    FROM (
      SELECT query_id, neighbor_id, label, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM capped
    ) WHERE rank <= 10
    """,
)
def x110_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval: exact cosine top-10 under a per-LABEL quota
    of 2 — the result-diversification contract RAG/search serving needs
    (ten near-identical neighbors from one cluster are nine wasted
    slots; the quota forces cross-cluster coverage). Two stacked
    windows, both PARTITIONED (query × label, then query) — no global
    sort; the label-quota filter shrinks the candidate set before the
    final rank, so the added cost over x05 is one extra bounded window
    pass. Queries broadcast; corpus scanned once."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), "label",
        F.col("embedding").alias("cv"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", "label",
            cosine(F.col("qv"), F.col("cv")).alias("cos_raw"),
        )
    )
    w_label = Window.partitionBy("query_id", "label").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    capped = (
        scored.withColumn("label_rank", F.row_number().over(w_label))
        .filter(F.col("label_rank") <= 2)
    )
    w_q = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        capped.withColumn("rank", F.row_number().over(w_q).cast("long"))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id", "neighbor_id", "label", "rank",
            F.round("cos_raw", 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# x173: one ingest batch, four maintained indexes (r11 verdict #7)
# ---------------------------------------------------------------------------
_X173_ANN_SQL = """
    WITH cells AS (
      SELECT vec_id, embedding AS e,
             CAST(list_position(embedding, list_max(embedding)) AS INT)
               AS cell
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, e AS qv FROM cells
      WHERE vec_id BETWEEN 1 AND 5
    ),
    dims AS (SELECT CAST(d AS INT) AS cell FROM range(1, 65) t(d)),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, dims.cell,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY CAST(qv[dims.cell] AS DOUBLE) DESC, dims.cell)
                 AS dim_rank
        FROM q CROSS JOIN dims
      ) WHERE dim_rank <= 4
    ),
    cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id, q.qv, c.e AS cv
      FROM probes p
      JOIN cells c ON c.cell = p.cell
      JOIN q ON q.query_id = p.query_id
      WHERE c.vec_id <> p.query_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             list_sum(list_transform(range(1, 65),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))))
               AS cos_raw
      FROM cand
    )
    SELECT query_id, neighbor_id, rank, ROUND(cos_raw, 6) AS cosine
    FROM (
      SELECT query_id, neighbor_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
"""


@query(
    "x173_incremental_ingest",
    "C-composite,X-dedup,X-sim,X-search",
    oracle=f"""
    WITH dd AS (
      SELECT b.doc_id,
             CASE WHEN c.content_hash IS NOT NULL THEN 'dup_corpus'
                  WHEN b.doc_id <> MIN(b.doc_id)
                       OVER (PARTITION BY b.content_hash) THEN 'dup_batch'
                  ELSE 'new' END AS status
      FROM (SELECT doc_id, md5(text) AS content_hash FROM documents
            WHERE doc_id % 5 = 0) b
      LEFT JOIN (SELECT DISTINCT md5(text) AS content_hash FROM documents
                 WHERE doc_id % 5 <> 0) c USING (content_hash)
    ),
    nd AS ({_x03_oracle()}
    ),
    ann AS ({_X173_ANN_SQL}
    ),
    bm AS ({_X12G_FULL_BM25_ORACLE}
    )
    SELECT family, k1, k2, v1, v2 FROM (
      SELECT 'dedup' AS family, doc_id AS k1, status AS k2,
             CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2 FROM dd
      UNION ALL
      SELECT 'neardup', id_a, CAST(id_b AS VARCHAR), est_jaccard,
             CAST(NULL AS DOUBLE)
      FROM nd WHERE id_a % 5 = 0 OR id_b % 5 = 0
      UNION ALL
      SELECT 'ann', query_id, CAST(neighbor_id AS VARCHAR),
             CAST(rank AS DOUBLE), cosine FROM ann
      UNION ALL
      SELECT 'bm25', doc_id, CAST(NULL AS VARCHAR), CAST(rank AS DOUBLE),
             score FROM bm
    ) ORDER BY family, k1, k2
    """,
)
def x173_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE daily ingest batch applied to ALL FOUR maintained store
    families in one run — the "one ingest, four indexes" shape a
    production corpus pipeline actually executes nightly (r11 verdict
    #7), composing the incremental paths each family already proved in
    isolation:

      1. exact-dup digests — the batch labels against a PERSISTED
         corpus digest store and appends its new digests (x44's join,
         x44 rescanned the corpus; here the store is the artifact)
      2. minhash band store — probe + append (x171's machinery, its
         cross-engine band config, shared _neardup_probe)
      3. ANN cells — upsert_cell_index touched-partition absorb (x153),
         then the x136 probe serves over corpus∪batch
      4. BM25 postings — update_text_index delta segments (x62), then
         the x12g serve query over the updated index

    The single oracle replays all four probe paths over the full
    corpus in SQL (batch ∪ corpus must be indistinguishable from a
    from-scratch build — the maintenance ≡ rebuild contract), unioned
    into one generic (family, k1, k2, v1, v2) relation so one hash
    adjudicates the whole ingest. Every maintenance step is cost ∝
    batch: digest anti-join append, band append, manifest-targeted
    cell rewrites, term-sorted delta segments — nothing rereads the
    corpus, which is the property that makes nightly ingest viable at
    100 TB. Warm-idempotent: builds are isdir-gated, appends are
    marker-gated, the ANN upsert replaces its own rows, the BM25
    update anti-joins into a no-op; probes always read corpus-only
    stores plus this batch's in-flight signatures, so a replayed run
    returns the identical relation."""
    import numpy as np

    from gwasdb_spark.functions.vectors import cosine
    from gwasdb_spark.operators.ann_index import (
        build_cell_index,
        read_cell_index,
        upsert_cell_index,
    )
    from gwasdb_spark.operators.search import (
        bm25_topk_indexed,
        build_text_index,
        update_text_index,
    )
    from gwasdb_spark.plans.mining_ops import _corpus_fingerprint

    mod = 5
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    batch_d = d.filter(F.col("doc_id") % mod == 0)
    corpus_d = d.filter(F.col("doc_id") % mod != 0)
    batch_e = e.filter(F.col("vec_id") % mod == 0)
    corpus_e = e.filter(F.col("vec_id") % mod != 0)
    base = stage_dir("x173_ingest_" + _fp_tag(sf_dir))
    nulld = F.lit(None).cast("double")

    # The four store families are INDEPENDENT (disjoint on-disk stores,
    # disjoint maintenance writes), but their builds/upserts/collects
    # were submitted sequentially — each family's jobs left the cluster
    # idle during the previous family's tail. Run the four maintenance
    # pipelines from a small driver thread pool (guide §2.6 — overlap
    # independent jobs; Spark's scheduler runs concurrent jobs FIFO and
    # back-fills freed executors). Thread safety: no pooled op mutates
    # session conf — dynamic partition overwrite is a per-writer option
    # since r14 (ADVICE r13), removing the cross-thread coupling the
    # old comment-enforced invariant guarded. The returned plan (and so
    # the result) is identical — only the side-effect jobs overlap.

    # -- family 1: exact-dup digest store ------------------------------
    def fam_dedup():
        dig_corpus = os.path.join(base, "digests", "corpus")
        dig_batches = os.path.join(base, "digests", "batches")
        if not os.path.isdir(dig_corpus):
            corpus_d.select(F.md5("text").alias("content_hash")).distinct() \
                .write.parquet(dig_corpus)
        digests = spark.read.parquet(dig_corpus)
        bh = batch_d.select("doc_id", F.md5("text").alias("content_hash"))
        wdd = Window.partitionBy("content_hash")
        dedup_rows = (
            bh.join(digests.withColumn("__corpus", F.lit(True)),
                    "content_hash", "left")
            .withColumn("__minb", F.min("doc_id").over(wdd))
            .select(
                F.lit("dedup").alias("family"),
                F.col("doc_id").alias("k1"),
                F.when(F.col("__corpus").isNotNull(), F.lit("dup_corpus"))
                .when(F.col("doc_id") != F.col("__minb"), F.lit("dup_batch"))
                .otherwise(F.lit("new"))
                .alias("k2"),
                nulld.alias("v1"),
                nulld.alias("v2"),
            )
        )
        marker = os.path.join(base, "digests", "_applied")
        if not os.path.exists(marker):
            bh.select("content_hash").distinct().join(
                digests, "content_hash", "left_anti"
            ).write.mode("append").parquet(dig_batches)
            with open(marker, "w") as fh:
                fh.write("batch digests appended\n")
        return dedup_rows

    # -- family 2: minhash band store (x171 machinery, mod-5 batch) ----
    def fam_bands():
        cfg = dict(
            n=3, num_hashes=32, bands=_MH_BANDS,
            shingle_hash_fn=_mh_h32, perm_params=(_MH_P, _MH_AB),
            band_hash_fn=_mh_band60,
        )
        bands_corpus = os.path.join(base, "bands", "corpus")
        bands_batches = os.path.join(base, "bands", "batches")
        if not os.path.isdir(bands_corpus):
            DD.minhash_bands(corpus_d, "doc_id", "text", **cfg).write.parquet(
                bands_corpus
            )
        band_store = spark.read.parquet(bands_corpus)
        bb = DD.minhash_bands(
            batch_d, "doc_id", "text", **cfg
        ).localCheckpoint(eager=True)
        bmark = os.path.join(base, "bands", "_applied")
        if not os.path.exists(bmark):
            bb.write.mode("append").parquet(bands_batches)
            with open(bmark, "w") as fh:
                fh.write("batch bands appended\n")
        return _neardup_probe(bb, band_store).select(
            F.lit("neardup").alias("family"),
            F.col("id_a").alias("k1"),
            F.col("id_b").cast("string").alias("k2"),
            F.col("est_jaccard").alias("v1"),
            nulld.alias("v2"),
        )

    # -- family 3: ANN cell index (x153 upsert, x136 probe) ------------
    def fam_ann():
        annb = os.path.join(base, "ann")
        if not os.path.isdir(os.path.join(annb, "index")):
            build_cell_index(corpus_e.select("vec_id", "embedding"), annb)
        upsert_cell_index(spark, annb, batch_e.select("vec_id", "embedding"))
        index = read_cell_index(spark, annb)
        qrows = (
            index.filter(F.col("vec_id").between(1, 5))
            .select("vec_id", "embedding")
            .collect()
        )
        probe_rows = []
        for r in qrows:
            qv = np.asarray(r["embedding"], dtype=np.float64)
            top = np.lexsort((np.arange(qv.size), -qv))[:4]
            for c in top:
                probe_rows.append(
                    (int(r["vec_id"]),
                     [float(x) for x in r["embedding"]], int(c) + 1)
                )
        probes = spark.createDataFrame(
            probe_rows, "query_id long, qv array<float>, cell int"
        )
        probe_cells = sorted({p[2] for p in probe_rows})
        cand = (
            index.filter(F.col("cell").isin(probe_cells))
            .join(F.broadcast(probes), "cell")
            .filter(F.col("vec_id") != F.col("query_id"))
        )
        wann = Window.partitionBy("query_id").orderBy(
            F.col("cos_raw").desc(), F.col("neighbor_id")
        )
        return (
            cand.select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                cosine(F.col("qv"), F.col("embedding")).alias("cos_raw"),
            )
            .withColumn("rank", F.row_number().over(wann))
            .filter(F.col("rank") <= 10)
            .select(
                F.lit("ann").alias("family"),
                F.col("query_id").alias("k1"),
                F.col("neighbor_id").cast("string").alias("k2"),
                F.col("rank").cast("double").alias("v1"),
                F.round("cos_raw", 6).alias("v2"),
            )
        )

    # -- family 4: BM25 inverted index (x62 update, x12g serve) --------
    def fam_bm25():
        idx = os.path.join(base, "bm25")
        if not os.path.isdir(os.path.join(idx, "consts")):
            build_text_index(corpus_d, idx)
        update_text_index(batch_d, idx)
        return bm25_topk_indexed(
            spark, idx, ["hash", "join", "vector"], "doc_id", k=10
        ).select(
            F.lit("bm25").alias("family"),
            F.col("doc_id").alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            F.col("rank").cast("double").alias("v1"),
            F.col("score").alias("v2"),
        )

    dedup_rows, neardup_rows, ann_rows, bm_rows = run_concurrently(
        fam_dedup, fam_bands, fam_ann, fam_bm25
    )

    return (
        dedup_rows.unionByName(neardup_rows)
        .unionByName(ann_rows)
        .unionByName(bm_rows)
        .orderBy("family", "k1", "k2")
    )


# ---------------------------------------------------------------------------
# x174/x175: graph-ANN spike (r11 verdict #6)
# ---------------------------------------------------------------------------
@query(
    "x174_ann_graph_topk",
    "X-sim,X-serve",
    oracle=f"""
    WITH ann AS ({_X173_ANN_SQL}
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
    FROM ann
    """,
)
def x174_ann_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell neighbor-graph ANN serve (NSW-lite inside IVF cells —
    operators/ann_graph.py, the r11-verdict graph spike): a static
    R-NN + backbone graph per axis cell turns the probed-cell scan into
    a greedy beam search, cutting distance evals per cell from |cell|
    to ~ef·R·hops so an equal eval budget probes more cells (recall
    uplift measured by the `anngraph` stress gate at 200k vectors;
    the x05b/d/e oracle recipe applies here: this driver row runs the
    FLAT REGIME, ef=|cell|, where the connected graph's beam provably
    visits the whole cell and the result is hash-equal to the exact
    SQL replay of the same probes). Probes are the x136 axis top-4
    dims for queries 1..5; graphs are arrays in parquet-able rows —
    a static DataFrame artifact, not a pointer store."""
    import numpy as np

    from gwasdb_spark.operators.ann_graph import (
        build_cell_graphs,
        graph_probe_topk,
    )
    from gwasdb_spark.operators.ann_index import axis_cell

    e = table(spark, sf_dir, "embeddings")
    qrows = (
        e.filter(F.col("vec_id").between(1, 5))
        .select("vec_id", "embedding")
        .collect()
    )
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        top = np.lexsort((np.arange(qv.size), -qv))[:4]
        for c in top:
            probe_rows.append(
                (int(r["vec_id"]),
                 [float(x) for x in r["embedding"]], int(c) + 1)
            )
    # Per-cell graphs are INDEPENDENT (each cell's edges derive from
    # that cell's rows alone), so building only the probed cells'
    # graphs yields bit-identical results for every probed cell —
    # unprobed cells contribute nothing to the serve. This is the same
    # probed-cell discipline the persisted path gets from partition
    # pruning; in-plan, the filter must sit BELOW the applyInPandas
    # build (Catalyst cannot push a filter through the opaque Python
    # node).
    probe_cells = sorted({p[2] for p in probe_rows})
    assigned = e.select(
        "vec_id", "embedding", axis_cell(F.col("embedding")).alias("cell")
    ).filter(F.col("cell").isin(probe_cells))
    graphs = build_cell_graphs(assigned, R=6)
    graph_index = assigned.join(graphs, ["cell", "vec_id"])
    probes = spark.createDataFrame(
        probe_rows, "query_id long, q_vec array<float>, cell int"
    )
    out = graph_probe_topk(probes, graph_index, k=10, ef=0)  # ef=0: flat
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


# Shared by x175 (flat spill serve) and x178 (graphs built OVER the
# spill assignment): in the flat regime both compute the exact top-k
# over the identical spill candidate set, so one SQL replay adjudicates
# both — the graph layer must be result-invisible, only cheaper.
_X175_SPILL_SQL = """
    WITH spill AS (
      SELECT vec_id, embedding AS e, CAST(p.d AS INT) AS cell
      FROM embeddings CROSS JOIN range(1, 65) p(d)
      WHERE CAST(e[CAST(p.d AS INT)] AS DOUBLE)
            >= CAST(list_max(e) AS DOUBLE) - 0.05
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id BETWEEN 1 AND 5
    ),
    dims AS (SELECT CAST(d AS INT) AS cell FROM range(1, 65) t(d)),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, dims.cell,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY CAST(qv[dims.cell] AS DOUBLE) DESC, dims.cell)
                 AS dim_rank
        FROM q CROSS JOIN dims
      ) WHERE dim_rank <= 4
    ),
    cand AS (
      SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
      FROM probes p JOIN spill s ON s.cell = p.cell
      WHERE s.vec_id <> p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             list_sum(list_transform(range(1, 65),
               i -> CAST(q.qv[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(v.embedding[i] AS DOUBLE)
                         * CAST(v.embedding[i] AS DOUBLE)))))
               AS cos_raw
      FROM cand c
      JOIN q ON q.query_id = c.query_id
      JOIN embeddings v ON v.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           ROUND(cos_raw, 6) AS cosine
    FROM (
      SELECT query_id, neighbor_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
"""


@query(
    "x175_ann_spill_serve",
    "X-sim,X-serve",
    oracle=_X175_SPILL_SQL,
)
def x175_ann_spill_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPANN-style boundary SPILL assignment served through the same
    probe path (operators/ann_graph.py spill_assign's axis-rule twin,
    fully SQL-replayable): a vector is stored in its argmax cell AND
    in every cell whose component is within 0.05 of the max, so each
    probed cell also holds the near-boundary vectors plain IVF misses —
    the recall-uplift half of the graph spike (measured against flat
    x05d by the `anngraph` stress gate; adjudicated here by exact
    replay: assignment predicate, probe selection, dedup, cosine
    ranking all mirrored in SQL). The explode is bounded by the
    qualifying-cell count (replication factor ~1.1-1.5 — storage, not
    shuffle, pays for the recall); the serve join/dedup/top-k shape is
    ivf_probe's, so partition pruning by probed cell is unchanged at
    100 TB."""
    import numpy as np

    from gwasdb_spark.functions.vectors import cosine

    e = table(spark, sf_dir, "embeddings")
    spilled = (
        e.select(
            "vec_id", "embedding",
            F.posexplode("embedding").alias("pos", "val"),
        )
        .filter(
            F.col("val").cast("double")
            >= F.array_max("embedding").cast("double") - 0.05
        )
        .select("vec_id", "embedding", (F.col("pos") + 1).alias("cell"))
    )
    qrows = (
        e.filter(F.col("vec_id").between(1, 5))
        .select("vec_id", "embedding")
        .collect()
    )
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        top = np.lexsort((np.arange(qv.size), -qv))[:4]
        for c in top:
            probe_rows.append(
                (int(r["vec_id"]),
                 [float(x) for x in r["embedding"]], int(c) + 1)
            )
    probes = spark.createDataFrame(
        probe_rows, "query_id long, qv array<float>, cell int"
    )
    probe_cells = sorted({p[2] for p in probe_rows})
    cand = (
        spilled.filter(F.col("cell").isin(probe_cells))
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        # spill can surface one neighbor via several probed cells
        .dropDuplicates(["query_id", "vec_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("embedding")).alias("cos_raw"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("cos_raw", 6).alias("cosine"),
        )
    )


@query(
    "x176_ann_graph_maintain",
    "X-sim,X-serve,X-dml",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, embedding AS e FROM embeddings
      WHERE vec_id % 23 <> 1
    ),
    cells AS (
      SELECT vec_id, e,
             CAST(list_position(e, list_max(e)) AS INT) AS cell
      FROM corpus
    ),
    q AS (
      SELECT vec_id AS query_id, e AS qv FROM cells
      WHERE vec_id BETWEEN 1 AND 5
    ),
    dims AS (SELECT CAST(d AS INT) AS cell FROM range(1, 65) t(d)),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, dims.cell,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY CAST(qv[dims.cell] AS DOUBLE) DESC, dims.cell)
                 AS dim_rank
        FROM q CROSS JOIN dims
      ) WHERE dim_rank <= 4
    ),
    cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id, q.qv, c.e AS cv
      FROM probes p
      JOIN cells c ON c.cell = p.cell
      JOIN q ON q.query_id = p.query_id
      WHERE c.vec_id <> p.query_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             list_sum(list_transform(range(1, 65),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))))
               AS cos_raw
      FROM cand
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           ROUND(cos_raw, 6) AS cosine
    FROM (
      SELECT query_id, neighbor_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def x176_ann_graph_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph sidecar MAINTENANCE under index churn — the op that makes
    graph-ANN production-viable: the persisted cell index absorbs an
    upsert batch (vec_id % 11 = 7, x153's touched-cell machinery) and a
    takedown delete (vec_id % 23 = 1, x157's), and after each the
    per-cell graphs are refreshed for ONLY the touched cells — since
    r13 BY THE MAINTENANCE OPS THEMSELVES (engine-enforced coherence,
    r12 verdict #2: upsert/delete detect `<base>/graphs` and refresh
    with the sidecar's recorded R; cost ∝ Σ|touched cell|², untouched
    cells' graph files byte-stable, tests pin the mtimes). The flat-regime
    beam serve (ef=|cell|) then hash-matches the exact SQL replay over
    the post-churn corpus. The adjudication is sharp because the graph
    sidecar defines REACHABILITY: a refresh that misses a touched cell
    leaves new vectors graph-rowless (unreachable → absent from the
    result) or keeps deleted ones linked — either breaks the hash.
    Closes the maintenance matrix for the graph family alongside
    digests (x44), bands (x171/x172), cells (x153/x157), and postings
    (x62/x163)."""
    import numpy as np

    from gwasdb_spark.operators.ann_graph import (
        build_graph_sidecar,
        graph_probe_persisted,
    )
    from gwasdb_spark.operators.ann_index import (
        build_cell_index,
        delete_from_cell_index,
        read_cell_index,
        upsert_cell_index,
    )

    e = table(spark, sf_dir, "embeddings")
    batch = e.filter(F.col("vec_id") % 11 == 7).select("vec_id", "embedding")
    victims = e.filter(F.col("vec_id") % 23 == 1).select("vec_id")
    # Tag carries the corpus fingerprint (ADVICE r12), matching x173/
    # c05/x171: a regenerated corpus at the same sf_dir must not reuse
    # the stale persisted index + graph sidecar.
    base = stage_dir(f"ann_graph_maint_{_fp_tag(sf_dir)}")
    if not os.path.isdir(os.path.join(base, "index")):
        build_cell_index(
            e.filter(F.col("vec_id") % 11 != 7).select("vec_id", "embedding"),
            base,
        )
    if not os.path.isdir(os.path.join(base, "graphs")):
        build_graph_sidecar(spark, base, R=6)

    # No manual refresh_graph_sidecar calls: the maintenance ops see
    # `<base>/graphs` and refresh the touched cells themselves (the
    # assert pins the engine-enforced contract this row adjudicates).
    up = upsert_cell_index(spark, base, batch)
    assert up["graphs_refreshed"], "sidecar present but not refreshed"
    dd = delete_from_cell_index(spark, base, victims)
    assert dd["graphs_refreshed"], "sidecar present but not refreshed"

    qrows = (
        read_cell_index(spark, base)
        .filter(F.col("vec_id").between(1, 5))
        .select("vec_id", "embedding")
        .collect()
    )
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        top = np.lexsort((np.arange(qv.size), -qv))[:4]
        for c in top:
            probe_rows.append(
                (int(r["vec_id"]),
                 [float(x) for x in r["embedding"]], int(c) + 1)
            )
    probes = spark.createDataFrame(
        probe_rows, "query_id long, q_vec array<float>, cell int"
    )
    out = graph_probe_persisted(spark, base, probes, k=10, ef=0)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


@query(
    "x178_ann_spill_graph_topk",
    "X-sim,X-serve",
    oracle=_X175_SPILL_SQL,
)
def x178_ann_spill_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spill × graph COMPOSITION (r12 verdict #7): per-cell neighbor
    graphs built OVER the spill-assigned layout — x174 proved graphs,
    x175 proved spill, this row proves they compose. A near-boundary
    vector is replicated into every qualifying cell (x175's axis spill
    rule), and EACH of its resident cells builds graph edges for its
    own copy, so beam search inside any probed cell can reach it; the
    global merge dedups the copies (same vector ⇒ same cosine, one
    survivor) before the bounded top-k. Adjudicated in the flat regime
    (ef=|cell|: the connected per-cell graph's beam visits the whole
    cell), where the result must be hash-identical to x175's exact SQL
    replay — the graph layer is result-invisible over the identical
    spill candidate set, only cheaper per eval. The beam-regime recall
    of this composition vs x174 (graphs alone) and x175 (spill alone)
    is measured by the `anngraph` stress gate at 200k vectors."""
    import numpy as np

    from gwasdb_spark.operators.ann_graph import (
        build_cell_graphs,
        graph_probe_topk,
    )

    e = table(spark, sf_dir, "embeddings")
    qrows = (
        e.filter(F.col("vec_id").between(1, 5))
        .select("vec_id", "embedding")
        .collect()
    )
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        top = np.lexsort((np.arange(qv.size), -qv))[:4]
        for c in top:
            probe_rows.append(
                (int(r["vec_id"]),
                 [float(x) for x in r["embedding"]], int(c) + 1)
            )
    # Probed-cell pruning below the graph build (x174's rationale:
    # per-cell graphs are independent, so unprobed spill cells need
    # neither their replicas materialized nor their edges built).
    probe_cells = sorted({p[2] for p in probe_rows})
    spilled = (
        e.select(
            "vec_id", "embedding",
            F.posexplode("embedding").alias("pos", "val"),
        )
        .filter(
            F.col("val").cast("double")
            >= F.array_max("embedding").cast("double") - 0.05
        )
        .select("vec_id", "embedding", (F.col("pos") + 1).alias("cell"))
        .filter(F.col("cell").isin(probe_cells))
    )
    graphs = build_cell_graphs(spilled, R=6)
    graph_index = spilled.join(graphs, ["cell", "vec_id"])
    probes = spark.createDataFrame(
        probe_rows, "query_id long, q_vec array<float>, cell int"
    )
    out = graph_probe_topk(probes, graph_index, k=10, ef=0)  # ef=0: flat
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


@query(
    "x179_ann_filtered_graph_topk",
    "X-sim,X-serve",
    oracle="""
    WITH cells AS (
      SELECT vec_id, embedding AS e, label,
             CAST(list_position(embedding, list_max(embedding)) AS INT)
               AS cell
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, e AS qv, label AS want FROM cells
      WHERE vec_id BETWEEN 1 AND 5
    ),
    dims AS (SELECT CAST(d AS INT) AS cell FROM range(1, 65) t(d)),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, dims.cell,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY CAST(qv[dims.cell] AS DOUBLE) DESC, dims.cell)
                 AS dim_rank
        FROM q CROSS JOIN dims
      ) WHERE dim_rank <= 4
    ),
    cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id, q.qv, c.e AS cv,
             q.want
      FROM probes p
      JOIN q ON q.query_id = p.query_id
      JOIN cells c ON c.cell = p.cell AND c.label = q.want
      WHERE c.vec_id <> p.query_id
    ),
    scored AS (
      SELECT query_id, neighbor_id, want,
             list_sum(list_transform(range(1, 65),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))))
               AS cos_raw
      FROM cand
    )
    SELECT query_id, neighbor_id, CAST(want AS INT) AS fkey,
           rank, ROUND(cos_raw, 6) AS cosine
    FROM (
      SELECT query_id, neighbor_id, want, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def x179_ann_filtered_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED graph-ANN serve (operators/ann_graph.py
    graph_probe_topk_filtered): top-10 cosine neighbors per query AMONG
    ROWS SHARING THE QUERY'S LABEL, under the per-cell beam — x05g's
    tenant-scoped retrieval composed with x174's graph serve. The
    predicate gates COLLECTION, never traversal: the beam routes
    through non-matching nodes (restricting the walk would fragment the
    graph and strand matching islands — the filtered-HNSW pitfall), and
    because an unfillable result pool disables the early exit, the
    flat regime (ef=|cell|) provably visits every node of each probed
    connected cell — so this row is hash-adjudicated against the exact
    SQL replay of the label-filtered probe set, the x174 oracle recipe
    with the filter pushed into the candidate join. Post-filtering
    x174's unfiltered top-k would be WRONG (a pool of k may hold fewer
    than k matches); the mask is applied inside the search for exactly
    that reason."""
    import numpy as np

    from gwasdb_spark.operators.ann_graph import (
        build_cell_graphs,
        graph_probe_topk_filtered,
    )
    from gwasdb_spark.operators.ann_index import axis_cell

    e = table(spark, sf_dir, "embeddings")
    qrows = (
        e.filter(F.col("vec_id").between(1, 5))
        .select("vec_id", "embedding", "label")
        .collect()
    )
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        top = np.lexsort((np.arange(qv.size), -qv))[:4]
        for c in top:
            probe_rows.append(
                (int(r["vec_id"]),
                 [float(x) for x in r["embedding"]], int(c) + 1,
                 int(r["label"]))
            )
    # Probed-cell pruning below the graph build (x174's rationale).
    probe_cells = sorted({p[2] for p in probe_rows})
    assigned = e.select(
        "vec_id", "embedding", axis_cell(F.col("embedding")).alias("cell")
    ).filter(F.col("cell").isin(probe_cells))
    graphs = build_cell_graphs(assigned, R=6)
    graph_index = assigned.join(graphs, ["cell", "vec_id"]).join(
        e.select("vec_id", F.col("label").cast("long").alias("attr")),
        "vec_id",
    )
    probes = spark.createDataFrame(
        probe_rows,
        "query_id long, q_vec array<float>, cell int, want_attr long",
    )
    out = graph_probe_topk_filtered(probes, graph_index, k=10, ef=0)
    want = probes.select("query_id", "want_attr").distinct()
    return out.join(want, "query_id").select(
        "query_id", "neighbor_id",
        F.col("want_attr").cast("int").alias("fkey"),
        "rank", F.round("cosine", 6).alias("cosine"),
    )
