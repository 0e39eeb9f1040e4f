"""Ranked full-text search over the documents table: TF-IDF / BM25.

The inverted-index shape, expressed declaratively so Catalyst plans it:

  tokens  = explode(lowercased word tokens)          -- one narrow pass
  tf      = count per (doc, term)                    -- shuffle on (doc, term)
  df      = countDistinct doc per term               -- partial-agg'd shuffle
  score   = Σ over query terms of idf(term) · tf-sat -- semi-join on terms

Only postings for the QUERY'S terms ever leave the aggregation (semi-join
prune before the scoring join), so a k-term query touches k postings
lists, not the corpus — the inverted-index access path without building
an index structure.

The whole computation is ONE logical plan / ONE job: the scalar scoring
constants (corpus size, average doc length) are single-row aggregates
cross-joined (auto-broadcast) into the scorer, never `.count()` /
`.collect()`ed on the driver.

Match modes: `or` (bag of words), `and` (every term required), `phrase`
(terms adjacent in order — positional m-way join on pruned postings,
ranked by constituent-term BM25, the standard filter-then-rank shape).
`max_df_fraction` drops stopword-like terms whose document frequency
exceeds that corpus fraction — in-plan, before the scoring fan-out.

Determinism: scores are fixed-order arithmetic over exact integer tf/df
counts; ties broken by doc id. BM25 constants k1=1.2, b=0.75 (the
standard Robertson defaults).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gwasdb_spark.acid.swap import recover, replacing
from gwasdb_spark.session import run_concurrently

K1 = 1.2
B = 0.75


def _rank_topk(scored: DataFrame, id_col: str, k: int, score_col: str = "score") -> DataFrame:
    """TakeOrdered-then-rank for the final (doc, score) → (id, score, rank)
    step, shared by every BM25 path.

    `.orderBy(desc(score), asc(doc)).limit(k)` compiles to
    TakeOrderedAndProject — each task keeps a k-row heap and the driver
    merges k-row heads — so no task ever holds more than k rows even when
    a common query term matches a corpus-sized candidate set. The
    row_number window that assigns ranks then runs over the BOUNDED k-row
    survivor relation (allowlisted in the global-window audit). Ranking
    the full candidate set through one unpartitioned window, the previous
    shape, was a single-task sort of everything matching ≥1 term — fine
    at sf0.1, a scale-killer at 100 TB.

    Output is bit-identical to ranking-then-filtering: (score desc, doc
    asc) is a total order because `scored` is doc-grain, so the k
    survivors and their ranks are the same rows in the same order."""
    topk = scored.orderBy(F.desc(score_col), F.asc("doc")).limit(k)
    w = Window.orderBy(F.desc(score_col), F.asc("doc"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long")).select(
        F.col("doc").alias(id_col), F.round(score_col, 6).alias(score_col), "rank"
    )


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, pos, term) positional tokens. Positions are split-array
    indices: empty tokens (leading delimiter) keep their slot, so
    adjacent words always differ by exactly 1."""
    return (
        df.select(
            F.col(id_col).alias("doc"),
            F.posexplode(
                F.split(F.lower(F.trim(F.col(text_col))), r"[^a-z0-9]+")
            ).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
    )


def _term_postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, term, tf) postings + per-doc length, from one explode pass."""
    return (
        _tokens(df, id_col, text_col)
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _phrase_docs(
    df: DataFrame, phrase_terms: list[str], id_col: str, text_col: str
) -> DataFrame:
    """Docs containing `phrase_terms` adjacent and in order: each term's
    (pruned) positional postings shift left by its offset, then an m-way
    equi-join on (doc, start) — every surviving row is one occurrence.
    Join inputs are single-term postings lists, so the fan-in is bounded
    by phrase frequency, not corpus size."""
    toks = _tokens(df, id_col, text_col)
    sides = [
        toks.filter(F.col("term") == t.lower()).select(
            "doc", (F.col("pos") - i).alias("start")
        )
        for i, t in enumerate(phrase_terms)
    ]
    occ = sides[0]
    for s in sides[1:]:
        occ = occ.join(s, ["doc", "start"])
    return occ.select("doc").distinct()


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    mode: str = "or",
    max_df_fraction: float | None = None,
    boosts: dict[str, float] | None = None,
    phrases: list[list[str]] | None = None,
    proximity: bool = False,
) -> DataFrame:
    """BM25 top-k documents for a query.

    Returns (doc_id, score, rank). Postings are pruned to the query's
    terms BEFORE any join fan-out; doc lengths, df, and the scalar
    constants (n_docs, avgdl) all come from the same single plan — no
    driver-side actions.

    mode='and' keeps only docs matching every distinct query term;
    mode='phrase' keeps only docs where the terms appear adjacent in
    order (ranked by constituent-term BM25). `max_df_fraction` prunes
    terms present in more than that fraction of the corpus.

    `boosts` maps terms to query-side weights (default 1.0): each term's
    BM25 contribution is multiplied by its boost — the weight travels in
    the broadcast terms relation, so boosting changes only a literal in
    the plan, not its shape.

    `phrases` (list of term lists) requires ALL the given phrases to
    occur adjacently in a doc, each enforced by its own positional-join
    semi-filter, while ranking stays BM25 over `query_terms` — the
    multi-phrase AND filter-then-rank shape. Composable with any mode.

    `proximity=True` multiplies each doc's score by
    ``1 + 1/(1 + min_dist)`` where min_dist is the smallest positional
    gap between occurrences of two DISTINCT query terms in the doc —
    term-distance decay that rewards co-located matches. Docs matching
    fewer than two distinct terms keep multiplier 1. The pair
    enumeration self-joins only the PRUNED positional postings per doc
    (bounded by the query terms' in-doc occurrence counts, not doc
    length), and the decay is fixed-order double arithmetic applied
    before rounding, so the oracle reproduces it bit-for-bit."""
    if mode not in ("or", "and", "phrase"):
        raise ValueError(f"mode must be or|and|phrase, got {mode!r}")
    spark = df.sparkSession
    terms_lc = [t.lower() for t in query_terms]
    # Lazy localCheckpoint: postings feed doclen, the pruned hit list,
    # df counts, and the scorer — four consumers that would each replan
    # the tokenize→(doc,term) shuffle (exchange reuse does not span the
    # branches). One materialization of the skinny postings beats four
    # recomputes; the PERSISTED serving answer is build_text_index/x12g.
    postings = _term_postings(df, id_col, text_col).localCheckpoint(eager=False)
    doclen = postings.groupBy("doc").agg(F.sum("tf").alias("dl"))
    # scalar constants in-plan: two 1-row aggregates, auto-broadcast by
    # the cross join (explicit sum/count, not avg(), so the oracle engine
    # computes the identical double)
    consts = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs")).crossJoin(
        doclen.agg((F.sum("dl") / F.count(F.lit(1))).alias("avgdl"))
    )

    boosts_lc = {t.lower(): float(w) for t, w in (boosts or {}).items()}
    terms = spark.createDataFrame(
        [(t, boosts_lc.get(t, 1.0)) for t in terms_lc], "term string, boost double"
    )
    hit = postings.join(F.broadcast(terms), "term")  # postings prune
    if mode == "phrase":
        hit = hit.join(_phrase_docs(df, terms_lc, id_col, text_col), "doc", "left_semi")
    for phrase in phrases or []:
        hit = hit.join(
            _phrase_docs(df, [t.lower() for t in phrase], id_col, text_col),
            "doc",
            "left_semi",
        )
    df_counts = hit.groupBy("term").agg(F.count_distinct("doc").alias("df_t"))

    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0
    )
    per_term = (
        hit.join(F.broadcast(df_counts), "term")
        .join(doclen, "doc")
        .crossJoin(F.broadcast(consts))
    )
    if max_df_fraction is not None:
        per_term = per_term.filter(
            F.col("df_t") <= F.lit(float(max_df_fraction)) * F.col("n_docs")
        )
    scored = (
        per_term.select(
            "doc",
            (
                F.col("boost")
                * idf
                * (F.col("tf") * (K1 + 1))
                / (
                    F.col("tf")
                    + K1 * (1 - B + B * F.col("dl").cast("double") / F.col("avgdl"))
                )
            ).alias("term_score"),
        )
        # one `hit` row per (doc, term) → count(*) is distinct terms matched
        .groupBy("doc")
        .agg(
            F.sum("term_score").alias("score"),
            F.count(F.lit(1)).alias("__n_matched"),
        )
    )
    if mode == "and":
        scored = scored.filter(F.col("__n_matched") == len(set(terms_lc)))
    if proximity:
        qtoks = _tokens(df, id_col, text_col).join(
            F.broadcast(terms.select("term")), "term"
        )
        a = qtoks.select("doc", F.col("term").alias("t1"), F.col("pos").alias("p1"))
        b = qtoks.select("doc", F.col("term").alias("t2"), F.col("pos").alias("p2"))
        prox = (
            a.join(b, "doc")
            .filter(F.col("t1") < F.col("t2"))
            .groupBy("doc")
            .agg(F.min(F.abs(F.col("p1") - F.col("p2"))).alias("min_dist"))
        )
        scored = scored.join(prox, "doc", "left").select(
            "doc",
            (
                F.col("score")
                * F.coalesce(
                    F.lit(1.0)
                    + F.lit(1.0) / (F.lit(1.0) + F.col("min_dist").cast("double")),
                    F.lit(1.0),
                )
            ).alias("score"),
            "__n_matched",
        )
    return _rank_topk(scored, id_col, k)


def bm25f_topk(
    df: DataFrame,
    query_terms: list[str],
    fields: list[tuple[str, float]],
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """BM25F — multi-field BM25 with per-field weights (the ROADMAP'd
    "per-field weights" search item; Robertson's *simple BM25F*): each
    field's term frequencies and token length are scaled by the field's
    weight BEFORE the saturation curve, so a hit in a 3×-weighted field
    counts like three body hits but still saturates jointly:

      wtf(t,d)  = Σ_f w_f · tf_f(t,d)
      wdl(d)    = Σ_f w_f · dl_f(d)
      score(d)  = Σ_t idf(t) · wtf·(k1+1) / (wtf + k1·(1−b+b·wdl/avgwdl))

    idf counts documents matching the term in ANY field. Physical shape:
    one postings pass per field (same explode→aggregate as bm25_topk),
    a union + (doc, term) re-aggregate — all skinny rows — then the
    standard pruned scoring join; constants stay in-plan. Determinism:
    use integral/dyadic weights (1.0, 3.0, 0.5, …) so every weighted tf
    sum is exact in double regardless of union order."""
    spark = df.sparkSession
    terms_lc = [t.lower() for t in query_terms]
    parts = [
        _term_postings(df, id_col, col).select(
            "doc", "term", (F.col("tf") * F.lit(float(w))).alias("wtf")
        )
        for col, w in fields
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    # Same reuse rationale as bm25_topk: the per-field tokenize→union→
    # re-aggregate pipeline would otherwise replan once per consumer.
    postings = (
        u.groupBy("doc", "term")
        .agg(F.sum("wtf").alias("wtf"))
        .localCheckpoint(eager=False)
    )
    doclen = postings.groupBy("doc").agg(F.sum("wtf").alias("wdl"))
    consts = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs")).crossJoin(
        doclen.agg((F.sum("wdl") / F.count(F.lit(1))).alias("avgwdl"))
    )
    terms = spark.createDataFrame([(t,) for t in terms_lc], "term string")
    hit = postings.join(F.broadcast(terms), "term")
    df_counts = hit.groupBy("term").agg(F.count_distinct("doc").alias("df_t"))
    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0
    )
    scored = (
        hit.join(F.broadcast(df_counts), "term")
        .join(doclen, "doc")
        .crossJoin(F.broadcast(consts))
        .select(
            "doc",
            (
                idf
                * (F.col("wtf") * (K1 + 1))
                / (F.col("wtf") + K1 * (1 - B + B * F.col("wdl") / F.col("avgwdl")))
            ).alias("term_score"),
        )
        .groupBy("doc")
        .agg(F.sum("term_score").alias("score"))
    )
    return _rank_topk(scored, id_col, k)


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 10,
    c: float = 60.0,
) -> DataFrame:
    """Reciprocal-rank fusion over N retrieval systems' (id, rank) lists —
    the standard hybrid-search combiner (score = Σ 1/(c + rank_i); docs
    absent from a list contribute nothing). Inputs are already top-k'ed
    candidate lists (bounded), so the union + one hash aggregate is tiny
    regardless of corpus size; the heavy lifting stayed in the upstream
    retrievers. The final unpartitioned rank window is therefore over a
    ≤ Σ|list_i|-row relation by construction — allowlisted in the
    global-window audit (tests/test_plan_shape.py), unlike the former
    BM25 full-candidate rank this module no longer contains.
    Deterministic id tiebreak."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(c)) + F.col("rank").cast("double"))).alias(
                "contrib"
            ),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy(id_col).agg(F.sum("contrib").alias("rrf_score"))
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, F.round("rrf_score", 6).alias("rrf_score"), "rank")
    )


def build_text_index(
    df: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the inverted index: postings (doc, term, tf) written
    term-sorted, per-doc lengths, and the two scoring constants — the
    one-time build that makes per-query cost independent of corpus size.

    bm25_topk re-tokenizes the corpus on every call (fine for one-shot
    analytics, wrong for a serving workload: at 100 TB that is multiple
    full scans per query). The index is the standard fix. Postings are
    range-partitioned and sorted by term, so each parquet file covers a
    narrow term range and a term-IN filter prunes to a few row groups
    (min/max stats do the skipping; with Delta, Z-order/bloom would
    sharpen it). Build cost: the same two shuffles bm25_topk pays ONCE."""
    # Pin the tokenized postings (and the doc-grain lengths derived
    # from them): postings feed the postings write, the doclen write,
    # AND the avgdl constant — unpinned, the tokenize + shuffle
    # pipeline ran once per consumer (three corpus passes per build;
    # r13, guide §2.4 "do fewer shuffles").
    postings = _term_postings(df, id_col, text_col).localCheckpoint(
        eager=False
    )
    doclen = (
        postings.groupBy("doc")
        .agg(F.sum("tf").alias("dl"))
        .localCheckpoint(eager=False)
    )
    consts = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs")).crossJoin(
        doclen.agg((F.sum("dl") / F.count(F.lit(1))).alias("avgdl"))
    )
    (
        postings.repartitionByRange(8, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(f"{index_dir}/postings")
    )
    doclen.write.mode("overwrite").parquet(f"{index_dir}/doclen")
    consts.write.mode("overwrite").parquet(f"{index_dir}/consts")


def bm25_topk_indexed(
    spark,
    index_dir: str,
    query_terms: list[str],
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 over the materialized index: the term-IN predicate lands in
    the postings scan's PushedFilters (term-sorted files → row-group
    skipping), df(t) aggregates over just the pruned postings, doclen
    joins only the hit docs. Per-query work scales with the query terms'
    posting lists — the serving-path twin of bm25_topk, result-identical
    (same exact-integer tf/dl, same fixed-order float scoring)."""
    terms_lc = sorted({t.lower() for t in query_terms})
    hit = spark.read.parquet(f"{index_dir}/postings").filter(
        F.col("term").isin(terms_lc)
    )
    doclen = spark.read.parquet(f"{index_dir}/doclen")
    consts = spark.read.parquet(f"{index_dir}/consts")
    tomb = _read_tombstones(spark, index_dir)
    if tomb is not None:
        # tombstoned docs vanish from hits AND from df(t): a takedown
        # must not keep depressing surviving docs' idf. The tombstone
        # relation is doc-grain and broadcast — O(deletes), not corpus.
        hit = hit.join(F.broadcast(tomb), "doc", "left_anti")
        doclen = doclen.join(F.broadcast(tomb), "doc", "left_anti")
    dfc = hit.groupBy("term").agg(F.count_distinct("doc").alias("df_t"))
    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0
    )
    # operation order mirrors bm25_topk exactly — (idf * tf_num) / den —
    # so the two paths (and the shared oracle) agree bitwise pre-rounding
    term_score = (idf * (F.col("tf") * (k1 + 1.0))) / (
        F.col("tf")
        + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
    )
    scored = (
        hit.join(F.broadcast(dfc), "term")
        .join(doclen, "doc")
        .crossJoin(F.broadcast(consts))
        .groupBy("doc")
        .agg(F.sum(term_score).alias("score"))
    )
    return _rank_topk(scored, id_col, k)


def update_text_index(
    df_new: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental index maintenance — append a document batch to an
    existing `build_text_index` layout without re-tokenizing the corpus:

    - postings: the batch's (doc, term, tf) rows land as NEW term-sorted
      segment files appended to the postings directory (the LSM shape —
      base + delta segments; every file stays term-sorted, so the
      term-IN row-group pruning of `bm25_topk_indexed` applies to base
      and delta alike).
    - doclen: pure append (new doc ids by contract).
    - consts: n_docs += |batch|; avgdl recomputed from the doc-grain
      doclen table minus tombstoned docs (an aggregate over |docs| rows,
      not the corpus).

    Cost ∝ the BATCH: tokenize + two shuffles over new docs only, plus a
    doc-grain aggregate. `bm25_topk_indexed` needs no changes — it reads
    the union of segments. Periodic re-`build_text_index` compacts
    accumulated deltas back to few wide segments (the merge policy knob).
    The two consts scalars are driver-read by design: index maintenance
    is a write job, and both are single-row reads.

    Idempotency: the batch is anti-joined against the index's existing
    doclen doc ids before anything is written, so re-running a batch
    (retry after a failed job, at-least-once upstream delivery) is a
    no-op instead of double-appending postings/doclen and inflating
    n_docs. The anti-join is doc-grain (reads only the skinny doclen
    relation), cost ∝ |index docs|, not corpus text. Docs whose text
    tokenizes to nothing leave no doclen row and are therefore not
    retry-deduplicated — they also contribute no postings, so only the
    n_docs scalar could drift on a retry containing such docs.

    Durability: the op first runs `recover(index_dir)` (acid/swap.py),
    so a compaction that crashed mid-swap is finished before this batch
    reads or appends anything — an append into a half-swapped index
    would be lost when the swap completed. The commit itself is NOT
    atomic: a crash between the postings/doclen appends and the consts
    overwrite leaves stale n_docs/avgdl (scores mildly off until the
    next successful update or delete), never missing or duplicate
    postings for previously committed batches."""
    recover(index_dir)
    spark = df_new.sparkSession
    existing = spark.read.parquet(f"{index_dir}/doclen").select(
        F.col("doc").alias(id_col)
    )
    df_new = df_new.join(existing, id_col, "left_anti").localCheckpoint(eager=False)
    # Pin the batch's postings: they feed both the postings append and
    # the doclen append — unpinned, the batch tokenized twice (r13).
    postings = _term_postings(df_new, id_col, text_col).localCheckpoint(
        eager=False
    )
    doclen = postings.groupBy("doc").agg(F.sum("tf").alias("dl"))
    (
        postings.repartitionByRange(2, "term")
        .sortWithinPartitions("term")
        .write.mode("append")
        .parquet(f"{index_dir}/postings")
    )
    doclen.write.mode("append").parquet(f"{index_dir}/doclen")
    # Consts refresh as ONE bounded collect (r14, guide §1.4): the old
    # consts row, the post-append avgdl aggregate, and the batch count
    # are three INDEPENDENT scalar subtrees — unioned under a single
    # action their stages run concurrently inside one job (the r13
    # shape paid three sequential driver round-trips). The batch count
    # reads the already-materialized checkpoint; avgdl reads the doclen
    # dir AFTER its append, as before, over the live docs only: n_docs
    # already excludes tombstoned docs, and so must the mean length.
    live_doclen = spark.read.parquet(f"{index_dir}/doclen")
    tomb = _read_tombstones(spark, index_dir)
    if tomb is not None:
        live_doclen = live_doclen.join(F.broadcast(tomb), "doc", "left_anti")
    stats = {
        r["k"]: float(r["v"])
        for r in (
            spark.read.parquet(f"{index_dir}/consts")
            .select(F.col("n_docs").alias("v"), F.lit("old_n").alias("k"))
            .unionByName(
                live_doclen.agg((F.sum("dl") / F.count(F.lit(1))).alias("v"))
                .select("v", F.lit("avgdl").alias("k"))
            )
            .unionByName(
                df_new.agg(
                    F.count(F.lit(1)).cast("double").alias("v")
                ).select("v", F.lit("batch_n").alias("k"))
            )
            .collect()
        )
    }
    n_docs = stats["old_n"] + stats["batch_n"]
    spark.createDataFrame(
        [(n_docs, stats["avgdl"])], "n_docs double, avgdl double"
    ).write.mode("overwrite").parquet(f"{index_dir}/consts")


def _read_tombstones(spark, index_dir: str):
    """The tombstone relation (single `doc` column) if any delete batch
    has committed, else None (zero cost on a delete-free index)."""
    import os

    path = f"{index_dir}/tombstones"
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(path).select("doc")


def delete_from_text_index(
    doc_ids: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
) -> int:
    """LSM tombstone deletes for the inverted index — the takedown path
    (PII removal, DMCA, opt-out) that pairs with `update_text_index`'s
    appends, the BM25 twin of the ANN index's delete batches
    (operators/ann_index.py delete_from_cell_index). Deletes land as a
    doc-grain tombstone segment; no posting file is rewritten (postings
    for a hot takedown doc may sit in EVERY term segment — a physical
    rewrite would be a full index rewrite, the LSM anti-pattern). The
    serving path anti-joins hits and doclen against the broadcast
    tombstone set, and the scoring constants are re-pointed at the
    surviving corpus (n_docs -= batch, avgdl over surviving doclen) so
    idf/length normalization behave as if the docs never existed.
    `compact_text_index` later makes the removal physical.

    Idempotent: the batch is intersected with the index's doclen ids
    and anti-joined against existing tombstones, so replaying a delete
    (at-least-once delivery) is a no-op — n_docs cannot double-shrink.
    Cost ∝ |batch| + one doc-grain aggregate; returns the number of
    docs newly tombstoned. Durability matches update_text_index: the
    op recovers an interrupted compaction first, and the tombstone
    append and consts overwrite are two commits (stale consts until the
    second lands; never missing or duplicated tombstones)."""
    recover(index_dir)
    spark = doc_ids.sparkSession
    ids = doc_ids.select(F.col(id_col).alias("doc")).distinct()
    existing = spark.read.parquet(f"{index_dir}/doclen").select("doc")
    victims = ids.join(existing, "doc")
    tomb = _read_tombstones(spark, index_dir)
    if tomb is not None:
        victims = victims.join(tomb, "doc", "left_anti")
    # LAZY checkpoint (r14, guide §1.4): the count below is the first
    # action and materializes it — the eager form paid a dedicated job.
    victims = victims.localCheckpoint(eager=False)
    n = victims.count()
    if n == 0:
        return 0
    victims.write.mode("append").parquet(f"{index_dir}/tombstones")
    # Old consts + survivor avgdl as ONE bounded collect (r14, guide
    # §1.4 — same fusion as update_text_index): two independent scalar
    # subtrees under a single action instead of two sequential jobs.
    # The survivor aggregate reads the tombstone dir AFTER the append,
    # as before.
    survivors = spark.read.parquet(f"{index_dir}/doclen").join(
        spark.read.parquet(f"{index_dir}/tombstones").select("doc"),
        "doc",
        "left_anti",
    )
    stats = {
        r["k"]: float(r["v"])
        for r in (
            spark.read.parquet(f"{index_dir}/consts")
            .select(F.col("n_docs").alias("v"), F.lit("old_n").alias("k"))
            .unionByName(
                survivors.agg(
                    (F.sum("dl") / F.count(F.lit(1))).alias("v")
                ).select("v", F.lit("avgdl").alias("k"))
            )
            .collect()
        )
    }
    spark.createDataFrame(
        [(stats["old_n"] - n, stats["avgdl"])],
        "n_docs double, avgdl double",
    ).write.mode("overwrite").parquet(f"{index_dir}/consts")
    return n


def compact_text_index(spark, index_dir: str) -> None:
    """Fold accumulated tombstones into the physical layout: rewrite
    postings and doclen without the tombstoned docs (term sort order
    preserved, so row-group pruning is unchanged), then drop the
    tombstone segment. Consts are already survivor-accurate (delete
    adjusts them eagerly) and are not touched. This is the merge half
    of the LSM policy — run it when the tombstone set grows past the
    broadcast budget; a delete-free index is a no-op.

    Crash safety: postings and doclen are rebuilt into one staged swap
    (acid/swap.py `replacing`), so a crash at any point leaves both
    relations wholly old or wholly new, and the next writer's recovery
    finishes or discards the swap. The tombstone segment is dropped only
    after the swap; a crash in between leaves tombstones for docs the
    relations no longer hold, which the next compact folds again as a
    no-op."""
    import shutil

    tomb = _read_tombstones(spark, index_dir)
    if tomb is None:
        return
    # Eager on purpose: the two rewrites below run CONCURRENTLY and a
    # lazy checkpoint would race its own first materialization.
    tomb = tomb.localCheckpoint(eager=True)

    # The postings and doclen rewrites are independent (own source,
    # own staged dir) — run both concurrently (guide §2.6) so the doclen
    # job back-fills the postings job's tail.
    def rewrite(stage, rel, order):
        live = spark.read.parquet(f"{index_dir}/{rel}").join(
            F.broadcast(tomb), "doc", "left_anti"
        )
        if order:
            live = live.repartitionByRange(8, order).sortWithinPartitions(
                order
            )
        live.write.mode("overwrite").parquet(f"{stage}/{rel}")

    with replacing(index_dir) as stage:
        run_concurrently(
            lambda: rewrite(stage, "postings", "term"),
            lambda: rewrite(stage, "doclen", None),
        )
    shutil.rmtree(f"{index_dir}/tombstones")
