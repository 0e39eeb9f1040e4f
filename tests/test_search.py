"""BM25 search: match-mode semantics and the single-plan contract
(no driver-side count()/collect() while building the query)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gwasdb_spark.operators.search import bm25_topk

from tests.conftest import slow_gate


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "hash join hash join vector"),       # all terms, phrase twice
        (2, "hash vector something else join"),  # all terms, no phrase
        (3, "hash only here"),                   # one term
        (4, "join, hash!"),                      # reversed order, no phrase
        (5, "HASH-JOIN uppercase punctuated"),   # phrase across punctuation
        (6, "the the the the the hash"),         # stopword-heavy
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_or_mode_matches_any_term(docs):
    got = {r.doc_id for r in bm25_topk(docs, ["hash", "join", "vector"], k=10).collect()}
    assert got == {1, 2, 3, 4, 5, 6}


def test_and_mode_requires_every_term(docs):
    got = {r.doc_id for r in
           bm25_topk(docs, ["hash", "join", "vector"], k=10, mode="and").collect()}
    assert got == {1, 2}


def test_phrase_mode_requires_adjacency_in_order(docs):
    got = {r.doc_id for r in
           bm25_topk(docs, ["hash", "join"], k=10, mode="phrase").collect()}
    # 1: adjacent; 5: adjacent across '-'; 4 is 'join hash' (wrong order);
    # 2 has both terms but never adjacent
    assert got == {1, 5}


def test_max_df_fraction_prunes_stopwords(docs):
    # 'hash' is in every doc (df=6/6); with a 0.9 cap it contributes
    # nothing, so a hash-only doc scores no terms and drops out
    got = {r.doc_id for r in
           bm25_topk(docs, ["hash", "vector"], k=10, max_df_fraction=0.9).collect()}
    assert got == {1, 2}  # vector-bearing docs only


def test_bm25_builds_as_one_plan_no_driver_actions(docs, monkeypatch):
    """The scoring constants (n_docs, avgdl) must be in-plan single-row
    aggregates, not driver-side count()/collect() — building the query
    may not trigger any action."""
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):  # noqa: ANN001
        raise AssertionError("driver-side action during BM25 plan build")

    monkeypatch.setattr(DataFrame, "count", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "toPandas", boom)
    bm25_topk(docs, ["hash", "join"], k=10)          # or
    bm25_topk(docs, ["hash", "join"], k=10, mode="and")
    bm25_topk(docs, ["hash", "join"], k=10, mode="phrase")


def test_bad_mode_rejected(docs):
    with pytest.raises(ValueError):
        bm25_topk(docs, ["hash"], mode="not-a-mode")


def test_rrf_fuse_rewards_agreement(spark):
    from gwasdb_spark.operators.search import rrf_fuse

    r1 = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "doc_id long, rank long")
    r2 = spark.createDataFrame([(20, 1), (40, 2), (10, 3)], "doc_id long, rank long")
    got = rrf_fuse([r1, r2], k=4).collect()
    order = [r.doc_id for r in got]
    # doc 20 (ranks 2+1) and doc 10 (ranks 1+3) beat single-list docs
    assert order[0] == 20 and order[1] == 10
    assert set(order) == {10, 20, 30, 40}
    by_id = {r.doc_id: r.rrf_score for r in got}
    assert abs(by_id[20] - round(1 / 62 + 1 / 61, 6)) < 1e-9
    assert got[0].rank == 1 and got[3].rank == 4


def test_bm25_indexed_matches_adhoc(spark, tmp_path):
    from gwasdb_spark.operators.search import (
        bm25_topk,
        bm25_topk_indexed,
        build_text_index,
    )

    rows = [
        (1, "spark joins hash tables fast"),
        (2, "hash hash hash collision"),
        (3, "vector search with hash buckets and joins"),
        (4, "nothing relevant here at all"),
        (5, "join join join"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_text_index(df, idx, "doc_id", "text")
    adhoc = bm25_topk(df, ["hash", "join", "vector"], k=5).collect()
    indexed = bm25_topk_indexed(spark, idx, ["hash", "join", "vector"], k=5).collect()
    assert [tuple(r) for r in adhoc] == [tuple(r) for r in indexed]


def test_bm25f_field_weight_changes_ranking(spark):
    """BM25F: a weighted tag-field hit must outrank a body-only match,
    and with weight 1 everywhere must reduce to plain combined-text
    scoring (same idf/tf arithmetic over the union of fields)."""
    from gwasdb_spark.operators.search import bm25f_topk

    rows = [
        (1, "games news games",        "sports"),   # tag match for 'sports'
        (2, "sports sports something", "general"),  # body-only matches
        (3, "other text entirely",     "general"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    heavy = bm25f_topk(docs, ["sports"], [("text", 1.0), ("source", 8.0)], k=3)
    top = heavy.orderBy("rank").first()
    assert top.doc_id == 1  # the 8x tag hit beats two body occurrences

    flat = bm25f_topk(docs, ["sports"], [("text", 1.0), ("source", 1.0)], k=3)
    top_flat = flat.orderBy("rank").first()
    assert top_flat.doc_id == 2  # unweighted: tf 2 in body wins


@slow_gate  # slow parity twin (VERDICT r13 #1): f06 (naive) and f08 (blocked) are each oracle-adjudicated in test_queries_oracle; this is the direct A==B twin
def test_fuzzy_blocked_equals_naive(spark):
    """Blocking completeness: the trigram-blocked fuzzy join must return
    exactly the naive cross-scan's pairs — including a distance-2 match
    at the minimum safe blocking length and a short probe that takes the
    brute-force branch."""
    from gwasdb_spark.operators.fuzzy import fuzzy_join_blocked

    probes = spark.createDataFrame(
        [("abcdefghi",),   # len 9: min safe blocking length at d=2
         ("abc",)],        # len 3: must take the brute-force branch
        "probe string",
    )
    names = spark.createDataFrame(
        [(1, "abcdefghi"), (2, "Xbcdefghi"), (3, "XYcdefghi"),  # d=0,1,2
         (4, "XYZdefghi"),                                      # d=3: out
         (5, "abX"), (6, "ab"), (7, "zzz")],
        "id long, name string",
    )
    got = {
        (r.probe, r.id, r.dist)
        for r in fuzzy_join_blocked(probes, names, "probe", "name").collect()
    }
    naive = {
        (r.probe, r.id, r.dist)
        for r in probes.crossJoin(names)
        .select("probe", "id",
                F.levenshtein("probe", "name").cast("long").alias("dist"))
        .filter(F.col("dist") <= 2)
        .collect()
    }
    assert got == naive
    assert ("abcdefghi", 3, 2) in got     # distance-2 survived blocking
    assert ("abc", 6, 1) in got           # short probe matched via brute force


def test_update_text_index_equals_full_rebuild(spark, tmp_path):
    from gwasdb_spark.operators.search import (
        bm25_topk_indexed,
        build_text_index,
        update_text_index,
    )

    docs = [
        (1, "spark joins hash tables fast"),
        (2, "hash partitioning spreads hash keys"),
        (3, "sort merge join spills"),
        (4, "broadcast join avoids the shuffle"),
        (5, "window functions rank rows"),
        (6, "hash aggregation combines partials"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    full_idx = str(tmp_path / "full")
    build_text_index(df, full_idx)
    want = bm25_topk_indexed(spark, full_idx, ["hash", "join"], k=6).collect()

    # Base build on 1-2, then TWO update batches (3-4, then 5-6).
    incr_idx = str(tmp_path / "incr")
    build_text_index(df.filter("doc_id <= 2"), incr_idx)
    update_text_index(df.filter("doc_id in (3, 4)"), incr_idx)
    update_text_index(df.filter("doc_id in (5, 6)"), incr_idx)
    got = bm25_topk_indexed(spark, incr_idx, ["hash", "join"], k=6).collect()

    assert [r.asDict() for r in got] == [r.asDict() for r in want]

    # Idempotency: replaying an already-applied batch (at-least-once
    # delivery / retry after failure) must be a no-op — no double-counted
    # postings, no inflated n_docs.
    update_text_index(df.filter("doc_id in (3, 4)"), incr_idx)
    replayed = bm25_topk_indexed(spark, incr_idx, ["hash", "join"], k=6).collect()
    assert [r.asDict() for r in replayed] == [r.asDict() for r in want]
    consts = spark.read.parquet(f"{incr_idx}/consts").collect()[0]
    assert consts["n_docs"] == 6.0


_CHURN_DOCS = [
    (1, "spark joins hash tables fast"),
    (2, "hash partitioning spreads hash keys across many many partitions"),
    (3, "sort merge join spills"),
    (4, "broadcast join avoids the shuffle"),
    (5, "window functions rank rows over a long long window frame"),
    (6, "hash aggregation combines partials"),
    (7, "join hints pick a hash join"),
    (8, "skew join splits hot keys"),
]


def test_update_after_delete_scores_live_docs_only(spark, tmp_path):
    """An update after a delete recomputes avgdl over the live docs, so
    the indexed scores equal `bm25_topk` over the survivors exactly (the
    tombstoned docs are long, so counting them would shift avgdl)."""
    from gwasdb_spark.operators.search import (
        bm25_topk_indexed,
        build_text_index,
        delete_from_text_index,
        update_text_index,
    )

    df = spark.createDataFrame(_CHURN_DOCS, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_text_index(df.filter("doc_id <= 6"), idx)
    assert delete_from_text_index(df.filter("doc_id in (2, 5)"), idx) == 2
    update_text_index(df.filter("doc_id in (7, 8)"), idx)

    terms = ["hash", "join", "keys"]
    live = df.filter("doc_id not in (2, 5)")
    want = [tuple(r) for r in bm25_topk(live, terms, k=8).orderBy("rank").collect()]
    got = sorted(
        (tuple(r) for r in bm25_topk_indexed(spark, idx, terms, k=8).collect()),
        key=lambda t: t[2],
    )
    assert got == want and len(want) == 6


def test_recover_reaps_stray_compact_beside_live(spark, tmp_path, monkeypatch):
    """A pooled compact killed after staging both replacements but before
    its commit marker leaves them in the staging dir beside the live
    relations; recovery reaps the stage (the live relations are still the
    committed ones), serving is unchanged, and the next compact
    completes."""
    import os

    from gwasdb_spark.acid import swap
    from gwasdb_spark.operators.search import (
        bm25_topk_indexed,
        build_text_index,
        compact_text_index,
        delete_from_text_index,
    )
    from tests.crash import InjectedCrash, kill

    df = spark.createDataFrame(_CHURN_DOCS, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_text_index(df, idx)
    delete_from_text_index(df.filter("doc_id = 3"), idx)
    before = bm25_topk_indexed(spark, idx, ["hash", "join"], k=8).collect()
    monkeypatch.setattr(swap, "_link_durably", kill)
    with pytest.raises(InjectedCrash):
        compact_text_index(spark, idx)
    monkeypatch.undo()
    for rel in ("postings", "doclen"):
        assert os.path.isdir(f"{idx}/_swap.tmp/new/{rel}")

    swap.recover(idx)
    assert not os.path.exists(f"{idx}/_swap.tmp")
    assert bm25_topk_indexed(spark, idx, ["hash", "join"], k=8).collect() == before
    swap.recover(idx)  # idempotent on a clean index

    compact_text_index(spark, idx)
    assert not os.path.exists(f"{idx}/tombstones")
    assert bm25_topk_indexed(spark, idx, ["hash", "join"], k=8).collect() == before


def test_update_after_killed_compact_keeps_base_postings(
    spark, tmp_path, monkeypatch
):
    """A compact killed between setting `postings` aside and renaming its
    replacement in, then an update: the update finishes the swap before
    it appends, so the batch lands beside the compacted base postings.
    Without the writer's recovery the batch created a fresh `postings`
    dir, the next compact's recovery kept it as live and reaped the
    staged replacement, and every base posting was lost."""
    from gwasdb_spark.operators.search import (
        bm25_topk_indexed,
        build_text_index,
        compact_text_index,
        delete_from_text_index,
        update_text_index,
    )
    from tests.crash import InjectedCrash, kill_rename

    words = ["one", "two", "three", "four", "five"]
    docs = spark.createDataFrame(
        [(i, f"alpha {w}") for i, w in enumerate(words, 1)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    build_text_index(docs.filter("doc_id <= 4"), idx)
    delete_from_text_index(docs.filter("doc_id = 3"), idx)
    kill_rename(monkeypatch, dst=f"{idx}/postings")
    with pytest.raises(InjectedCrash):
        compact_text_index(spark, idx)

    update_text_index(docs.filter("doc_id = 5"), idx)
    compact_text_index(spark, idx)
    served = bm25_topk_indexed(spark, idx, words, k=10).collect()
    assert sorted(r["doc_id"] for r in served) == [1, 2, 4, 5]
