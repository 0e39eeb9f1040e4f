"""Regression fixtures for the round-10 ADVICE items:

1. apply_changes sequencing: a batch carrying several ops for one key
   must either be ordered by an explicit sequence column (latest op per
   key wins, deterministically) or be rejected — never resolved by
   whichever row the merge window happens to pick, and never by the
   fixed delete-before-upsert order.
2. x04 empty-token semantics: simhash_signatures must drop blank /
   whitespace-only documents entirely (split('', '\\s+') yields [''];
   the DuckDB oracle filters token <> ''), so two blank docs can never
   pair at hamming 0 on the Spark side only.
3. x04 bucket cap: _bucket_pairs(max_bucket_docs=None) must emit pairs
   from a bucket LARGER than the former 10k default cap — the
   adjudicated query enumerates everything the oracle enumerates.
4. compact_text_index crash safety: a crash between a relation's
   set-aside and the rename-in of its replacement leaves a state the
   swap's recovery finishes; the old rmtree-then-rename ordering lost
   the relation outright.
5. g21/x169/g22 moment sums: the regression moments accumulate in
   decimal(38,0) so int64 overflow is structurally impossible where the
   DuckDB oracle would carry HUGEINT.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- 1 ----
def _mk_acid(spark, tmp_path, name="t"):
    from gwasdb_spark.acid import AcidTable

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    return AcidTable.create(spark, os.path.join(str(tmp_path), name), df)


def test_apply_changes_rejects_ambiguous_unsequenced_batch(spark, tmp_path):
    t = _mk_acid(spark, tmp_path, "amb")
    changes = spark.createDataFrame(
        [(2, "x", "U"), (2, None, "D")], "k int, v string, _op string"
    )
    with pytest.raises(ValueError, match="sequence_by"):
        t.apply_changes(changes, keys=["k"])


def test_apply_changes_sequence_by_latest_op_wins(spark, tmp_path):
    t = _mk_acid(spark, tmp_path, "seq")
    # key 2: U(seq1) then D(seq2)  -> deleted
    # key 3: D(seq1) then U(seq2)  -> updated to 'z'
    # key 4: I(seq1) then U(seq2)  -> inserted as 'w2'
    changes = spark.createDataFrame(
        [
            (2, "x", "U", 1),
            (2, None, "D", 2),
            (3, None, "D", 1),
            (3, "z", "U", 2),
            (4, "w1", "I", 1),
            (4, "w2", "U", 2),
        ],
        "k int, v string, _op string, seq int",
    )
    t.apply_changes(changes, keys=["k"], sequence_by="seq")
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a", 3: "z", 4: "w2"}, got


def test_apply_changes_sequence_tie_breaks_deterministically(spark, tmp_path):
    # Exact-sequence ties resolve by op desc ('U' > 'I' > 'D') — the same
    # batch must produce the same replica every time.
    t = _mk_acid(spark, tmp_path, "tie")
    changes = spark.createDataFrame(
        [(2, None, "D", 1), (2, "u", "U", 1)],
        "k int, v string, _op string, seq int",
    )
    t.apply_changes(changes, keys=["k"], sequence_by="seq")
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a", 2: "u", 3: "c"}, got


def test_apply_changes_unique_keys_still_work_unsequenced(spark, tmp_path):
    t = _mk_acid(spark, tmp_path, "uniq")
    changes = spark.createDataFrame(
        [(1, None, "D"), (2, "y", "U"), (9, "n", "I")],
        "k int, v string, _op string",
    )
    t.apply_changes(changes, keys=["k"])
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {2: "y", 3: "c", 9: "n"}, got


# ---------------------------------------------------------------- 2 ----
def test_simhash_drops_blank_documents(spark):
    from gwasdb_spark.operators.dedup import (
        simhash_near_pairs,
        simhash_signatures,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real tokens here"), (4, "\t\n")],
        "doc_id long, text string",
    )
    sigs = simhash_signatures(df, "doc_id", "text")
    assert [r["doc"] for r in sigs.collect()] == [3], (
        "blank/whitespace-only docs must get NO signature (oracle "
        "token <> '' semantics) — the empty split token was hashed"
    )
    pairs = simhash_near_pairs(df, "doc_id", "text", max_hamming=0)
    assert pairs.count() == 0, (
        "two blank docs paired at hamming 0 on the Spark side only"
    )


# ---------------------------------------------------------------- 3 ----
def test_bucket_pairs_uncapped_emits_past_default_cap(spark):
    from gwasdb_spark.operators.dedup import _bucket_pairs

    n = 150
    banded = spark.range(n).select(
        F.lit(0).alias("band_idx"),
        F.lit(7).cast("long").alias("band_key"),
        F.col("id").alias("doc"),
        F.col("id").alias("simhash"),
    )
    capped = _bucket_pairs(banded, ["simhash"], max_bucket_docs=100)
    assert capped.count() == 0, "over-cap bucket should drop when capped"
    full = _bucket_pairs(banded, ["simhash"], max_bucket_docs=None)
    assert full.count() == n * (n - 1) // 2


# ---------------------------------------------------------------- 4 ----
def _mk_index(spark, tmp_path):
    from gwasdb_spark.operators.search import build_text_index

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta"), (3, "alpha")],
        "doc_id long, text string",
    )
    idx = os.path.join(str(tmp_path), "tix")
    build_text_index(docs, idx, id_col="doc_id", text_col="text")
    return idx


def test_compact_recovers_from_mid_swap_crash(spark, tmp_path, monkeypatch):
    from gwasdb_spark.acid.swap import recover
    from gwasdb_spark.operators.search import (
        bm25_topk_indexed,
        compact_text_index,
        delete_from_text_index,
    )
    from tests.crash import InjectedCrash, kill_rename

    idx = _mk_index(spark, tmp_path)
    before = {
        r["doc_id"]
        for r in bm25_topk_indexed(spark, idx, ["beta"], k=10).collect()
    }
    assert before == {1, 2}
    delete_from_text_index(
        spark.createDataFrame([(3,)], "doc_id long"), idx, id_col="doc_id"
    )
    # The worst window of a rename swap: the live relation is set aside,
    # its complete replacement not yet renamed in. Under the old
    # rmtree-then-rename code this state had NO relation and no recovery.
    kill_rename(monkeypatch, dst=f"{idx}/doclen")
    with pytest.raises(InjectedCrash):
        compact_text_index(spark, idx)
    assert not os.path.exists(f"{idx}/doclen")
    recover(idx)
    assert not os.path.exists(f"{idx}/_swap.tmp")
    docs_left = {
        r["doc"] for r in spark.read.parquet(f"{idx}/doclen").collect()
    }
    assert docs_left == {1, 2}
    # the tombstones outlived the kill; the next compact folds them again
    compact_text_index(spark, idx)
    assert not os.path.exists(f"{idx}/tombstones")
    after = {
        r["doc_id"]
        for r in bm25_topk_indexed(spark, idx, ["beta"], k=10).collect()
    }
    assert after == {1, 2}


# ---------------------------------------------------------------- 5 ----
def test_regression_moment_sums_are_decimal38(spark):
    """g21/x169/g22 moment aggregates must be decimal(38,0) — a long sum
    would overflow silently (non-ANSI) where the DuckDB oracle carries
    HUGEINT. Checked on the analyzed schema, no execution needed."""
    from gwasdb_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    for name, cols in (
        ("g21_ldsc_slope", None),
        ("x169_cuped_ab_readout", None),
        ("g22_coloc_score", None),
    ):
        df = QUERIES[name].fn(spark, sf)
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "decimal(38,0)" in plan, (
            f"{name}: no decimal(38,0) accumulation in the analyzed plan "
            "— the int64-overflow guard regressed"
        )


@pytest.mark.parametrize(
    "name", ["g21_ldsc_slope", "x169_cuped_ab_readout", "g22_coloc_score"]
)
def test_decimal_moments_still_match_oracle(name, spark, duck):
    from tests.conftest import assert_frames_match

    from gwasdb_spark.plans import QUERIES

    q = QUERIES[name]
    sf = os.environ.get("GWASDB_TEST_SF_DIR", "/root/testdata/sf0.001")
    assert_frames_match(
        q.fn(spark, sf).toPandas(), duck.execute(q.oracle).df(), name
    )


# ------------------------------------------------------------- bench ----
def test_every_staged_acid_query_has_a_reset_hook():
    """bench.py resets staged AcidTables via the explicit STAGED_RESETS
    registry. Any registered query that stages an acid table (its source
    references stage_dir('acid_...') or _acid_dml_replay) MUST be in the
    registry, or its bench row silently degrades to warm no-op re-reads —
    the defect that recurred from m03 (r9) to m10 (r10) via a
    prefix-match lookup."""
    import inspect

    from gwasdb_spark.plans import QUERIES
    from gwasdb_spark.plans.mining_ops import STAGED_RESETS

    missing = []
    for name, q in QUERIES.items():
        if name.startswith("st"):  # streaming lifecycles are not benched
            continue
        src = inspect.getsource(q.fn)
        if "_acid_dml_replay" in src or 'stage_dir(f"acid_' in src:
            if name not in STAGED_RESETS:
                missing.append(name)
    assert not missing, (
        f"staged acid queries without a bench reset hook: {missing} — "
        "add <name>_reset_stage and register it in STAGED_RESETS"
    )


def test_staged_resets_cover_m10_and_m11():
    from gwasdb_spark.plans.mining_ops import STAGED_RESETS

    assert "m10_cdc_replicate" in STAGED_RESETS
    assert "m11_acid_restore" in STAGED_RESETS
