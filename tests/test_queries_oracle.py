"""Every registered query vs its DuckDB oracle — the driver's t2 gate,
replicated at sf0.001 for fast iteration (the driver runs sf0.01)."""

from __future__ import annotations

import pytest

from gwasdb_spark.plans import QUERIES

from tests.conftest import SF_DIR, SLOW_MARKS, assert_frames_match

ALL_NAMES = sorted(QUERIES)

# The structurally oracle-less queries (hash/codebook/iteration-order
# dependent output). For each: the pinned output schema and the documented
# non-emptiness invariant at sf0.001, plus the dedicated test that carries
# the real correctness contract. A query missing from this map with
# oracle=None fails the gate — no silent "runs therefore fine".
NO_ORACLE_INVARIANTS = {
    # columns, min_rows, dedicated test carrying the correctness contract
    # x03 graduated to a hash oracle in r11 (x04's recipe): md5-h32
    # shingle keys + affine (a*h+b) mod p permutations with constants
    # embedded as literals in both plans + md5-h60 band keys make the
    # signature/band/candidate/estimate pipeline SQL-replayable; the
    # operator's xxhash64 default path is unchanged for other callers.
    # x04 graduated to a hash oracle in r10: md5-h60 token hashing makes
    # the whole vote->band->verify pipeline SQL-replayable, so the band
    # candidate generation and radius filter are now hash-adjudicated
    # here (the operator's xxhash64 default path is unchanged for any
    # other caller).
    "x13_sketch_aggregates": (
        None, 1, "tests/test_sketches.py (error bounds)",
    ),
    # mm03 graduated to a hash oracle in r10 (real BMP decode->resize
    # path with a SQL-recomputable pixel_sum); its bit-exact numpy
    # parity tests remain in test_multimodal.py.
    # x39 graduated to a hash oracle in r5 (fixed-20-iteration recursive
    # CTE); its numpy power-iteration parity test remains in test_graph.py.
    # g07 graduated to a hash oracle in r10 (recursive CTE over per-chr
    # sorted lists replays the greedy clump exactly); its python parity
    # test remains in test_gwas_pipeline.py.
    # x140/x150 graduated to hash oracles in r11: the greedy BPE learn
    # loop replays as a DuckDB recursive CTE over a multi-row vocab
    # state (aggregates+windows in the recursive term; wrapped-symbol
    # string replace = exact merge-with-skip), and the apply stats
    # aggregate the same recursion's final state per source. The exact
    # python rederivations in tests/test_mining_ops.py stay as the
    # independent third implementation.
}


# DuckDB-side outliers: oracles whose recursive replay runs MINUTES in
# single-threaded DuckDB recursion at sf0.001 (x141's 64-dim power
# iteration: 115 s — 7% of the whole suite for one row). Slow-gated for
# the driver's verify window (VERDICT r13 #1); the driver's own t2 gate
# still adjudicates them independently whenever its rotating sample
# seats them, and GWASDB_SLOW_TESTS=1 runs them here.
SLOW_ORACLES = {"x141_pca_top_component"}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=SLOW_MARKS) if n in SLOW_ORACLES else n
        for n in ALL_NAMES
    ],
)
def test_query_matches_oracle(name, spark, duck):
    q = QUERIES[name]
    sdf = q.fn(spark, SF_DIR)
    spark_pdf = sdf.toPandas()
    if q.oracle is None:
        assert name in NO_ORACLE_INVARIANTS, (
            f"{name} has no SQL oracle and no registered invariant — add an "
            "oracle or pin its schema/rows contract in NO_ORACLE_INVARIANTS"
        )
        cols, min_rows, _contract = NO_ORACLE_INVARIANTS[name]
        if cols is not None:
            assert list(spark_pdf.columns) == cols, name
        else:
            assert len(spark_pdf.columns) > 0
        assert spark_pdf.shape[0] >= min_rows, name
        return
    oracle_pdf = duck.execute(q.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)


def test_entry_smoke(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    rows = df.collect()
    # Driver t1 contract: entry() must produce AT LEAST ONE row.
    assert len(rows) > 0
    assert len(df.columns) == 5


def test_contract_shape():
    import __spark_entry__ as mod

    qs = mod.queries()
    os_ = mod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 40


def test_priority_window_wellformed():
    """The driver adjudicates the FIRST 50 registered queries; the
    _PRIORITY reseat must reference only live registrations (a typo'd
    name silently shrinks the window — a seat would be wasted on
    whatever _rest query drifts in) and contain no duplicates."""
    from gwasdb_spark.plans import _PRIORITY

    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate priority seat"
    missing = [n for n in _PRIORITY if n not in QUERIES]
    assert not missing, f"priority seats not in registry: {missing}"
    assert len(_PRIORITY) >= 50, "window underfilled"
    assert list(QUERIES)[: len(_PRIORITY)] == _PRIORITY
