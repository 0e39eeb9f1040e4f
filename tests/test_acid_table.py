"""ACID table-log contracts (gwasdb_spark/acid): atomic exclusive
commits, snapshot isolation, optimistic concurrency, time travel,
vacuum retention safety, and DML equivalence with gwas/dml.py."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from gwasdb_spark.acid import AcidTable, CommitConflict
from gwasdb_spark.acid import predicates as P


def _mk(spark, tmp_path, rows=None):
    rows = rows or [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]
    df = spark.createDataFrame(rows, "id long, name string, val double")
    return AcidTable.create(spark, str(tmp_path / "tbl"), df)


def _snap(t, version=None):
    return sorted(
        (r["id"], r["name"], r["val"]) for r in t.read(version).collect()
    )


def test_create_read_roundtrip(spark, tmp_path):
    t = _mk(spark, tmp_path)
    assert t.latest_version() == 0
    assert _snap(t) == [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]
    with pytest.raises(FileExistsError):
        AcidTable.create(spark, str(tmp_path / "tbl"), t.read())


def test_dml_and_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v1 = t.delete_where(F.col("id") == 2)
    v2 = t.update_set(F.col("id") == 1, {"val": F.col("val") * 2})
    v3 = t.append(
        t.spark.createDataFrame([(9, "z", 90.0)], "id long, name string, val double")
    )
    assert (v1, v2, v3) == (1, 2, 3)
    assert _snap(t) == [(1, "a", 20.0), (3, "c", 30.0), (9, "z", 90.0)]
    # every intermediate snapshot still reads exactly as committed
    assert _snap(t, 0) == [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]
    assert _snap(t, 1) == [(1, "a", 10.0), (3, "c", 30.0)]
    assert _snap(t, 2) == [(1, "a", 20.0), (3, "c", 30.0)]
    assert [h["op"] for h in t.history()] == [
        "create", "delete", "update", "append",
    ]


def test_merge_upsert_semantics(spark, tmp_path):
    t = _mk(spark, tmp_path)
    src = spark.createDataFrame(
        [(2, "B", 200.0), (4, "d", 40.0)], "id long, name string, val double"
    )
    t.merge(src, ["id"])
    assert _snap(t) == [
        (1, "a", 10.0), (2, "B", 200.0), (3, "c", 30.0), (4, "d", 40.0),
    ]


def test_commit_is_exclusive_and_torn_writes_invisible(spark, tmp_path):
    """A version can be committed exactly once (os.link exclusivity),
    and a torn manifest temp file never surfaces as a live commit."""
    t = _mk(spark, tmp_path)
    # simulate a racing writer that took version 1 first
    t._commit(1, "racer", t._manifest(0)["file_groups"])
    with pytest.raises(CommitConflict):
        t._commit(1, "loser", t._manifest(0)["file_groups"])
    # torn write: a temp file crashed mid-write — log ignores it
    torn = os.path.join(t._log, ".tmp-deadbeef")
    with open(torn, "w") as fh:
        fh.write('{"version": 99, "op": "torn", "file_gro')
    assert t.latest_version() == 1
    assert [h["op"] for h in t.history()] == ["create", "racer"]


def test_optimistic_retry_wins_next_version(spark, tmp_path):
    """A DML writer that loses the version race re-reads the NEW
    snapshot and retries: its transform applies on top of the winner's
    commit, not the stale base (classic OCC)."""
    t = _mk(spark, tmp_path)
    raced = {"done": False}
    orig_commit = t._commit

    def racing_commit(version, op, groups, stats=None, *meta):
        if not raced["done"]:
            raced["done"] = True
            # a concurrent writer lands the same version first
            orig_commit(version, "concurrent_append", t._manifest(version - 1)["file_groups"])
        return orig_commit(version, op, groups, stats, *meta)

    t._commit = racing_commit
    v = t.delete_where(F.col("id") == 3)
    t._commit = orig_commit
    assert v == 2  # lost v1, retried and won v2
    assert _snap(t) == [(1, "a", 10.0), (2, "b", 20.0)]
    assert [h["op"] for h in t.history()] == [
        "create", "concurrent_append", "delete",
    ]


def test_cluster_by_retries_on_top_of_a_racing_append(spark, tmp_path):
    """A relayout runs in the same OCC loop as every other writer: when
    another writer commits first, it re-clusters the winner's snapshot,
    so the racing writer's rows survive."""
    t = _mk(spark, tmp_path)
    other = AcidTable(spark, t.path)
    orig_commit = t._commit
    calls = []

    def racing_commit(*args, **kwargs):
        calls.append(args[0])
        if len(calls) == 1:
            other.append(
                spark.createDataFrame(
                    [(4, "d", 40.0)], "id long, name string, val double"
                )
            )
        return orig_commit(*args, **kwargs)

    t._commit = racing_commit
    v = t.cluster_by("id", n_groups=2)
    t._commit = orig_commit
    assert calls == [1, 2]  # lost v1 to the append, re-clustered at v2
    assert v == 2
    assert _snap(t) == [
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0),
    ]
    assert [h["op"] for h in t.history()] == [
        "create", "append", "cluster(id, 2)",
    ]
    # the losing attempt's groups are gone; only live groups remain
    assert set(os.listdir(t._data)) == set(
        t._manifest(0)["file_groups"]
        + t._manifest(1)["file_groups"]
        + t._manifest(2)["file_groups"]
    )


def test_snapshot_isolation_under_concurrent_commit(spark, tmp_path):
    """A reader's DataFrame pinned before a writer commits keeps
    reading its own version's files — immutable groups, never touched
    by later commits."""
    t = _mk(spark, tmp_path)
    pinned = t.read()  # resolves version 0's file list NOW
    t.delete_where(F.col("id").isNotNull())  # v1: empty table
    assert t.read().count() == 0
    assert sorted(r["id"] for r in pinned.collect()) == [1, 2, 3]


def test_vacuum_respects_retention(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where(F.col("id") == 1)  # v1
    t.delete_where(F.col("id") == 2)  # v2
    t.delete_where(F.col("id") == 3)  # v3
    removed = t.vacuum(keep_last=2)
    assert removed  # old groups actually dropped
    # retained versions still read
    assert t.read(2).count() == 1
    assert t.read(3).count() == 0
    # vacuumed version is gone from disk and history
    assert not os.path.exists(t._manifest_path(0))
    assert [h["version"] for h in t.history()] == [2, 3]


def test_append_never_rewrites_existing_groups(spark, tmp_path):
    """Blind append must be O(batch): existing data files keep their
    mtimes (never read, never rewritten) and the new manifest simply
    extends the group list."""
    import glob

    t = _mk(spark, tmp_path)
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(t._data, "*", "*.parquet"))
    }
    t.append(
        spark.createDataFrame([(7, "g", 70.0)], "id long, name string, val double")
    )
    for p, m in before.items():
        assert os.path.getmtime(p) == m, f"append rewrote {p}"
    m0 = json.load(open(t._manifest_path(0)))
    m1 = json.load(open(t._manifest_path(1)))
    assert set(m0["file_groups"]) < set(m1["file_groups"])


@pytest.mark.parametrize("kind", ["column", "pred"])
def test_update_set_casts_to_the_column_type(spark, tmp_path, kind):
    """UPDATE is a store assignment: a double assigned to an int column
    is cast to int, through either predicate kind. The table keeps its
    schema and stays readable."""
    t = AcidTable.create(
        spark,
        str(tmp_path / "tbl"),
        spark.createDataFrame([(1, 10), (2, 20)], "id long, val int"),
    )
    pred = F.col("id") == 1 if kind == "column" else P.Eq("id", 1)
    t.update_set(pred, {"val": F.lit(1.5)})
    assert t._manifest(1)["schema"] == t._manifest(0)["schema"]
    assert t.read().dtypes == [("id", "bigint"), ("val", "int")]
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, 1), (2, 20)]


@pytest.mark.parametrize(
    "op", ["scan_groups", "compact", "delete_where", "append"]
)
def test_uncommitted_path_raises_named_not_found(spark, tmp_path, op):
    """Every entry point resolves its snapshot the same way: on a path
    with no committed version it raises the named FileNotFoundError,
    not an ENOENT on a manifest file, and writes nothing."""
    t = AcidTable(spark, str(tmp_path / "none"))
    batch = spark.createDataFrame(
        [(1, "a", 1.0)], "id long, name string, val double"
    )
    calls = {
        "scan_groups": lambda: t.scan_groups(P.Eq("id", 1)),
        "compact": t.compact,
        "delete_where": lambda: t.delete_where(P.Eq("id", 1)),
        "append": lambda: t.append(batch),
    }
    with pytest.raises(FileNotFoundError, match="no committed version at"):
        calls[op]()
    assert not os.path.exists(t.path)


def test_latest_snapshot_reads_the_tip_manifest_once(
    spark, tmp_path, monkeypatch
):
    """Resolving the latest snapshot parses the tip manifest once (the
    same parse that found it visible); an explicit version still
    resolves through its own read."""
    t = _mk(spark, tmp_path)
    t.append(
        spark.createDataFrame([(4, "d", 40.0)], "id long, name string, val double")
    )
    reads = []
    real = AcidTable._manifest
    monkeypatch.setattr(
        AcidTable, "_manifest", lambda self, v: reads.append(v) or real(self, v)
    )
    v, m = t._snapshot()
    assert (v, reads) == (1, [1]) and m["version"] == 1
    reads.clear()
    assert t._snapshot(0)[1]["version"] == 0 and reads == [0]
