"""Schema evolution and serving-path skipping in the ACID table.

- `append(df, merge_schema=True)` widens the manifest schema with the
  batch's new columns: ZERO data IO on existing groups, which
  null-fill the new columns at read time (Delta mergeSchema).
- Shared columns must keep their exact type; new columns without the
  opt-in raise SchemaMismatch and commit nothing.
- `read_where(Pred)` lists only stat/bloom-admitting groups to Spark
  (the serving twin of pruned DML); `scan_groups` pins the count.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from gwasdb_spark.acid import AcidTable
from gwasdb_spark.acid import predicates as P
from gwasdb_spark.acid.table_log import SchemaMismatch


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("val")
    )


def _mtimes(t):
    return {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(t._data, "*", "*.parquet"))
    }


def test_merge_schema_append_widens_with_zero_rewrite(spark, tmp_path):
    t = AcidTable.create(
        spark, os.path.join(str(tmp_path), "ev"), _batch(spark, 0, 100)
    )
    before = _mtimes(t)
    wide = _batch(spark, 100, 150).withColumn(
        "src", F.concat(F.lit("s"), F.col("id") % 3)
    )
    t.append(wide, merge_schema=True)
    after = _mtimes(t)
    # evolution is metadata + one new group: old files untouched
    assert all(after[p] == m for p, m in before.items())
    got = t.read()
    assert got.columns == ["id", "val", "src"]
    rows = {r["id"]: r["src"] for r in got.collect()}
    assert len(rows) == 150
    assert rows[5] is None and rows[120] == "s0"
    # time travel preserves each version's OWN schema
    assert t.read(0).columns == ["id", "val"]


def test_schema_mismatch_rejected_without_optin(spark, tmp_path):
    t = AcidTable.create(
        spark, os.path.join(str(tmp_path), "ev2"), _batch(spark, 0, 50)
    )
    v0 = t.latest_version()
    wide = _batch(spark, 50, 60).withColumn("extra", F.lit(1))
    with pytest.raises(SchemaMismatch, match="extra"):
        t.append(wide)
    assert t.latest_version() == v0
    # a type change is rejected even WITH the opt-in
    retyped = _batch(spark, 50, 60).withColumn(
        "val", F.col("val").cast("string")
    )
    with pytest.raises(SchemaMismatch, match="val"):
        t.append(retyped, merge_schema=True)
    assert t.latest_version() == v0


def test_append_missing_column_null_fills(spark, tmp_path):
    t = AcidTable.create(
        spark, os.path.join(str(tmp_path), "ev3"), _batch(spark, 0, 50)
    )
    t.append(spark.range(50, 60).select("id"))  # no val column
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert len(got) == 60 and got[55] is None and got[3] == 3.0


def test_dml_over_evolved_table_keeps_wide_schema(spark, tmp_path):
    """A pruned DML touching only a PRE-evolution group must not
    narrow the table: the touched group is read under the manifest
    schema (null-filled), so its rewrite keeps the wide shape."""
    t = AcidTable.create(
        spark, os.path.join(str(tmp_path), "ev4"), _batch(spark, 0, 100)
    )
    t.append(
        _batch(spark, 100, 200).withColumn("src", F.lit("new")),
        merge_schema=True,
    )
    t.delete_where(P.Lt("id", 10))  # touches only the old group
    got = t.read()
    assert got.columns == ["id", "val", "src"]
    assert got.count() == 190
    assert got.filter(F.col("id") < 10).count() == 0
    # the old group's survivors still read src as NULL
    assert got.filter((F.col("id") == 50) & F.col("src").isNull()).count() == 1


def test_read_where_prunes_and_matches_full_filter(spark, tmp_path):
    t = AcidTable.create(
        spark, os.path.join(str(tmp_path), "rw"), _batch(spark, 0, 100)
    )
    t.append(_batch(spark, 100, 200))
    t.append(_batch(spark, 200, 300))
    pred = P.And(P.Ge("id", 120), P.Lt("id", 130))
    assert t.scan_groups(pred) == (1, 3)
    a = sorted(r["id"] for r in t.read_where(pred).collect())
    b = sorted(
        r["id"] for r in t.read().filter(pred.to_column()).collect()
    )
    assert a == b == list(range(120, 130))
    # all-pruned lookup: empty frame, right schema, no files listed
    none = t.read_where(P.Eq("id", 10**9))
    assert none.columns == ["id", "val"] and none.count() == 0
    # plain Column fallback still answers
    assert t.read_where(F.col("id") == 5).count() == 1


def test_read_where_uses_bloom(spark, tmp_path):
    def slice_mod(r):
        return _batch(spark, 0, 300).filter(F.col("id") % 3 == r)

    t = AcidTable.create(
        spark,
        os.path.join(str(tmp_path), "rwb"),
        slice_mod(0),
        bloom_cols=["id"],
    )
    t.append(slice_mod(1))
    t.append(slice_mod(2))
    # min/max is blind here (interleaved); the bloom prunes to 1 group
    assert t.scan_groups(P.Eq("id", 77)) == (1, 3)
    assert [r["id"] for r in t.read_where(P.Eq("id", 77)).collect()] == [77]


# ------------------------------------------- rename / drop (round 11) --
def _mk(spark, tmp_path, name="rc"):
    import os

    from gwasdb_spark.acid import AcidTable

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
        "k int, v double, tag string",
    )
    return AcidTable.create(spark, os.path.join(str(tmp_path), name), df)


def test_rename_column_is_metadata_only_and_time_travels(spark, tmp_path):
    import glob
    import os

    t = _mk(spark, tmp_path)
    files_before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(t.path, "data", "*", "*.parquet"))
    }
    v = t.rename_column("v", "value")
    assert v == 1
    # zero data IO: every data file untouched
    for p, m in files_before.items():
        assert os.path.getmtime(p) == m
    got = {r["k"]: r["value"] for r in t.read().collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 30.0}
    assert "v" not in t.read().columns
    # pre-rename snapshot surfaces the pre-rename name
    assert "v" in t.read(0).columns and "value" not in t.read(0).columns


def test_append_and_pruned_dml_after_rename(spark, tmp_path):
    from pyspark.sql import functions as F

    from gwasdb_spark.acid import predicates as P

    t = _mk(spark, tmp_path, "rc2")
    t.rename_column("v", "value")
    # appends arrive with LOGICAL names; files store physical ones
    t.append(
        spark.createDataFrame([(9, 90.0, "z")], "k int, value double, tag string")
    )
    got = {r["k"]: r["value"] for r in t.read().collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 30.0, 9: 90.0}
    # stats re-keyed: a sargable Pred on the NEW name prunes and lands
    t.update_set(P.Eq("value", 90.0), {"value": F.lit(91.0)})
    assert "pruned" in t._manifest(t.latest_version())["op"]
    got = {r["k"]: r["value"] for r in t.read().collect()}
    assert got[9] == 91.0 and got[1] == 10.0
    # and read_where on the renamed column still skips
    assert {r["k"] for r in t.read_where(P.Eq("value", 91.0)).collect()} == {9}


@pytest.mark.parametrize(
    "relayout",
    [
        lambda t: t.cluster_by("id", n_groups=2),
        lambda t: t.cluster_by_zorder(["id", "w"], n_groups=2),
    ],
    ids=["cluster_by", "cluster_by_zorder"],
)
def test_relayout_after_rename_keeps_values(spark, tmp_path, relayout):
    """A relayout writes through the column map like every other write:
    the renamed column keeps its values, and each new group's stats
    stay keyed by the logical name and describe those values."""
    t = AcidTable.create(
        spark,
        os.path.join(str(tmp_path), "rl"),
        spark.range(100).select("id", (F.col("id") * 2).alias("v")),
    )
    t.rename_column("v", "w")
    v = relayout(t)
    got = sorted((r["id"], r["w"]) for r in t.read().collect())
    assert got == [(i, 2 * i) for i in range(100)]
    m = t._manifest(v)
    assert len(m["file_groups"]) == 2
    for g in m["file_groups"]:
        st = m["stats"][g]
        assert sorted(st) == ["id", "w"]
        lo, hi, nulls, rows = st["id"]
        assert st["w"] == [2 * lo, 2 * hi, 0, rows]


def test_drop_column_time_travel_and_readd_refusal(spark, tmp_path):
    import pytest as _pt

    from gwasdb_spark.acid.table_log import SchemaMismatch

    t = _mk(spark, tmp_path, "rc3")
    t.drop_column("tag")
    assert t.read().columns == ["k", "v"]
    assert "tag" in t.read(0).columns  # history intact
    # appends no longer carry the column
    t.append(spark.createDataFrame([(5, 50.0)], "k int, v double"))
    assert t.read().count() == 4
    # re-adding the same name would resurrect stale bytes — refused
    with _pt.raises(SchemaMismatch, match="physical"):
        t.append(
            spark.createDataFrame(
                [(6, 60.0, "ghost")], "k int, v double, tag string"
            ),
            merge_schema=True,
        )


def test_rename_then_drop_then_restore_roundtrip(spark, tmp_path):
    t = _mk(spark, tmp_path, "rc4")
    t.rename_column("v", "value")      # v1
    t.drop_column("tag")               # v2
    assert t.read().columns == ["k", "value"]
    t.restore(0)                       # v3: original schema back
    assert sorted(t.read().columns) == ["k", "tag", "v"]
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 30.0}


def test_rename_drop_refusals(spark, tmp_path):
    import os

    import pytest as _pt

    from gwasdb_spark.acid import AcidTable

    t = _mk(spark, tmp_path, "rc5")
    t.add_check("v_pos", "v >= 0")
    with _pt.raises(ValueError, match="CHECK"):
        t.rename_column("v", "value")
    with _pt.raises(ValueError, match="CHECK"):
        t.drop_column("v")
    t.drop_check("v_pos")
    with _pt.raises(ValueError, match="already exists"):
        t.rename_column("v", "k")
    with _pt.raises(KeyError):
        t.drop_column("nope")
    b = AcidTable.create(
        spark,
        os.path.join(str(tmp_path), "rc6"),
        spark.createDataFrame([(1, "x")], "k int, name string"),
        bloom_cols=["name"],
    )
    with _pt.raises(ValueError, match="bloom"):
        b.rename_column("name", "label")
    solo = AcidTable.create(
        spark,
        os.path.join(str(tmp_path), "rc7"),
        spark.createDataFrame([(1,)], "k int"),
    )
    with _pt.raises(ValueError, match="only column"):
        solo.drop_column("k")
