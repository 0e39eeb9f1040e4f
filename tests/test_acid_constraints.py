"""CHECK constraints and bloom-filter skipping in the ACID table
(r9 verdict "missing #4" — Delta CHECK constraints, re-implemented
natively, and bloom-filter skipping over parquet footer blooms).

Load-bearing contracts:

1. REJECTED MEANS UNCHANGED — a write violating a CHECK aborts with
   CheckViolation, commits NO version, and leaves no orphan group in
   a manifest (the violating group's files are removed).
2. NULL PASSES — SQL CHECK semantics: only FALSE rows violate.
3. BLOOM SOUNDNESS — no false negatives: every value written to a
   group is admitted by its footer blooms, and a literal of another
   type family is always admitted; pruning on a bloom NO commits the
   identical table as the unpruned twin.
4. BLOOM SKIPPING — a point DELETE on an interleaved key (min/max
   useless) touches only bloom-admitting groups; untouched groups'
   files stay mtime-stable.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from gwasdb_spark.acid import AcidTable, CheckViolation
from gwasdb_spark.acid import bloom as B
from gwasdb_spark.acid import predicates as P


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 7).cast("double").alias("val"),
        F.concat(F.lit("u"), (F.col("id") % 10)).alias("tag"),
    )


def _rows(t, version=None):
    return sorted(
        (r["id"], r["val"], r["tag"]) for r in t.read(version).collect()
    )


def _mtimes(t):
    return {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(t._data, "*", "*.parquet"))
    }


# ------------------------------------------------------------- checks --


def test_check_rejects_violating_append_atomically(spark, tmp_path):
    t = AcidTable.create(
        spark,
        os.path.join(str(tmp_path), "chk"),
        _batch(spark, 0, 50),
        checks={"val_nonneg": "val >= 0"},
    )
    v_before = t.latest_version()
    rows_before = _rows(t)
    bad = _batch(spark, 50, 60).withColumn(
        "val", F.when(F.col("id") == 55, -1.0).otherwise(F.col("val"))
    )
    with pytest.raises(CheckViolation, match="val_nonneg"):
        t.append(bad)
    assert t.latest_version() == v_before, "violating append committed"
    assert _rows(t) == rows_before
    # no manifest names a group that does not exist; no orphan group is
    # named by any manifest
    m = t._manifest(v_before)
    for g in m["file_groups"]:
        assert os.path.isdir(os.path.join(t._data, g))


def test_check_valid_append_and_update_pass(spark, tmp_path):
    t = AcidTable.create(
        spark,
        os.path.join(str(tmp_path), "chk2"),
        _batch(spark, 0, 50),
        checks={"val_nonneg": "val >= 0"},
    )
    t.append(_batch(spark, 50, 100))
    assert len(_rows(t)) == 100
    # an UPDATE whose transform violates the check aborts too
    with pytest.raises(CheckViolation):
        t.update_set(
            P.Lt("id", 10), {"val": F.col("val") - F.lit(100.0)}
        )
    assert len(_rows(t)) == 100
    # and a compliant update commits
    v = t.update_set(P.Lt("id", 10), {"val": F.col("val") + F.lit(1.0)})
    assert t.latest_version() == v


def test_check_null_rows_pass(spark, tmp_path):
    t = AcidTable.create(
        spark,
        os.path.join(str(tmp_path), "chk3"),
        _batch(spark, 0, 10),
        checks={"val_nonneg": "val >= 0"},
    )
    # NULL val → CHECK is UNKNOWN → passes (SQL semantics)
    nulls = _batch(spark, 10, 15).withColumn(
        "val", F.lit(None).cast("double")
    )
    t.append(nulls)
    assert len(_rows(t)) == 15


def test_add_check_validates_snapshot_and_drop_restores(spark, tmp_path):
    t = AcidTable.create(
        spark, os.path.join(str(tmp_path), "chk4"), _batch(spark, 0, 50)
    )
    # existing data violates → refuse, no version committed
    v0 = t.latest_version()
    with pytest.raises(CheckViolation, match="val_small"):
        t.add_check("val_small", "val < 3")
    assert t.latest_version() == v0
    # a satisfiable constraint lands as a metadata-only version
    v1 = t.add_check("val_nonneg", "val >= 0")
    assert v1 == v0 + 1
    assert t._manifest(v1)["file_groups"] == t._manifest(v0)["file_groups"]
    assert t.checks() == {"val_nonneg": "val >= 0"}
    with pytest.raises(ValueError):
        t.add_check("val_nonneg", "val >= 0")
    # enforcement active → drop → the same write passes
    bad = _batch(spark, 50, 55).withColumn("val", F.lit(-1.0))
    with pytest.raises(CheckViolation):
        t.append(bad)
    t.drop_check("val_nonneg")
    assert t.checks() == {}
    t.append(bad)
    assert len(_rows(t)) == 55


def test_checks_survive_reopen_and_merge(spark, tmp_path):
    path = os.path.join(str(tmp_path), "chk5")
    AcidTable.create(
        spark, path, _batch(spark, 0, 50), checks={"pos": "id >= 0"}
    )
    t2 = AcidTable(spark, path)  # fresh handle, metadata from the log
    assert t2.checks() == {"pos": "id >= 0"}
    src = _batch(spark, 45, 55).withColumn(
        "id", F.when(F.col("id") == 50, -50).otherwise(F.col("id"))
    )
    with pytest.raises(CheckViolation):
        t2.merge(src, ["id"])
    assert len(_rows(t2)) == 50  # merge aborted atomically


# -------------------------------------------------------------- bloom --


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= 1 << 63 else h


def test_bloom_xxh64_parity_with_spark(spark):
    """The driver-side XXH64 must equal Spark's `xxhash64` bit for bit:
    strings of every length 0-40 walk each tail branch (1-, 4- and
    8-byte steps) and the 32-byte stripe loop; ints and longs hash
    their 4- and 8-byte little-endian forms."""
    strs = ["".join(chr(97 + (i * 7 + j) % 26) for j in range(n))
            for i, n in enumerate(range(41))] + ["é€😀", "snp_rs12345"]
    ints = [0, 1, -1, 7, 2**31 - 1, -(2**31)]
    longs = [0, -1, 10**12, 2**63 - 1, -(2**63)]
    got = spark.createDataFrame(
        [(s, None, None) for s in strs]
        + [(None, i, None) for i in ints]
        + [(None, None, v) for v in longs],
        "s string, i int, l long",
    ).select(
        "s", "i", "l",
        F.xxhash64("s").alias("hs"),
        F.xxhash64("i").alias("hi"),
        F.xxhash64("l").alias("hl"),
    ).collect()
    for r in got:
        if r["s"] is not None:
            assert r["hs"] == _signed(B.xxh64(r["s"].encode(), 42)), r["s"]
        if r["i"] is not None:
            enc = B.plain_bytes(1, r["i"])
            assert r["hi"] == _signed(B.xxh64(enc, 42)), r["i"]
        if r["l"] is not None:
            enc = B.plain_bytes(2, r["l"])
            assert r["hl"] == _signed(B.xxh64(enc, 42)), r["l"]


def test_bloom_admission_parity_jvm_vs_python(spark):
    """Parquet-java's BlockSplitBloomFilter is the writer: its value
    hashes and its findHash answers must equal the driver probe's."""
    jvm = spark.sparkContext._jvm
    pq = jvm.org.apache.parquet
    bf = pq.column.values.bloomfilter.BlockSplitBloomFilter(1024)
    strs = [f"1:{i}" for i in range(0, 400, 3)] + ["", "x"]
    ints = [0, 5, -3, 70_000, 2**31 - 1]
    longs = [2**40 + i for i in range(0, 200, 7)]
    hashes = []
    for s in strs:
        h = B.xxh64(B.plain_bytes(6, s))
        assert _signed(h) == bf.hash(pq.io.api.Binary.fromString(s)), s
        hashes.append(h)
    for v in ints:
        h = B.xxh64(B.plain_bytes(1, v))
        assert _signed(h) == bf.hash(v), v
        hashes.append(h)
    for v in longs:  # above 2**31, py4j passes a java long
        h = B.xxh64(B.plain_bytes(2, v))
        assert _signed(h) == bf.hash(v), v
        hashes.append(h)
    for h in hashes[::2]:
        bf.insertHash(_signed(h))
    out = jvm.java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    bitset = bytes(out.toByteArray())
    assert len(bitset) == 1024
    probes = hashes + [B.xxh64(f"absent{i}".encode()) for i in range(300)]
    answers = [B.block_admits(bitset, h) for h in probes]
    assert answers == [bool(bf.findHash(_signed(h))) for h in probes]
    assert all(answers[: len(hashes): 2]) and not all(answers)


def test_bloom_no_false_negatives(spark, tmp_path):
    """Every written value of every bloom-eligible type is admitted by
    the group's footer blooms; absent values are overwhelmingly not."""
    df = spark.range(0, 1_500, 1, 2).select(
        (F.col("id") % 120 - 60).cast("byte").alias("b"),
        (F.col("id") * 11 - 9_000).cast("short").alias("s"),
        (F.col("id") * 7919 - 10**7).cast("int").alias("i"),
        (F.col("id") * 10**9 + 3).alias("l"),
        F.concat(F.lit("rs"), F.col("id").cast("string")).alias("t"),
    )
    t = AcidTable.create(
        spark,
        os.path.join(str(tmp_path), "bl"),
        df,
        bloom_cols=["b", "s", "i", "l", "t"],
    )
    gdir = os.path.join(t._data, t._manifest(0)["file_groups"][0])
    for r in df.collect():
        for c in "bsilt":
            assert B.group_admits(gdir, [(c, (r[c],))]), (c, r[c])
    absent = {
        "i": [10**8 + k for k in range(500)],
        "l": [10**15 + k for k in range(500)],
        "t": [f"zz{k}" for k in range(500)],
    }
    for c, vals in absent.items():
        hits = sum(B.group_admits(gdir, [(c, (v,))]) for v in vals)
        assert hits < 25, (c, hits)


def test_bloom_prunes_interleaved_point_delete(spark, tmp_path):
    """Round-robin groups: every group's [min,max] on id spans the
    whole range, so min/max alone prunes nothing — the bloom must."""
    path = os.path.join(str(tmp_path), "bl2")

    def slice_mod(r):
        return _batch(spark, 0, 300).filter(F.col("id") % 3 == r)

    t = AcidTable.create(spark, path, slice_mod(0), bloom_cols=["id"])
    t.append(slice_mod(1))
    t.append(slice_mod(2))
    # twin without blooms, fed the identical statement
    twin = AcidTable.create(
        spark, os.path.join(str(tmp_path), "bl2t"), slice_mod(0)
    )
    twin.append(slice_mod(1))
    twin.append(slice_mod(2))

    before = _mtimes(t)
    t.delete_where(P.Eq("id", 77))  # 77 % 3 == 2 → third group only
    twin.delete_where(P.Eq("id", 77))
    assert _rows(t) == _rows(twin), "bloom pruning changed the result"
    op = t._manifest(t.latest_version())["op"]
    assert op == "delete(pruned 1/3)", op
    after = _mtimes(t)
    untouched = [p for p in before if p in after]
    assert len(untouched) >= 2 * len(before) // 3
    assert all(before[p] == after[p] for p in untouched)


def test_bloom_isin_and_conjunct_pruning(spark, tmp_path):
    path = os.path.join(str(tmp_path), "bl3")

    def slice_mod(r):
        return _batch(spark, 0, 300).filter(F.col("id") % 3 == r)

    t = AcidTable.create(spark, path, slice_mod(0), bloom_cols=["id"])
    t.append(slice_mod(1))
    t.append(slice_mod(2))
    # IsIn hitting residues {0, 1} → groups 0 and 1 touched, group 2 not
    t.delete_where(P.IsIn("id", [30, 31]))
    op = t._manifest(t.latest_version())["op"]
    assert op == "delete(pruned 2/3)", op
    # the delete rewrote its two touched groups into ONE new group
    # (which got a fresh bloom sidecar) → table now holds 2 groups.
    # And(Eq on bloom col, range on other) still prunes via the Eq:
    # id 90 (residue 0) lives in the rewritten group only.
    t.update_set(
        P.And(P.Eq("id", 90), P.Ge("val", 0.0)),
        {"val": F.lit(99.0)},
    )
    op = t._manifest(t.latest_version())["op"]
    assert op == "update(pruned 1/2)", op
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[90] == 99.0 and 30 not in got and 31 not in got


def _footer_bloom_cols(path: str) -> set[str]:
    """Columns with a bloom offset in every row group of one file."""
    with open(path, "rb") as fh:
        data = fh.read()
    flen = int.from_bytes(data[-8:-4], "little")
    footer, _ = B._value(data[-8 - flen: -8], 0, 12)
    per_rg = [
        {c[3][3][0].decode() for c in rg[1] if 14 in c[3]}
        for rg in footer[4]
    ]
    return set.intersection(*per_rg) if per_rg else set()


def test_footer_blooms_written_by_compact_and_cluster(spark, tmp_path):
    path = os.path.join(str(tmp_path), "bl4")
    t = AcidTable.create(
        spark, path, _batch(spark, 0, 100), bloom_cols=["id"]
    )
    t.append(_batch(spark, 100, 200))
    t.compact(small_rows=10**6)  # both groups are "small" → one group
    m = t._manifest(t.latest_version())
    assert len(m["file_groups"]) == 1
    gdir = os.path.join(t._data, m["file_groups"][0])
    assert B.group_admits(gdir, [("id", (150,))])
    t.cluster_by_zorder(["id", "val"], n_groups=4)
    m = t._manifest(t.latest_version())
    assert len(m["file_groups"]) >= 2
    for g in m["file_groups"]:
        files = glob.glob(os.path.join(t._data, g, "*.parquet"))
        assert files and all(_footer_bloom_cols(f) == {"id"} for f in files)
    assert not glob.glob(
        os.path.join(path, "**", ".blooms.json"), recursive=True
    )
    # skipping still works on the clustered layout
    t.delete_where(P.Eq("id", 150))
    op = t._manifest(t.latest_version())["op"]
    assert op.startswith("delete(pruned 1/"), op


def _mod3_table(spark, path):
    """Three round-robin groups (id % 3) with blooms on long `id` and
    on string `tag` (zero-padded id), so min/max prunes nothing."""
    def part(r):
        return spark.range(0, 30).filter(F.col("id") % 3 == r).select(
            "id", F.format_string("%03d", "id").alias("tag")
        )

    t = AcidTable.create(spark, path, part(0), bloom_cols=["id", "tag"])
    t.append(part(1))
    t.append(part(2))
    return t


@pytest.mark.parametrize(
    "pred", [P.Eq("id", 7.0), P.Eq("tag", 7)], ids=["float_on_long", "int_on_string"]
)
def test_bloom_admits_cross_type_literal(spark, tmp_path, pred):
    """A literal of another type family cannot be hashed the way the
    column was written; Spark's comparison casts and still matches, so
    the bloom stage must admit (predicates.py: cross-type degrades to
    True) rather than prune the group holding id 7 / tag "007"."""
    t = _mod3_table(spark, os.path.join(str(tmp_path), "xt"))
    assert [r["id"] for r in t.read_where(pred).collect()] == [7]
    t.delete_where(pred)
    assert 7 not in {r["id"] for r in t.read().collect()}
    assert t.history()[-1]["op"] == "delete(pruned 3/3)"


def test_bloom_table_size_stays_near_plain_twin(spark, tmp_path):
    """Parquet's default bloom is 1 MiB per file; the sizing options keep
    a 20k-row bloom table within 1.5x the bytes of its plain twin."""
    df = spark.range(0, 20_000).select(
        F.concat(F.lit("1:"), (F.col("id") * 7).cast("string")).alias("kgp_id"),
        (F.col("id") % 22 + 1).cast("int").alias("chr"),
        (F.col("id") * 37 % 100_003).alias("pos"),
        (F.col("id") % 13).cast("double").alias("val"),
    )

    def size(t):
        return sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(t._data, "*", "*.parquet"))
        )

    bl = AcidTable.create(
        spark, os.path.join(str(tmp_path), "b"), df, bloom_cols=["kgp_id"]
    )
    plain = AcidTable.create(spark, os.path.join(str(tmp_path), "p"), df)
    assert size(bl) <= 1.5 * size(plain), (size(bl), size(plain))
