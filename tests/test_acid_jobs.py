"""Spark jobs per AcidTable operation, pinned.

Every op of the transaction log runs a fixed number of Spark jobs on a
fixed table. Every data write goes through one writer
(`_write_groups`): a single-group write is one job (CHECKs ride it as
observed metrics, and parquet writes the bloom columns' footer filters
inside it); a relayout (`cluster_by`, `cluster_by_zorder`) is its
quantile passes plus one bucketed staging write. Each new group's
min/max/null-count stats are read from the footers of the files the
write produced, on the driver, so stats cost no job on either path. A
merge adds its key-box aggregate. Bloom probes read footers on the
driver and run no job. A change that adds a re-read, a count or a per-group loop
moves one of these figures and fails here; a refactor of the commit
path must leave all of them as they are.

The table: 2,000 rows with a `kgp_id` bloom, Z-ordered on (chr, pos)
into 4 file groups, then one statement of each kind in a fixed order
(each op's cost depends on the log the earlier ones left), closing with
a 1-D `cluster_by`.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gwasdb_spark.acid import AcidTable, MultiTableTxn
from gwasdb_spark.acid import predicates as P

from tests.gwas_fixtures import spark_jobs

SCHEMA = "kgp_id string, chr int, pos long, val double"


def _batch(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.concat(F.lit("1:"), F.col("id").cast("string")).alias("kgp_id"),
        (F.col("id") % 4 + 1).cast("int").alias("chr"),
        (F.col("id") * 37 % 10_007).alias("pos"),
        (F.col("id") % 13).cast("double").alias("val"),
    )


def test_jobs_per_acid_op(spark, tmp_path):
    path = os.path.join(str(tmp_path), "tbl")
    box: dict = {}

    def create():
        box["t"] = AcidTable.create(
            spark, path, _batch(spark, 0, 2_000), bloom_cols=["kgp_id"]
        )

    got = {"create": spark_jobs(spark, create)}
    t = box["t"]
    src = _batch(spark, 1_990, 2_010).withColumn("val", F.lit(-1.0))
    txn = MultiTableTxn(spark, os.path.join(str(tmp_path), "_txn"))
    v_zorder = {}

    def zorder():
        v_zorder["v"] = t.cluster_by_zorder(["chr", "pos"], n_groups=4)

    calls = {
        "cluster_by_zorder": zorder,
        "append": lambda: t.append(_batch(spark, 2_000, 2_050)),
        "commit_appends": lambda: txn.commit_appends(
            [(t, _batch(spark, 2_050, 2_100))]
        ),
        "merge": lambda: t.merge(src, ["kgp_id"]),
        "delete_where(Pred)": lambda: t.delete_where(P.Eq("kgp_id", "1:7")),
        "update_set(Pred)": lambda: t.update_set(
            P.Eq("kgp_id", "1:8"), {"val": F.lit(99.0)}
        ),
        "compact": lambda: t.compact(),
        "delete_where(Column)": lambda: t.delete_where(F.col("val") == 3.0),
        "add_check": lambda: t.add_check("val_ok", "val >= -1"),
        "rename_column": lambda: t.rename_column("pos", "position"),
        "restore": lambda: t.restore(v_zorder["v"]),
        "read_where(point)": lambda: t.read_where(
            P.Eq("kgp_id", "1:42")
        ).collect(),
        "cluster_by": lambda: t.cluster_by("pos", n_groups=4),
    }
    for name, fn in calls.items():
        got[name] = spark_jobs(spark, fn)
    assert len(t._manifest(v_zorder["v"])["file_groups"]) == 4
    assert [h["op"] for h in t.history()][-11:] == [
        "append",
        "txn_append",
        "merge(pruned 5/6)",
        "delete(pruned 1/2)",
        "update(pruned 1/2)",
        "compact(pruned 2/2)",
        "delete",
        "add_check(val_ok)",
        "rename_column(pos->position)",
        f"restore({v_zorder['v']})",
        "cluster(pos, 4)",
    ]
    assert got == {
        "create": 1,
        "cluster_by_zorder": 5,
        "append": 1,
        "commit_appends": 1,
        "merge": 4,
        "delete_where(Pred)": 1,
        "update_set(Pred)": 1,
        "compact": 1,
        "delete_where(Column)": 1,
        "add_check": 2,
        "rename_column": 0,
        "restore": 0,
        "read_where(point)": 1,
        "cluster_by": 3,
    }
