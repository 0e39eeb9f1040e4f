"""`acid_churn`: writes beside reads on the transaction log.

Set-up builds a gwas-shaped `AcidTable` (bloom filter on `kgp_id`, Z-order
clustered on (chr, pos)), its `no_gwas_result` twin and a `MultiTableTxn`
coordinator. Each 24-op block of the stream runs 5 `read_where` point
lookups on `kgp_id`, 2 region `read_where` (chr, pos Between), 1
`read(version=k)`, 5 `MultiTableTxn.commit_appends` of a QC-split batch
into both tables, 3 `merge` corrections, 4 `delete_where` (study x chr
retractions) and 3 `update_set`, and a `compact` closes the block (every
15 commits). The interleaving is fixed and only keys, batches and ranges
are seeded: an op's cost depends on the log state the earlier commits
left, so a seeded order would move the figures from seed to seed.

This mix departs from an even 55% read share on purpose. Commits are 15
of the 24 ops, so the p50 falls inside the delete/update cluster and the
p75 inside the commit_appends cluster, not on an edge between clusters.
With reads at 55%, the p50 would be the slowest read of the run, an order
statistic on the edge between the 100 ms reads and the 700 ms commits.
Sub-200 ms reads also swing 15% from run to run on a shared host, while
commits swing about 6%.

The stream is stateful: every commit grows the log and changes the group
layout. So a run is a fixed number of whole blocks (`N_BLOCKS`), not a
time budget, and a faster program measures the same ops. Before them an
untimed warm-up runs each kind of op once or twice (`WARMUP_PATTERN`), so
the first run of each query shape, which pays for codegen and JIT
compilation, falls outside the timed block.

The traced pass then runs `indexes`' maintenance sequence on the vector
and text indexes, after the op loop and outside every end-to-end metric.

Oracle: a DuckDB replay of the op log. Reads are checked against the
replay, `read(version=k)` against the replay's fingerprint of version k,
and the final snapshots of both tables against the replay.
"""

from __future__ import annotations

import os
import re
import time
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

from perfbench import gen, indexes

PATTERN = ("point_read", "txn_append", "delete", "point_read", "merge", "update",
           "region_read", "txn_append", "delete", "point_read", "update", "merge",
           "time_travel", "txn_append", "delete", "point_read", "update", "txn_append",
           "region_read", "merge", "delete", "point_read", "txn_append", "compact")
BLOCK = len(PATTERN)
N_BLOCKS = 1  # whole blocks per run, however fast they run
WARMUP_PATTERN = ("point_read", "txn_append", "delete", "merge", "update", "region_read",
                  "time_travel", "txn_append", "delete", "merge", "update", "compact")
WARMUP = len(WARMUP_PATTERN)  # untimed ops at the head of the stream
TIMED = False
N_VARIANTS = 10_000  # x 2 studies
SCHEMA = pa.schema(
    [("kgp_id", pa.string()), ("study_id", pa.int32()), ("chr", pa.int32()),
     ("pos", pa.int32()), ("stat", pa.float64()), ("se", pa.float64()),
     ("neg_log10_p", pa.float64()), ("impute_score", pa.float64())]
)
KEY_SCHEMA = pa.schema([SCHEMA.field(0), SCHEMA.field(1)])
READS = ("point_read", "region_read", "time_travel")
PRUNED = re.compile(r"\(pruned (\d+)/(\d+)\)")


def _rows(r, v: pd.DataFrame, study_id) -> pd.DataFrame:
    n = len(v)
    return pd.DataFrame(
        {"kgp_id": v["kgp_id"].values, "study_id": np.broadcast_to(np.int32(study_id), n).astype(np.int32),
         "chr": v["chr"].values, "pos": v["pos"].values,
         "stat": np.round(r.lognormal(0, 0.1, n), 4), "se": np.round(r.random(n) * 0.2, 4),
         "neg_log10_p": np.round(-np.log10(np.maximum(r.random(n), 1e-12)), 6),
         "impute_score": np.round(r.uniform(0.1, 1.0, n), 3)}
    )


def _fingerprint(con) -> tuple:
    n, pos, stat = con.execute("SELECT count(*), sum(pos), sum(stat) FROM g").fetchone()
    return int(n), int(pos or 0), float(stat or 0.0)


def setup(spark, work: str, seed: int, tracer) -> dict:
    from gwasdb_spark.acid import AcidTable, MultiTableTxn

    g = os.path.join(work, "gen")
    r = gen.rng(seed, 20)
    v = gen.variants(seed, N_VARIANTS)
    base = pd.concat([_rows(r, v, 1), _rows(r, v, 2)], ignore_index=True)
    sizes = {"rows": len(base), "bytes": gen.write_parquet(base, f"{g}/base.parquet", SCHEMA)}
    gen.write_parquet(base[base["impute_score"] < 0.15][["kgp_id", "study_id"]],
                      f"{g}/ng_base.parquet", KEY_SCHEMA)
    with tracer.root("setup.create") as root:
        with tracer.span("acid.table_log.create"):
            t = AcidTable.create(spark, f"{work}/gwas", spark.read.parquet(f"{g}/base.parquet"),
                                 bloom_cols=["kgp_id"])
        with tracer.span("acid.table_log.cluster_by_zorder"):
            t.cluster_by_zorder(["chr", "pos"], n_groups=8)
        with tracer.span("acid.table_log.create"):
            ng = AcidTable.create(spark, f"{work}/no_gwas_result", spark.read.parquet(f"{g}/ng_base.parquet"))
    con = duckdb.connect(config={"threads": 1})  # leaves the cores to Spark
    con.execute(f"CREATE TABLE g AS SELECT * FROM read_parquet('{g}/base.parquet')")
    con.execute(f"CREATE TABLE ng AS SELECT * FROM read_parquet('{g}/ng_base.parquet')")
    fp = _fingerprint(con)
    return {
        "spark": spark, "gen": g, "t": t, "ng": ng, "txn": MultiTableTxn(spark, f"{work}/_txn"),
        "con": con, "v": v, "fp": {0: fp, t.latest_version(): fp}, "version": t.latest_version(),
        "user_bytes": 0, "checks": [], "phase_spans": [root], "sizes": sizes, "work": work,
        "seed": seed,
        "bytes_at_start": _table_bytes(t),
    }


def ops(ctx: dict, seed: int) -> list[dict]:
    """The op stream plus every batch it writes, generated up front."""
    r = gen.rng(seed, 21)
    g, v = ctx["gen"], ctx["v"]
    n = len(v)
    out = []
    for i, kind in enumerate(WARMUP_PATTERN + PATTERN * N_BLOCKS):
        op = {"kind": kind}
        row = v.iloc[gen.zipf_anchor(r, n)]
        if kind == "point_read":
            op["kgp_id"] = row["kgp_id"]
        elif kind in ("region_read", "update"):
            op.update(chr=int(row["chr"]), lo=int(row["pos"]) - 25_000, hi=int(row["pos"]) + 25_000,
                      value=float(np.round(r.random(), 4)))
        elif kind == "time_travel":
            op["back"] = int(r.integers(1, 6))
        elif kind == "txn_append":
            rows = _rows(r, gen.variants(seed * 1000 + i, 300), 100 + i)
            fail = r.random(len(rows)) < 0.15  # the QC split
            op.update(rows=f"{g}/batch_{i}_rows.parquet", tomb=f"{g}/batch_{i}_tomb.parquet")
            op["bytes"] = gen.write_parquet(rows[~fail], op["rows"], SCHEMA)
            gen.write_parquet(rows[fail][["kgp_id", "study_id"]], op["tomb"], KEY_SCHEMA)
        elif kind == "merge":
            pick = v.iloc[np.sort(r.choice(n, 200, replace=False))]
            src = pd.concat([_rows(r, pick, r.integers(1, 3, len(pick))),
                             _rows(r, gen.variants(seed * 1000 + i, 100), 200 + i)],
                            ignore_index=True).drop_duplicates(["kgp_id", "study_id"])
            op["src"] = f"{g}/merge_{i}.parquet"
            op["bytes"] = gen.write_parquet(src, op["src"], SCHEMA)
        elif kind == "delete":
            op.update(study_id=int(r.integers(1, 3)), chr=int(r.integers(1, gen.CHROMS + 1)))
        out.append(op)
    return out


def make_runner(ctx: dict):
    from pyspark.sql import functions as F

    from gwasdb_spark.acid.predicates import And, Between, Eq

    spark, t, ng, txn = (ctx[k] for k in ("spark", "t", "ng", "txn"))

    def run_op(op, tr, extra):
        k = op["kind"]
        if k == "point_read":
            extra["pred"] = Eq("kgp_id", op["kgp_id"])
            with tr.span("acid.table_log.read_where"):
                return t.read_where(extra["pred"]).collect()
        if k == "region_read":
            extra["pred"] = And(Eq("chr", op["chr"]), Between("pos", op["lo"], op["hi"]))
            with tr.span("acid.table_log.read_where"):
                return t.read_where(extra["pred"]).collect()
        if k == "time_travel":
            with tr.span("acid.table_log.latest_version"):
                extra["version"] = max(0, t.latest_version() - op["back"])
            with tr.span("acid.table_log.read"):
                return t.read(version=extra["version"]).agg(
                    F.count(F.lit(1)), F.sum("pos"), F.sum("stat")).collect()[0]
        if k == "txn_append":
            with tr.span("acid.multi_commit.commit_appends"):
                return txn.commit_appends([(t, spark.read.parquet(op["rows"])),
                                           (ng, spark.read.parquet(op["tomb"]))])
        if k == "merge":
            with tr.span("acid.table_log.merge"):
                return t.merge(spark.read.parquet(op["src"]), ["kgp_id", "study_id"])
        if k == "delete":
            with tr.span("acid.table_log.delete_where"):
                return t.delete_where(And(Eq("study_id", op["study_id"]), Eq("chr", op["chr"])))
        if k == "update":
            pred = And(Eq("chr", op["chr"]), Between("pos", op["lo"], op["hi"]))
            with tr.span("acid.table_log.update_set"):
                return t.update_set(pred, {"se": F.lit(op["value"])})
        with tr.span("acid.table_log.compact"):
            return t.compact()

    return run_op


def _norm(row) -> tuple:
    return tuple(round(x, 9) if isinstance(x, float) else x for x in row)


def _bag(rows) -> Counter:
    return Counter(_norm(tuple(r)) for r in rows)


def _table_bytes(t) -> int:
    from perfbench.harness import dir_bytes

    return dir_bytes(os.path.join(t.path, "data"))


def _live_bytes(t) -> int:
    from perfbench.harness import dir_bytes

    m = t._manifest(t.latest_version())
    return sum(dir_bytes(os.path.join(t.path, "data", grp)) for grp in m["file_groups"])


def _scan(t, pred, extra) -> None:
    """Groups a read opens (min/max + bloom) and the groups min/max alone
    admits, read from the manifest after the op."""
    opened, total = t.scan_groups(pred)
    m = t._manifest(t.latest_version())
    minmax = sum(pred.may_match(m.get("stats", {}).get(grp, {})) for grp in m["file_groups"])
    extra.update(groups_opened=opened, groups_total=total, groups_minmax=minmax)


def make_checker(ctx: dict):
    t, con = ctx["t"], ctx["con"]

    def committed(extra, before, result) -> bool:
        """The op committed exactly the next version; record the replay's
        fingerprint of it for later time-travel reads."""
        ctx["fp"][t.latest_version()] = _fingerprint(con)
        hit = PRUNED.search(t.history()[-1]["op"])
        if hit:
            extra["groups_rewritten"] = (int(hit.group(1)), int(hit.group(2)))
        return result == before + 1

    def check(op, result, extra):
        k = op["kind"]
        before = ctx["version"]
        t0 = time.perf_counter()
        ctx["version"] = t.latest_version()
        extra["latest_version_ms"] = (time.perf_counter() - t0) * 1e3
        if k == "point_read":
            _scan(t, extra["pred"], extra)
            return _bag(result) == _bag(con.execute("SELECT * FROM g WHERE kgp_id = ?",
                                                    [op["kgp_id"]]).fetchall())
        if k == "region_read":
            _scan(t, extra["pred"], extra)
            return _bag(result) == _bag(con.execute(
                "SELECT * FROM g WHERE chr = ? AND pos BETWEEN ? AND ?",
                [op["chr"], op["lo"], op["hi"]]).fetchall())
        if k == "time_travel":
            n, pos, stat = ctx["fp"][extra["version"]]
            return (result[0] == n and (result[1] or 0) == pos
                    and abs((result[2] or 0.0) - stat) <= 1e-9 * max(1.0, abs(stat)))
        if k == "compact":
            if result == before:  # fewer than two small groups: nothing to merge
                return True
            return committed(extra, before, result)
        if k == "txn_append":
            con.execute(f"INSERT INTO g SELECT * FROM read_parquet('{op['rows']}')")
            con.execute(f"INSERT INTO ng SELECT * FROM read_parquet('{op['tomb']}')")
            ctx["user_bytes"] += op["bytes"]
            return committed(extra, before, result[t.path])
        if k == "merge":
            src = f"read_parquet('{op['src']}')"
            con.execute(f"DELETE FROM g USING {src} AS s WHERE g.kgp_id = s.kgp_id AND g.study_id = s.study_id")
            con.execute(f"INSERT INTO g SELECT * FROM {src}")
            ctx["user_bytes"] += op["bytes"]
        elif k == "delete":
            con.execute("DELETE FROM g WHERE study_id = ? AND chr = ?", [op["study_id"], op["chr"]])
        else:
            con.execute("UPDATE g SET se = ? WHERE chr = ? AND pos BETWEEN ? AND ?",
                        [op["value"], op["chr"], op["lo"], op["hi"]])
        return committed(extra, before, result)

    return check


def finish(ctx: dict) -> None:
    """Final snapshots of both tables against the DuckDB replay."""
    for table, name in ((ctx["t"], "g"), (ctx["ng"], "ng")):
        got = table.read().toPandas().itertuples(index=False)
        want = ctx["con"].execute(f"SELECT * FROM {name}").fetchdf().itertuples(index=False)
        ctx["checks"].append((f"final snapshot of {name} equals the replay", _bag(got) == _bag(want)))


def traced_phase(ctx: dict, tracer) -> None:
    """The traced pass only: the index maintenance sequence and its checks."""
    inputs = indexes.generate(os.path.join(ctx["work"], "gen_indexes"), ctx["seed"])
    ctx["sizes"]["indexes"] = inputs["sizes"]
    tracer.attribute = True
    root, out = indexes.run(ctx["spark"], ctx["work"], inputs, tracer)
    tracer.attribute = False
    ctx["phase_spans"].append(root)
    ctx["index_root"] = root
    ctx["checks"] += indexes.check(ctx["spark"], inputs, out)


def figures(ctx: dict, records) -> dict:
    """Workload-specific end-to-end figures (reported in the detail line)."""
    from perfbench.harness import median

    t = ctx["t"]
    reads = [r.wall_ms for r in records if r.ok and r.kind in READS]
    commits = [r.wall_ms for r in records if r.ok and r.kind not in READS]
    data = _table_bytes(t)
    return {
        "read_p50_ms": median(reads) if reads else None,
        "commit_p50_ms": median(commits) if commits else None,
        "write_amp": (data - ctx["bytes_at_start"]) / max(1, ctx["user_bytes"]),
        "space_amp": data / max(1, _live_bytes(t)),
        "log_versions": t.latest_version() + 1,
    }


def layers(ctx: dict, records) -> dict:
    from perfbench.harness import mean_ms

    ok = [r for r in records if r.ok]

    def ratio(pairs):
        return sum(a for a, _ in pairs) / max(1, sum(b for _, b in pairs))

    scans = [r.extra for r in ok if "groups_total" in r.extra]
    points = [r.extra for r in ok if r.kind == "point_read"]
    writes = [r for r in ok if r.traced and r.kind not in READS]
    lv = [r.extra["latest_version_ms"] for r in ok]
    return {
        **indexes.layers(ctx["index_root"]),
        "acid.table_log.commit_ms.merge": mean_ms(records, "acid.table_log.merge"),
        "acid.table_log.commit_ms.delete": mean_ms(records, "acid.table_log.delete_where"),
        "acid.table_log.commit_ms.update": mean_ms(records, "acid.table_log.update_set"),
        "acid.table_log.commit_ms.compact": mean_ms(records, "acid.table_log.compact"),
        "acid.table_log.jobs_per_commit": sum(
            s.counters["jobs"] for r in writes for s in r.root.walk()) / max(1, len(writes)),
        "acid.table_log.groups_rewritten_frac": ratio(
            [r.extra["groups_rewritten"] for r in ok if "groups_rewritten" in r.extra]),
        "acid.table_log.latest_version_ms": sum(lv) / max(1, len(lv)),
        "acid.table_log.log_versions": ctx["t"].latest_version() + 1,
        "acid.predicates.groups_scanned_frac": ratio([(e["groups_opened"], e["groups_total"]) for e in scans]),
        "acid.bloom.pruned_frac": ratio([(e["groups_minmax"] - e["groups_opened"], e["groups_total"])
                                         for e in points]),
        "acid.multi_commit.txn_commit_ms": mean_ms(records, "acid.multi_commit.commit_appends"),
    }
