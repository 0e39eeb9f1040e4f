"""`browse`: the Shiny app's session mix over a warehouse built by the ETL.

Set-up is the operator's path: generated b37 / marker tables through
`Warehouse.write`, then every generated study's raw plink TSVs through
`ingest_study` and the `gwas` / `no_gwas_result` / `study` appends, then
one `build_combined` and `build_marker_index` for the loaded batch, then
the app's startup `study_list`; the checks of all that run after the
set-up's timing. Each 20-op block of the stream holds 7 `locus_window` (half
with a study filter), 5 `combined_region` (250 kb - 2 Mb), 3
`markers_by_region`, 3 `markers_by_probe` (^-anchored) and 2
`marker_exact`, anchored on a Zipf-skewed hot set of loci plus a uniform
cold tail. Every answer is checked against DuckDB over copies of the same
parquet files; every ingested study against the generator's own row and
QC counts.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb

from perfbench import gen
from perfbench.harness import dir_bytes, written_since

MIX = {"locus_window": 7, "combined_region": 5, "markers_by_region": 3,
       "markers_by_probe": 3, "marker_exact": 2}
BLOCK = sum(MIX.values())  # runs stop on whole mixes
WARMUP = BLOCK  # untimed ops at the head of the stream: codegen and JIT warm-up
TIMED = True  # stateless: the run measures --seconds of ops
N_VARIANTS = 10_000
N_STUDIES = 2
FLANK = 10_000
COMBINED_COLS = ("kgp_id", "study_id", "or", "se", "neg_log10_p", "impute_score",
                 "maf_all", "chr", "pos", "ref", "alt", "name", "n", "n_case",
                 "n_control")


def publish(spark, wh, marker, study: dict, tracer) -> tuple[int, object]:
    """One study through the ETL path: id allocation, the ingest DAG and
    the three appends, each in its layer's span."""
    from gwasdb_spark import schemas as S
    from gwasdb_spark.gwas.ingest import RawStudyInputs, ingest_study, next_study_id

    with tracer.root("setup.publish") as root:
        with tracer.span("gwas.ingest.next_study_id"):
            sid = next_study_id(wh.read("study"))
        with tracer.span("gwas.ingest.plan"):
            inputs = RawStudyInputs(study["gwas_tsv"], study["hwe_tsv"], study["mfi_tsv"],
                                    study["frq_tsv"])
            rows, tombstones = ingest_study(spark, inputs, sid, marker=marker,
                                            maf_min=0.01 if study["quantitative"] else None)
        with tracer.span("gwas.warehouse.append.gwas"):
            wh.append("gwas", rows)
        with tracer.span("gwas.warehouse.append.no_gwas_result"):
            wh.append("no_gwas_result", tombstones)
        with tracer.span("gwas.warehouse.append.study"):
            quant = (sid,) if study["quantitative"] else ()
            wh.append("study", spark.createDataFrame(gen.study_rows([sid], quant), schema=S.STUDY))
    return sid, root


def _ingest_ok(con, wh, sid: int, study: dict) -> bool:
    """The study's gwas + no_gwas_result rows account for every raw SNP,
    the QC removals equal the generator's own count, every gwas row
    resolved to a b37 variant, and `combined` holds every survivor."""
    def q(sql):
        return con.execute(sql, [sid]).fetchone()[0]

    kept = q(f"SELECT count(*) FROM read_parquet('{wh.path('gwas')}/*/*.parquet', hive_partitioning=true) WHERE study_id = ?")
    removed = q(f"SELECT count(*) FROM read_parquet('{wh.path('no_gwas_result')}/*.parquet') WHERE study_id = ?")
    orphans = q(
        f"SELECT count(*) FROM read_parquet('{wh.path('gwas')}/*/*.parquet', hive_partitioning=true) g "
        f"ANTI JOIN read_parquet('{wh.path('b37')}/*/*.parquet', hive_partitioning=true) b USING (kgp_id) "
        "WHERE g.study_id = ?")
    combined = q(f"SELECT count(*) FROM read_parquet('{wh.path('combined')}/*/*.parquet', hive_partitioning=true) WHERE study_id = ?")
    return (kept + removed == study["n_snps"] and removed == study["n_removed"]
            and orphans == 0 and combined == kept)


def setup(spark, work: str, seed: int, tracer) -> dict:
    from gwasdb_spark import schemas as S
    from gwasdb_spark.gwas import api
    from gwasdb_spark.gwas.warehouse import Warehouse

    g = os.path.join(work, "gen")
    v = gen.variants(seed, N_VARIANTS)
    gen.write_parquet(v.drop(columns="rs"), f"{g}/b37.parquet", gen.B37_SCHEMA)
    gen.write_parquet(gen.marker_aliases(v), f"{g}/marker.parquet", gen.MARKER_SCHEMA)
    studies = [gen.plink_study(seed, v, i, f"{g}/study_{i}", quantitative=(i == N_STUDIES))
               for i in range(1, N_STUDIES + 1)]
    wh = Warehouse(spark, os.path.join(work, "wh"))
    wh.write("b37", spark.read.parquet(f"{g}/b37.parquet"))
    wh.write("marker", spark.read.parquet(f"{g}/marker.parquet"))
    wh.write("study", spark.createDataFrame([], schema=S.STUDY))
    marker = wh.read("marker")
    published, ids = [], []
    for study in studies:
        sid, root = publish(spark, wh, marker, study, tracer)
        root.attrs.update(written_since(wh.root, root.e0))
        published.append(root)
        ids.append(sid)
    with tracer.root("setup.gold") as root:
        with tracer.span("gwas.warehouse.build_combined"):
            wh.build_combined()
        with tracer.span("gwas.warehouse.build_marker_index"):
            wh.build_marker_index(n_files=8)
    published.append(root)
    # the app's startup dimension load (gwasDB/app.R:33)
    study_list = api.study_list(wh).collect()
    return {
        "wh": wh, "v": v, "phase_spans": published, "ids": ids, "study_list": study_list,
        "studies": studies,
        "sizes": {"variants": len(v), "studies": len(studies),
                  "raw_rows": sum(s["n_snps"] for s in studies),
                  "raw_bytes": sum(s["raw_bytes"] for s in studies),
                  "qc_removed": sum(s["n_removed"] for s in studies),
                  "warehouse_bytes": {t: dir_bytes(wh.path(t)) for t in
                                      ("b37", "marker", "study", "gwas", "no_gwas_result",
                                       "combined", "marker_index")}},
    }


def check_setup(ctx: dict) -> None:
    """The oracle side of set-up, outside its timing: each ingested study
    against the generator's counts, then in-memory DuckDB copies of the
    queried tables for the per-op checks, then the startup study list."""
    wh = ctx["wh"]
    con = ctx["con"] = duckdb.connect(config={"threads": 1})  # leaves the cores to Spark
    ctx["checks"] = [(f"ingest of study {sid} accounts for its rows", _ingest_ok(con, wh, sid, study))
                     for sid, study in zip(ctx["ids"], ctx["studies"])]
    for t in ("b37", "combined", "study"):
        glob = f"{wh.path(t)}/*/*.parquet" if t != "study" else f"{wh.path(t)}/*.parquet"
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{glob}', hive_partitioning=true)")
    ctx["checks"].append(("study_list", make_checker(ctx)({"kind": "study_list"}, ctx["study_list"], {})))


def ops(ctx: dict, seed: int, n_ops: int = 4000) -> list[dict]:
    r = gen.rng(seed, 7)
    v = ctx["v"]
    n = len(v)
    names = [f"study_{i:03d}" for i in range(1, N_STUDIES + 1)]
    out = []
    for kind in gen.stratified_kinds(r, MIX, n_ops):
        row = v.iloc[gen.zipf_anchor(r, n)]
        chrom, pos = int(row["chr"]), int(row["pos"])
        if kind == "locus_window":
            studies = sorted(r.choice(names, int(r.integers(1, 3)), replace=False).tolist()) if r.random() < 0.5 else None
            out.append({"kind": kind, "kgp_id": row["kgp_id"], "studies": studies,
                        "chr": chrom, "pos": pos})
        elif kind == "combined_region":
            width = int(r.integers(250_000, 2_000_001))
            out.append({"kind": kind, "chr": chrom, "start": pos - width // 2, "end": pos + width // 2})
        elif kind == "markers_by_region":
            width = int(r.integers(50_000, 500_001))
            out.append({"kind": kind, "chr": chrom, "start": pos - width // 2, "end": pos + width // 2})
        elif kind == "markers_by_probe":
            digits = str(pos)
            keep = max(1, len(digits) - 3)
            out.append({"kind": kind, "pattern": f"^{chrom}:{digits[:keep]}\\d{{{len(digits) - keep}}}_"})
        else:
            out.append({"kind": kind, "kgp_id": row["kgp_id"]})
    return out


def make_runner(ctx: dict):
    from gwasdb_spark.gwas import api

    wh = ctx["wh"]

    def run_op(op, tr, extra):
        k = op["kind"]
        with tr.span("gwas.api.plan"):
            if k == "locus_window":
                df = api.locus_window(wh, op["kgp_id"], flank=FLANK, studies=op["studies"])
            elif k == "combined_region":
                df = api.combined_region(wh, op["chr"], op["start"], op["end"])
            elif k == "markers_by_region":
                df = api.markers_by_region(wh, op["chr"], op["start"], op["end"])
            elif k == "markers_by_probe":
                df = api.markers_by_probe(wh, op["pattern"])
            else:
                df = api.marker_exact(wh, op["kgp_id"])
        with tr.span("gwas.api.collect"):
            rows = df.collect()
        extra["rows"] = len(rows)
        return rows

    return run_op


def _norm(t):
    return tuple(round(x, 9) if isinstance(x, float) else x for x in t)


def _oracle(con, op):
    k = op["kind"]
    if k == "study_list":
        return "bag", con.execute("SELECT * FROM study").fetchall(), None
    if k == "locus_window":
        cols = ", ".join(f'"{c}"' for c in COMBINED_COLS)
        sql = f"SELECT {cols} FROM combined WHERE chr = ? AND pos BETWEEN ? AND ?"
        args = [op["chr"], op["pos"] - FLANK, op["pos"] + FLANK]
        if op["studies"]:
            sql += f" AND name IN ({', '.join('?' * len(op['studies']))})"
            args += op["studies"]
        return "bag", con.execute(sql, args).fetchall(), COMBINED_COLS
    if k == "combined_region":
        return "bag", con.execute(
            "SELECT chr, pos, neg_log10_p, name FROM combined WHERE chr = ? AND pos BETWEEN ? AND ?",
            [op["chr"], op["start"], op["end"]]).fetchall(), None
    if k == "markers_by_region":
        return "list", con.execute(
            "SELECT chr, pos, kgp_id FROM b37 WHERE chr = ? AND pos BETWEEN ? AND ? ORDER BY pos",
            [op["chr"], op["start"], op["end"]]).fetchall(), None
    if k == "markers_by_probe":
        return "list", con.execute(
            "SELECT chr, pos, kgp_id FROM b37 WHERE regexp_matches(kgp_id, ?) ORDER BY chr, pos",
            [op["pattern"]]).fetchall(), None
    return "bag", con.execute(
        "SELECT chr, pos, kgp_id FROM b37 WHERE kgp_id = ?", [op["kgp_id"]]).fetchall(), None


def make_checker(ctx: dict):
    con = ctx["con"]

    def check(op, rows, extra):
        mode, expected, cols = _oracle(con, op)
        got = [tuple(r[c] for c in cols) if cols else tuple(r) for r in rows]
        if op["kind"] == "study_list":
            got = [tuple(r[c] for c in r.__fields__) for r in rows]
            expected = [tuple(e) for e in expected]
        got = [_norm(t) for t in got]
        expected = [_norm(t) for t in expected]
        if mode == "list":
            return got == expected
        return Counter(got) == Counter(expected)

    return check


def _publishes(ctx):
    return [r for r in ctx["phase_spans"] if r.name == "setup.publish"]


def figures(ctx: dict, records) -> dict:
    """Workload-specific end-to-end figures (reported in the detail line)."""
    from perfbench.harness import median

    def p50(kinds):
        xs = [r.wall_ms for r in records if r.kind in kinds and r.ok]
        return median(xs) if xs else None

    pubs = _publishes(ctx)
    studies = ctx["studies"]
    rebuilds = [s.wall_ms / 1e3 for r in ctx["phase_spans"] for s in r.walk()
                if s.name == "gwas.warehouse.build_combined"]
    return {
        "locus_window_p50_ms": p50({"locus_window"}),
        "region_p50_ms": p50({"combined_region", "markers_by_region"}),
        "probe_p50_ms": p50({"markers_by_probe", "marker_exact"}),
        "rows_returned": sum(r.extra.get("rows", 0) for r in records),
        "ingest_rows_per_s": sum(s["n_snps"] for s in studies) / (sum(p.wall_ms for p in pubs) / 1e3),
        "rebuild_s": median(rebuilds),
        "ingest_write_amp": sum(p.attrs["bytes_written"] for p in pubs) / sum(s["raw_bytes"] for s in studies),
    }


INGEST_DAG = ("gwas.ingest.", "gwas.warehouse.append.gwas", "gwas.warehouse.append.no_gwas_result")


def layers(ctx: dict, records) -> dict:
    from perfbench.harness import counter_per_op, mean_ms

    traced = [r for r in records if r.traced and r.ok]
    rows = sum(r.extra.get("rows", 0) for r in traced)
    input_bytes = counter_per_op(records, "gwas.api.", "input_bytes") * len(traced)
    pubs = _publishes(ctx)
    n_pub = max(1, len(pubs))

    def ingest(field, prefix=INGEST_DAG):
        return sum(s.counters[field] for p in pubs for s in p.walk() if s.name.startswith(prefix)) / n_pub

    def walls(prefix, roots=pubs):
        return [s.wall_ms for p in roots for s in p.walk() if s.name.startswith(prefix)]

    def self_ms(prefix):
        return sum(s.self_ms for p in ctx["phase_spans"] for s in p.walk() if s.name.startswith(prefix)) / n_pub

    rebuilds = walls("gwas.warehouse.build_combined", ctx["phase_spans"])
    return {
        "gwas.api.plan_ms": mean_ms(records, "gwas.api.plan"),
        "gwas.api.collect_ms": mean_ms(records, "gwas.api.collect"),
        "gwas.api.jobs_per_op": counter_per_op(records, "gwas.api.", "jobs"),
        "gwas.api.tasks_per_op": counter_per_op(records, "gwas.api.", "tasks"),
        "gwas.api.input_bytes_per_row": input_bytes / max(1, rows),
        "sources.csv.input_bytes": ingest("csv_input_bytes", ""),
        "sources.csv.scan_ms": ingest("csv_run_ms", ""),
        "gwas.ingest.jobs_per_study": ingest("jobs"),
        "gwas.ingest.shuffle_write_bytes": ingest("shuffle_write_bytes"),
        "gwas.ingest.exec_ms": ingest("executor_run_ms"),
        "gwas.warehouse.append_ms": sum(walls("gwas.warehouse.append.")) / n_pub,
        "gwas.warehouse.files_written": sum(p.attrs["files_written"] for p in pubs) / n_pub,
        "gwas.warehouse.build_combined_ms": sum(rebuilds) / max(1, len(rebuilds)),
        "gwas.ingest.self_ms": self_ms("gwas.ingest."),
        "gwas.warehouse.self_ms": self_ms("gwas.warehouse."),
    }
