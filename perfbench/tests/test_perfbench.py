"""Tests of the benchmark itself: generator determinism, oracle sensitivity,
the metric names of BENCHMARK.json, and tiny smoke runs of each workload.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark (one to two minutes each); the other tests do not.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pandas as pd
import pytest
from pyspark.sql import Row

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import acid_churn, browse, gen, indexes, run  # noqa: E402
from perfbench.harness import OpRecord, Span, Tracer, block_rates, covered_ms, run_loop  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _files(root):
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]


def _generate(out: str, seed: int) -> str:
    """Every generator the workloads use, written under `out`."""
    v = gen.variants(seed, 2_000)
    gen.write_parquet(v.drop(columns="rs"), f"{out}/b37.parquet", gen.B37_SCHEMA)
    for i in (1, 2):
        gen.plink_study(seed, v, i, f"{out}/study_{i}", quantitative=(i == 2))
    indexes.generate(f"{out}/indexes", seed)
    ctx = {"gen": out, "v": v}
    ops = acid_churn.ops(ctx, seed) + browse.ops({"v": v}, seed, n_ops=200)
    with open(f"{out}/ops.json", "w") as fh:
        fh.write(json.dumps(ops, sort_keys=True).replace(out, "<out>"))
    return _digest(_files(out))


def test_generators_are_deterministic(tmp_path):
    a = _generate(str(tmp_path / "a"), 7)
    b = _generate(str(tmp_path / "b"), 7)
    c = _generate(str(tmp_path / "c"), 8)
    assert a == b
    assert a != c


def test_plink_study_counts_its_qc_removals(tmp_path):
    v = gen.variants(3, 1_000)
    s = gen.plink_study(3, v, 1, str(tmp_path), quantitative=False)
    g = pd.read_csv(s["gwas_tsv"], sep="\t")
    m = pd.read_csv(s["mfi_tsv"], sep="\t", header=None)
    assert s["n_snps"] == len(g) == len(m)
    assert s["n_removed"] == int((g["OR"].isna() | (m[7] < 0.3)).sum())


def test_stream_keeps_the_mix_in_every_block():
    r = gen.rng(1, 0)
    kinds = gen.stratified_kinds(r, {"a": 3, "b": 1}, 40)
    for i in range(0, 40, 4):
        assert sorted(kinds[i:i + 4]) == ["a", "a", "a", "b"]


def _browse_ctx():
    con = duckdb.connect()
    con.execute("CREATE TABLE b37 AS SELECT * FROM (VALUES ('1:100_A_C', 1, 100), "
                "('1:200_G_T', 1, 200), ('2:150_A_G', 2, 150)) t(kgp_id, chr, pos)")
    return {"con": con}


def test_browse_oracle_catches_a_wrong_answer():
    check = browse.make_checker(_browse_ctx())
    op = {"kind": "markers_by_region", "chr": 1, "start": 50, "end": 250}
    right = [Row(chr=1, pos=100, kgp_id="1:100_A_C"), Row(chr=1, pos=200, kgp_id="1:200_G_T")]
    assert check(op, right, {})
    assert not check(op, right[:1], {})  # a missing row
    assert not check(op, right[::-1], {})  # wrong order
    wrong = [right[0], Row(chr=1, pos=201, kgp_id="1:200_G_T")]
    assert not check(op, wrong, {})  # a wrong value


def test_index_oracles_catch_a_wrong_answer(tmp_path):
    inputs = indexes.generate(str(tmp_path), 4)
    base, probes = inputs["corpora"][0], inputs["probes"]
    keys, cos = indexes._exact_topk(base, probes)
    right = [Row(query_id=q, neighbor_id=n, rank=k, cosine=c) for (q, n, k), c in zip(keys, cos)]
    assert indexes._probe_ok(right[::-1], base, probes)  # row order does not matter
    a, b = right[1], right[2]
    swapped = right[:1] + [Row(query_id=a.query_id, neighbor_id=b.neighbor_id, rank=a.rank, cosine=a.cosine),
                           Row(query_id=b.query_id, neighbor_id=a.neighbor_id, rank=b.rank, cosine=b.cosine)] + right[3:]
    assert not indexes._probe_ok(swapped, base, probes)  # two neighbours in each other's ranks
    assert not indexes._probe_ok(right[:-1], base, probes)  # a missing neighbour
    off = right[:-1] + [Row(query_id=keys[-1][0], neighbor_id=keys[-1][1], rank=keys[-1][2],
                            cosine=cos[-1] + 1e-6)]
    assert not indexes._probe_ok(off, base, probes)  # a wrong cosine


class _FakeSc:
    def setJobGroup(self, *a):
        pass

    def setLocalProperty(self, *a):
        pass


class _FakeSpark:
    sparkContext = _FakeSc()


def test_run_loop_counts_wrong_answers_and_errors():
    ops = [{"kind": "ok"}, {"kind": "wrong"}, {"kind": "boom"}, {"kind": "ok"}]

    def run_op(op, tr, extra):
        if op["kind"] == "boom":
            raise RuntimeError("injected")
        return op["kind"]

    records = run_loop(Tracer(_FakeSpark()), ops, run_op, lambda op, res, ex: res == "ok",
                       seconds=60, trace=False)
    assert [r.ok for r in records] == [True, False, False, True]
    assert records[1].error == "wrong answer (wrong)"
    assert "injected" in records[2].error


def test_block_rates_cover_whole_blocks_only():
    def rec(wall_ms, ok=True):
        return OpRecord("x", wall_ms, ok, None, Span("op.x"), False, {})

    records = [rec(100), rec(300), rec(500, ok=False), rec(500), rec(50)]
    assert block_rates(records, 2) == pytest.approx([5.0, 1.0])  # the trailing op is no block


def test_span_self_time_and_job_coverage():
    root, child = Span("op.x"), Span("gwas.api.plan")
    root.t0, root.t1, child.t0, child.t1 = 0.0, 1.0, 0.2, 0.5
    root.children.append(child)
    assert root.self_ms == pytest.approx(700.0)
    assert covered_ms([(0, 10), (5, 20), (30, 40)]) == 30


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "_out"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "browse", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode != 0
    assert "metrics" not in p.stdout


@functools.lru_cache(maxsize=None)
def _smoke(workload: str, trace: int) -> dict:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
                        "--seconds", "0.5", "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [("browse", 0), ("browse", 1), ("acid_churn", 1)])
def test_smoke_run_prints_every_metric(workload, trace):
    result = _smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    spec = {m["name"]: m["unit"] for m in _spec()[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == spec


def test_every_layer_metric_moves_on_some_workload():
    values = [_smoke(w, 1)["metrics"] for w in run.WORKLOADS]
    never = [m["name"] for m in _spec()["per_layer"] if all(v[m["name"]]["value"] == 0 for v in values)]
    assert never == []
