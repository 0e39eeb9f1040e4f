"""GWAS-warehouse benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload browse --seed 1 --seconds 8 --trace 0

Runs from the root of a source checkout (it imports `gwasdb_spark` from
there) and keeps every file it writes under `perfbench/_work` and
`perfbench/_out`. The last stdout line is the result:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`) named in
BENCHMARK.json. The line before it carries the run environment, input
sizes and the workload's own figures.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("browse", "acid_churn")
CORES = 4
DRIVER_MEM = "2g"  # pinned: the package default (16g) exceeds small hosts
SETUP_REPEATS = 2
DEADLINE_S = 170

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "latency_p50_ms": "ms"}
OP_LAYERS = ("gwas.api", "acid.table_log", "acid.multi_commit")  # layers the op streams enter
SPARK_UNITS = {"jobs": "count/op", "stages": "count/op", "tasks": "count/op",
               "input_bytes": "B/op", "shuffle_read_bytes": "B/op",
               "shuffle_write_bytes": "B/op", "output_bytes": "B/op",
               "executor_run_ms": "ms/op", "executor_cpu_ms": "ms/op", "gc_ms": "ms/op",
               "scan_run_ms": "ms/op"}  # the harness's counters exported per op


def layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit; each workload reports all of
    them, 0 for the layers it does not enter."""
    units = {
        "gwas.api.plan_ms": "ms", "gwas.api.collect_ms": "ms",
        "gwas.api.jobs_per_op": "count", "gwas.api.tasks_per_op": "count",
        "gwas.api.input_bytes_per_row": "B/row",
        "sources.csv.input_bytes": "B/study", "sources.csv.scan_ms": "ms/study",
        "gwas.ingest.jobs_per_study": "count", "gwas.ingest.shuffle_write_bytes": "B/study",
        "gwas.ingest.exec_ms": "ms/study",
        "gwas.warehouse.append_ms": "ms/study", "gwas.warehouse.files_written": "count/study",
        "gwas.warehouse.build_combined_ms": "ms",
        "gwas.ingest.self_ms": "ms/study", "gwas.warehouse.self_ms": "ms/study",
        "acid.table_log.commit_ms.merge": "ms", "acid.table_log.commit_ms.delete": "ms",
        "acid.table_log.commit_ms.update": "ms", "acid.table_log.commit_ms.compact": "ms",
        "acid.table_log.jobs_per_commit": "count", "acid.table_log.groups_rewritten_frac": "frac",
        "acid.table_log.latest_version_ms": "ms", "acid.table_log.log_versions": "count",
        "acid.predicates.groups_scanned_frac": "frac", "acid.bloom.pruned_frac": "frac",
        "acid.multi_commit.txn_commit_ms": "ms",
        "operators.ann_index.upsert_ms": "ms", "operators.ann_index.delete_ms": "ms",
        "operators.ann_index.jobs_per_op": "count", "operators.ann_index.touched_cells_frac": "frac",
        "operators.ann_graph.probe_ms": "ms", "operators.ann_graph.jobs_per_probe": "count",
        "operators.search.update_ms": "ms", "operators.search.delete_ms": "ms",
        "operators.search.query_ms": "ms",
    }
    units.update({f"{layer}.self_ms": "ms/op" for layer in OP_LAYERS})
    units.update({f"spark.{k}": u for k, u in SPARK_UNITS.items()})
    units.update({"spark.parallel_efficiency": "frac", "driver.self_ms": "ms/op",
                  "trace.overhead_frac": "frac", "trace.layer_coverage_frac": "frac"})
    return units


def _git_commit() -> str | None:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=5).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def environment(spark, seed: int) -> dict:
    import pyspark

    from perfbench.harness import effective_confs

    return {
        "nproc": os.cpu_count(), "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__, "python": platform.python_version(),
        "driver_memory": DRIVER_MEM, "seed": seed, "git_commit": _git_commit(),
        "confs": effective_confs(spark),
    }


def end_to_end(records, setup_times, block: int) -> dict:
    from perfbench.harness import block_rates, median

    walls = [r.wall_ms for r in records if r.ok]
    return {
        "setup_s": median(setup_times),
        # median over whole mixes, so one slow stretch of the host moves
        # one block, not the figure
        "ops_per_s": median(block_rates(records, block)),
        "latency_p50_ms": median(walls),
    }


def per_layer(mod, ctx, records) -> dict:
    from perfbench.harness import counter_per_op, covered_ms, median, ok_spans

    out = dict.fromkeys(layer_units(), 0.0)
    out.update(mod.layers(ctx, records))
    ok = [r for r in records if r.ok]
    n_ok = max(1, len(ok))
    spans = [s for s in ok_spans(records) if not s.name.startswith("op.")]
    for layer in OP_LAYERS:
        out[f"{layer}.self_ms"] = sum(s.self_ms for s in spans if s.name.startswith(layer + ".")) / n_ok
    for k in SPARK_UNITS:
        out[f"spark.{k}"] = counter_per_op(records, "", k)
    traced = [r for r in ok if r.traced]
    wall = sum(r.wall_ms for r in traced)
    if traced:
        out["spark.parallel_efficiency"] = out["spark.executor_run_ms"] * len(traced) / (wall * CORES)
        out["driver.self_ms"] = sum(
            r.wall_ms - covered_ms([w for s in r.root.walk() for w in s.job_windows]) for r in traced
        ) / len(traced)
    # tracing overhead: per op kind, median traced wall vs median untraced
    # wall, weighted by how often the kind ran
    num = den = 0.0
    for kind in {r.kind for r in ok}:
        t = [r.wall_ms for r in ok if r.kind == kind and r.traced]
        u = [r.wall_ms for r in ok if r.kind == kind and not r.traced]
        if t and u:
            n = len(t) + len(u)
            num += n * median(t)
            den += n * median(u)
    out["trace.overhead_frac"] = num / den - 1.0 if den else 0.0
    out["trace.layer_coverage_frac"] = sum(s.self_ms for s in spans) / max(1e-9, sum(r.wall_ms for r in ok))
    return out


def _deadline(*_):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "gwasdb_spark", "__init__.py")):
        print(f"perfbench: no gwasdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    from perfbench.harness import (
        Tracer, dump_json, fresh_dir, median, quantile, run_loop, start_spark, stop_spark,
        tree_peak_rss_mb,
    )

    mod = importlib.import_module(f"perfbench.{args.workload}")
    work = fresh_dir(os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    t_session = time.perf_counter()
    spark = start_spark(work, CORES, DRIVER_MEM)
    session_s = time.perf_counter() - t_session
    ctx = None
    try:
        tracer = Tracer(spark)
        setup_times = []
        for i in range(SETUP_REPEATS):
            if ctx is not None:
                shutil.rmtree(os.path.join(work, f"setup{i - 1}"), ignore_errors=True)
            # only the kept (last) set-up is traced, so the traced pass
            # still attributes the set-up's Spark work to its layers
            tracer.attribute = bool(args.trace) and i == SETUP_REPEATS - 1
            t0 = time.perf_counter()
            ctx = mod.setup(spark, os.path.join(work, f"setup{i}"), args.seed, tracer)
            setup_times.append(time.perf_counter() - t0)
        if hasattr(mod, "check_setup"):
            mod.check_setup(ctx)
        tracer.attribute = False
        stream = mod.ops(ctx, args.seed)
        runner, checker = mod.make_runner(ctx), mod.make_checker(ctx)
        t_warm = time.perf_counter()
        warmup = run_loop(tracer, stream[:mod.WARMUP], runner, checker, None, False)
        warmup_s = time.perf_counter() - t_warm
        # a stateless stream runs for --seconds, a stateful one whole
        records = run_loop(tracer, stream[mod.WARMUP:], runner, checker,
                           args.seconds if mod.TIMED else None, bool(args.trace), block=mod.BLOCK)
        if hasattr(mod, "finish"):
            mod.finish(ctx)
        if args.trace and hasattr(mod, "traced_phase"):
            mod.traced_phase(ctx, tracer)
        # warm-up ops, set-up and end-of-run checks count like timed ops
        checks = ctx["checks"]
        attempted = len(warmup) + len(records) + len(checks)
        failed = sum(not r.ok for r in warmup + records) + sum(not ok for _, ok in checks)
        if args.trace:
            values = per_layer(mod, ctx, records)
            units = layer_units()
        else:
            values = end_to_end(records, setup_times, mod.BLOCK)
            units = E2E_UNITS
        kinds = sorted({r.kind for r in records})
        detail = {
            "workload": args.workload, "env": environment(spark, args.seed),
            "session_start_s": session_s, "setup_times_s": setup_times,
            "warmup": {"ops": len(warmup), "wall_s": warmup_s},
            "peak_rss_mb": tree_peak_rss_mb(),
            "latency_p75_ms": quantile([r.wall_ms for r in records if r.ok], 0.75),
            "sizes": ctx.get("sizes"), "figures": mod.figures(ctx, records),
            "error_rate": failed / attempted,
            "ops": {k: {"n": sum(r.kind == k for r in records),
                        "failed": sum(r.kind == k and not r.ok for r in records),
                        "p50_ms": median([r.wall_ms for r in records if r.kind == k])} for k in kinds},
            "errors": sorted({r.error for r in warmup + records if r.error})[:10]
            + [name for name, ok in checks if not ok],
        }
        if args.trace:
            dump_json(os.path.join(HERE, "_out", f"trace-{args.workload}-{args.seed}.json"),
                      {"detail": detail,
                       "phase_spans": [sp.to_json() for sp in ctx["phase_spans"]],
                       "spans": [r.root.to_json() for r in records if r.traced]})
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)
    print(json.dumps(detail, default=str))
    payload = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(payload))
    return 0


if __name__ == "__main__":
    sys.exit(main())
