#!/usr/bin/env python
"""Interleaved A/B of the working tree against its parent commit on perfbench.

    python scripts/perfbench_ab.py WORKLOAD SEED [SEED ...]
        [--base-tree DIR] [--trace 0|1]

Checks the parent commit out into a detached `git worktree` under /tmp
(removed at the end), then runs `perfbench/run.py --workload WORKLOAD
--seed S` once from each tree for every seed, with the benchmark's own
run length. The order alternates (parent first for the first seed, the
working tree first for the next, ...), so drift of a shared host hits
both sides alike. The parent is HEAD when tracked files have uncommitted
changes, else HEAD~1: the commit the change under test sits on.
`--base-tree` compares against an existing checkout instead.

Prints one row per metric of the result line (the end-to-end metrics, or
the per-layer ones with `--trace 1`): median and interquartile range of
each side, the change of the median, and the pairs the working tree won
by the metric's `better` direction in BENCHMARK.json. A second table does
the same for the workload's figures from the detail line
(`locus_window_p50_ms`, `commit_p50_ms`, ...), so a change to one op kind
shows; a figure's direction comes from its name (`_per_s` higher; `_ms`,
`_s`, `_amp` lower; none otherwise). Then failed / attempted operations
of each side, and a last JSON line with every run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True, text=True
    ).stdout.strip()


def default_base() -> str:
    dirty = _git("status", "--porcelain", "--untracked-files=no")
    return "HEAD" if dirty else "HEAD~1"


def directions(tree: str) -> dict[str, str]:
    """{metric: "lower" | "higher"} from a tree's BENCHMARK.json."""
    with open(os.path.join(tree, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {
        m["name"]: m["better"]
        for m in bench.get("end_to_end", []) + bench.get("per_layer", [])
    }


def figure_direction(name: str) -> str | None:
    """The `better` direction of a detail-line figure, from its unit."""
    if name.endswith("_per_s"):
        return "higher"
    if name.endswith(("_ms", "_s", "_amp")):
        return "lower"
    return None


def run_once(tree: str, workload: str, seed: int, trace: int):
    """The result line of one perfbench run from `tree`, with the detail
    line's `figures` added, or None (its stderr tail is printed) when the
    run fails."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode == 0 and len(lines) > 1:
        try:
            result = json.loads(lines[-1])
            result["figures"] = json.loads(lines[-2]).get("figures") or {}
            return result
        except ValueError:
            pass
    print(f"run failed ({tree}, seed {seed}, exit {proc.returncode}):",
          proc.stderr[-2000:], file=sys.stderr)
    return None


def spread(xs: list[float]) -> tuple[float, float, float]:
    """(median, first quartile, third quartile)."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def table(title: str, values: dict[str, list[tuple[float, float]]], better) -> None:
    """One row per name of {name: [(base, tree) per pair]}: each side's
    median [IQR], the change of the median, and the pairs the tree won by
    `better(name)` ("lower", "higher" or None)."""
    print(f"{title:44} {'base median [IQR]':>28} {'tree median [IQR]':>28}"
          f" {'change':>8} {'won':>6}")
    for name, both in sorted(values.items()):
        base, tree = [x for x, _ in both], [y for _, y in both]
        (bm, b1, b3), (tm, t1, t3) = spread(base), spread(tree)
        change = f"{(tm - bm) / bm:+.1%}" if bm else "-"
        way = better(name)
        won = "-" if way is None else "%d/%d" % (sum(
            (y < x) if way == "lower" else (y > x) for x, y in both
        ), len(both))
        print(f"{name:44} {f'{bm:.4g} [{b1:.4g}-{b3:.4g}]':>28}"
              f" {f'{tm:.4g} [{t1:.4g}-{t3:.4g}]':>28} {change:>8} {won:>6}")


def paired(pairs: list[tuple[dict, dict]], section: str, value) -> dict:
    """{name: [(base, tree)]} over the pairs where both sides report a
    number for `name` in `section` of their result lines."""
    out: dict[str, list[tuple[float, float]]] = {}
    for a, b in pairs:
        for name in a[section].keys() & b[section].keys():
            x, y = value(a[section][name]), value(b[section][name])
            if isinstance(x, (int, float)) and isinstance(y, (int, float)):
                out.setdefault(name, []).append((x, y))
    return out


def report(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> None:
    table("metric", paired(pairs, "metrics", lambda m: m["value"]), better.get)
    print()
    table("figure", paired(pairs, "figures", lambda v: v), figure_direction)
    for side, i in (("base", 0), ("tree", 1)):
        failed = sum(p[i]["failed"] for p in pairs)
        attempted = sum(p[i]["attempted"] for p in pairs)
        print(f"{side}: {failed} failed of {attempted} operations")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload")
    ap.add_argument("seeds", type=int, nargs="+")
    ap.add_argument("--base-tree", help="existing checkout to compare against")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    worktree = None
    if args.base_tree:
        base_tree = os.path.abspath(args.base_tree)
    else:
        rev = default_base()
        base_tree = worktree = tempfile.mkdtemp(prefix="perfbench-ab-", dir="/tmp")
        _git("worktree", "add", "--detach", worktree, rev)
        print(f"base: {rev} ({_git('rev-parse', '--short', rev)}) at {worktree}")
    runs, pairs = [], []
    try:
        for i, seed in enumerate(args.seeds):
            order = [("base", base_tree), ("tree", ROOT)]
            if i % 2:
                order.reverse()
            got = {}
            for side, tree in order:
                got[side] = run_once(tree, args.workload, seed, args.trace)
                runs.append({"seed": seed, "side": side, "result": got[side]})
            if got["base"] and got["tree"]:
                pairs.append((got["base"], got["tree"]))
    finally:
        if worktree:
            _git("worktree", "remove", "--force", worktree)
    if not pairs:
        print("no pair completed", file=sys.stderr)
        return 1
    report(pairs, directions(ROOT))
    print(json.dumps({"workload": args.workload, "runs": runs}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
