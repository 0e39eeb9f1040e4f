"""Engine-portable expression helpers.

The driver hash-compares Spark results against DuckDB oracles, so every
numeric aggregate here accumulates in *exact integer* space: 2-decimal money
columns become bigint cents, sums are exact (< 2^53), and a single final
division produces a bit-identical double in both engines regardless of FP
summation order. Timestamps are returned as formatted strings (never raw
TIMESTAMP) to sidestep tz-awareness drift between engines.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import Column
from pyspark.sql import functions as F


def stage_dir(name: str) -> str:
    """Per-process staging directory for sink→source round-trip queries.
    PID-scoped so two concurrent harness runs on one machine can never
    interleave an overwrite with a read-back; within one process the path
    is stable, so repeated runs reuse (mode=overwrite). The process's
    tree is removed when its interpreter exits."""
    return os.path.join(_stage_root(os.getpid()), name)


@functools.cache
def _stage_root(pid: int) -> str:
    root = os.path.join(tempfile.gettempdir(), f"gwasdb_spark_stage_{pid}")
    atexit.register(_remove_stage_root, root, pid)
    return root


def _remove_stage_root(root: str, pid: int) -> None:
    if os.getpid() == pid:  # not in a forked child that inherited the hook
        shutil.rmtree(root, ignore_errors=True)


def cents(col: Column) -> Column:
    """Exact bigint cents of a 2-decimal money column."""
    return F.round(col * 100).cast("long")


def money(sum_cents: Column) -> Column:
    """Back to dollars: one exact division of an exact integer sum."""
    return (sum_cents.cast("double") / F.lit(100.0))


def day_str(ts: Column) -> Column:
    """Timestamp → 'YYYY-MM-DD' string (portable across engines)."""
    return F.date_format(ts, "yyyy-MM-dd")


def hour_str(ts: Column) -> Column:
    """Timestamp → 'YYYY-MM-DD HH:00:00' string."""
    return F.date_format(ts, "yyyy-MM-dd HH:00:00")


# DuckDB-side equivalents (format into oracle SQL strings).
def sql_cents(expr: str) -> str:
    return f"CAST(ROUND(({expr}) * 100) AS BIGINT)"


def sql_money(sum_expr: str) -> str:
    return f"(CAST(({sum_expr}) AS DOUBLE) / 100.0)"


SQL_DAY = "strftime({col}, '%Y-%m-%d')"
SQL_HOUR = "strftime({col}, '%Y-%m-%d %H:00:00')"
