"""Simulate the driver's correctness gate locally.

Runs the first N registered queries (the driver checks a window of 50)
at sf0.01, comparing each Spark result against its DuckDB oracle:
row count, sorted column names, and an order-insensitive value hash with
floats rounded to 9 dp — the same contract CORRECTNESS_r{N}.json records.

Usage:  python scripts/driver_sim.py [first_n] [sf_dir] [offset]
        python scripts/driver_sim.py names <q1> <q2> ...   # targeted

`offset` skips that many registrations first — pre-flight NEXT round's
window (the driver always takes the first 50, but future rounds re-seat
the priority list; `offset 50` checks seats 51-100 today). `names` mode
checks exactly the listed queries (default sf0.01) — the fast loop when
iterating on one operator.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from gwasdb_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _value_hash(pdf) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].round(9)
    rows = sorted(pdf.astype(str).apply("|".join, axis=1).tolist()) if len(pdf) else []
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> None:
    explicit_names: list[str] | None = None
    if len(sys.argv) > 1 and sys.argv[1] == "names":
        explicit_names = sys.argv[2:]
        first_n, sf_dir, offset = len(explicit_names), "/root/testdata/sf0.01", 0
    else:
        first_n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
        offset = int(sys.argv[3]) if len(sys.argv) > 3 else 0

    spark = get_spark()
    qs, oracles = E.queries(), E.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    results: dict[str, dict] = {}
    fails = 0
    for name in (explicit_names if explicit_names is not None
                 else list(qs)[offset : offset + first_n]):
        try:
            sdf = qs[name](spark, sf_dir)
            if sdf.isStreaming:
                raise RuntimeError("streaming frame returned (driver would collect)")
            spdf = sdf.toPandas()
            opdf = con.execute(oracles[name]).fetchdf()
            row = {
                "rows_match": len(spdf) == len(opdf),
                "schema_match": sorted(spdf.columns) == sorted(opdf.columns),
                "hash_match": _value_hash(spdf) == _value_hash(opdf),
                "spark_rows": len(spdf),
                "oracle_rows": len(opdf),
                "err": None,
            }
        except Exception as exc:  # noqa: BLE001 — record, keep going
            row = {"rows_match": False, "schema_match": False, "hash_match": False,
                   "spark_rows": None, "oracle_rows": None, "err": str(exc)[:300]}
        ok = row["err"] is None and row["rows_match"] and row["schema_match"] and row["hash_match"]
        if not ok:
            fails += 1
            print(f"FAIL {name}: {json.dumps(row)}", flush=True)
        else:
            print(f"ok   {name} ({row['spark_rows']} rows, hash)", flush=True)
        results[name] = row

    print(f"\n{len(results) - fails}/{len(results)} green")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
