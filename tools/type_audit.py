"""Registry-wide output-type audit (VERDICT r12 task #2).

The r12 driver gate went red on `es_esql_lookup_join` purely because
its final schema carried a DECIMAL column: the driver's value hasher
renders Decimal('284019.50') and the float 284019.5 differently, so a
query whose Spark/DuckDB sides agree exactly on VALUES can still
hash-mismatch on TYPE RENDERING.  This tool sweeps every registry
query's ANALYZED schema (no execution — building the DataFrame is
enough) and flags any final column whose type is outside the
driver-hash-safe set:

    string  bigint/int/smallint/tinyint  double  boolean  date
    timestamp (naive-rendered on both engines)  binary
    array/map/struct OF safe types

Flagged: decimal(p,s) anywhere (trailing-zero rendering), float
(32-bit — repr drift vs DuckDB's double rendering), timestamp_ntz vs
timestamp mixes, interval types.

Usage: python tools/type_audit.py [sf_dir]
Exit 1 if anything is flagged.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from monstache_spark.session import get_spark

_BAD = re.compile(r"decimal\(|(?<![a-z_])float(?![a-z0-9_])|interval|timestamp_ntz")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark()
    qs = entrymod.queries()
    flagged: list[tuple[str, str, str]] = []
    errs: list[tuple[str, str]] = []
    for i, (name, fn) in enumerate(qs.items(), 1):
        try:
            df = fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001 - audit must survive one bad query
            errs.append((name, f"{type(e).__name__}: {e}"))
            continue
        for col, dt in df.dtypes:
            if _BAD.search(dt):
                flagged.append((name, col, dt))
        if i % 50 == 0:
            print(f"  ... {i}/{len(qs)} schemas analyzed", flush=True)
    print(f"analyzed {len(qs)} query schemas at {sf_dir}")
    for name, err in errs:
        print(f"ERR  {name}: {err}")
    for name, col, dt in flagged:
        print(f"FLAG {name}: column `{col}` has driver-hash-unsafe type {dt}")
    if not flagged and not errs:
        print("all clean — no decimal/float32/interval/ntz final columns")
    return 1 if (flagged or errs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
