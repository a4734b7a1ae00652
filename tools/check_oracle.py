"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, column
names, and an order-insensitive value hash. Usage:

    python tools/check_oracle.py [--changed] [sf_dir] [query ...]

``--changed`` (round-11, VERDICT r10 task #8: keep per-commit sweeps
fast at 342+ queries): skip queries whose change-key matches a
previously-GREEN run's.  The key hashes the query builder's source,
its oracle SQL, the sf_dir, and the content hash of every
monstache_spark module the builder references — TRANSITIVELY (editing
``esql.py`` invalidates every query whose builder imports ``eql``,
because eql imports the shared esql dialect), plus any entry-module
helper functions the builder calls.  Green results update the cache
(``.oracle_cache.json``, untracked); FAILs never enter it.  The seal
and the judge still run the full sweep — this is the iteration loop.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import math
import os
import re
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import duckdb

import __spark_entry__ as entrymod
from monstache_spark.session import get_spark
from monstache_spark.sources.testdata import TABLES

_CACHE_PATH = os.path.join(_REPO, ".oracle_cache.json")
_MOD_RE = re.compile(r"monstache_spark(?:\.[A-Za-z_][\w]*)+")


def _module_closure_hashes() -> tuple[dict[str, str], dict[str, set]]:
    """Content hash per monstache_spark module + transitive
    references (textual scan — over-approximates, never misses)."""
    hashes: dict[str, str] = {}
    texts: dict[str, str] = {}
    pkg = os.path.join(_REPO, "monstache_spark")
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, _REPO)[:-3].replace(os.sep, ".")
            if rel.endswith(".__init__"):
                rel = rel[: -len(".__init__")]
            with open(path) as f:
                t = f.read()
            texts[rel] = t
            hashes[rel] = hashlib.md5(t.encode()).hexdigest()
    deps: dict[str, set] = {}
    for mod, t in texts.items():
        refs = set()
        for m in _MOD_RE.findall(t):
            # longest known module prefix (refs may be attr chains)
            parts = m.split(".")
            for i in range(len(parts), 0, -1):
                cand = ".".join(parts[:i])
                if cand in texts:
                    refs.add(cand)
                    break
        deps[mod] = refs - {mod}
    # transitive closure (small graph, iterate to fixpoint)
    changed = True
    while changed:
        changed = False
        for mod, refs in deps.items():
            add = set()
            for r in refs:
                add |= deps.get(r, set())
            add -= refs | {mod}
            if add:
                refs |= add
                changed = True
    return hashes, deps


def _query_change_keys(qs, oracles, sf_dir: str) -> dict[str, str]:
    mod_hashes, mod_deps = _module_closure_hashes()
    # the driver REGENERATES the testdata parquet between rounds — a
    # stale-green cache over different data would be a silent lie;
    # fold each table file's (mtime, size) into every key
    # (self-review r11 pass 1)
    data_sig = ";".join(
        f"{t}:{os.path.getmtime(p)}:{os.path.getsize(p)}"
        if os.path.exists(p := os.path.join(sf_dir, f"{t}.parquet"))
        else f"{t}:absent"
        for t in TABLES
    )
    entry_src = inspect.getsource(entrymod)
    # entry-module top-level helper names a builder may call
    helper_srcs: dict[str, str] = {}
    for nm, obj in vars(entrymod).items():
        if callable(obj) and getattr(obj, "__module__", "") == entrymod.__name__:
            try:
                helper_srcs[nm] = inspect.getsource(obj)
            except (OSError, TypeError):
                helper_srcs[nm] = repr(obj)
    keys: dict[str, str] = {}
    for name, fn in qs.items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            keys[name] = ""  # unhashable builder: never cached
            continue
        # one level of entry-helper closure (helpers referencing other
        # helpers are rare; the module closure below catches package
        # changes regardless)
        parts = [sf_dir, data_sig, src, oracles.get(name, "")]
        seen_helpers = set()
        frontier = [src]
        while frontier:
            s = frontier.pop()
            for nm, hsrc in helper_srcs.items():
                if nm in seen_helpers or nm == getattr(fn, "__name__", ""):
                    continue
                if re.search(rf"\b{re.escape(nm)}\b", s):
                    seen_helpers.add(nm)
                    frontier.append(hsrc)
        parts += [helper_srcs[n] for n in sorted(seen_helpers)]
        mods = set()
        for s in [src] + [helper_srcs[n] for n in sorted(seen_helpers)]:
            for m in _MOD_RE.findall(s):
                p = m.split(".")
                for i in range(len(p), 0, -1):
                    cand = ".".join(p[:i])
                    if cand in mod_hashes:
                        mods.add(cand)
                        break
        closure = set(mods)
        for m in mods:
            closure |= mod_deps.get(m, set())
        # session/sources are on every query's path (get_spark, load_table)
        closure |= {m for m in mod_hashes
                    if m.startswith("monstache_spark.sources")
                    or m == "monstache_spark.session"}
        parts += [f"{m}={mod_hashes[m]}" for m in sorted(closure)]
        keys[name] = hashlib.md5("\x00".join(parts).encode()).hexdigest()
    return keys


def normalize_cell(v, side="spark"):
    """Driver-shaped cell rendering (VERDICT r12 task #2).

    The r12 driver gate proved its hasher renders a Decimal cell
    differently per engine side — ``'284019.50'`` (scale-preserving)
    on one and the float rendering ``'284019.5'`` on the other — so a
    trailing-zero Decimal ALWAYS hash-mismatches at the gate even
    when the values are exactly equal.  The replica used
    ``repr(v)`` on both sides, which let such a query pass locally
    and fail at the driver.  Mimic the divergence: Spark Decimals
    keep their scale (``str``), DuckDB Decimals go through float
    ``repr`` — any registry query with a Decimal final column now
    fails HERE first (the schema-level guard is tools/type_audit.py).
    """
    import decimal

    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v) if side == "spark" else repr(float(v))
    return repr(v)


def frame_signature(cols, rows, side="spark"):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    lines = sorted(
        "|".join(normalize_cell(r[i], side) for i in order) for r in rows
    )
    import hashlib

    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return sorted_cols, len(lines), h, lines


def main():
    args = [a for a in sys.argv[1:] if a != "--changed"]
    changed_only = "--changed" in sys.argv[1:]
    # default to sf0.01 — the driver gate's scale (sf0.001 is a
    # DIFFERENT 500-doc corpus, not a subset; green there does not
    # imply green at the gate)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    # a typo'd / not-yet-registered name would otherwise be silently
    # skipped and the run would print a VACUOUS "all green"
    unknown = only - set(entrymod.queries())
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}")
        sys.exit(2)
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    keys: dict[str, str] = {}
    cache: dict[str, str] = {}
    if changed_only:
        keys = _query_change_keys(qs, oracles, sf_dir)
        if os.path.exists(_CACHE_PATH):
            with open(_CACHE_PATH) as f:
                cache = json.load(f)
    skipped = 0
    greens: list[str] = []
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if changed_only and keys.get(name) and cache.get(name) == keys[name]:
            skipped += 1
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        # schema lint BEFORE execution: the driver's pandas
        # canonicalizer cannot hash complex-typed cells (round-8
        # verdict: es_termvectors' array<long> positions was the one
        # red row) — fail ANY query whose output schema carries
        # Array/Map/Struct so the class stays closed registry-wide,
        # without paying the query's full run first
        complex_cols = [
            f.name
            for f in sdf.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if complex_cols:
            print(
                f"FAIL {name}: complex-typed output columns {complex_cols} "
                "(driver canonicalizer cannot hash list/dict cells — "
                "serialize with array_join/to_json in the gate query)"
            )
            failures.append(name)
            continue
        try:
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"OK?  {name}: rows-only ({len(srows)} rows, {spark_t:.1f}s) — no oracle")
            greens.append(name)
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        sc, sn, sh, slines = frame_signature(scols, srows, side="spark")
        dc, dn, dh, dlines = frame_signature(dcols, drows, side="duckdb")
        status = "OK  " if (sc == dc and sn == dn and sh == dh) else "FAIL"
        print(f"{status} {name}: spark {sn} rows / duckdb {dn} rows, cols {'=' if sc == dc else f'{sc} vs {dc}'}, hash {'=' if sh == dh else 'MISMATCH'} ({spark_t:.1f}s)")
        if status == "FAIL":
            failures.append(name)
            sset, dset = set(slines), set(dlines)
            diff_s = sorted(sset - dset)[:3]
            diff_d = sorted(dset - sset)[:3]
            for line in diff_s:
                print(f"    spark-only: {line[:200]}")
            for line in diff_d:
                print(f"    duck-only:  {line[:200]}")
        else:
            greens.append(name)
    if changed_only:
        for name in greens:
            if keys.get(name):
                cache[name] = keys[name]
        # a FAIL must drop any stale green entry so it re-runs next time
        for name in failures:
            cache.pop(name, None)
        with open(_CACHE_PATH, "w") as f:
            json.dump(cache, f, indent=0, sort_keys=True)
        print(f"\n--changed: {skipped} unchanged-green skipped, "
              f"{len(greens) + len(failures)} run")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall green")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
