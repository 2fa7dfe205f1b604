"""Local replica of the driver's t2 correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row count, column names, and an order-insensitive value hash (doubles
rounded 1e-9, timestamps as UTC epoch micros).

Also writes HASH_BISECT.json under the system temp directory
(``tempfile.gettempdir()``; the path is printed before the final
``N/M passed`` line), so a run leaves the checkout clean: per query,
per column, each side's canonical value hash, the Python types
observed, and the engine-declared column type (Spark dtype / DuckDB
type).  When a driver run disagrees with this local
replica (r13: x43's DuckDB HUGEINT sums hashed differently in the driver's
canonicalizer), the artifact points at the exact column — look for a
``suspect_types`` entry (HUGEINT/DECIMAL/UHUGEINT oracle columns) or a
per-column hash that differs between sides despite the row hash matching
locally.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SUSPECT_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL", "INT128")


def canon_value(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return str(int(v.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000))
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, dt.timedelta):
        return f"td:{v.total_seconds()}"
    if isinstance(v, bytes):
        return v.hex()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return repr(round(float(v), 9))
    except ImportError:
        pass
    return str(v)


def column_report(
    cols: list[str], rows: list[tuple], engine_types: dict[str, str]
) -> dict:
    """Per-column canonical hash + observed Python types + declared engine
    type.  Column hashes are over the column's sorted canonical values, so
    they are row-order-insensitive like hash_rows; a mismatching column
    between two sides isolates a canonicalization drift to one column."""
    out = {}
    for i, c in enumerate(cols):
        vals = sorted(canon_value(r[i]) for r in rows)
        h = hashlib.sha256()
        for v in vals:
            h.update(v.encode())
            h.update(b"\n")
        pytypes = sorted({type(r[i]).__name__ for r in rows})
        out[c] = {
            "hash": h.hexdigest()[:16],
            "pytypes": pytypes,
            "engine_type": engine_types.get(c, "?"),
        }
    return out


def bisect_entry(
    scols, srows, stypes, dcols=None, drows=None, dtypes=None
) -> dict:
    """Build one HASH_BISECT.json record.  ``suspect_types`` lists oracle
    columns whose DuckDB type is a known driver-hash hazard (int128/decimal
    promotions); ``col_mismatches`` lists columns whose canonical value hash
    differs between the two sides."""
    rec = {"spark": column_report(scols, srows, stypes)}
    if dcols is not None:
        rec["oracle"] = column_report(dcols, drows, dtypes)
        rec["suspect_types"] = sorted(
            c
            for c, t in dtypes.items()
            if any(s in t.upper() for s in SUSPECT_TYPES)
        )
        rec["col_mismatches"] = sorted(
            c
            for c in rec["spark"]
            if c in rec["oracle"]
            and rec["spark"][c]["hash"] != rec["oracle"][c]["hash"]
        )
    return rec


def hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(
        "|".join(canon_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for r in canon_rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(sf_dir: str, only: list[str] | None = None) -> int:
    import __spark_entry__ as entrymod
    from jurimetria_etl_spark.session import get_spark

    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    if only:
        queries = {k: v for k, v in queries.items() if k in only}
    oracles = entrymod.oracle_sql()
    # The registered x13b oracle embeds hyperplane literals derived for
    # the 500-row GATE fixtures (driver sf0.01 / pytest sf0.001 — both
    # 500 embeddings, so one static SQL covers the driver run).  At any
    # OTHER corpus size the Spark side auto-derives a different plane
    # count; re-derive the oracle literals from this corpus's count so
    # the gate compares the same banding (same policy as bench.py).
    if "x13b_cosine_join_scaled" in queries:
        from jurimetria_etl_spark.operators.similarity import (
            suggest_lsh_planes,
        )
        from jurimetria_etl_spark.plans.extensions import _x13_join_sql

        n = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
        if suggest_lsh_planes(n) != suggest_lsh_planes(500):
            oracles["x13b_cosine_join_scaled"] = _x13_join_sql(
                n_planes=suggest_lsh_planes(n)
            )
    failures = []
    bisect: dict[str, dict] = {}
    for name, fn in queries.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = dict(sdf.dtypes)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            bisect[name] = bisect_entry(scols, srows, stypes)
            print(f"ok~  {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            dtypes = {c: str(t) for c, t in zip(rel.columns, rel.types)}
            drows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        bisect[name] = bisect_entry(scols, srows, stypes, dcols, drows, dtypes)
        if bisect[name]["suspect_types"]:
            print(
                f"  warn {name}: oracle columns with driver-hash-hazard "
                f"types: {bisect[name]['suspect_types']}"
            )
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            sh, dh = hash_rows(scols, srows), hash_rows(dcols, drows)
            if sh != dh:
                problems.append(f"hash {sh} vs {dh}")
                # print first differing canonical rows for debugging
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                do = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sset = sorted("|".join(canon_value(r[i]) for i in so) for r in srows)
                dset = sorted("|".join(canon_value(r[i]) for i in do) for r in drows)
                for a, b in zip(sset, dset):
                    if a != b:
                        print(f"  spark: {a}\n  duck : {b}")
                        break
        if problems:
            failures.append(name)
            mism = bisect[name].get("col_mismatches")
            if mism:
                problems.append(f"differing columns: {mism}")
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    out_path = os.path.join(tempfile.gettempdir(), "HASH_BISECT.json")
    if only and os.path.exists(out_path):
        # partial run: merge into the existing artifact instead of clobbering
        with open(out_path) as f:
            prior = json.load(f)
        if prior.get("sf_dir") == sf_dir:
            merged = prior.get("queries", {})
            merged.update(bisect)
            bisect = merged
    with open(out_path, "w") as f:
        json.dump({"sf_dir": sf_dir, "queries": bisect}, f, indent=1, sort_keys=True)
    print(f"hash bisect: {out_path}")
    print(f"\n{len(queries) - len(failures)}/{len(queries)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
            sys.argv[2:] or None,
        )
    )
