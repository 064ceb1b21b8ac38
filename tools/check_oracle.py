"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
(with the sf tables registered as views), then compares row count, column
names, and an order-insensitive value hash with columns sorted by name —
the same comparison scheme the driver records in CORRECTNESS_r{N}.json.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # full-precision shortest-roundtrip repr: %.9g masked 1-ulp
        # engine differences the driver's comparison is sensitive to
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _duckdb_memory_limit() -> str:
    """A quarter of the host's physical memory. DuckDB's default (80 %)
    beside the Spark driver's half-of-RAM heap overcommits the host, and
    the kernel OOM-kills the sweep."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total >> 32)}GiB"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from blink_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect(config={"memory_limit": _duckdb_memory_limit()})
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols = rel.columns
            d_types = [str(t) for t in rel.types]
            d_rows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        problems = []
        # The driver hashes TYPED values; DuckDB HUGEINT/DECIMAL outputs
        # hash-mismatch Spark BIGINT/DOUBLE even when the Python values are
        # equal (round-1/2 bug class) — fail them here before the driver does.
        for c, t in zip(d_cols, d_types):
            tu = t.upper()
            if "HUGEINT" in tu or tu.startswith("DECIMAL"):
                problems.append(f"oracle col {c} has driver-hostile type {t} "
                                f"(add an explicit ::BIGINT/::DOUBLE cast)")
        # The driver hashes TYPED values, but _cell()'s str() masks e.g.
        # Spark string "123" vs DuckDB BIGINT 123 (the r4 doc_winnow bug):
        # compare the per-column Python type signature explicitly.
        if sorted(s_cols) == sorted(d_cols) and len(s_rows) and len(d_rows):
            s_i = {c: i for i, c in enumerate(s_cols)}
            d_i = {c: i for i, c in enumerate(d_cols)}
            for c in s_cols:
                st = {type(r[s_i[c]]).__name__ for r in s_rows} - {"NoneType"}
                dt = {type(r[d_i[c]]).__name__ for r in d_rows} - {"NoneType"}
                if st != dt:
                    problems.append(
                        f"col {c} python-type mismatch spark={sorted(st)} "
                        f"duckdb={sorted(dt)} (driver hashes typed values)")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        if not problems:
            hs, hd = value_hash(s_rows, s_cols), value_hash(d_rows, d_cols)
            if hs != hd:
                problems.append(f"value hash spark={hs} duckdb={hd}")
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                set_s = {tuple(_cell(r[i]) for i in order_s) for r in s_rows}
                set_d = {tuple(_cell(r[i]) for i in order_d) for r in d_rows}
                for x in list(set_s - set_d)[:3]:
                    print(f"  spark-only: {x}")
                for x in list(set_d - set_s)[:3]:
                    print(f"  duckdb-only: {x}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"PASS {name}: {len(s_rows)} rows")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
