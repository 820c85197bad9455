"""Driver-style correctness self-check: run every queries() entry on
Spark AND its oracle_sql() on DuckDB at the given sf, compare
row-count + schema + order-insensitive value hash (columns sorted by
name, rows sorted, values stringified) — a local mirror of the
driver's CORRECTNESS gate.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb

# this checkout's root, so a second checkout checks its own code
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(v) -> str:
    if v is None:
        return "\\N"
    try:
        if v != v:  # pandas NULL sentinel (NaN / NaT)
            return "\\N"
    except (TypeError, ValueError):
        pass
    if type(v).__module__ == "numpy" and hasattr(v, "item"):
        v = v.item()
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as se
    from pdfspark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = se.queries()
    orc = se.oracle_sql()
    failures = 0
    for name in sorted(orc.keys() ^ qs.keys()):
        if not only or name in only:
            missing = "an oracle" if name in qs else "a query"
            print(f"FAIL {name}: no {missing}")
            failures += 1
    for name, fn in qs.items():
        if (only and name not in only) or name not in orc:
            continue
        sql = orc[name]
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        try:
            # Fetch through pandas, as the driver does: DuckDB types
            # with no 1:1 pandas dtype degrade here (HUGEINT→float64,
            # DECIMAL→object), which is exactly the drift we must see.
            # An uncast sum() stringifies "123.0" vs Spark's "123".
            pdf = con.execute(sql).df()
            ocols = list(pdf.columns)
            orows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        ok_count = len(rows) == len(orows)
        ok_schema = sorted(cols) == sorted(ocols)
        ok_hash = ok_schema and table_hash(cols, rows) == table_hash(ocols, orows)
        status = "PASS" if (ok_count and ok_schema and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status} {name}: rows {len(rows)}/{len(orows)} "
            f"schema={'ok' if ok_schema else f'{cols} vs {ocols}'} hash={'ok' if ok_hash else 'MISMATCH'}"
        )
        if not ok_hash and ok_schema and len(rows) and len(orows):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            a = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
            b = sorted("\x1f".join(_canon(r[i]) for i in order) for r in orows)
            for x, y in zip(a, b):
                if x != y:
                    print(f"  spark : {x[:200]}")
                    print(f"  oracle: {y[:200]}")
                    break
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
