"""Local stand-in for the driver's correctness gate: run each
``__spark_entry__.queries()`` entry on Spark AND its ``oracle_sql()`` twin on
DuckDB at sf0.01, compare row count + column names + order-insensitive value
hash. Usage: python tools/check_oracle.py [names...]"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_hash(df) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    rows = [
        "\x01".join(_norm(row[c]) for c in cols)
        for _, row in df[cols].iterrows()
    ]
    rows.sort()
    digest = hashlib.sha256("\x02".join(rows).encode()).hexdigest()
    return len(rows), cols, digest


def driver_canon_err(df) -> str | None:
    """Replicate the DRIVER's canonicalization (pandas ``sort_values`` over
    all columns, sorted by name). Array/list cells are unhashable there and
    killed 3 round-1 rows while this checker's per-row stringify passed —
    surface that failure class locally."""
    try:
        df[sorted(df.columns)].sort_values(by=sorted(df.columns))
        return None
    except Exception as exc:  # noqa: BLE001 — mirror driver behavior
        return f"driver-canon {type(exc).__name__}: {exc}"


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from ollama_ocr_spark.session import get_spark
    from ollama_ocr_spark.sources.testdata import TABLES

    only = set(sys.argv[1:])
    spark = get_spark(app="check-oracle")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        sdf = fn(spark, SF_DIR).toPandas()
        spark_secs = time.monotonic() - t0
        canon_err = driver_canon_err(sdf)
        if canon_err:
            print(f"  {name:28s} FAIL {canon_err[:100]}")
            failures.append((name, canon_err))
            continue
        if name not in oracles:
            print(f"  {name:28s} rows-only: {len(sdf):6d} rows "
                  f"({spark_secs:5.1f}s)")
            if len(sdf) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        ddf = con.sql(oracles[name]).fetchdf()
        n1, c1, h1 = frame_hash(sdf)
        n2, c2, h2 = frame_hash(ddf)
        ok = (n1, c1, h1) == (n2, c2, h2)
        status = "OK " if ok else "FAIL"
        print(f"  {name:28s} {status} spark={n1:6d} duck={n2:6d} "
              f"cols={'=' if c1 == c2 else 'DIFF'} "
              f"hash={'=' if h1 == h2 else 'DIFF'} ({spark_secs:5.1f}s)")
        if not ok:
            failures.append((name, f"spark_cols={c1} duck_cols={c2}"))
            if c1 == c2 and n1 and n2:
                sv = sorted(
                    "\x01".join(_norm(r[c]) for c in c1)
                    for _, r in sdf[c1].iterrows()
                )
                dv = sorted(
                    "\x01".join(_norm(r[c]) for c in c2)
                    for _, r in ddf[c2].iterrows()
                )
                diff_s = [r for r in sv if r not in set(dv)][:2]
                diff_d = [r for r in dv if r not in set(sv)][:2]
                for r in diff_s:
                    print(f"      spark-only: {r[:160]!r}")
                for r in diff_d:
                    print(f"      duck-only:  {r[:160]!r}")
    spark.stop()
    if failures:
        print("FAILURES:")
        for name, why in failures:
            print(f"  {name}: {why}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
