"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf directory, then compares row count, column names,
and an order-insensitive canonical value hash. Usage:

    python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from pyspark.sql.types import ArrayType as SparkArrayType  # noqa: E402
from pyspark.sql.types import MapType as SparkMapType  # noqa: E402
from recordmanager_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    # Mirror the driver's harness: it builds its OWN session with Spark 4
    # defaults (ANSI **on**), so the engine's permissive ANSI-off setting
    # does not protect queries there.  Verifying under ANSI-on locally is
    # the only way local green predicts driver green.
    spark = get_spark(
        "verify_oracle",
        shuffle_partitions=16,
        extra_conf={"spark.sql.ansi.enabled": "true"},
    )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}; known: {sorted(qs)}")
        sys.exit(2)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            # The driver canonicalizes via pandas sort_values, which raises
            # "unhashable type" on list/dict cells — any array/map output
            # column is an automatic red there, so flag it here first.
            bad = [
                f.name
                for f in sdf.schema.fields
                if isinstance(f.dataType, (SparkArrayType, SparkMapType))
            ]
            if bad:
                print(
                    f"FAIL  {name}: non-scalar output column(s) {bad} — "
                    "driver harness cannot canonicalize; array_join/to_json them"
                )
                failures.append(name)
                continue
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok*   {name}: rows={len(srows)} (rows-only, no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rows spark={len(srows)} oracle={len(orows)}")
        if not problems:
            hs = table_hash(scols, srows)
            ho = table_hash(ocols, orows)
            if hs != ho:
                problems.append("value-hash mismatch")
                # show a few differing lines
                import itertools

                so = sorted(range(len(scols)), key=lambda i: scols[i])
                oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
                sset = {"|".join(canon(r[i]) for i in so) for r in srows}
                oset = {"|".join(canon(r[i]) for i in oo) for r in orows}
                for d in itertools.islice(sorted(sset - oset), 3):
                    print(f"        spark-only: {d[:200]}")
                for d in itertools.islice(sorted(oset - sset), 3):
                    print(f"        oracle-only: {d[:200]}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            failures.append(name)
        else:
            print(f"ok    {name}: rows={len(srows)} hash-match [{time.time()-t0:.1f}s]")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
