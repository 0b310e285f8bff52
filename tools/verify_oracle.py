"""Local replica of the driver's correctness gate.

Runs every registered query on Spark AND its DuckDB oracle on the same
parquet tables, then compares row count, column names, and
order-insensitive values (sorted by all columns, compared cell-wise
with exact equality — floats were already rounded inside the queries,
so exactness is the point).

Usage: python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    from open_pulsar_spark.tables import TABLE_NAMES

    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return v
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return v

    out = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


# The driver's value-hash is typed: it tolerates integer-width
# differences (int32 Spark vs BIGINT DuckDB hash-matched in round 1)
# but NOT DuckDB HUGEINT/UHUGEINT (sum() of integers), which pandas
# widens to float/object and the hash then mismatches even when the
# Python ints compare equal. Map both schemas into coarse families and
# fail on family mismatch so this is caught locally.
_INT_FAMILY = {"tinyint", "smallint", "int", "integer", "bigint", "long", "ubigint",
               "usmallint", "uinteger", "utinyint"}
_FLOAT_FAMILY = {"float", "double", "real"}


def _family(type_str: str) -> str:
    t = str(type_str).strip().lower()
    if t in _INT_FAMILY:
        return "int"
    if t in _FLOAT_FAMILY:
        return "float"
    if t in ("hugeint", "uhugeint"):
        return "hugeint"  # never matches Spark — deliberate
    if t.startswith("timestamp"):
        return "timestamp"
    if t in ("varchar", "string", "text"):
        return "string"
    if t.startswith("decimal"):
        return t.replace(" ", "")
    return t


def typed_mismatches(sdf, dcols: list[str], dtypes: list) -> list[str]:
    spark_types = {f.name.lower(): f.dataType.simpleString() for f in sdf.schema.fields}
    bad = []
    for c, dt in zip(dcols, dtypes, strict=True):
        sfam = _family(spark_types.get(c.lower(), "?"))
        dfam = _family(dt)
        if sfam != dfam:
            bad.append(f"{c}: spark={spark_types.get(c.lower())} duck={dt}")
    return bad


def compare(name: str, spark, con, sf_dir: str, qfn, sql: str | None) -> dict:
    t0 = time.time()
    sdf = qfn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    spark_sec = time.time() - t0
    res = {"name": name, "rows": len(srows), "spark_sec": round(spark_sec, 2)}
    if sql is None:
        res["status"] = "rows_only"
        return res
    rel = con.sql(sql)
    dcols = rel.columns
    drows = rel.fetchall()
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
        res["status"] = "SCHEMA_MISMATCH"
        res["spark_cols"], res["duck_cols"] = scols, dcols
        return res
    if len(srows) != len(drows):
        res["status"] = "ROWCOUNT_MISMATCH"
        res["duck_rows"] = len(drows)
        return res
    bad_types = typed_mismatches(sdf, dcols, rel.types)
    if bad_types:
        res["status"] = "TYPE_MISMATCH"
        res["cols"] = bad_types
        return res
    ns, nd = normalize(srows, [c.lower() for c in scols]), normalize(
        drows, [c.lower() for c in dcols]
    )
    if ns != nd:
        res["status"] = "VALUE_MISMATCH"
        for i, (a, b) in enumerate(zip(ns, nd, strict=True)):
            if a != b:
                res["first_diff"] = {"row": i, "spark": repr(a), "duck": repr(b)}
                break
        return res
    res["status"] = "OK"
    return res


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from open_pulsar_spark import get_spark, registry

    if vanilla:
        # replicate the DRIVER's environment: a session with none of
        # get_spark's confs — proves every load-bearing setting is
        # applied at read time (tables.load_table), not assumed
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("verify-oracle-vanilla")
            .master("local[8]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("verify-oracle")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)

    qs = registry.all_queries()
    oracles = registry.all_oracles()
    failures = 0
    for name, qfn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            res = compare(name, spark, con, sf_dir, qfn, oracles.get(name))
        except Exception as e:  # noqa: BLE001
            res = {"name": name, "status": "ERROR", "error": str(e)[:500]}
        ok = res["status"] in ("OK", "rows_only")
        failures += 0 if ok else 1
        # flushed per line: a redirected run killed mid-way keeps
        # every result it has printed
        print(f"{'PASS' if ok else 'FAIL'} {res}", flush=True)
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}", flush=True)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
