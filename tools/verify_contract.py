"""Local replica of the driver's correctness gate: run every queries() entry
on Spark AND its oracle_sql() twin on DuckDB at sf0.01; compare row count,
column names, each column's type class (Spark schema vs DuckDB DESCRIBE),
and order-insensitive canonical values that keep int apart from float and
-0.0 apart from 0.0.

Usage: python tools/verify_contract.py [--sf /root/testdata/sf0.01] [--only name[,name2,...]]
                                       [--json out.json]

--json writes a driver-format snapshot ({name: {rows_match, schema_match,
hash_match, spark_rows, oracle_rows, err}}) — the committed evidence for
registry entries the driver's own CORRECTNESS snapshot (capped at its row
limit) does not reach.
"""

from __future__ import annotations

import argparse
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon_val(v):
    """Order-insensitive canonical form of one value. Numbers carry a type
    tag, so 0 (int) != 0.0 (float), and a float keeps its sign bit, so
    -0.0 != 0.0: the driver's gate tells both pairs apart."""
    import decimal
    if hasattr(v, "asDict"):  # pyspark Row (tuple subclass) — check first
        return canon_val(v.asDict(recursive=True))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        r = round(v, 4)
        return ("float", r, math.copysign(1.0, r) < 0)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_val(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon_val(x) for x in v)
    return v


def spark_type_class(t) -> str:
    """Coarse class of a Spark DataType (int/float/decimal/string/...)."""
    from pyspark.sql import types as T
    for cls, name in ((T.BooleanType, "bool"), (T.IntegralType, "int"),
                      (T.DecimalType, "decimal"), (T.FractionalType, "float"),
                      (T.StringType, "string"), (T.BinaryType, "binary"),
                      (T.DateType, "date"),
                      ((T.TimestampType, T.TimestampNTZType), "timestamp"),
                      (T.ArrayType, "list"), (T.StructType, "struct"),
                      (T.MapType, "map")):
        if isinstance(t, cls):
            return name
    return type(t).__name__


def duckdb_type_class(t: str) -> str:
    """Coarse class of a DuckDB DESCRIBE column_type string."""
    t = t.upper()
    if t.endswith("]"):
        return "list"
    for prefix, name in (("STRUCT", "struct"), ("MAP", "map"),
                         ("DECIMAL", "decimal"), ("TIMESTAMP", "timestamp"),
                         ("BOOL", "bool"), ("DATE", "date"),
                         ("BLOB", "binary"), ("VARCHAR", "string")):
        if t.startswith(prefix):
            return name
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if t.endswith(("INT", "INTEGER")):
        return "int"
    return t


def canon_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_val(r[i]) for i in order) for r in rows)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    import duckdb
    import __spark_entry__ as entrymod
    from crawler_spark.session import get_spark

    spark = get_spark("verify-contract", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{args.sf}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    report = {}
    n_ran = 0
    for name, fn in qs.items():
        if args.only and not any(tok in name for tok in args.only.split(",")):
            continue
        n_ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            s_cols = sdf.columns
            s_types = {f.name: spark_type_class(f.dataType)
                       for f in sdf.schema.fields}
            s_rows = sdf.collect()
        except Exception as e:
            failures.append(name)
            report[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": None, "spark_rows": None,
                            "oracle_rows": None,
                            "err": f"spark {type(e).__name__}: {e}"[:300]}
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            report[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": None, "spark_rows": len(s_rows),
                            "oracle_rows": None, "err": "no_oracle"}
            print(f"ok   {name}: rows-only, {len(s_rows)} rows "
                  f"({time.time()-t0:.1f}s)")
            if len(s_rows) == 0:
                failures.append(name)
                print(f"FAIL {name}: rows-only query returned 0 rows")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            d_types = {r[0]: duckdb_type_class(r[1]) for r in con.execute(
                f"DESCRIBE SELECT * FROM ({oracles[name]}) q").fetchall()}
        except Exception as e:
            failures.append(name)
            report[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": None, "spark_rows": len(s_rows),
                            "oracle_rows": None,
                            "err": f"duckdb {type(e).__name__}: {e}"[:300]}
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            continue
        problems = []
        schema_ok = sorted(s_cols) == sorted(d_cols)
        rows_ok = len(s_rows) == len(d_rows)
        hash_ok = None
        if not schema_ok:
            problems.append(f"schema {sorted(s_cols)} != {sorted(d_cols)}")
        elif s_types != d_types:
            schema_ok = False
            problems.append("types " + ", ".join(
                f"{c}: spark {s_types[c]} != duckdb {d_types[c]}"
                for c in sorted(s_cols) if s_types[c] != d_types[c]))
        if not rows_ok:
            problems.append(f"rowcount {len(s_rows)} != {len(d_rows)}")
        if not problems:
            a = canon_rows([tuple(r) for r in s_rows], s_cols)
            b = canon_rows(d_rows, d_cols)
            hash_ok = a == b
            if not hash_ok:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, e.g. {diff}")
        report[name] = {"rows_match": rows_ok, "schema_match": schema_ok,
                        "hash_match": hash_ok, "spark_rows": len(s_rows),
                        "oracle_rows": len(d_rows), "err": None}
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name}: {len(s_rows)} rows match "
                  f"({time.time()-t0:.1f}s)")

    skipped = len(qs) - n_ran
    print(f"\n{n_ran - len(failures)}/{n_ran} pass"
          + (f" ({skipped} skipped by --only)" if skipped else ""))
    if args.json:
        import json
        with open(args.json, "w") as f:
            json.dump(report, f, indent=2)
        print(f"wrote {args.json} ({len(report)} entries)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
