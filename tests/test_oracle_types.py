"""Oracle result-type hygiene gate.

Root cause of the r3/r4 driver-gate red on the pack family (px3/mm4/px9/
px10): DuckDB's SUM over integer inputs returns HUGEINT (int128). A
HUGEINT output column materializes differently per fetch path —
`fetchall()` → Python int (so the local value-compare gate passes),
`fetchdf()` → float64, `.arrow()` → decimal128(38,0) — and any
type-sensitive canonicalization of the oracle result then hash-diverges
from Spark's int64 even though every value is numerically identical.
The 50-query CORRECTNESS_r04 snapshot correlates perfectly: the four
hash-red pack queries were exactly the four whose oracle output schema
contained decimal128 columns; zero green queries did.

This gate makes the hazard structurally impossible to reintroduce: every
registered oracle's output schema (LIMIT-0 probe, no data scanned) must
stick to the fetch-path-stable type set. Any new un-cast integer SUM (or
AVG over decimals, etc.) in an oracle's final projection fails here
immediately instead of two rounds later at the driver.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import types as T

import __spark_entry__ as entrymod
from tools.verify_contract import (
    canon_rows, canon_val, duckdb_type_class, spark_type_class,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# Types whose Python / pandas / Arrow materializations all agree with the
# Spark-side value representation under an order-insensitive compare.
_STABLE = ("int8", "int16", "int32", "int64", "uint8", "uint16", "uint32",
           "bool", "string", "large_string", "double", "float",
           "date32[day]", "timestamp")


def _stable(t) -> bool:
    s = str(t)
    if s.startswith(("list<", "large_list<", "struct<")):
        # container: validate every child type
        return all(_stable(f.type) for f in
                   ([t.value_field] if hasattr(t, "value_field") else t))
    return s.startswith(_STABLE)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                  f"read_parquet('{SF_DIR}/{t}.parquet')")
    return c


def test_no_fetchpath_unstable_oracle_output_types(con):
    oracles = entrymod.oracle_sql()
    assert oracles, "registry import failed"
    offenders = {}
    for name, sql in oracles.items():
        tb = con.execute(f"SELECT * FROM ({sql}) q LIMIT 0").arrow()
        bad = [f"{f.name}:{f.type}" for f in tb.schema if not _stable(f.type)]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracle output columns with fetch-path-unstable types (cast them "
        f"— e.g. ::BIGINT for integer SUMs): {offenders}")


def test_canon_val_separates_int_float_and_zero_sign():
    """The local gate (tools/verify_contract.py) must tell apart what the
    driver's gate does: int 0 vs float 0.0 (st7 shipped BIGINT quantiles
    against DuckDB DOUBLE) and -0.0 vs 0.0 (g28's modularity term).
    Spark-free: the canonicalization and the type-class maps only."""
    assert canon_val(0) != canon_val(0.0)                 # st7
    assert canon_val(-0.0) != canon_val(0.0)              # g28
    assert canon_val(-0.00001) != canon_val(0.0)          # rounds to -0.0
    assert canon_val(1.23456) == canon_val(1.23459)       # 4-place tolerance
    assert canon_val(True) != canon_val(1)
    assert canon_rows([(1, 0.0), (2, -0.0)], ["a", "b"]) != \
        canon_rows([(1, 0.0), (2, 0.0)], ["a", "b"])
    assert duckdb_type_class("DOUBLE") == "float"
    assert duckdb_type_class("BIGINT") == duckdb_type_class("HUGEINT") \
        == duckdb_type_class("INTEGER") == "int"
    assert duckdb_type_class("DECIMAL(18,4)") == "decimal"
    assert duckdb_type_class("STRUCT(a INTEGER)[]") == "list"
    assert spark_type_class(T.LongType()) == "int"
    assert spark_type_class(T.DoubleType()) == "float"
    assert spark_type_class(T.DecimalType(18, 4)) == "decimal"
