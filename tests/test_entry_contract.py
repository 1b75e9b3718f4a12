"""Mimic the driver's correctness gate: run each queries()[k] on Spark and
oracle_sql()[k] on DuckDB at sf0.001 (sf0.01 is the driver's level; 0.001
keeps the suite fast) and compare row count + sorted values."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            if isinstance(v, float):
                v = round(v, 6)
                if math.isclose(v, 0, abs_tol=1e-9):
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql().keys()))
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    df = q(spark, SF)
    cols = sorted(df.columns)
    spark_rows = normalize([r.asDict() for r in df.collect()], cols)
    res = ddb.execute(entry_mod.oracle_sql()[name]).fetch_arrow_table().to_pylist()
    duck_rows = normalize(res, cols)
    assert len(spark_rows) == len(duck_rows), f"{name}: row count mismatch"
    assert spark_rows == duck_rows, f"{name}: value mismatch\nspark={spark_rows[:3]}\nduck={duck_rows[:3]}"


@pytest.mark.parametrize("name", ["conductance", "modularity"])
def test_oracle_integer_column_types_match_spark(spark, ddb, name):
    """Value equality alone cannot see a type drift: DuckDB's sum() over
    BIGINT is HUGEINT, which reaches Arrow as decimal128(38, 0) while Spark
    emits int64. Every integer column of the oracle must carry the Arrow
    type of the Spark column."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import IntegralType

    df = entry_mod.queries()[name](spark, SF)
    duck = ddb.execute(entry_mod.oracle_sql()[name]).fetch_arrow_table().schema
    ints = [f for f in df.schema.fields if isinstance(f.dataType, IntegralType)]
    assert ints, f"{name}: no integer columns to check"
    for f in ints:
        assert duck.field(f.name).type == to_arrow_type(f.dataType), (
            f"{name}.{f.name}: oracle {duck.field(f.name).type} vs "
            f"spark {f.dataType.simpleString()}"
        )


def test_rows_only_queries_run(spark):
    """Queries without a SQL oracle must still run and return rows."""
    qs = entry_mod.queries()
    for name in set(qs) - set(entry_mod.oracle_sql()):
        df = qs[name](spark, SF)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert rows == sorted(rows, key=lambda r: (-r["rank"], r["node_name"]))
