"""Local replica of the driver's correctness gate: every queries()
entry with an oracle_sql() twin must match DuckDB on the same parquet
(row count + order-insensitive values + canonical dtypes), at sf0.01
like the driver.

The dtype leg exists because the driver's value-hash is type-sensitive:
round 4 proved an uncast DuckDB window ``sum(BIGINT)`` (HUGEINT →
decimal128 in Arrow) hashes differently from Spark's bigint even when
every value is identical, and the old ``int()``/``round()`` cell
coercion here could never see it. Each oracle result is now fetched as
an Arrow table and its schema compared, column by column, against the
Spark schema under a canonical mapping (all int widths → "int", all
float widths → "float", decimal deliberately its own class)."""

import decimal
import math

import duckdb
import pyarrow as pa
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


# entries whose Spark result is empty at sf0.01; every other oracled
# entry must return rows, so the gate never compares two empty sets
EMPTY_AT_SF001 = {
    "customers_without_orders": "each of the 1,500 customers has an order",
    "event_set_ops": "every purchaser also logs an error: the EXCEPT is empty",
}


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, int):
        return int(v)
    if isinstance(v, decimal.Decimal):
        # reached only when BOTH engines emit decimal (the dtype gate
        # rejects decimal-vs-int/float); normalize scale across engines
        if v == v.to_integral_value():
            return int(v)
        return round(float(v), 9)
    return str(v)


def _canon_arrow(t) -> str:
    """Arrow DataType -> canonical class. Widths collapse (the driver is
    green across int32/int64 twins) but decimal is its OWN class so an
    uncast HUGEINT sum() can never pass against a Spark bigint/double."""
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_canon_arrow(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{_canon_arrow(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{_canon_arrow(t.key_type)},{_canon_arrow(t.item_type)}>"
    return f"other:{t}"


def _canon_spark(t) -> str:
    from pyspark.sql import types as T

    if isinstance(t, T.BooleanType):
        return "bool"
    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(t, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(t, T.DecimalType):
        return "decimal"
    if isinstance(t, T.StringType):
        return "str"
    if isinstance(t, T.BinaryType):
        return "bin"
    if isinstance(t, T.DateType):
        return "date"
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(t, T.ArrayType):
        return f"list<{_canon_spark(t.elementType)}>"
    if isinstance(t, T.StructType):
        inner = ",".join(f"{f.name}:{_canon_spark(f.dataType)}" for f in t.fields)
        return f"struct<{inner}>"
    if isinstance(t, T.MapType):
        return f"map<{_canon_spark(t.keyType)},{_canon_spark(t.valueType)}>"
    return f"other:{t}"


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    )


ORACLED = sorted(set(entry_mod.oracle_sql()) & set(entry_mod.queries()))


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    df = q(spark, SF_DIR)
    cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]

    tbl = ddb.execute(entry_mod.oracle_sql()[name]).fetch_arrow_table()
    ocols = tbl.column_names
    orows = list(zip(*(c.to_pylist() for c in tbl.columns))) if ocols else []

    assert sorted(cols) == sorted(ocols), f"{name}: column names differ"

    # type-faithful leg: the driver's value-hash is type-sensitive, so an
    # uncast DuckDB HUGEINT/decimal vs Spark bigint must fail HERE first
    spark_canon = {f.name: _canon_spark(f.dataType) for f in df.schema.fields}
    oracle_canon = {
        tbl.schema.field(i).name: _canon_arrow(tbl.schema.field(i).type)
        for i in range(len(ocols))
    }
    dt_mism = {
        c: (spark_canon[c], oracle_canon[c])
        for c in spark_canon
        if spark_canon[c] != oracle_canon[c]
    }
    assert not dt_mism, f"{name}: dtype mismatch (spark, oracle): {dt_mism}"

    assert len(spark_rows) == len(orows), f"{name}: row count differs"
    a = _normalize(spark_rows, cols)
    b = _normalize(orows, ocols)
    mism = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    assert not mism, f"{name}: first mismatch {a[mism[0]]} vs {b[mism[0]]}"
    if name not in EMPTY_AT_SF001:
        assert spark_rows, f"{name}: empty at sf0.01, an empty-set comparison"


def test_dtype_gate_catches_uncast_hugeint(ddb):
    """Self-test of the dtype leg: an uncast DuckDB sum(BIGINT) —
    window or plain — is decimal128 in Arrow and MUST canon to a class
    distinct from Spark's bigint, which is exactly the r4 driver-red
    class (transcript_prepare/transcript_curate start_tok)."""
    raw = ddb.execute(
        "SELECT sum(x) OVER () AS s FROM (SELECT 1::BIGINT AS x)"
    ).fetch_arrow_table()
    assert _canon_arrow(raw.schema.field(0).type) == "decimal"
    cast = ddb.execute(
        "SELECT CAST(sum(x) OVER () AS BIGINT) AS s FROM (SELECT 1::BIGINT AS x)"
    ).fetch_arrow_table()
    assert _canon_arrow(cast.schema.field(0).type) == "int"
    from pyspark.sql import types as T

    assert _canon_spark(T.LongType()) == "int" != "decimal"


def test_oracle_keys_subset_of_queries():
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())


def test_every_unoracled_entry_is_kernel_gated():
    """The entry contract: every queries() entry has a DuckDB twin
    except the two kernel-backed extraction projections, gated by the
    per-turn Spark == kernel equality tests and cross-checked by the
    extract_spans_consistency oracle."""
    assert set(entry_mod.queries()) - set(entry_mod.oracle_sql()) == {
        "extract_spans",
        "extract_turns_scalar",
    }


def test_rows_only_queries_run(spark):
    """The two LSH entries (oracled at sf0.01 above) must also execute
    and return a schema at sf0.001, a scale the oracle gate never
    runs: tiny corpora leave most band buckets with a single doc."""
    qs = entry_mod.queries()
    for name in ("dedup_minhash_lsh", "dedup_simhash"):
        df = qs[name](spark, "/root/testdata/sf0.001")
        assert df.count() >= 0
        assert df.columns


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    n = df.count()
    assert n > 0
    assert df.filter("is_empty").count() < n  # extraction actually extracts


def test_spans_consistency_all_true(spark):
    """The scalar path's n_chunks and the posexplode span transport
    must agree for every conversation — the internal-consistency gate
    over the two intentionally-no-oracle projections."""
    import __spark_entry__ as em

    rows = em.queries()["extract_spans_consistency"](spark, SF_DIR).collect()
    assert rows
    bad = [r.conv_id for r in rows if not r.consistent]
    assert not bad, bad[:5]


def test_half_up_exact_beyond_double_precision(spark):
    """The review fix: HALF_UP of a per-group cents sum must stay
    exact past 2^53, where the earlier floor((S+k)/d)-on-a-double
    formulation silently drifts by a cent."""
    from pyspark.sql import functions as F

    from engine.spark.relational import _half_up

    vals = [
        0, 49, 50, 51, 99, 100, 12345,
        2**53 + 49, 2**53 + 51,          # past double's integer range
        2**60 + 49, 2**60 + 50, 2**60 + 51,
        9_223_372_036_854_775_007,       # near long max, still safe +50
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, s long")
    got = {
        r.i: r.c
        for r in df.groupBy("i").agg(_half_up(F.sum("s"), 100).alias("c")).collect()
    }
    for i, v in enumerate(vals):
        assert got[i] == (v + 50) // 100, (v, got[i], (v + 50) // 100)
