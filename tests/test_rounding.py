"""Cross-engine exactness of functions/rounding.ratio_round_big: the
DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) signed half-away-from-zero
integer-ratio rounding must agree bit-for-bit with a Fraction reference
— including inputs far beyond ratio_round's 2^53 ceiling, negative
numerators, and exact-half ties in both signs."""

from __future__ import annotations

import random
from fractions import Fraction

import duckdb
from pyspark.sql import functions as F

from public_transit_status_with_apache_kafka_spark.functions.rounding import (
    ratio_round_big,
    ratio_round_big_sql,
)


def _expected(num: int, den: int, decimals: int) -> float:
    p = 10**decimals
    s = -1 if num < 0 else 1
    q = s * ((abs(num) * 2 * p + den) // (2 * den))
    return q / float(p)


def _cases() -> list[tuple[int, int]]:
    rng = random.Random(41)
    cases = [
        (0, 1),
        (1, 2),  # exact half -> 0.500001? no: decimals=6 keeps it exact
        (-1, 2),
        (1, 3),
        (-1, 3),
        # numerators far beyond the 2^53 INPUT ceiling (quotients small)
        (10**18 + 7, 10**12 + 9),
        (-(10**18 + 7), 10**12 + 9),
        (4_600_000_000_000_123, 140_000_000_001),
        (-4_600_000_000_000_123, 140_000_000_001),
        (8_888_777_666_555_444_333, 9_234_567_890_123),
        (1, 10**12),
        # exact .5 ties at the rounding digit, both signs
        (15, 10**7),
        (-15, 10**7),
    ]
    for _ in range(300):
        den = rng.randint(1, 10**13)
        max_q = 8_000_000_000  # keeps |q| * 10^6 < 2^53
        bound = max(max_q * den // 10**6, 1)
        cases.append((rng.randint(-bound, bound), den))
    return cases


def test_ratio_round_big_matches_fraction_and_duckdb(spark):
    decimals = 6
    cases = _cases()
    df = spark.createDataFrame(cases, "num long, den long")
    got = {
        (r.num, r.den): r.r
        for r in df.select(
            "num",
            "den",
            ratio_round_big(F.col("num"), F.col("den"), decimals).alias("r"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(num BIGINT, den BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", cases)
    duck = {
        (n, d): r
        for n, d, r in con.execute(
            f"SELECT num, den, {ratio_round_big_sql('num', 'den', decimals)} FROM t"
        ).fetchall()
    }
    for num, den in cases:
        exp = _expected(num, den, decimals)
        assert got[(num, den)] == exp, ("spark", num, den, got[(num, den)], exp)
        assert duck[(num, den)] == exp, ("duckdb", num, den, duck[(num, den)], exp)
    # spot-check the Fraction reference is really half-away-from-zero
    assert _expected(15, 10**7, 6) == 0.000002
    assert _expected(-15, 10**7, 6) == -0.000002
    assert _expected(1, 3, 6) == 0.333333
    # sanity against python's float division on a benign case
    num, den = 123456789, 97
    assert abs(_expected(num, den, 6) - num / den) < 1e-6


def test_ratio_round_big_decimal_zero_emits_integers(spark):
    """decimals=0 (the entropy-op form) must produce exact integer
    doubles castable to long without drift."""
    cases = [(10**15 + 7, 3), (-(10**15 + 7), 3), (1, 2), (3, 2), (5, 2)]
    df = spark.createDataFrame(cases, "num long, den long")
    got = [
        r.r
        for r in df.select(
            ratio_round_big(F.col("num"), F.col("den"), 0).alias("r")
        ).collect()
    ]
    exp = [_expected(n, d, 0) for n, d in cases]
    assert got == exp
    assert all(v == int(v) for v in got)
    # HALF-UP on the .5 boundary: 1/2 -> 1, 3/2 -> 2, 5/2 -> 3
    assert exp[2:] == [1.0, 2.0, 3.0]


def test_div_round_int_matches_reference_and_duckdb(spark):
    """plans/analytics2._div_round_int(_sql): the BIGINT-emitting sibling
    of ratio_round_big (for values SUMMED after rounding) must agree with
    the integer half-away-from-zero reference and with DuckDB on the same
    case battery — signs, ties, and beyond-2^53 numerators included."""
    from public_transit_status_with_apache_kafka_spark.plans.analytics2 import (
        _div_round_int,
        _div_round_int_sql,
    )

    from decimal import Decimal

    cases = _cases()[:120]
    con = duckdb.connect()
    df = spark.createDataFrame(
        [(Decimal(n), Decimal(d)) for n, d in cases],
        "num decimal(38,0), den decimal(38,0)",
    )
    got = [
        r["q"]
        for r in df.select(
            _div_round_int(F.col("num"), F.col("den"), 6).alias("q")
        ).collect()
    ]
    for (num, den), g in zip(cases, got):
        p = 10**6
        s = -1 if num < 0 else 1
        want = s * ((abs(num) * 2 * p + den) // (2 * den))
        assert g == want, (num, den, g, want)
        sql_got = con.execute(
            f"SELECT {_div_round_int_sql(str(num), str(den), 6)}"
        ).fetchone()[0]
        assert sql_got == want, (num, den, sql_got, want)


def test_tpch_revenue_rounds_exact_half_cents_like_duckdb(spark, tmp_path):
    """q3/q5 revenue on lines whose discounted price is an exact half
    cent: 45316.35 x 0.9 = 40784.715 and 34409.45 x 0.9 = 30968.505.
    Rounded as doubles the first splits the engines (Spark 40784.72,
    DuckDB 40784.71) and the second is wrong in both (30968.50). The
    integer-unit revenue gives the exact HALF-UP cents on both sides."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    double_rev = "round(45316.35::DOUBLE * (1 - 0.10::DOUBLE), 2)"
    assert duckdb.sql(f"SELECT {double_rev}").fetchone()[0] == 40784.71
    assert spark.sql(f"SELECT {double_rev} AS r").first().r == 40784.72
    day = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    tables = {
        "region": {"r_regionkey": [0], "r_name": ["AMERICA"]},
        "nation": {"n_nationkey": [1, 2], "n_name": ["N1", "N2"], "n_regionkey": [0, 0]},
        "customer": {"c_custkey": [1, 2], "c_nationkey": [1, 2],
                     "c_mktsegment": ["BUILDING", "BUILDING"]},
        "supplier": {"s_suppkey": [1, 2], "s_nationkey": [1, 2]},
        "orders": {"o_orderkey": [1, 2], "o_custkey": [1, 2],
                   "o_orderdate": [day("1997-06-01")] * 2,
                   "o_orderpriority": ["1-URGENT", "2-HIGH"]},
        "lineitem": {"l_orderkey": [1, 2], "l_suppkey": [1, 2],
                     "l_extendedprice": [45316.35, 34409.45],
                     "l_discount": [0.10, 0.10],
                     "l_shipdate": [day("1998-06-01")] * 2},
    }
    con = duckdb.connect()
    for name, cols in tables.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    want = {40784.72, 30968.51}
    for q in ("q3_shipping_priority", "q5_local_supplier_volume"):
        got = {r.revenue for r in entry.queries()[q](spark, str(tmp_path)).collect()}
        oracle = {r[0] for r in con.execute(
            f"SELECT revenue FROM ({entry.oracle_sql()[q]})"
        ).fetchall()}
        assert got == oracle == want, (q, got, oracle)
