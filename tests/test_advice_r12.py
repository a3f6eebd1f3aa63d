"""Round-12 ADVICE closures (VERDICT r11 #4): low-grade latent
risks, each pinned by the test that would catch the silent split it
protects against.

1. PageRank association drift: the Spark plan and the numpy reference
   must agree at the ROUND(,8) QUANTUM level (not just 1e-6), on a
   fixture verified to sit away from every half-boundary — so any
   future re-association of `damping * dang / n` that moves a value by
   ulps surfaces as a test failure instead of a parity flake.
2. Bloom splitmix coupling: the DuckDB SQL rendering of the splitmix64
   bit-position pipeline (plans/llm_data._splitmix_pos_sql) must equal
   the numpy kernel (operators/membership._positions) on boundary keys
   — the claim the membership docstring makes is now a committed test,
   so a constant edited on one side can no longer desynchronize the
   e4_contamination_bloom oracle silently.
3. SemDeDup magnitude guard: components >= 2^23 must raise (the
   int64/float64 exactness bounds in greedy_keep_int_reference), not
   silently desynchronize the kernel from the DuckDB DOUBLE replay.
"""

from __future__ import annotations

import numpy as np
import pytest


# ------------------------------------------------- 1. pagerank quantum pin
def test_pagerank_matches_reference_at_round8_quantum(spark):
    from public_transit_status_with_apache_kafka_spark.operators import graph
    from tests.test_graph import ref_pagerank

    edges = [
        (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 4), (5, 1),
        (6, 6), (7, 1), (1, 8),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.rank for r in graph.pagerank(df, iters=12).collect()}
    exp = ref_pagerank(edges, iters=12)
    # fixture guard: every reference value sits > 1e-3 quanta away from
    # the x.5e-8 rounding half-boundary, so quantum-level equality below
    # is robust to sub-1e-11 drift but NOT to a re-association that
    # moves a value by a whole quantum
    for u, v in exp.items():
        frac = (v * 1e8) % 1.0
        assert abs(frac - 0.5) > 1e-3, (u, v, frac)
    for u in exp:
        assert got[u] == round(exp[u], 8), (u, got[u], exp[u])


# --------------------------------------------- 2. bloom splitmix coupling
def test_splitmix_sql_matches_numpy_kernel_on_boundary_keys():
    import duckdb

    from public_transit_status_with_apache_kafka_spark.operators import membership
    from public_transit_status_with_apache_kafka_spark.plans.llm_data import (
        _BLOOM_CONTAM_K,
        _BLOOM_CONTAM_M,
        _splitmix_pos_sql,
    )

    # boundary + adversarial keys: zero, power-of-two edges, the 56-bit
    # md5_long ceiling, and full-uint64 extremes (the wrap territory the
    # HUGEINT 32/32-split multiply exists for)
    keys = [
        0, 1, 2, (1 << 31) - 1, 1 << 31, (1 << 32) - 1, 1 << 32,
        (1 << 53) - 1, (1 << 56) - 1, (1 << 63) - 1, 1 << 63,
        (1 << 64) - 1, 0x9E3779B97F4A7C15, 0xDEADBEEFCAFEBABE,
    ]
    con = duckdb.connect()
    h = np.array(keys, dtype=np.uint64)
    for j in range(_BLOOM_CONTAM_K):
        expected = membership._positions(h, j, _BLOOM_CONTAM_M)
        for k, exp in zip(keys, expected):
            sql = _splitmix_pos_sql(f"CAST('{k}' AS UBIGINT)", str(j), _BLOOM_CONTAM_M)
            got = con.execute(f"SELECT {sql}").fetchone()[0]
            assert int(got) == int(exp), (k, j, got, int(exp))


# ------------------------------------------- 3. semdedup magnitude guard
def test_semdedup_int_kernel_rejects_overmagnitude_components():
    from public_transit_status_with_apache_kafka_spark.operators import semdedup

    ids = np.array([1, 2], dtype=np.int64)
    q = np.zeros((2, 4), dtype=np.int64)
    q[0, 0] = 1 << 23  # exactly at the bound: must refuse
    with pytest.raises(ValueError, match="2\\^23"):
        semdedup.greedy_keep_int_reference(ids, q, 81, 100)
    q[0, 0] = (1 << 23) - 1  # just inside: must run
    keep = semdedup.greedy_keep_int_reference(ids, q, 81, 100)
    assert keep.tolist() == [True, True]
