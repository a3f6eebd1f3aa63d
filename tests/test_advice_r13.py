"""Round-13 closures of the r12 VERDICT/ADVICE measurement-honesty and
governance items, each pinned by the test that would catch a silent
regression:

1. Shared-front memo governance (VERDICT r12 #6): the off-switch
   computes fresh every call; the LRU entry cap evicts and the next
   consumer RECOMPUTES (never a stale read).
2. Front-identity bench honesty (VERDICT r12 #1): e2_minhash_signatures
   and e2_lsh_candidate_pairs must NOT return the memoized front object
   — each invocation builds a fresh frame (their timed reps measure the
   work the query names), while consumer queries keep sharing.
3. Rank pass-1 collect bound: past the configured row bound the
   driver collect fails loudly instead of growing toward a driver OOM.
4. Scratch gating (ADVICE r12, medium): the automatic /dev/shm pick is
   refused when free space is below the floor; an explicit
   $SPARK_GRAFT_SCRATCH always wins.
"""

from __future__ import annotations

import os

import pytest


SF = "/root/testdata/sf0.001"


# ---------------------------------------------- 1. memo governance
def test_shared_front_off_switch_disables_memo(spark, monkeypatch):
    from public_transit_status_with_apache_kafka_spark.plans import llm_data

    calls = []

    def builder():
        calls.append(1)
        return spark.range(3)

    monkeypatch.setenv(llm_data._FRONT_DISABLE_ENV, "1")
    llm_data._shared_frame(spark, SF, "adv13_off", builder)
    llm_data._shared_frame(spark, SF, "adv13_off", builder)
    assert len(calls) == 2  # no memo: every call recomputes
    # and nothing was pinned under this kind
    per_session = llm_data._PAIR_FRONT_SHARED.get(spark) or {}
    assert all(k[1] != "adv13_off" for k in per_session)


def test_shared_front_lru_cap_evicts_and_recomputes(spark, monkeypatch):
    from public_transit_status_with_apache_kafka_spark.plans import llm_data

    monkeypatch.delenv(llm_data._FRONT_DISABLE_ENV, raising=False)
    monkeypatch.setenv(llm_data._FRONT_CAP_ENV, "1")
    # clean slate for this session's memo so the cap math is exact
    llm_data._PAIR_FRONT_SHARED.pop(spark, None)

    calls = {"a": 0, "b": 0}

    def mk(kind):
        def builder():
            calls[kind] += 1
            return spark.range(2)

        return builder

    f1 = llm_data._shared_frame(spark, SF, "adv13_a", mk("a"))
    assert calls == {"a": 1, "b": 0}
    # same kind again: memo hit, no rebuild
    assert llm_data._shared_frame(spark, SF, "adv13_a", mk("a")) is f1
    assert calls == {"a": 1, "b": 0}
    # cap=1: pinning b evicts a
    llm_data._shared_frame(spark, SF, "adv13_b", mk("b"))
    assert calls == {"a": 1, "b": 1}
    # a was evicted -> falls back to recompute (not a stale read)
    f1b = llm_data._shared_frame(spark, SF, "adv13_a", mk("a"))
    assert calls == {"a": 2, "b": 1}
    assert f1b is not f1
    llm_data._PAIR_FRONT_SHARED.pop(spark, None)


# ------------------------------------ 2. front-identity bench honesty
def test_front_identity_queries_build_fresh(spark):
    import __spark_entry__ as entry

    from public_transit_status_with_apache_kafka_spark.plans.llm_data import (
        _shared_lsh_pairs,
        _shared_sig,
    )

    q = entry.queries()
    sig_memo = _shared_sig(spark, SF)
    pairs_memo = _shared_lsh_pairs(spark, SF)
    got_sig = q["e2_minhash_signatures"](spark, SF)
    got_pairs = q["e2_lsh_candidate_pairs"](spark, SF)
    # fresh objects, not the memoized fronts
    assert got_sig is not sig_memo
    assert got_pairs is not pairs_memo
    # and a SECOND invocation is fresh again (no per-query memo crept in)
    assert q["e2_minhash_signatures"](spark, SF) is not got_sig
    assert q["e2_lsh_candidate_pairs"](spark, SF) is not got_pairs
    # value identity with the shared fronts (the sharing-is-sound claim)
    assert sorted(got_sig.collect()) == sorted(sig_memo.collect())
    assert sorted(got_pairs.collect()) == sorted(pairs_memo.collect())


# ----------------------------------------- 3. pass-1 collect loud bound
def test_rank_pass1_collect_bound_is_loud(spark, monkeypatch):
    """VERDICT r12 'What's wrong #6': the two-pass skeleton's driver
    collect must fail LOUDLY past the configured row bound instead of
    silently growing toward a driver OOM at high stratum cardinality."""
    from public_transit_status_with_apache_kafka_spark.operators import rank

    df = spark.createDataFrame(
        [(chr(97 + i % 5), i, i) for i in range(50)], "s string, o int, v int"
    )
    monkeypatch.setenv(rank._RANK_COLLECT_MAX_ENV, "2")
    with pytest.raises(RuntimeError, match="pass-1 collect"):
        rank.stratified_rank(df, ["s"], ["o"]).collect()
    monkeypatch.delenv(rank._RANK_COLLECT_MAX_ENV)
    out = rank.stratified_rank(df, ["s"], ["o"])
    assert out.count() == 50  # default bound: untouched behavior


# ------------------------------------------------- 4. scratch gating
def test_scratch_auto_pick_gated_on_free_space(monkeypatch):
    from public_transit_status_with_apache_kafka_spark import io_util

    monkeypatch.delenv(io_util._SCRATCH_ENV, raising=False)
    # absurd floor: /dev/shm can never satisfy it -> fall back to default
    monkeypatch.setenv(io_util._SHM_MIN_FREE_ENV, str(1 << 20))
    assert io_util._scratch_root() is None
    # floor of 0: any writable /dev/shm qualifies
    monkeypatch.setenv(io_util._SHM_MIN_FREE_ENV, "0")
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        assert io_util._scratch_root() == "/dev/shm"
    # explicit deployment config always wins, floor irrelevant
    monkeypatch.setenv(io_util._SHM_MIN_FREE_ENV, str(1 << 20))
    monkeypatch.setenv(io_util._SCRATCH_ENV, "/tmp/custom-scratch")
    assert io_util._scratch_root() == "/tmp/custom-scratch"
