"""Planted-fixture tests for the temporal joins (as-of, range-count), the
KMV distinct sketch, chunk-level dedup stats and the mix planner."""

from __future__ import annotations

import datetime as dt
import hashlib

from pyspark.sql import functions as F


def _ts(minute: int, micro: int = 0):
    return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(
        minutes=minute, microseconds=micro
    )


def _events(spark, rows):
    return spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")


def test_asof_join_planted(spark):
    from blink_spark.operators.temporal import asof_join

    clicks = _events(
        spark,
        [
            (101, 1, _ts(10)),
            (102, 1, _ts(20)),
            (103, 1, _ts(30)),
            (104, 2, _ts(1)),  # user with no purchases at all
        ],
    )
    purchases = _events(
        spark,
        [
            (201, 1, _ts(5)),
            (202, 1, _ts(20)),  # same instant as click 102: visible
            (203, 1, _ts(25)),
            (204, 1, _ts(25)),  # tie on ts: larger event_id wins
            (205, 1, _ts(40)),  # future: never matched
        ],
    )
    got = {
        r["event_id"]: (r["matched_event_id"], r["lag_us"])
        for r in asof_join(clicks, purchases, on="user_id").collect()
    }
    assert got == {
        101: (201, 5 * 60 * 1_000_000),
        102: (202, 0),
        103: (204, 5 * 60 * 1_000_000),
        104: (None, None),
    }


def test_asof_join_is_single_shuffle(spark):
    """The merge form must shuffle ONCE on the key — no join operator, no
    pair explosion — or it is not the 100 TB plan."""
    from blink_spark.operators.temporal import asof_join

    l = _events(spark, [(1, 1, _ts(1))])
    r = _events(spark, [(2, 1, _ts(0))])
    plan = asof_join(l, r, on="user_id")._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_window_range_count_boundaries(spark, monkeypatch):
    from blink_spark.operators.temporal import window_range_count

    lb = 600  # 10 minutes
    clicks = _events(spark, [(100, 1, _ts(20))])
    views = _events(
        spark,
        [
            (1, 1, _ts(10)),            # exactly lookback old: counted
            (2, 1, _ts(10, micro=-1)),  # 1 us older: out
            (3, 1, _ts(15)),            # inside
            (4, 1, _ts(20)),            # at the probe instant: counted
            (5, 1, _ts(20, micro=1)),   # 1 us later: out
            (6, 2, _ts(19)),            # other user: out
        ],
    )
    monkeypatch.setattr("blink_spark.operators.temporal.LOOKBACK_S", lb)
    [row] = window_range_count(clicks, views, on="user_id").collect()
    assert (row["event_id"], row["n_in_window"]) == (100, 3)


def test_window_range_count_zero_when_no_right_rows(spark):
    from blink_spark.operators.temporal import window_range_count

    clicks = _events(spark, [(1, 7, _ts(0))])
    views = _events(spark, [(2, 8, _ts(0))])  # other key only
    [row] = window_range_count(clicks, views, on="user_id").collect()
    assert row["n_in_window"] == 0


def _kmv_py(values, k):
    hs = sorted(
        {int(hashlib.md5(f"kmv:{v}".encode()).hexdigest()[:8], 16) for v in values}
    )
    n = len(hs)
    if n < k:
        return n, None, n
    return n, hs[k - 1], (k - 1) * (1 << 32) // hs[k - 1]


def test_kmv_matches_pure_python(spark):
    from blink_spark.operators.sketch import kmv_distinct

    small = [("a", i) for i in range(3)]          # 3 < k: sketch exact
    big = [("b", i * 13 + 7) for i in range(200)]  # 200 distinct, duplicated rows
    df = spark.createDataFrame(small + big + big, "grp string, uid long")
    got = {
        r["grp"]: (r["n_exact"], r["kth_hash"], r["est_distinct"])
        for r in kmv_distinct(df, key_col="uid", group_col="grp").collect()
    }
    assert got["a"] == _kmv_py(range(3), 8)
    assert got["b"] == _kmv_py([i * 13 + 7 for i in range(200)], 8)


def test_kmv_estimate_in_error_band(spark, monkeypatch):
    """k=64 on 5000 distinct keys: the KMV relative error is ~1/sqrt(k-2);
    assert a generous 4-sigma band so the test is deterministic-but-honest."""
    from blink_spark.operators.sketch import kmv_distinct

    monkeypatch.setattr("blink_spark.operators.sketch.KMV_K", 64)
    df = spark.range(5000).select(
        F.lit("g").alias("grp"), F.col("id").alias("uid")
    )
    [row] = kmv_distinct(df, key_col="uid", group_col="grp").collect()
    assert row["n_exact"] == 5000
    assert abs(row["est_distinct"] - 5000) / 5000 < 4 / (62**0.5)


def test_chunk_dedup_stats_planted(spark):
    from blink_spark.operators.corpus import chunk_dedup_stats

    block_a = " ".join(f"a{i}" for i in range(16))
    block_b = " ".join(f"b{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (1, f"{block_a} {block_b}"),   # first occurrence of both chunks
            (2, f"{block_a} {block_b}"),   # exact dup: 2/2 chunks duplicate
            (3, f"{block_a} {block_a}"),   # one cross-doc dup + one self dup
            (4, " ".join(f"u{i}" for i in range(20))),  # unique, ragged tail
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"], r["dup_chunk_frac"])
        for r in chunk_dedup_stats(docs).collect()
    }
    assert got == {
        1: (2, 0, 0.0),
        2: (2, 2, 1.0),
        3: (2, 2, 1.0),
        4: (2, 0, 0.0),
    }


def test_mix_plan_planted(spark, monkeypatch):
    from blink_spark.operators.corpus import mix_plan

    # stratum "big": 4 docs x 5 tokens = 20 tokens; "tiny": 1 doc x 2 tokens.
    rows = [(i, "w x y z q", "big") for i in range(4)] + [(9, "a b", "tiny")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    monkeypatch.setattr("blink_spark.operators.corpus.MIX_BUDGET_TOKENS", 20)
    got = {
        r["stratum"]: (r["n_docs"], r["n_toks"], r["rate_ppm"], r["exp_toks"])
        for r in mix_plan(docs).collect()
    }
    # budget 20 over 2 strata = 10 tokens each:
    # big: 10*1e6 div 20 = 500_000 ppm -> 20*0.5 = 10 tokens expected
    # tiny: 10*1e6 div 2 = 5e6 -> capped at 1e6 -> keeps all 2 tokens
    assert got == {"big": (4, 20, 500_000, 10), "tiny": (1, 2, 1_000_000, 2)}


def _hll_py(values, p=4):
    m = 1 << p
    width = 32 - p
    alpha_milli = {16: 673, 32: 697, 64: 709}[m]
    regs = {}
    hs = {int(hashlib.md5(f"kmv:{v}".encode()).hexdigest()[:8], 16) for v in values}
    for h in hs:
        j, w = h % m, h // m
        rho = width - w.bit_length() + 1
        regs[j] = max(regs.get(j, 0), rho)
    v_empty = m - len(regs)
    s = sum(1 << (32 - mj) for mj in regs.values()) + v_empty * (1 << 32)
    raw = (alpha_milli * m * m * (1 << 32)) // (1000 * s)
    if raw <= (5 * m) // 2 and v_empty > 0:
        import math

        est = int(math.floor(m * math.log(m / v_empty)))
    else:
        est = raw
    return len(hs), v_empty, s, est


def test_hll_matches_pure_python(spark):
    from blink_spark.operators.sketch import hll_distinct

    small = [("a", f"s{i}") for i in range(5)]       # linear-counting branch
    big = [("b", f"t{i}") for i in range(3000)]      # raw-estimator branch
    df = spark.createDataFrame(small + big + small, "grp string, tok string")
    got = {
        r["grp"]: (r["n_exact"], r["v_empty"], r["s_scaled"], r["est_distinct"])
        for r in hll_distinct(df, key_col="tok", group_col="grp").collect()
    }
    assert got["a"] == _hll_py([f"s{i}" for i in range(5)])
    assert got["b"] == _hll_py([f"t{i}" for i in range(3000)])
    # branch sanity: "a" must have taken linear counting, "b" the raw path
    assert got["a"][1] > 0 and got["b"][0] == 3000


def test_hll_estimate_in_error_band(spark, monkeypatch):
    """m=64 on 20000 distinct keys: HLL relative error ~1.04/sqrt(m);
    assert a generous 5-sigma band."""
    from blink_spark.operators.sketch import hll_distinct

    monkeypatch.setattr("blink_spark.operators.sketch.HLL_P", 6)
    df = spark.range(20000).select(
        F.lit("g").alias("grp"), F.col("id").cast("string").alias("tok")
    )
    [row] = hll_distinct(df, key_col="tok", group_col="grp").collect()
    assert row["n_exact"] == 20000
    assert abs(row["est_distinct"] - 20000) / 20000 < 5 * 1.04 / 8.0


def test_hll_rejects_unsupported_p(spark, monkeypatch):
    import pytest as _pytest

    from blink_spark.operators.sketch import hll_distinct

    monkeypatch.setattr("blink_spark.operators.sketch.HLL_P", 10)
    df = spark.range(1).select(F.lit("g").alias("grp"), F.col("id").alias("tok"))
    # no alpha constant for m = 2^10: the plan is refused while it is built
    with _pytest.raises(KeyError):
        hll_distinct(df, key_col="tok", group_col="grp")


def test_temporal_null_semantics_match_sql_equijoin(spark, monkeypatch):
    """NULL keys / NULL timestamps never match (= / <= semantics): NULL-key
    or NULL-ts left rows come out unmatched / zero, NULL right rows are
    ignored — window partitioning must not group NULLs the way SQL never
    does."""
    from blink_spark.operators.temporal import asof_join, window_range_count

    clicks = _events(
        spark,
        [(301, None, _ts(5)), (302, 1, None), (303, 1, _ts(5))],
    )
    purchases = _events(
        spark,
        [(401, None, _ts(0)), (402, 1, None), (403, 1, _ts(0))],
    )
    got = {
        r["event_id"]: r["matched_event_id"]
        for r in asof_join(clicks, purchases, on="user_id").collect()
    }
    assert got == {301: None, 302: None, 303: 403}

    monkeypatch.setattr("blink_spark.operators.temporal.LOOKBACK_S", 3600)
    counts = {
        r["event_id"]: r["n_in_window"]
        for r in window_range_count(clicks, purchases, on="user_id").collect()
    }
    assert counts == {301: 0, 302: 0, 303: 1}


def test_asof_join_carries_left_and_right_payloads(spark):
    from blink_spark.operators.temporal import asof_join

    clicks = spark.createDataFrame(
        [(101, 1, _ts(10), "home")],
        "event_id long, user_id long, ts timestamp, page string",
    )
    purchases = spark.createDataFrame(
        [(201, 1, _ts(5), 9.5)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    [row] = asof_join(
        clicks, purchases, on="user_id",
        payload_cols=("value",), left_cols=("page",),
    ).collect()
    assert (row["event_id"], row["page"], row["matched_event_id"],
            row["matched_value"]) == (101, "home", 201, 9.5)
