"""Unit tests for the round-5 tail operators (duplicate-ngram spans,
integer PageRank, exact quantiles, funnel) against hand-computed truths."""

from __future__ import annotations


def test_duplicate_ngram_spans_merges_to_maximal_extent(spark):
    from blink_spark.operators.dedup import duplicate_ngram_spans

    shared = "the quick brown fox jumps over gate"  # 7 words -> 3 dup 5-grams
    docs = spark.createDataFrame(
        [
            (1, f"u1 u2 {shared} a1 a2"),  # shared at token offsets 2..8
            (2, f"b1 {shared} b2 b3 b4"),  # shared at token offsets 1..7
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9"),  # nothing shared
        ],
        "doc_id int, text string",
    )
    out = {
        r["record_id"]: (r["span_start"], r["span_end"], r["n_dup_grams"])
        for r in duplicate_ngram_spans(docs, "doc_id", "text").collect()
    }
    assert out == {1: (2, 8, 3), 2: (1, 7, 3)}


def test_duplicate_ngram_spans_keeps_separate_islands(spark):
    from blink_spark.operators.dedup import duplicate_ngram_spans

    p1 = "alpha beta gamma delta epsilon"  # exactly one 5-gram
    p2 = "zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"{p1} x1 x2 x3 x4 x5 x6 {p2}"),
            (2, f"{p1} y1 y2"),
            (3, f"z1 z2 {p2}"),
        ],
        "doc_id int, text string",
    )
    rows = sorted(
        (r["record_id"], r["span_start"], r["span_end"])
        for r in duplicate_ngram_spans(docs, "doc_id", "text").collect()
    )
    # doc 1 carries TWO maximal islands (offsets 0-4 and 11-15), not one
    assert rows == [(1, 0, 4), (1, 11, 15), (2, 0, 4), (3, 2, 6)]


def test_integer_pagerank_path_graph_exact(spark, monkeypatch):
    from blink_spark.operators.cluster import integer_pagerank

    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "u string, v string")
    with monkeypatch.context() as m:
        m.setattr("blink_spark.operators.cluster.PAGERANK_ITERS", 1)
        got = {
            r["record_id"]: (r["pr_ppm"], r["deg"])
            for r in integer_pagerank(edges).collect()
        }
    # r1(a) = 150000 + 850*(1000000 div 2) div 1000 = 575000 (from b's share)
    # r1(b) = 150000 + 850*(1000000 + 1000000) div 1000 = 1850000
    assert got == {"a": (575000, 1), "b": (1850000, 2), "c": (575000, 1)}
    assert sorted(r["record_id"] for r in integer_pagerank(edges).collect()) == [
        "a",
        "b",
        "c",
    ]


def test_exact_quantiles_percentile_disc_semantics(spark):
    from blink_spark.operators.corpus import exact_quantiles

    vals = spark.createDataFrame([(i,) for i in range(1, 11)], "v long")
    got = {
        r["pct"]: r["val"]
        for r in exact_quantiles(vals, "v", [25, 50, 75, 90, 99]).collect()
    }
    # threshold = ceil(p*10/100): 25->cum>=3, 50->5, 75->8 (ceil 7.5), 99->10
    assert got == {25: 3, 50: 5, 75: 8, 90: 9, 99: 10}


def test_funnel_steps_strict_ordering(spark):
    from blink_spark.operators.temporal import funnel_steps

    ev = spark.createDataFrame(
        [
            (1, 1, "view"),
            (1, 2, "click"),
            (1, 3, "purchase"),
            (2, 1, "click"),  # click BEFORE view: must not qualify
            (2, 2, "view"),
            (2, 3, "purchase"),  # purchase without a qualifying click: no
            (3, 1, "view"),
        ],
        "user_id int, ts long, event_type string",
    )
    out = {
        r["event_type"]: (r["step"], r["n_users"])
        for r in funnel_steps(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]).collect()
    }
    assert out == {"view": (1, 3), "click": (2, 1), "purchase": (3, 1)}


def test_ngram_novelty_corpus_first_election(spark):
    from blink_spark.operators.dedup import ngram_novelty

    six = "w1 w2 w3 w4 w5 w6"  # 2 distinct 5-grams
    docs = spark.createDataFrame(
        [(1, six), (2, f"{six} x1 x2 x3 x4 x5")],  # doc2: 7 grams, 2 reused
        "doc_id int, text string",
    )
    got = {
        r["record_id"]: (r["n_grams"], r["n_novel"], r["novelty_ppm"])
        for r in ngram_novelty(docs, "doc_id", "text").collect()
    }
    assert got == {1: (2, 2, 1000000), 2: (7, 5, 5000000 // 7)}


def test_retention_cohorts_integer_weeks(spark):
    from datetime import datetime

    from blink_spark.operators.temporal import retention_cohorts

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 8)),  # wk 0
            (1, datetime(2024, 1, 9, 8)),  # wk 1 -> offset 1
            (2, datetime(2024, 1, 2, 8)),  # wk 0 only
            (3, datetime(2024, 1, 10, 8)),  # wk 1 cohort
            (3, datetime(2024, 1, 24, 8)),  # wk 3 -> offset 2
        ],
        "user_id int, ts timestamp",
    )
    got = {
        (r["cohort_week"], r["week_offset"]): (
            r["n_users"],
            r["cohort_size"],
            r["retention_ppm"],
        )
        for r in retention_cohorts(ev, "user_id", "ts").collect()
    }
    assert got == {
        (0, 0): (2, 2, 1000000),
        (0, 1): (1, 2, 500000),
        (1, 0): (1, 1, 1000000),
        (1, 2): (1, 1, 1000000),
    }


def test_kcore_peel_cascading_evictions(spark):
    from blink_spark.operators.cluster import kcore_peel

    # K4 core {1,2,3,4}; node 5 bridges node 1 to pendants 6,7.
    # Round 1 evicts 6,7 (deg 1); that drops 5 to deg 1, evicted round 2;
    # the K4 survives all rounds at core degree 3 (node 1 started at 4).
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (1, 5), (5, 6), (5, 7)],
        "u int, v int",
    )
    got = {
        r["record_id"]: (r["deg0"], r["removed_round"], r["core_deg"])
        for r in kcore_peel(edges).collect()
    }
    assert got == {
        1: (4, 0, 3),
        2: (3, 0, 3),
        3: (3, 0, 3),
        4: (3, 0, 3),
        5: (3, 2, 0),
        6: (1, 1, 0),
        7: (1, 1, 0),
    }


def test_bfs_seed_distance_bounded_hops(spark):
    from blink_spark.operators.cluster import bfs_seed_distance

    # path 1-2-3-4-5: single local-min seed 1; node 5 is 4 hops out,
    # beyond rounds=3 -> -1. Triangle {10,11,12}: seed 10, both others 1
    # hop. Cherry 30-32-31: TWO seeds (30, 31), center at hop 1.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (30, 32), (31, 32)],
        "u int, v int",
    )
    got = {
        r["record_id"]: r["bfs_dist"]
        for r in bfs_seed_distance(edges).collect()
    }
    assert got == {
        1: 0, 2: 1, 3: 2, 4: 3, 5: -1,
        10: 0, 11: 1, 12: 1,
        30: 0, 31: 0, 32: 1,
    }


def test_link_prediction_distance_two_pairs_only(spark):
    from blink_spark.operators.cluster import link_prediction

    # square 1-2-3-4-1 with pendant 5 on node 1: the two diagonals are the
    # only pairs with >= 2 common neighbors; pendant wedges (cn=1) are
    # pruned; adjacent pairs never appear.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (1, 5)],
        "u int, v int",
    )
    got = {
        (r["record_id_a"], r["record_id_b"]): (
            r["common_neighbors"],
            r["jaccard_ppm"],
        )
        for r in link_prediction(edges).collect()
    }
    # (1,3): cn {2,4}, deg 3 and 2 -> 2/(3+2-2) = 666666 ppm
    # (2,4): cn {1,3}, deg 2 and 2 -> 2/(2+2-2) = 1000000 ppm
    assert got == {(1, 3): (2, 666666), (2, 4): (2, 1000000)}


def test_local_clustering_triangle_with_pendant(spark):
    from blink_spark.operators.cluster import local_clustering

    # triangle {1,2,3} + pendant 4 on node 3
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)],
        "u int, v int",
    )
    got = {
        r["record_id"]: (r["deg"], r["n_triangles"], r["lcc_ppm"])
        for r in local_clustering(edges).collect()
    }
    assert got == {
        1: (2, 1, 1000000),
        2: (2, 1, 1000000),
        3: (3, 1, 333333),
        4: (1, 0, 0),
    }


def test_markov_transitions_counts_and_tie_order(spark):
    from datetime import datetime

    from blink_spark.operators.temporal import markov_transitions

    t1, t2, t3 = (datetime(2024, 1, 1, h) for h in (9, 10, 11))
    # user 1: A,B share a timestamp (event_id breaks the tie), then A, C;
    # user 2: A then B. Transitions: A->B x2, B->A x1, A->C x1.
    ev = spark.createDataFrame(
        [
            (1, t1, 1, "A"),
            (2, t1, 1, "B"),
            (3, t2, 1, "A"),
            (4, t3, 1, "C"),
            (5, t1, 2, "A"),
            (6, t2, 2, "B"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    got = {
        (r["src_type"], r["dst_type"]): (r["n_transitions"], r["p_ppm"])
        for r in markov_transitions(
            ev, "user_id", "ts", "event_type", "event_id"
        ).collect()
    }
    assert got == {
        ("A", "B"): (2, 666666),
        ("B", "A"): (1, 1000000),
        ("A", "C"): (1, 333333),
    }


def test_canopy_assign_hand_computed(spark):
    from blink_spark.operators.blocking import canopy_assign

    # token dfs: alpha {r1,r2}, beta {r1,r3}, gamma {r2,r3} (all df=2),
    # delta df=1 (dropped), epsilon/zeta {r5,r6} (df=2).
    rows = [
        ("r1", "alpha beta"),
        ("r2", "alpha gamma"),
        ("r3", "beta gamma"),
        ("r4", "delta"),
        ("r5", "epsilon zeta"),
        ("r6", "epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, ["mention_id", "mention"])
    got = {
        (r["center_id"], r["record_id"]): (r["n_shared"], r["is_tight"])
        for r in canopy_assign(df, "mention_id", "mention").collect()
    }
    # centers: alpha->r1, beta->r1, gamma->r2, epsilon->r5, zeta->r5
    assert got == {
        ("r1", "r1"): (2, True),
        ("r1", "r2"): (1, False),
        ("r1", "r3"): (1, False),
        ("r2", "r2"): (1, False),
        ("r2", "r3"): (1, False),
        ("r5", "r5"): (2, True),
        ("r5", "r6"): (2, True),
    }
    # r4's only token is df-1: it lands in no canopy at all
    assert not any(rec == "r4" for _, rec in got)


def test_canopy_assign_df_max_drops_stopword_tokens(spark, monkeypatch):
    from blink_spark.operators.blocking import canopy_assign

    monkeypatch.setattr("blink_spark.operators.blocking.CANOPY_DF_MAX", 3)
    # "the" appears in all 4 records; with df_max=3 it is stopword-like
    # and elects nothing, so only "rare" (df=2) forms a canopy.
    rows = [
        ("a", "the rare"),
        ("b", "the rare"),
        ("c", "the alone"),
        ("d", "the"),
    ]
    df = spark.createDataFrame(rows, ["mention_id", "mention"])
    got = {
        (r["center_id"], r["record_id"])
        for r in canopy_assign(df, "mention_id", "mention").collect()
    }
    assert got == {("a", "a"), ("a", "b")}


def test_session_paths_gap_boundary_and_tie_order(spark):
    from datetime import datetime, timedelta

    from blink_spark.operators.temporal import session_paths

    t0 = datetime(2024, 1, 1, 9)
    m = timedelta(minutes=1)
    rows = [
        # user 1: A,B then a 40-min gap -> second session "C"
        (1, t0, 1, "A"), (2, t0 + 10 * m, 1, "B"), (3, t0 + 50 * m, 1, "C"),
        # user 2: plain "A>B"
        (4, t0, 2, "A"), (5, t0 + 10 * m, 2, "B"),
        # user 3: equal timestamps -> event_id breaks the tie: "X>Y"
        (6, t0, 3, "X"), (7, t0, 3, "Y"),
        # user 4: gap of exactly 30 min is INSIDE the session (<=)
        (8, t0, 4, "A"), (9, t0 + 30 * m, 4, "B"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        r["path"]: (r["n_sessions"], r["n_events"])
        for r in session_paths(ev, "user_id", "ts", "event_type", "event_id").collect()
    }
    assert got == {"A>B": (3, 6), "C": (1, 1), "X>Y": (1, 2)}


def test_cluster_churn_status_classification(spark):
    from blink_spark.operators.cluster import cluster_churn

    old = spark.createDataFrame(
        [("r1", "A"), ("r2", "A"), ("r3", "B"), ("r4", "B"), ("r5", "C"),
         ("r6", "D"), ("r7", "E"), ("r8", "E"), ("r9", "F")],
        ["record_id", "old_id"],
    )
    new = spark.createDataFrame(
        [("r1", "X"), ("r2", "X"), ("r3", "Y"), ("r4", "Z"), ("r5", "W"),
         ("r6", "W"), ("r7", "V"), ("r8", "U"), ("r9", "U")],
        ["record_id", "new_id"],
    )
    got = {
        (r["old_id"], r["new_id"]): (
            r["n_records"], r["old_total"], r["new_total"], r["status"]
        )
        for r in cluster_churn(old, new).collect()
    }
    assert got == {
        ("A", "X"): (2, 2, 2, "stable"),       # survived 1:1
        ("B", "Y"): (1, 2, 1, "split"),        # B scattered into Y+Z
        ("B", "Z"): (1, 2, 1, "split"),
        ("C", "W"): (1, 1, 2, "merged"),       # W absorbed C+D
        ("D", "W"): (1, 1, 2, "merged"),
        ("E", "V"): (1, 2, 1, "split"),        # E scattered; U also absorbs F
        ("E", "U"): (1, 2, 2, "reshuffled"),
        ("F", "U"): (1, 1, 2, "merged"),
    }


def test_domain_keyness_hand_computed(spark, monkeypatch):
    from blink_spark.operators.corpus import domain_keyness

    docs = spark.createDataFrame(
        [
            (1, "d1", "apple banana"),
            (2, "d1", "apple cherry"),
            (3, "d2", "banana cherry"),
            (4, "d2", "cherry date"),
        ],
        ["doc_id", "source", "text"],
    )
    monkeypatch.setattr("blink_spark.operators.corpus.KEYNESS_MIN_DF", 2)
    got = {
        (r["domain"], r["term"]): (
            r["df_domain"], r["df_rest"], r["lift_ppm"], r["excess_milli"], r["rank"]
        )
        for r in domain_keyness(docs).collect()
    }
    # n=4, d_tot=2 each; t_tot: apple 2, banana 2, cherry 3 (date df-1 dropped)
    assert got == {
        ("d1", "apple"): (2, 0, 2_000_000, 1000, 1),
        ("d1", "banana"): (1, 1, 1_000_000, 0, 2),
        ("d1", "cherry"): (1, 2, 666_666, -500, 3),
        ("d2", "cherry"): (2, 1, 1_333_333, 500, 1),
        ("d2", "banana"): (1, 1, 1_000_000, 0, 2),
    }


def test_swoosh_merge_transitive_enablement(spark, monkeypatch):
    from blink_spark.operators.swoosh import swoosh_merge

    # r3 matches NEITHER r1 nor r2 alone (J=1/4), but matches their round-1
    # union {a,b,c,d} at J=2/4 — the merge-enables-match case R-Swoosh
    # exists for. r4 shares no informative token with anyone.
    rows = [("r1", "a b c"), ("r2", "b c d"), ("r3", "a d"), ("r4", "q r")]
    df = spark.createDataFrame(rows, ["mention_id", "mention"])

    with monkeypatch.context() as m:
        m.setattr("blink_spark.operators.swoosh.SWOOSH_ROUNDS", 1)
        one = {
            r["record_id"]: (r["profile_id"], r["profile_n_tokens"])
            for r in swoosh_merge(df, "mention_id", "mention").collect()
        }
    assert one == {
        "r1": ("r1", 4), "r2": ("r1", 4), "r3": ("r3", 2), "r4": ("r4", 2),
    }

    two = {
        r["record_id"]: (r["profile_id"], r["profile_n_tokens"])
        for r in swoosh_merge(df, "mention_id", "mention").collect()
    }
    assert two == {
        "r1": ("r1", 4), "r2": ("r1", 4), "r3": ("r1", 4), "r4": ("r4", 2),
    }


def test_value_runs_scd2_intervals(spark):
    from datetime import datetime

    from blink_spark.operators.temporal import value_runs

    t = [datetime(2024, 1, 1, 9, m) for m in range(6)]
    rows = [
        # user 1: A A B A  -> runs A(2), B(1), A(1); same-value non-adjacent
        # states are SEPARATE runs (run-length, not group-by-value)
        (1, t[0], 1, "A"), (2, t[1], 1, "A"), (3, t[2], 1, "B"), (4, t[3], 1, "A"),
        # user 2: equal timestamps, event_id order decides: B then A
        (5, t[0], 2, "B"), (6, t[0], 2, "A"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r["key"], r["run_seq"]): (
            r["state"], r["valid_from"], r["valid_to"], r["n_events"]
        )
        for r in value_runs(ev, "user_id", "ts", "event_type", "event_id").collect()
    }
    assert got == {
        (1, 1): ("A", t[0], t[2], 2),
        (1, 2): ("B", t[2], t[3], 1),
        (1, 3): ("A", t[3], None, 1),   # current run: open interval
        (2, 1): ("B", t[0], t[0], 1),
        (2, 2): ("A", t[0], None, 1),
    }


def test_block_filter_keeps_r_smallest_blocks(spark, monkeypatch):
    from blink_spark.operators.blocking import block_filter_top_r

    rows = [
        # block sizes: big=3, mid=2, tiny=2, solo=1 (purged)
        ("r1", "big"), ("r2", "big"), ("r3", "big"),
        ("r1", "mid"), ("r2", "mid"),
        ("r1", "tiny"), ("r3", "tiny"),
        ("r1", "aaa"), ("r2", "aaa"),   # size 2, key-first on ties
        ("r3", "solo"),
    ]
    blocks = spark.createDataFrame(rows, "record_id string, block_key string")
    monkeypatch.setattr("blink_spark.operators.blocking.BLOCK_FILTER_R", 2)
    got = {
        (r["record_id"], r["rank"]): (r["block_key"], r["block_size"])
        for r in block_filter_top_r(blocks).collect()
    }
    # r1 has 4 blocks of sizes (2,2,2,3): keeps aaa, mid (key asc on ties)
    # r3's singleton 'solo' is purged; keeps tiny(2) then big(3)
    assert got == {
        ("r1", 1): ("aaa", 2), ("r1", 2): ("mid", 2),
        ("r2", 1): ("aaa", 2), ("r2", 2): ("mid", 2),
        ("r3", 1): ("tiny", 2), ("r3", 2): ("big", 3),
    }


def test_resource_allocation_weighs_rare_neighbors(spark):
    from blink_spark.operators.cluster import resource_allocation

    # hub h touches a,b,c,d (deg 4); r touches only a,b (deg 2):
    # (a,b) shares {h, r} -> ra = 1e9/4 + 1e9/2; every other distance-2
    # pair shares only the hub (cn 1, below min_common)
    edges = [("a", "h"), ("b", "h"), ("c", "h"), ("d", "h"),
             ("a", "r"), ("b", "r")]
    e = spark.createDataFrame(edges, "u string, v string")
    got = {
        (x["record_id_a"], x["record_id_b"]): (x["common_neighbors"], x["ra_nano"])
        for x in resource_allocation(e).collect()
    }
    # (h,r) likewise shares {a,b} (each deg 2 -> 1e9/2 + 1e9/2)
    assert got == {("a", "b"): (2, 750000000), ("h", "r"): (2, 1000000000)}

    # adjacency excluded: closing (a,b) removes it from the queue
    e2 = spark.createDataFrame(edges + [("a", "b")], "u string, v string")
    got2 = {
        (x["record_id_a"], x["record_id_b"])
        for x in resource_allocation(e2).collect()
    }
    assert ("a", "b") not in got2


def test_count_min_never_underestimates_and_is_exact_when_sparse(spark):
    from blink_spark.operators.sketch import count_min_counters, count_min_estimate

    rows = [(k,) for k in ["a"] * 5 + ["b"] * 3 + ["c"] * 1 + ["d"] * 1]
    df = spark.createDataFrame(rows, "k string")
    est = {
        r["k"]: (r["n_exact"], r["est_count"], r["overestimate"])
        for r in count_min_estimate(df, "k").collect()
    }
    assert set(est) == {"a", "b", "c", "d"}
    for k, (n, e, o) in est.items():
        assert e >= n and o == e - n
    # 4 keys in 64 buckets x 4 independent rows: min-over-rows is exact
    assert [est[k][2] for k in "abcd"] == [0, 0, 0, 0]

    # the sketch state is d*w-bounded and mergeable: counters sum to d*n
    cnt = count_min_counters(df, "k")
    assert cnt.count() <= 4 * 64
    assert cnt.groupBy().sum("c").collect()[0][0] == 4 * len(rows)


def test_count_min_overestimates_on_forced_collisions(spark, monkeypatch):
    from blink_spark.operators.sketch import count_min_estimate

    # w=1: every key lands in the same bucket on every row -> every
    # estimate equals the total stream length
    rows = [(k,) for k in ["x"] * 7 + ["y"] * 2]
    df = spark.createDataFrame(rows, "k string")
    monkeypatch.setattr("blink_spark.operators.sketch.CM_DEPTH", 2)
    monkeypatch.setattr("blink_spark.operators.sketch.CM_WIDTH", 1)
    est = {r["k"]: r["est_count"] for r in count_min_estimate(df, "k").collect()}
    assert est == {"x": 9, "y": 9}


def test_dynamic_blocking_splits_only_oversized(spark, monkeypatch):
    from blink_spark.operators.blocking import dynamic_blocking

    # block 'big' holds r1..r4 (cap 3 -> oversized); 'mid' holds r1,r2;
    # 'solo' is a singleton. Split of 'big' extends with each member's
    # other keys: big|mid covers r1,r2 (split, size 2); big|solo covers
    # only r4 (singleton, purged).
    rows = [("r1", "big"), ("r2", "big"), ("r3", "big"), ("r4", "big"),
            ("r1", "mid"), ("r2", "mid"), ("r4", "solo")]
    blocks = spark.createDataFrame(rows, "record_id string, block_key string")
    monkeypatch.setattr("blink_spark.operators.blocking.DYNAMIC_CAP", 3)
    got = {
        r["block_key"]: (r["depth"], r["block_size"], r["status"])
        for r in dynamic_blocking(blocks).collect()
    }
    assert got == {"mid": (1, 2, "ok"), "big|mid": (2, 2, "split")}

    # cap 1: every multi-record block splits; big|mid still holds 2
    # records -> reported 'over' instead of silently dropped
    monkeypatch.setattr("blink_spark.operators.blocking.DYNAMIC_CAP", 1)
    got2 = {
        r["block_key"]: r["status"]
        for r in dynamic_blocking(blocks).collect()
    }
    assert got2 == {"big|mid": "over", "mid|big": "over"}


def test_group_linkage_reciprocal_best_member_jaccard(spark):
    from blink_spark.operators.pairs import group_linkage

    # docs X={x1,x2,x3}, Y={y1,y2}: x1's best is y1 (90) and vice versa
    # (mutual); x2->y1 loses y1 to x1; x2 and y2 are mutual at 50.
    # Reverse-orientation row (Y,X) must canonicalize into the same pair.
    pairs = spark.createDataFrame(
        [
            ("X", "Y", "x1", "y1", 90),
            ("X", "Y", "x2", "y1", 80),
            ("Y", "X", "y2", "x2", 50),   # swapped orientation on purpose
            ("X", "Y", "x3", "y2", 40),
        ],
        "group_a string, group_b string, id_a string, id_b string, score long",
    )
    sizes = spark.createDataFrame(
        [("X", 3), ("Y", 2)], "group string, n_members long"
    )
    got = [
        (r["group_a"], r["group_b"], r["n_a"], r["n_b"], r["n_matched"],
         r["group_sim_ppm"])
        for r in group_linkage(pairs, sizes).collect()
    ]
    # single-round reciprocal best: only (x1,y1) is mutual — x2's best is
    # y1 (lost to x1), so x2->y2 never fires even though y2 prefers x2;
    # jaccard = 1/(3+2-1) = 250000 ppm
    assert got == [("X", "Y", 3, 2, 1, 250000)]


def test_stratified_split_exact_quotas_per_stratum(spark):
    from blink_spark.operators.corpus import stratified_split

    # stratum A: 10 rows -> exactly 8/1/1; stratum B: 9 rows -> floor
    # quotas 7 train (rank*100 <= 720), 1 val (<= 810), 1 test
    rows = [(i, "A") for i in range(10)] + [(100 + i, "B") for i in range(9)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_split(docs).collect()
    by = {}
    for r in out:
        by.setdefault((r["stratum"], r["split"]), 0)
        by[(r["stratum"], r["split"])] += 1
    assert by == {
        ("A", "train"): 8, ("A", "val"): 1, ("A", "test"): 1,
        ("B", "train"): 7, ("B", "val"): 1, ("B", "test"): 1,
    }
    # regeneration-proof: a second run assigns identically
    again = {(r["doc_id"], r["split"]) for r in stratified_split(docs).collect()}
    assert again == {(r["doc_id"], r["split"]) for r in out}


def test_pprl_bloom_dice_identical_and_disjoint(spark):
    from blink_spark.operators.scoring import bloom_positions, pprl_bloom_dice

    recs = spark.createDataFrame(
        [("r1", "Alice Smith"), ("r2", "alice  smith"),  # same normalized form
         ("r3", "zz"), ("r4", "q")],                      # r4: 1 char -> empty filter
        "mention_id string, mention string",
    )
    pairs = spark.createDataFrame(
        [("r1", "r2"), ("r1", "r3"), ("r1", "r4")],
        "record_id_a string, record_id_b string",
    )
    got = {
        (r["record_id_a"], r["record_id_b"]): (
            r["bits_a"], r["bits_b"], r["inter_bits"], r["dice_ppm"]
        )
        for r in pprl_bloom_dice(recs, pairs, "mention_id", "mention").collect()
    }
    # identical normalized text -> identical filter -> dice = 1e6 exactly
    ba, bb, ib, dp = got[("r1", "r2")]
    assert ba == bb == ib and dp == 1000000
    # 'zz' shares no bigram with 'alice smith' (bit collisions possible but
    # 3 positions in 64 bits for 1 gram vs 10 grams: assert the shape only)
    assert got[("r1", "r3")][1] >= 1 and got[("r1", "r3")][3] < 1000000
    # empty filter pair is kept and scores 0 with bits_b = 0
    assert got[("r1", "r4")][1] == 0 and got[("r1", "r4")][3] == 0
    # a record never sets more than m bits
    mx = bloom_positions(recs, "mention_id", "mention")
    assert mx.groupBy("rid").count().agg({"count": "max"}).collect()[0][0] <= 64


def test_ccnet_buckets_tercile_assignment(spark):
    from blink_spark.operators.corpus import ccnet_buckets

    # one stratum, 6 scoreable docs: repetitive docs (common bigrams) get
    # higher avg logp -> head; rare-bigram docs -> tail; ntile(3) over 6
    # rows = 2 per bucket. A single-token doc drops out entirely.
    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b", "s"),
            (2, "a b a b a b", "s"),
            (3, "a b c d a b", "s"),
            (4, "c d e f g h", "s"),
            (5, "x y z q w e", "s"),
            (6, "m n o p q r", "s"),
            (7, "solo", "s"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r["bucket"] for r in ccnet_buckets(docs).collect()}
    assert len(out) == 6 and 7 not in out
    assert sorted(out.values()).count("head") == 2
    assert out[1] == "head" and out[2] == "head"


def test_anomaly_mad_hand_computed(spark):
    from pyspark.sql import functions as F

    from blink_spark.operators.temporal import anomaly_mad

    # one type, 7 days of counts: [4,5,5,5,5,6,50] -> med=5, devs sorted
    # [0,0,0,0,1,1,45] -> mad=0: ONLY exact-median days are normal, so the
    # day with 4, the day with 6, and the 50-spike all flag. A second type
    # with spread [1,3,5,7,9]: med=5, devs [4,2,0,2,4] -> mad=2; |x-5|>6
    # never holds -> nothing flags.
    rows = []
    eid = 0
    for day, n in enumerate([4, 5, 5, 5, 5, 6, 50]):
        for _ in range(n):
            rows.append((eid, f"2024-01-{day + 1:02d} 10:00:00", 1, "a"))
            eid += 1
    for day, n in enumerate([1, 3, 5, 7, 9]):
        for _ in range(n):
            rows.append((eid, f"2024-01-{day + 1:02d} 10:00:00", 1, "b"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = anomaly_mad(ev).collect()
    a = {r["day"]: r for r in out if r["event_type"] == "a"}
    b = {r["day"]: r for r in out if r["event_type"] == "b"}
    assert a[0]["med"] == 5 and a[0]["mad"] == 0
    assert {d for d, r in a.items() if r["is_anomaly"]} == {0, 5, 6}
    assert b[0]["med"] == 5 and b[0]["mad"] == 2
    assert not any(r["is_anomaly"] for r in b.values())


def test_semdedup_keep_rule_and_planted_pairs(spark, monkeypatch):
    from pyspark.sql import functions as F

    from blink_spark.functions.hashing import quantize_emb
    from blink_spark.operators.dedup import semdedup

    # hand-built 4-dim corpus, 2 cells (ids 0 and 1 are the centroids):
    # ids 0,2,3 near e1 (2 and 3 are near-dups of each other and of 0);
    # ids 1,4 near e2 (4 a near-dup of 1); id 5 orthogonal-ish singleton.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),
        (3, [0.998, 0.06, 0.0, 0.0]),
        (4, [0.03, 0.999, 0.0, 0.0]),
        (5, [0.0, 0.0, 1.0, 0.0]),
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).select("vec_id", quantize_emb("embedding").alias("q"))
    monkeypatch.setattr("blink_spark.operators.dedup.SEMDEDUP_CELLS", 2)
    out = {r["vec_id"]: r for r in semdedup(vecs).collect()}
    # cells: 0,2,3 -> cid 0; 1,4 -> cid 1; 5 -> whichever argmax (cos 0 to
    # both -> tie -> lowest cid 0) but stays a singleton group
    assert out[2]["cid"] == 0 and out[4]["cid"] == 1
    # dup groups: {0,2,3} rooted at 0, {1,4} rooted at 1, {5} alone
    assert out[0]["group_id"] == out[2]["group_id"] == out[3]["group_id"] == 0
    assert out[1]["group_id"] == out[4]["group_id"] == 1
    assert out[5]["group_id"] == 5 and out[5]["keep"]
    # keep rule: LOWEST cos-to-centroid survives. In group 0 that is id 3
    # (0.06 off-axis > 0.04), in group 1 it is id 4.
    assert {i for i, r in out.items() if r["keep"]} == {3, 4, 5}
    # exactly one keeper per group
    assert sum(r["keep"] for r in out.values()) == 3


def test_tf_adjustment_rare_boost_common_penalty(spark):
    from blink_spark.operators.scoring import tf_adjusted_agreements

    # 10 records: 8 share val "smith", 2 share "zabrinsky".
    # agree_pairs = C(8,2)+C(2,2) = 28+1 = 29; C(10,2) = 45
    # u_global_ppm = 29000000 div 45 = 644444
    # tf(smith) = 800000 ppm -> ratio 644444*1e6 div 800000 = 805555 (<1e6)
    # tf(zabrinsky) = 200000 ppm -> ratio 3222220 (>1e6): rare value boosted
    vals = spark.createDataFrame(
        [(i, "smith" if i < 8 else "zabrinsky") for i in range(10)],
        "record_id long, val string",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (8, 9), (0, 8)], "record_id_a long, record_id_b long"
    )
    out = {
        (r["record_id_a"], r["record_id_b"]): r
        for r in tf_adjusted_agreements(pairs, vals).collect()
    }
    assert set(out) == {(0, 1), (8, 9)}  # (0,8) disagrees -> no row
    assert out[(0, 1)]["u_global_ppm"] == 644444
    assert out[(0, 1)]["tf_ppm"] == 800000
    assert out[(0, 1)]["tf_adj_ratio_ppm"] == 805555
    assert out[(8, 9)]["tf_ppm"] == 200000
    assert out[(8, 9)]["tf_adj_ratio_ppm"] == 3222220


def test_hard_negatives_exclude_gold_and_rank_densely(spark):
    import __spark_entry__ as entry

    out = entry.queries()["er_hard_negatives"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert out  # non-vacuous: blocks do contain confusables
    gold = {
        r["mention_id"]: r["label_id"]
        for r in entry._fx(spark, "mentions").select("mention_id", "label_id").collect()
    }
    by_m = {}
    for r in out:
        assert r["entity_id"] != gold[r["mention_id"]]  # gold never a negative
        by_m.setdefault(r["mention_id"], []).append(r["neg_rank"])
    for ranks in by_m.values():  # dense 1..n, n <= 3
        assert sorted(ranks) == list(range(1, len(ranks) + 1)) and len(ranks) <= 3


def test_threshold_dendrogram_monotone_cuts(spark):
    from blink_spark.operators.cluster import threshold_dendrogram

    # chain a-b-c at 0.6 edges plus a tight pair d-e at 0.9: the 0.5 cut
    # glues the chain (one 3-cluster + the pair); 0.65 keeps only d-e;
    # 0.8 keeps only d-e too.
    scored = spark.createDataFrame(
        [("a", "b", 0.6), ("b", "c", 0.6), ("d", "e", 0.9)],
        "record_id_a string, record_id_b string, jaccard double",
    )
    got = {
        r["threshold_ppm"]: (r["n_clusters"], r["n_records"], r["max_cluster_size"])
        for r in threshold_dendrogram(scored).collect()
    }
    assert got == {500000: (2, 5, 3), 650000: (1, 2, 2), 800000: (1, 2, 2)}


def test_mrr_consistent_with_rank_histogram(spark):
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    mrr = entry.queries()["er_mrr"](spark, sf).collect()[0]
    hist = entry.queries()["er_rank_histogram"](spark, sf).collect()
    n_by_rank = {r["gold_rank"]: r["n"] for r in hist}
    assert mrr["n_mentions"] == sum(n_by_rank.values())
    assert mrr["n_hits"] == sum(n for k, n in n_by_rank.items() if k > 0)
    expect_sum = sum(n * (1000000 // k) for k, n in n_by_rank.items() if k > 0)
    assert mrr["sum_rr_micro"] == expect_sum
    assert mrr["mrr_micro"] == expect_sum // mrr["n_mentions"]
    assert 0 < mrr["n_hits"] <= mrr["n_mentions"]  # non-vacuous


def test_langid_confusion_cells_partition_gold(spark):
    import __spark_entry__ as entry

    rows = entry.queries()["doc_langid_confusion"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    by_gold = {}
    for r in rows:
        by_gold.setdefault(r["gold_lang"], []).append(r)
    for gold, cells in by_gold.items():
        total = cells[0]["gold_total"]
        assert sum(c["n"] for c in cells) == total  # cells partition the gold
        assert all(c["gold_total"] == total for c in cells)
        assert all(c["cell_ppm"] == 1000000 * c["n"] // total for c in cells)


def test_char_entropy_hand_computed(spark):
    import math

    from blink_spark.operators.corpus import char_entropy

    docs = spark.createDataFrame(
        [
            (1, "aaaa"),        # one symbol -> H = 0 exactly
            (2, "abab"),        # two equiprobable -> H = ln 2
            (3, "!!!?"),        # nothing in [a-z0-9 ] -> drops out
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_chars"] == 4 and out[1]["n_distinct"] == 1
    assert out[1]["entropy_micro"] == math.floor(math.log(4) * 1e6) - (
        4 * math.floor(math.log(4) * 1e6)
    ) // 4
    assert out[1]["entropy_micro"] == 0
    # doc 2: ln(4)*1e6 floor - (2*floor(ln2*1e6)*2) div 4 = ln2 in micro
    ln2 = math.floor(math.log(2) * 1e6)
    ln4 = math.floor(math.log(4) * 1e6)
    assert out[2]["entropy_micro"] == ln4 - (2 * 2 * ln2) // 4 == ln4 - ln2


def test_zipf_fit_exact_slope_on_constructed_counts(spark, monkeypatch):
    import math

    from blink_spark.operators.corpus import zipf_fit

    # construct a corpus whose top tokens have freqs 8,4,2,1 at ranks
    # 1..4 -> perfect ln-ln line with slope... freq = 8 * rank^(-a) only
    # holds approximately; instead verify against a NumPy-free reference
    # computation of the same integer least squares.
    words = []
    for tok, n in [("a", 8), ("b", 4), ("c", 2), ("d", 1)]:
        words += [tok] * n
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    monkeypatch.setattr("blink_spark.operators.corpus.ZIPF_TOP_R", 10)
    row = zipf_fit(docs).collect()[0]
    xs = [math.floor(math.log(r) * 1000) for r in (1, 2, 3, 4)]
    ys = [math.floor(math.log(f) * 1000) for f in (8, 4, 2, 1)]
    r = 4
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    num_s, den = 1000000 * (r * sxy - sx * sy), r * sxx - sx * sx
    slope = num_s // den if num_s >= 0 else -((-num_s) // den)
    assert row["n_ranks"] == 4 and row["slope_ppm"] == slope
    assert -1700000 < row["slope_ppm"] < -1400000  # freqs halve: slope ~ -1.5


def test_dedup_ensemble_exact_vs_near(spark):
    from blink_spark.operators.dedup import dedup_ensemble_report

    # docs 1/2 are word-permutations (exact fingerprint dup AND high
    # shingle/simhash agreement); doc 3 shares most shingles with 1 but
    # not the exact token multiset fingerprint... keep it simple: 1 and 2
    # identical text (all three strategies), 4 unrelated.
    t = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [(1, t), (2, t), (4, "completely different words entirely unrelated")],
        "doc_id long, text string",
    )
    out = {r["strategy"]: r for r in dedup_ensemble_report(docs).collect()}
    assert set(out) == {"exact", "minhash", "simhash", "union"}
    # the identical pair is found by ALL strategies
    assert out["exact"]["n_pairs"] == 1 and out["exact"]["n_exclusive"] == 0
    assert out["minhash"]["n_pairs"] == 1 and out["simhash"]["n_pairs"] == 1
    assert out["union"]["n_pairs"] == 1 and out["union"]["n_in_all"] == 1
    assert all(r["n_in_all"] == 1 for r in out.values())


def test_tokenizer_fertility_hand_computed(spark):
    import __spark_entry__ as entry  # noqa: F401  (registers queries)
    from pyspark.sql import functions as F  # noqa: F401

    from blink_spark.functions.text import bpe_token_count, token_count

    docs = spark.createDataFrame(
        [
            (1, "don't stop", "en"),      # bpe: don,',t,stop=4; words: 2
            (2, "abc 123", "en"),         # bpe: abc,123=2; words: 2
            (3, "straße 42!", "de"),      # bpe: straße,42,! = 3; words: 2
        ],
        "doc_id long, text string, lang string",
    )
    per = docs.select(
        "lang",
        bpe_token_count("text").cast("long").alias("b"),
        token_count("text").cast("long").alias("w"),
    ).collect()
    got = {(r["lang"], r["b"], r["w"]) for r in per}
    assert got == {("en", 4, 2), ("en", 2, 2), ("de", 3, 2)}
    q = entry._QUERIES["doc_tokenizer_fertility"]
    # fixture-level sanity at sf0.001: fertility >= 1e6 (bpe splits never
    # merge whitespace words), every lang row consistent
    rows = q(spark, "/root/testdata/sf0.001").collect()
    for r in rows:
        assert r["fertility_ppm"] == 1000000 * r["n_bpe_tokens"] // r["n_words"]
        assert r["fertility_ppm"] >= 1000000


def test_degree_distribution_partition_of_nodes(spark):
    import __spark_entry__ as entry

    rows = entry.queries()["er_degree_distribution"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    total = rows[0]["n_total"]
    assert sum(r["n_records"] for r in rows) == total
    assert all(r["share_ppm"] == 1000000 * r["n_records"] // total for r in rows)
    assert all(r["deg"] >= 1 for r in rows)


def test_nprobe_sweep_monotone_recall(spark):
    import __spark_entry__ as entry

    rows = {
        r["nprobe"]: r
        for r in entry.queries()["ann_nprobe_sweep"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == {1, 2, 4}
    # probing more cells can only find more of the exact top-k
    assert rows[1]["n_found"] <= rows[2]["n_found"] <= rows[4]["n_found"]
    assert rows[1]["n_exact"] == rows[2]["n_exact"] == rows[4]["n_exact"]
    assert rows[4]["recall"] >= rows[1]["recall"]


def test_grouped_quartiles_rank_picks(spark):
    from blink_spark.operators.corpus import grouped_quartiles

    # n=8, values 1..8: ceil(8/4)=2 -> 2; ceil(8/2)=4 -> 4; ceil(24/4)=6 -> 6
    # n=3, values 10,20,30: ranks 1,2,3 -> q25=10, q50=20, q75=30
    rows = [("a", i, i) for i in range(1, 9)] + [("b", v, v) for v in (10, 20, 30)]
    df = spark.createDataFrame(rows, "key string, v long, tie long")
    got = {
        r["key"]: (r["n"], r["q25"], r["q50"], r["q75"])
        for r in grouped_quartiles(df, "key", "v", "tie").collect()
    }
    assert got == {"a": (8, 2, 4, 6), "b": (3, 10, 20, 30)}


def test_ppjoin_zero_false_negatives_vs_bruteforce(spark):
    from blink_spark.functions.text import tokens
    from blink_spark.operators.blocking import ppjoin_pairs
    from pyspark.sql import functions as F

    recs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma epsilon"),   # J with 1 = 3/5 >= 1/2
            (3, "alpha zeta"),                 # J with 1 = 1/5 < 1/2
            (4, "completely different words"),
            (5, "alpha beta gamma delta"),     # J with 1 = 1 (exact dup)
        ],
        "rid long, text string",
    )
    got = {
        (r["record_id_a"], r["record_id_b"]): r["jaccard_ppm"]
        for r in ppjoin_pairs(recs, "rid", "text").collect()
    }
    # brute-force truth at J >= 1/2
    arrs = {r["rid"]: set(r["tk"]) for r in recs.select("rid", tokens("text").alias("tk")).collect()}
    truth = {}
    ids = sorted(arrs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(arrs[a] & arrs[b])
            union = len(arrs[a] | arrs[b])
            if 2 * inter >= union:
                truth[(a, b)] = 1000000 * inter // union
    assert got == truth  # exact join: no false negatives, no extras
    assert (1, 5) in got and got[(1, 5)] == 1000000
    assert (1, 2) in got and (1, 3) not in got


def test_blocking_stoplist_fanout_semantics(spark):
    import __spark_entry__ as entry

    rows = entry.queries()["er_blocking_stoplist"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["df"] >= 2
        assert r["n_entities"] <= r["df"]  # fan-out bounded by df
        assert r["flagged"] == (r["n_entities"] > 3)


def test_rrf_fusion_rewards_agreement(spark):
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    rows = entry.queries()["er_rrf_fusion"](spark, sf).collect()
    assert rows
    by_m = {}
    for r in rows:
        by_m.setdefault(r["mention_id"], []).append(r)
        # contribution formula holds exactly
        expect = (1000000 // (60 + r["lex_rank"]) if r["lex_rank"] else 0) + (
            1000000 // (60 + r["bm25_rank"]) if r["bm25_rank"] else 0
        )
        assert r["rrf_micro"] == expect
        assert (r["lex_rank"] is not None) or (r["bm25_rank"] is not None)
    for group in by_m.values():
        ranks = sorted(r["fused_rank"] for r in group)
        assert ranks == list(range(1, len(ranks) + 1))
        # fused order is non-increasing in rrf score
        ordered = sorted(group, key=lambda r: r["fused_rank"])
        scores = [r["rrf_micro"] for r in ordered]
        assert scores == sorted(scores, reverse=True)


def test_gap_histogram_buckets_partition_gaps(spark):
    import __spark_entry__ as entry

    rows = entry.queries()["events_gap_histogram"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    total = rows[0]["n_total"]
    assert sum(r["n_gaps"] for r in rows) == total
    assert {r["bucket"] for r in rows} <= {
        "lt_1s", "lt_1m", "lt_10m", "lt_30m", "lt_1d", "ge_1d"
    }
    assert all(r["share_ppm"] == 1000000 * r["n_gaps"] // total for r in rows)


def test_reliability_bins_rates_and_partition(spark):
    import __spark_entry__ as entry

    rows = entry.queries()["er_reliability_bins"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    gold_n = entry._fx(spark, "gold_pairs").count()
    assert sum(r["n_pairs"] for r in rows) == gold_n  # bins partition pairs
    for r in rows:
        assert 0 <= r["n_match"] <= r["n_pairs"]
        assert r["match_rate_ppm"] == 1000000 * r["n_match"] // r["n_pairs"]
        assert r["bin_lo_ppm"] == r["bin"] * 50000
    # calibration sanity: the top bin is purer than the bottom bin
    lo = min(rows, key=lambda r: r["bin"])
    hi = max(rows, key=lambda r: r["bin"])
    assert hi["match_rate_ppm"] >= lo["match_rate_ppm"]


def test_burst_score_exact_sliding_window(spark):
    from datetime import datetime, timedelta

    import __spark_entry__ as entry  # noqa: F401

    from pyspark.sql import Window, functions as F

    base = datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    # user 1: 5 events inside 50s (straddling a minute boundary at 12:00:30
    # would fool tumbling buckets), then quiet
    for i, off in enumerate([0, 20, 35, 45, 50]):
        rows.append((i, base + timedelta(seconds=off), 1))
    # user 2: events 2 minutes apart -> max burst 1
    for i, off in enumerate([0, 120, 240]):
        rows.append((100 + i, base + timedelta(seconds=off), 2))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    us = ev.select(
        "user_id",
        F.expr(
            "timestampdiff(MICROSECOND, timestamp'2024-01-01 00:00:00', ts)"
        ).alias("t_us"),
    )
    w = Window.partitionBy("user_id").orderBy("t_us").rangeBetween(-59_999_999, 0)
    got = {
        r["user_id"]: r["mx"]
        for r in us.select("user_id", F.count(F.lit(1)).over(w).alias("iw"))
        .groupBy("user_id")
        .agg(F.max("iw").alias("mx"))
        .collect()
    }
    assert got == {1: 5, 2: 1}


def test_modularity_two_cliques_vs_random(spark):
    from blink_spark.operators.cluster import modularity

    # two disjoint triangles, clustering = exactly the triangles:
    # m=6, every edge internal (e=6), each node deg 2 -> d_c = 6 per
    # cluster -> sum_dc2 = 72. Q = (4*6*6 - 72)/(4*36) = 72/144 = 0.5
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)], "u int, v int"
    )
    good = spark.createDataFrame(
        [(i, 1 if i <= 3 else 4) for i in range(1, 7)],
        "record_id int, cluster_id int",
    )
    row = modularity(edges, good).collect()[0]
    assert (row["m_edges"], row["n_clusters"], row["n_internal"]) == (6, 2, 6)
    assert row["modularity_milli"] == 500
    # everything in ONE cluster: e=m and sum_dc2=(2m)^2 -> Q = 0 exactly
    one = spark.createDataFrame(
        [(i, 1) for i in range(1, 7)], "record_id int, cluster_id int"
    )
    assert modularity(edges, one).collect()[0]["modularity_milli"] == 0
    # adversarial split across the triangles -> NEGATIVE Q, sign-safe
    bad = spark.createDataFrame(
        [(1, 1), (4, 1), (2, 2), (5, 2), (3, 3), (6, 3)],
        "record_id int, cluster_id int",
    )
    assert bad is not None
    assert modularity(edges, bad).collect()[0]["modularity_milli"] < 0


def test_acronym_matches_both_directions(spark):
    from blink_spark.operators.scoring import acronym_matches

    recs = spark.createDataFrame(
        [
            (1, "IBM"),
            (2, "International Business Machines"),
            (3, "ibm corp"),           # two tokens -> not an acronym side
            (4, "i"),                  # single char -> excluded
            (5, "Interesting Big Mouse"),  # initials also ibm
        ],
        "rid long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (1, 4), (5, 1), (2, 3)],
        "record_id_a long, record_id_b long",
    )
    out = {
        (r["record_id_a"], r["record_id_b"]): (r["acronym"], r["expansion"])
        for r in acronym_matches(pairs, recs, "rid", "text").collect()
    }
    # both orientations fire; 3 never qualifies as acronym side; 4 too short
    assert out == {
        (1, 2): ("ibm", "international business machines"),
        (2, 1): ("ibm", "international business machines"),
        (5, 1): ("ibm", "interesting big mouse"),
    }


def test_interval_copresence_banding_is_exact(spark):
    from datetime import datetime

    from blink_spark.operators.temporal import interval_copresence

    # user 1: state A for [10:00, 11:00), then B (open, capped at max ts+1µs)
    # user 2: state A for [10:30, 12:00), then C
    # user 3: state A but only [09:00, 09:30) -> no overlap with 1 or 2
    rows = [
        (1, datetime(2024, 1, 1, 10, 0), 1, "A"),
        (2, datetime(2024, 1, 1, 11, 0), 1, "B"),
        (3, datetime(2024, 1, 1, 10, 30), 2, "A"),
        (4, datetime(2024, 1, 1, 12, 0), 2, "C"),
        (5, datetime(2024, 1, 1, 9, 0), 3, "A"),
        (6, datetime(2024, 1, 1, 9, 30), 3, "D"),
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {
        (r["key_a"], r["key_b"], r["state"]): (r["n_run_pairs"], r["overlap_us"])
        for r in interval_copresence(ev, "user_id", "ts", "event_type", "event_id").collect()
    }
    # users 1 and 2 share state A for [10:30, 11:00) = 30 min
    assert got == {(1, 2, "A"): (1, 30 * 60 * 1_000_000)}


def test_interval_copresence_cross_day_banding(spark):
    from datetime import datetime

    from blink_spark.operators.temporal import interval_copresence

    # two users in state X across a day boundary: run pair shares TWO day
    # buckets -> must still count once (distinct before verify)
    rows = [
        (1, datetime(2024, 1, 1, 23, 0), 1, "X"),
        (2, datetime(2024, 1, 2, 2, 0), 1, "Y"),
        (3, datetime(2024, 1, 1, 22, 0), 2, "X"),
        (4, datetime(2024, 1, 2, 3, 0), 2, "Z"),
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {
        (r["key_a"], r["key_b"], r["state"]): (r["n_run_pairs"], r["overlap_us"])
        for r in interval_copresence(ev, "user_id", "ts", "event_type", "event_id").collect()
    }
    # overlap of X runs: [23:00, 02:00) = 3h
    assert got[(1, 2, "X")] == (1, 3 * 3600 * 1_000_000)


def test_nmi_perfect_independent_and_orthogonal(spark):
    from blink_spark.operators.cluster import nmi

    labels = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 20)], "record_id int, label int"
    )
    # clusters == labels -> mi_n = hc_n = hk_n > 0 -> exactly 1e6 ppm
    perfect = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2), (4, 2)], "record_id int, cluster_id int"
    )
    row = nmi(perfect, labels).collect()[0]
    assert (row["n_records"], row["n_clusters"], row["n_labels"]) == (4, 2, 2)
    assert row["nmi_ppm"] == 1000000
    assert row["mi_micro"] == row["h_clusters_micro"] > 0
    # everything in one cluster -> H(C) = 0 and MI = 0 -> 0 ppm
    one = spark.createDataFrame(
        [(i, 1) for i in range(1, 5)], "record_id int, cluster_id int"
    )
    row = nmi(one, labels).collect()[0]
    assert row["nmi_ppm"] == 0 and row["h_clusters_micro"] == 0
    # label-orthogonal split (every contingency cell = 1): MI ~ 0 up to
    # the floor(ln·1e6) quantization (|noise| <= a few micro-nats)
    cross = spark.createDataFrame(
        [(1, 1), (3, 1), (2, 2), (4, 2)], "record_id int, cluster_id int"
    )
    row = nmi(cross, labels).collect()[0]
    assert abs(row["nmi_ppm"]) < 100
    assert row["h_clusters_micro"] == row["h_labels_micro"] > 0


def test_cusum_drift_hand_computed(spark):
    from datetime import datetime

    from blink_spark.operators.temporal import cusum_drift

    # one event per row: day 0..5 counts = 10, 10, 10, 20, 20, 20
    rows = []
    counts = [10, 10, 10, 20, 20, 20]
    for day, n in enumerate(counts):
        rows.extend(
            [("A", datetime(2024, 1, 1 + day, 12, 0, 0))] * n
        )
    events = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {
        r["day"]: (r["mean_milli"], r["cusum_milli"], r["is_drift"])
        for r in cusum_drift(events).collect()
    }
    # mean = 15 -> mean_milli = 15000, slack = 3750
    # d(10) = 10000-15000-3750 = -8750 ; d(20) = 20000-15000-3750 = 1250
    # S: 0,0,0 then 1250, 2500, 3750 (clamped at 0 through the low days)
    assert got[0] == (15000, 0, False)
    assert got[2] == (15000, 0, False)
    assert got[3] == (15000, 1250, False)
    assert got[5] == (15000, 3750, False)
    # same series with a sustained 4x shift -> statistic crosses 3*mean
    rows2 = []
    for day, n in enumerate([10, 10, 10, 60, 60, 60]):
        rows2.extend([("A", datetime(2024, 1, 1 + day, 12, 0, 0))] * n)
    ev2 = spark.createDataFrame(rows2, "event_type string, ts timestamp")
    got2 = {r["day"]: r for r in cusum_drift(ev2).collect()}
    # mean = 35 -> slack 8750; d(60) = 60000-35000-8750 = 16250
    # S(day5) = 48750 vs band 3*35000: day 5 not yet; check monotone rise
    assert got2[3]["cusum_milli"] == 16250
    assert got2[4]["cusum_milli"] == 32500
    assert got2[5]["cusum_milli"] == 48750
    # decision band: 3*mean_milli = 105000 -> no flag yet. A long stable
    # baseline + late sustained shift DOES cross: mean_milli = 24285,
    # slack 6071, d(60) = +29644/day -> crosses 3*mean = 72857 on the
    # shift's third day (day 12), not at its onset
    rows3 = []
    for day, n in enumerate([10] * 10 + [60] * 4):
        rows3.extend([("A", datetime(2024, 1, 1 + day, 12, 0, 0))] * n)
    ev3 = spark.createDataFrame(rows3, "event_type string, ts timestamp")
    flagged = sorted(
        r["day"] for r in cusum_drift(ev3).collect() if r["is_drift"]
    )
    assert flagged == [12, 13]  # fires only after accumulation


def test_otsu_threshold_bimodal_argmax(spark):
    from blink_spark.operators.eval import otsu_threshold

    # clean bimodal: the single viable cut separates the modes exactly
    df = spark.createDataFrame(
        [(0,)] * 5 + [(1000,)] * 5, "score_milli int"
    )
    rows = otsu_threshold(df).collect()
    assert len(rows) == 1  # t=0 has empty low class -> excluded
    r = rows[0]
    assert (r["threshold_milli"], r["w0"], r["w1"]) == (1000, 5, 5)
    assert (r["mu0_milli"], r["mu1_milli"]) == (0, 1000)
    assert r["between_var"] == 25 * 1000 * 1000 and r["is_best"]
    # trimodal: hand-computed variances pick t=900 over t=500
    # t=500: 4*6*(100-766)^2 = 10,645,344 ; t=900: 6*4*(233-900)^2 = 10,677,336
    df2 = spark.createDataFrame(
        [(100,)] * 4 + [(500,)] * 2 + [(900,)] * 4, "score_milli int"
    )
    got = {r["threshold_milli"]: r for r in otsu_threshold(df2).collect()}
    assert set(got) == {500, 900}
    assert got[500]["between_var"] == 10645344 and not got[500]["is_best"]
    assert got[900]["between_var"] == 10677336 and got[900]["is_best"]


def test_matryoshka_recall_monotone_in_dim(spark):
    import __spark_entry__ as entry

    q = entry._QUERIES["embedding_matryoshka_recall"]
    rows = {r["dim"]: r for r in q(spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {8, 16, 32}
    n_exact = {r["n_exact"] for r in rows.values()}
    assert len(n_exact) == 1 and n_exact.pop() > 0  # shared exact baseline
    # truncation loses information: recall non-decreasing in kept dims,
    # and the longest prefix must beat the shortest (the curve is real)
    assert rows[8]["recall"] <= rows[16]["recall"] <= rows[32]["recall"]
    assert rows[32]["recall"] > rows[8]["recall"]
    for r in rows.values():
        assert 0.0 <= r["recall"] <= 1.0 and r["n_found"] <= r["n_exact"]


def test_label_function_votes_hand_computed(spark):
    from blink_spark.operators.scoring import label_function_votes, score_pairs

    pairs = spark.createDataFrame(
        [
            # exact match: lf_exact +1, jaccard 1.0 +1, lev 1.0 +1 -> match
            ("a", "b", "acme corp", "acme corp"),
            # disjoint tokens, similar length: jaccard 0 -> -1, lev low -> -1
            ("c", "d", "acme corp", "zulu gmbh"),
            # mid-ground: jaccard 0.333 abstains, lev ~0.57 abstains
            ("e", "f", "acme corp", "acme corporation"),
            # long-vs-short: length blocker fires alongside the neg bands
            ("g", "h", "ab", "a very much longer company name"),
        ],
        "record_id_a string, record_id_b string, mention_a string, mention_b string",
    )
    scored = score_pairs(pairs, text_a="mention_a", text_b="mention_b")
    got = {
        (r["record_id_a"], r["record_id_b"]): r
        for r in label_function_votes(scored).collect()
    }
    r = got[("a", "b")]
    assert (r["lf_exact"], r["lf_jaccard"], r["lf_lev"], r["lf_len"]) == (1, 1, 1, 0)
    assert (r["n_pos"], r["n_neg"], r["majority_label"]) == (3, 0, "match")
    assert r["agreement_ppm"] == 1000000
    r = got[("c", "d")]
    assert (r["lf_exact"], r["lf_jaccard"], r["lf_lev"], r["lf_len"]) == (0, -1, -1, 0)
    assert (r["majority_label"], r["agreement_ppm"]) == ("non_match", 1000000)
    r = got[("e", "f")]
    assert (r["lf_jaccard"], r["lf_lev"]) == (0, 0)
    assert (r["vote_sum"], r["majority_label"], r["agreement_ppm"]) == (
        0, "abstain", 0,
    )
    r = got[("g", "h")]
    assert r["lf_len"] == -1 and r["majority_label"] == "non_match"


def test_rfm_segments_hand_computed(spark):
    from datetime import datetime, timedelta

    from blink_spark.operators.temporal import rfm_segments

    # 8 users, chosen so the exact quartile cuts land where hand-computed
    # and every segment rule fires at least once:
    #   recency sorted  0,1,2,6,12,18,25,30 -> q25=1  q50=6   q75=18
    #   frequency sorted 1,2,3,4,5,7,8,9    -> q25=2  q50=4   q75=7
    #   monetary sorted 1k..90k (milli)     -> q25=5k q50=20k q75=40k
    users = [
        # (user_id, recency_days, frequency, monetary_dollars)
        (1, 0, 9, 90.0),   # (4,4,4) champion
        (2, 1, 8, 20.0),   # (4,4,2) loyal
        (3, 12, 3, 80.0),  # (2,2,4) big_spender
        (4, 25, 7, 30.0),  # (1,3,3) at_risk
        (5, 30, 1, 1.0),   # (1,1,1) hibernating
        (6, 2, 2, 5.0),    # (3,1,1) regular
        (7, 6, 4, 15.0),   # (3,2,2) regular
        (8, 18, 5, 40.0),  # (2,3,3) at_risk
    ]
    rows = []
    for uid, rec, freq, dollars in users:
        ts = datetime(2024, 1, 1, 5) + timedelta(days=30 - rec)
        rows.append((uid, ts, dollars))
        rows.extend((uid, ts, 0.0) for _ in range(freq - 1))
    events = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, value double"
    )
    got = {r["user_id"]: r for r in rfm_segments(events).collect()}
    expect = {
        1: (0, 9, 90000, 4, 4, 4, "champion"),
        2: (1, 8, 20000, 4, 4, 2, "loyal"),
        3: (12, 3, 80000, 2, 2, 4, "big_spender"),
        4: (25, 7, 30000, 1, 3, 3, "at_risk"),
        5: (30, 1, 1000, 1, 1, 1, "hibernating"),
        6: (2, 2, 5000, 3, 1, 1, "regular"),
        7: (6, 4, 15000, 3, 2, 2, "regular"),
        8: (18, 5, 40000, 2, 3, 3, "at_risk"),
    }
    assert len(got) == 8
    for uid, exp in expect.items():
        r = got[uid]
        assert (
            r["recency_days"], r["frequency"], r["monetary_milli"],
            r["r_score"], r["f_score"], r["m_score"], r["segment"],
        ) == exp, uid


def test_bloom_novelty_hand_computed(spark, monkeypatch):
    from blink_spark.operators.dedup import bloom_novelty

    ref = spark.createDataFrame(
        [(0, "alpha beta"), (2, "gamma delta")], "doc_id bigint, text string"
    )
    inc = spark.createDataFrame(
        [
            (1, "beta  ALPHA"),      # exact dup (order/case/space-insensitive fp)
            (3, "zeta eta theta"),   # novel
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in bloom_novelty(ref, inc).collect()}
    assert got[1]["exact_dup"] and got[1]["bloom_hit"]
    assert got[1]["verdict"] == "true_dup"
    # no false negatives by construction; at m=4096 the novel doc's 3
    # probes (positions of md5('i:fp') mod 4096) miss the 6 reference bits
    assert not got[3]["exact_dup"]
    # replicate the probe math independently to prove the verdict
    import hashlib

    def fp(text):
        toks = sorted(set(" ".join(text.lower().split()).split(" ")))
        return hashlib.md5(" ".join(toks).encode()).hexdigest()

    def positions(f, m):
        return {
            int(hashlib.md5(f"{i}:{f}".encode()).hexdigest()[:8], 16) % m
            for i in range(3)
        }

    ref_bits = positions(fp("alpha beta"), 4096) | positions(fp("gamma delta"), 4096)
    novel_hit = positions(fp("zeta eta theta"), 4096) <= ref_bits
    assert got[3]["bloom_hit"] == novel_hit
    assert got[3]["verdict"] == ("false_positive" if novel_hit else "novel")
    # m_bits=1 saturates the filter: every probe lands on bit 0, so the
    # novel doc becomes a deterministic false positive (and the dup stays
    # a true dup — exact flag wins the verdict cascade)
    monkeypatch.setattr("blink_spark.operators.dedup.BLOOM_M_BITS", 1)
    got1 = {r["doc_id"]: r for r in bloom_novelty(ref, inc).collect()}
    assert got1[3]["bloom_hit"] and not got1[3]["exact_dup"]
    assert got1[3]["verdict"] == "false_positive"
    assert got1[1]["verdict"] == "true_dup"


def test_partitioned_running_sums_matches_single(spark):
    from blink_spark.operators.ids import (
        partitioned_running_sum,
        partitioned_running_sums,
    )

    df = spark.createDataFrame(
        [(i, i % 3, (i * 7) % 5) for i in range(200)], "k long, a long, b long"
    )
    multi = partitioned_running_sums(df, "k", {"ra": "a", "rb": "b"})
    got = {r["k"]: (r["ra"], r["rb"]) for r in multi.collect()}
    ea = {r["k"]: r["ra"] for r in partitioned_running_sum(df, "k", "a", "ra").collect()}
    eb = {r["k"]: r["rb"] for r in partitioned_running_sum(df, "k", "b", "rb").collect()}
    assert len(got) == 200
    for k, (ra, rb) in got.items():
        assert (ra, rb) == (ea[k], eb[k]), k


def test_heaps_fit_hand_computed(spark, monkeypatch):
    import math

    from blink_spark.operators.corpus import heaps_fit

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a c a"), (2, "b c"), (3, "d d d")],
        "doc_id bigint, text string",
    )
    # cumulative (tokens, vocab): (2,2) (5,3) (7,3) (10,4)
    row = heaps_fit(docs).collect()[0]
    assert (row["tokens_total"], row["vocab_total"]) == (10, 4)
    assert row["n_points"] == 4
    pts = [(2, 2), (5, 3), (7, 3), (10, 4)]
    xs = [math.floor(math.log(t) * 1000) for t, _ in pts]
    ys = [math.floor(math.log(v) * 1000) for _, v in pts]
    r, sx, sy = len(pts), sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    num_s, den = 1_000_000 * (r * sxy - sx * sy), r * sxx - sx * sx

    def tdiv(n, d):  # truncation-toward-zero, the cross-engine-safe div
        return n // d if n >= 0 else -((-n) // d)

    slope = tdiv(num_s, den)
    intercept = tdiv(1_000_000 * sy - slope * sx, 1_000_000 * r)
    assert (row["slope_ppm"], row["intercept_milli"]) == (slope, intercept)
    assert 0 < slope < 1_000_000  # sublinear growth: a real Heaps exponent
    # max_points=2 -> checkpoint every 2nd doc: points (5,3) and (10,4)
    monkeypatch.setattr("blink_spark.operators.corpus.HEAPS_MAX_POINTS", 2)
    row2 = heaps_fit(docs).collect()[0]
    assert row2["n_points"] == 2
    # two points -> the fit line passes through both exactly
    x1, y1 = math.floor(math.log(5) * 1000), math.floor(math.log(3) * 1000)
    x2, y2 = math.floor(math.log(10) * 1000), math.floor(math.log(4) * 1000)
    assert row2["slope_ppm"] == tdiv(
        1_000_000 * (2 * (x1 * y1 + x2 * y2) - (x1 + x2) * (y1 + y2)),
        2 * (x1 * x1 + x2 * x2) - (x1 + x2) ** 2,
    )


def test_column_profile_hand_computed(spark):
    import math

    from blink_spark.operators.profile import column_profile

    df = spark.createDataFrame(
        [(1, "x", None), (2, "x", None), (3, "y", None), (4, None, None)],
        "k bigint, s string, z string",
    )
    got = {
        r["column_name"]: r
        for r in column_profile(
            df, {"k": "cast(k as string)", "s": "s", "z": "z"}
        ).collect()
    }
    k = got["k"]  # unique key: all counts 1, tie broken by MAX value
    assert (k["n_rows"], k["n_null"], k["n_distinct"]) == (4, 0, 4)
    assert (k["top_value"], k["top_freq"]) == ("4", 1)
    assert k["entropy_micro"] == math.floor(math.log(4) * 1e6)
    s = got["s"]
    assert (s["n_rows"], s["n_null"], s["n_distinct"]) == (4, 1, 2)
    assert (s["top_value"], s["top_freq"]) == ("x", 2)
    # entropy over non-null counts {x:2, y:1}, exact micro-nat closed form
    s_micro = 2 * math.floor(math.log(2) * 1e6)
    assert s["entropy_micro"] == math.floor(math.log(3) * 1e6) - s_micro // 3
    z = got["z"]  # all-null column: no top value, no entropy
    assert (z["n_rows"], z["n_null"], z["n_distinct"]) == (4, 4, 0)
    assert z["top_value"] is None and z["top_freq"] is None
    assert z["entropy_micro"] is None


def test_gini_concentration_hand_computed(spark, monkeypatch):
    from blink_spark.operators.temporal import gini_concentration

    # per-user counts 1, 1, 2, 6 -> n=4, S1=10, ranks (asc by count, key)
    # give S2 = 1+2+6+24 = 33; G = (66-50)/40 = 0.4 exactly
    rows = []
    for uid, cnt in [(1, 1), (2, 1), (3, 2), (4, 6)]:
        rows.extend([(uid,)] * cnt)
    events = spark.createDataFrame(rows, "user_id bigint")
    r = gini_concentration(events).collect()[0]
    assert (r["n_keys"], r["total"]) == (4, 10)
    assert r["gini_ppm"] == 400000
    assert (r["n_top"], r["top_share_ppm"]) == (0, 0)  # 4 div 10 = 0 keys
    monkeypatch.setattr("blink_spark.operators.temporal.TOP_DIVISOR", 2)
    r2 = gini_concentration(events).collect()[0]
    # top half = ranks 3,4 (counts 2 and 6) -> 8/10 of all events
    assert (r2["n_top"], r2["top_share_ppm"]) == (2, 800000)
    # perfectly uniform activity -> G = 0
    uni = spark.createDataFrame(
        [(u,) for u in range(1, 6) for _ in range(3)], "user_id bigint"
    )
    assert gini_concentration(uni).collect()[0]["gini_ppm"] == 0


def test_ab_test_chi2_hand_computed(spark):
    import hashlib

    from blink_spark.operators.temporal import ab_test_chi2

    def arm(uid):
        return int(hashlib.md5(f"ab:{uid}".encode()).hexdigest()[:8], 16) % 2

    def tdiv(n, d):
        return n // d if n >= 0 else -((-n) // d)

    # strong effect: every arm-0 user converts, no arm-1 user does
    users = list(range(1, 41))
    rows = []
    for u in users:
        rows.append((u, "purchase" if arm(u) == 0 else "view"))
        rows.append((u, "view"))
    ev = spark.createDataFrame(rows, "user_id bigint, event_type string")
    r = ab_test_chi2(ev).collect()[0]
    a = sum(1 for u in users if arm(u) == 0)
    c2 = 40 - a
    assert (r["n_users"], r["n_a"], r["n_b"]) == (40, a, c2)
    assert (r["conv_a"], r["conv_b"]) == (a, 0)
    assert (r["rate_a_ppm"], r["rate_b_ppm"]) == (1_000_000, 0)
    # det = a*d - b*c = a*c2; both staged factors replicate exactly
    det = a * c2
    u_ppm = tdiv(1_000_000 * det, a * c2)
    v_ppm = tdiv(1_000_000 * det, a * c2)
    chi2 = (40 * u_ppm * v_ppm) // 1_000_000_000
    assert r["chi2_milli"] == chi2 == 40_000  # perfect split: chi2 = n
    assert r["significant"]
    # null effect: both arms convert every user -> det = 0, chi2 = 0
    ev0 = spark.createDataFrame(
        [(u, "purchase") for u in users], "user_id bigint, event_type string"
    )
    r0 = ab_test_chi2(ev0).collect()[0]
    # all converted: column c2 (non-converters) is empty -> v_ppm NULL
    assert r0["chi2_milli"] is None and not r0["significant"]
    # mixed null effect: conversion independent of arm (every 2nd user by
    # parity of uid converts -> det small), chi2 must match replication
    ev1 = spark.createDataFrame(
        [(u, "purchase" if u % 2 == 0 else "view") for u in users],
        "user_id bigint, event_type string",
    )
    r1 = ab_test_chi2(ev1).collect()[0]
    aa = sum(1 for u in users if arm(u) == 0 and u % 2 == 0)
    bb = sum(1 for u in users if arm(u) == 0 and u % 2 == 1)
    cc = sum(1 for u in users if arm(u) == 1 and u % 2 == 0)
    dd = sum(1 for u in users if arm(u) == 1 and u % 2 == 1)
    det1 = aa * dd - bb * cc
    u1 = tdiv(1_000_000 * det1, (aa + bb) * (cc + dd))
    v1 = tdiv(1_000_000 * det1, (aa + cc) * (bb + dd))
    assert r1["chi2_milli"] == (40 * u1 * v1) // 1_000_000_000
    assert not r1["significant"]


def test_soft_tfidf_hand_computed(spark):
    from blink_spark.operators.scoring import soft_tfidf_pairs

    recs = spark.createDataFrame(
        [
            (1, "washington smith"),
            (2, "washingtom smith"),  # 1 edit in a 10-char token: sim exactly 0.9
            (3, "apple"),
        ],
        "rid bigint, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "record_id_a bigint, record_id_b bigint"
    )
    got = {
        (r["record_id_a"], r["record_id_b"]): r
        for r in soft_tfidf_pairs(pairs, recs, "rid", "text").collect()
    }
    r = got[(1, 2)]
    # weights: washington/washingtom = 1*(1000*3 div 1) = 3000, smith = 1500
    # norms: 3000^2 + 1500^2 = 11.25e6 on both sides
    assert (r["norm_a"], r["norm_b"]) == (11_250_000, 11_250_000)
    # washington bridges at sim EXACTLY 900000 (theta inclusive):
    # 3000*((3000*900000)//1e6) = 8.1e6; smith exact: 1500*1500 = 2.25e6
    assert r["soft_dot_ab"] == 8_100_000 + 2_250_000
    assert r["soft_dot_ba"] == r["soft_dot_ab"]
    assert r["soft_tfidf_ab"] == r["soft_tfidf_ba"] == 0.92
    # exact-token cosine on the same pair would see only 'smith':
    # 1500*1500/11.25e6 = 0.2 — the bridge is what lifts it to 0.92
    r0 = got[(1, 3)]
    assert r0["soft_dot_ab"] == 0 and r0["soft_dot_ba"] == 0
    assert r0["soft_tfidf_ab"] == 0.0 and r0["soft_tfidf_ba"] == 0.0


def test_forecast_backtest_naive_hand_computed(spark):
    from datetime import datetime, timedelta

    from blink_spark.operators.temporal import forecast_backtest_naive

    week1 = [10, 20, 30, 10, 20, 30, 10]
    week2 = [13, 16, 30, 10, 26, 24, 10]
    rows = []
    for d, v in enumerate(week1 + week2):
        ts = datetime(2024, 1, 1, 9) + timedelta(days=d)
        rows.extend([("A", ts)] * v)
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp")
    r = forecast_backtest_naive(ev).collect()
    assert len(r) == 1
    r = r[0]
    # errs vs the 7-day-earlier value: 3,-4,0,0,6,-6,0
    assert (r["n_days"], r["total_abs_err"]) == (7, 19)
    assert r["mae_milli"] == 19000 // 7
    apes = [
        (1_000_000 * abs(a - p)) // a for a, p in zip(week2, week1)
    ]
    assert r["mape_ppm"] == sum(apes) // 7
    assert r["bias_milli"] == -(1000 // 7)  # total_err = -1, sign-safe div


def test_numeric_profile_hand_computed(spark):
    from blink_spark.operators.profile import numeric_profile

    df = spark.createDataFrame(
        [(1.0, -2.5), (2.0, None), (3.0, -0.5), (4.0, -1.0)],
        "a double, b double",
    )
    got = {
        r["column_name"]: r
        for r in numeric_profile(
            df, {"a": "floor(a * 1000)", "b": "floor(b * 1000)"}
        ).collect()
    }
    a = got["a"]
    assert (a["n_rows"], a["n_null"]) == (4, 0)
    assert (a["min_milli"], a["max_milli"], a["sum_milli"]) == (
        1000, 4000, 10000,
    )
    assert a["mean_milli"] == 2500
    # percentile_disc rank picks over [1000, 2000, 3000, 4000]
    assert (a["q25_milli"], a["q50_milli"], a["q75_milli"]) == (
        1000, 2000, 3000,
    )
    b = got["b"]  # negative values + a null: sign-safe mean, null skipped
    assert (b["n_rows"], b["n_null"]) == (4, 1)
    assert (b["min_milli"], b["max_milli"], b["sum_milli"]) == (
        -2500, -500, -4000,
    )
    assert b["mean_milli"] == -(4000 // 3)
    assert (b["q25_milli"], b["q50_milli"], b["q75_milli"]) == (
        -2500, -1000, -500,
    )


def test_spearman_matrix_hand_computed(spark):
    from blink_spark.operators.profile import spearman_matrix

    # x ascending; y = x exactly (rho 1.0); z = reversed (rho -1.0);
    # w has ties and a NULL row that must be listwise-dropped everywhere
    rows = [
        (1.0, 1.0, 9.0, 5.0),
        (2.0, 2.0, 8.0, 5.0),
        (3.0, 3.0, 7.0, 6.0),
        (4.0, 4.0, 6.0, None),
        (5.0, 5.0, 5.0, 6.0),
    ]
    df = spark.createDataFrame(rows, ["x", "y", "z", "w"])
    out = {
        (r["col_a"], r["col_b"]): r
        for r in spearman_matrix(df, ["x", "y", "z", "w"]).collect()
    }
    assert len(out) == 6
    # NULL w row dropped: n = 4 for every pair
    assert all(r["n"] == 4 for r in out.values())
    # exact mirror on the surviving rows (1,2,3,5)
    import itertools

    surv = [rows[i] for i in (0, 1, 2, 4)]
    cols = ["x", "y", "z", "w"]

    def rank2x(vals):
        return {
            v: 2 * (sorted(vals).index(v) + 1) + vals.count(v) - 1
            for v in set(vals)
        }

    for (ia, a), (ib, b) in itertools.combinations(enumerate(cols), 2):
        va = [r[ia] for r in surv]
        vb = [r[ib] for r in surv]
        ra, rb = rank2x(va), rank2x(vb)
        sum_d2 = sum((ra[x] - rb[y]) ** 2 for x, y in zip(va, vb))
        n = 4
        den = 4 * n * (n * n - 1)
        rho = (
            1_000_000 - (6 * sum_d2 * 1_000_000) // den
            if den < 1_000_000
            else 1_000_000 - (6 * sum_d2) // (den // 1_000_000)
        )
        got = out[(a, b)]
        assert got["sum_d2_4x"] == sum_d2, (a, b)
        assert got["rho_ppm"] == rho, (a, b)
        assert got["n_distinct_a"] == len(set(va))
        assert got["n_distinct_b"] == len(set(vb))
    # headline sanity: identity pair perfectly correlated, reversal -1
    assert out[("x", "y")]["rho_ppm"] == 1_000_000
    assert out[("x", "z")]["rho_ppm"] == -1_000_000


def test_ks_two_sample_hand_computed(spark):
    from blink_spark.operators.temporal import ks_two_sample

    # A = {1..4}, B = {3..6}: cum_a = 1,2,3,4,4,4 / cum_b = 0,0,1,2,3,4
    # over sorted distinct values -> d_num = max 4*|cum_a - cum_b| = 8
    rows = [("purchase", float(v)) for v in (1, 2, 3, 4)] + [
        ("click", float(v)) for v in (3, 4, 5, 6)
    ] + [("view", 999.0), ("click", None)]  # other types + NULL dropped
    df = spark.createDataFrame(rows, ["event_type", "value"])
    got = ks_two_sample(df).collect()[0]
    assert (got["n_a"], got["n_b"], got["n_values"]) == (4, 4, 6)
    assert got["d_num"] == 8
    assert got["d_ppm"] == (1_000_000 * 8) // 16 == 500_000
    # threshold = 1844164e6 * 8 // 16 = 922082e6 > 500000^2 -> not significant
    assert got["significant"] is False

    # fully separated samples: D = 1.0, comfortably significant at n=8+8
    rows2 = [("purchase", float(v)) for v in range(1, 9)] + [
        ("click", float(v)) for v in range(101, 109)
    ]
    got2 = ks_two_sample(
        spark.createDataFrame(rows2, ["event_type", "value"])
    ).collect()[0]
    assert (got2["d_num"], got2["d_ppm"]) == (64, 1_000_000)
    assert got2["significant"] is True

    # identical distributions: zero gap
    rows3 = [("purchase", float(v)) for v in (1, 2, 3)] + [
        ("click", float(v)) for v in (1, 2, 3)
    ]
    got3 = ks_two_sample(
        spark.createDataFrame(rows3, ["event_type", "value"])
    ).collect()[0]
    assert (got3["d_num"], got3["d_ppm"], got3["significant"]) == (
        0, 0, False,
    )


def test_mann_whitney_u_hand_computed(spark):
    from blink_spark.operators.profile import mann_whitney_u

    # A = {5,6,7} all above B = {1,2,3}: U_a = 9, AUC = 1.0
    rows = [("R", float(v)) for v in (5, 6, 7)] + [
        ("N", float(v)) for v in (1, 2, 3)
    ]
    df = spark.createDataFrame(rows, ["flag", "v"])
    got = mann_whitney_u(
        df, "cast(floor(v * 1000) as bigint)", "flag = 'R'"
    ).collect()[0]
    assert (got["n_a"], got["n_b"], got["n_values"]) == (3, 3, 6)
    assert got["u2_a"] == 18 and got["auc_ppm"] == 1_000_000
    assert got["rank_biserial_ppm"] == 1_000_000

    # ties count half: A = {2,3}, B = {2,5} -> U_a = 1.5 (u2 = 3)
    rows2 = [("R", 2.0), ("R", 3.0), ("N", 2.0), ("N", 5.0)]
    got2 = mann_whitney_u(
        spark.createDataFrame(rows2, ["flag", "v"]),
        "cast(floor(v * 1000) as bigint)",
        "flag = 'R'",
    ).collect()[0]
    assert (got2["n_a"], got2["n_b"], got2["n_values"]) == (2, 2, 3)
    assert got2["u2_a"] == 3
    assert got2["auc_ppm"] == (1_000_000 * 3) // 8 == 375_000
    assert got2["rank_biserial_ppm"] == 2 * 375_000 - 1_000_000

    # symmetric identical samples: AUC exactly one half
    rows3 = [("R", 1.0), ("R", 2.0), ("N", 1.0), ("N", 2.0)]
    got3 = mann_whitney_u(
        spark.createDataFrame(rows3, ["flag", "v"]),
        "cast(floor(v * 1000) as bigint)",
        "flag = 'R'",
    ).collect()[0]
    assert got3["auc_ppm"] == 500_000 and got3["rank_biserial_ppm"] == 0


def test_simpson_diversity_hand_computed(spark):
    from blink_spark.operators.corpus import simpson_diversity

    # src a: tokens [x, x, x, y] -> N=4, sum f(f-1) = 6, lambda = 6/12
    # src b: all distinct -> lambda = 0; src c: single token -> N=1 edge
    rows = [
        ("a", "x x X y"),
        ("b", "p q r s"),
        ("c", "solo"),
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    got = {r["source"]: r for r in simpson_diversity(df).collect()}
    a = got["a"]
    assert (a["n_tokens"], a["n_types"]) == (4, 2)
    assert a["simpson_ppm"] == (1_000_000 * 6) // 12 == 500_000
    assert a["top_share_ppm"] == (1_000_000 * 3) // 4
    b = got["b"]
    assert (b["n_tokens"], b["n_types"], b["simpson_ppm"]) == (4, 4, 0)
    assert b["top_share_ppm"] == 250_000
    c = got["c"]  # N(N-1) = 0 guard
    assert (c["n_tokens"], c["simpson_ppm"], c["top_share_ppm"]) == (
        1, 0, 1_000_000,
    )


def test_benford_first_digit_hand_computed(spark):
    from blink_spark.operators.profile import BENFORD_PPM, benford_first_digit

    # a perfectly Benford-proportioned sample: obs_d = expected_ppm / 1000
    # (n = 1000 exactly since the ppm literals sum to 1e6) -> every
    # dev_ppm is tiny rounding, chi2 ~ 0, not significant
    rows = []
    v = 0
    for d, ppm in BENFORD_PPM.items():
        # counts scaled so (1e6 * obs) // n reproduces ppm exactly at
        # n = 1000: obs = ppm // 1000 has remainder; spread the slack on 1
        rows += [(float(d),)] * (ppm // 1000)
    n = len(rows)
    df = spark.createDataFrame(rows, ["v"])
    got = {
        r["digit"]: r
        for r in benford_first_digit(
            df, "cast(floor(v * 100) as bigint)"
        ).collect()
    }
    assert len(got) == 10 and got[0]["n_obs"] == n
    # digit of floor(d * 100) = d for d in 1..9
    for d, ppm in BENFORD_PPM.items():
        assert got[d]["n_obs"] == ppm // 1000
        assert got[d]["expected_ppm"] == ppm
    assert got[0]["chi2_contrib_milli"] < 1000  # essentially zero
    assert got[0]["significant"] is False

    # all-nines sample: maximally non-Benford, decisively significant
    df2 = spark.createDataFrame([(9.0,)] * 500, ["v"])
    got2 = {
        r["digit"]: r
        for r in benford_first_digit(
            df2, "cast(floor(v * 100) as bigint)"
        ).collect()
    }
    assert got2[9]["n_obs"] == 500 and got2[1]["n_obs"] == 0
    assert got2[9]["obs_ppm"] == 1_000_000
    assert got2[0]["significant"] is True
    # hand-check one contribution: digit 1, obs 0 -> dev = -301030,
    # q = 301030^2 // 1000, contrib = (500 * q) // 301030 ~ 150500 milli
    # (the true (0 - n*p)^2 / (n*p) = n*p = 150.5)
    q = (301030 * 301030) // 1000
    assert got2[1]["chi2_contrib_milli"] == (500 * q) // 301030
    assert abs(got2[1]["chi2_contrib_milli"] - 150_500) <= 100


def test_decimal_quantile_sketch_hand_computed(spark):
    from blink_spark.operators.profile import decimal_quantile_sketch

    # 1..1000: bucket (m=3, lead2=50) holds 500-509, midpoint rep 504
    df = spark.createDataFrame([(v,) for v in range(1, 1001)], ["v"])
    got = {
        r["q_pct"]: r
        for r in decimal_quantile_sketch(df, "cast(v as bigint)").collect()
    }
    assert got[50]["n_rows"] == 1000
    # 9 (m=1) + 90 (m=2) + 90 (m=3) + 1 (m=4: 1000) buckets
    assert got[50]["n_buckets"] == 190
    assert (got[50]["target_rank"], got[50]["est_value"]) == (500, 504)
    assert (got[90]["target_rank"], got[90]["est_value"]) == (900, 904)
    assert (got[99]["target_rank"], got[99]["est_value"]) == (990, 994)

    # guaranteed relative error vs the exact quantile on a deterministic
    # skewed sample: est and exact share a bucket, so |est/exact - 1|
    # <= bucket width / bucket floor <= 1/lead2 <= 10%
    import hashlib

    vals = sorted(
        1 + int(hashlib.md5(f"dq:{i}".encode()).hexdigest()[:8], 16) % 10**6
        for i in range(2000)
    )
    df2 = spark.createDataFrame([(v,) for v in vals], ["v"])
    got2 = {
        r["q_pct"]: r
        for r in decimal_quantile_sketch(df2, "cast(v as bigint)").collect()
    }
    for q in (50, 90, 99):
        exact = vals[-(-q * 2000 // 100) - 1]  # ceil rank, 1-indexed
        est = got2[q]["est_value"]
        assert abs(est - exact) / exact <= 0.101, (q, est, exact)


def test_jl_projection_ratio_properties(spark):
    import hashlib

    from blink_spark.operators.ann import jl_projection_ratio

    # deterministic pseudo-random 16-dim vectors, 40 pairs; JL with 8
    # sign planes: every ratio is exact integer; the histogram's mass
    # concentrates around 1e6 (buckets 2-7 = ratio 0.4x-1.6x)
    def vec(i):
        return [
            (int(hashlib.md5(f"v:{i}:{d}".encode()).hexdigest()[:4], 16)
             % 2001 - 1000) / 1000.0
            for d in range(16)
        ]

    rows = [(i, vec(i)) for i in range(80)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = jl_projection_ratio(df).collect()
    assert sum(r["n_pairs"] for r in out) == 40
    for r in out:
        assert 0 <= r["bucket"] <= 9
        assert r["min_ratio_ppm"] <= r["max_ratio_ppm"]
        if r["bucket"] < 9:
            assert r["max_ratio_ppm"] < (r["bucket"] + 1) * 200_000
            assert r["min_ratio_ppm"] >= r["bucket"] * 200_000
    mid = sum(
        r["n_pairs"] for r in out if 2 <= r["bucket"] <= 7
    )
    assert mid >= 30  # >= 75% of pairs within 0.4x-1.6x of true distance

    # exact-mirror one pair against a pure-python replication
    one = jl_projection_ratio(
        spark.createDataFrame(rows[:2], ["vec_id", "embedding"])
    ).collect()
    q = [[int((v * 1_000_000) // 1) for v in vec(i)] for i in range(2)]

    def sgn(j, pos):
        h = int(
            hashlib.md5(f"jl:{j}:{pos}".encode()).hexdigest()[:8], 16
        )
        return 1 - 2 * (h % 2)

    dp2 = sum(
        (sum(sgn(j, p) * q[0][p] for p in range(16))
         - sum(sgn(j, p) * q[1][p] for p in range(16))) ** 2
        for j in range(8)
    )
    do2 = sum((q[0][p] - q[1][p]) ** 2 for p in range(16))
    den = 8 * do2
    ratio = dp2 // (den // 1_000_000) if den >= 1_000_000 else (
        1_000_000 * dp2
    ) // den
    assert len(one) == 1 and one[0]["n_pairs"] == 1
    assert one[0]["min_ratio_ppm"] == ratio == one[0]["max_ratio_ppm"]


def test_weighted_jaccard_pairs_hand_computed(spark):
    from blink_spark.operators.scoring import weighted_jaccard_pairs

    recs = spark.createDataFrame(
        [
            ("r1", "acme corp corp"),   # bag {acme:1, corp:2}
            ("r2", "acme corp"),        # bag {acme:1, corp:1}
            ("r3", "zeta zeta"),        # disjoint from r1
            ("r4", "Acme  CORP corp"),  # normalizes to exactly r1's bag
        ],
        ["rid", "txt"],
    )
    pairs = spark.createDataFrame(
        [("r1", "r2"), ("r1", "r3"), ("r1", "r4")],
        ["record_id_a", "record_id_b"],
    )
    got = {
        (r["record_id_a"], r["record_id_b"]): r
        for r in weighted_jaccard_pairs(pairs, recs, "rid", "txt").collect()
    }
    # r1 vs r2: min = 1 + 1 = 2, max = 1 + 2 = 3
    r12 = got[("r1", "r2")]
    assert (r12["inter_min"], r12["bag_a"], r12["bag_b"]) == (2, 3, 2)
    assert r12["weighted_jaccard_ppm"] == (1_000_000 * 2) // 3
    # disjoint: 0; the set Jaccard would also be 0 — agreement edge
    r13 = got[("r1", "r3")]
    assert (r13["inter_min"], r13["weighted_jaccard_ppm"]) == (0, 0)
    # identical bags after normalization: exactly 1.0
    r14 = got[("r1", "r4")]
    assert r14["weighted_jaccard_ppm"] == 1_000_000


def test_market_basket_rules_hand_computed(spark):
    from blink_spark.operators.temporal import market_basket_rules

    # 4 baskets: {p,q} x3 co-occurrences for (p,q); r rides with p once;
    # duplicate line for p in b1 must collapse (DISTINCT basket-item)
    rows = [
        (1, "p"), (1, "p"), (1, "q"), (1, "r"),
        (2, "p"), (2, "q"),
        (3, "p"), (3, "q"),
        (4, "r"),
    ]
    df = spark.createDataFrame(rows, ["basket", "item"])
    got = {
        (r["item_x"], r["item_y"]): r
        for r in market_basket_rules(df, "basket", "item").collect()
    }
    # only (p,q)/(q,p) survive min support 2; (p,r) has 1 co-basket
    assert set(got) == {("p", "q"), ("q", "p")}
    pq = got[("p", "q")]
    assert (pq["n_xy"], pq["n_x"], pq["n_y"]) == (3, 3, 3)
    assert pq["support_ppm"] == (1_000_000 * 3) // 4
    assert pq["confidence_ppm"] == 1_000_000
    # lift = N*c_xy/(c_x*c_y) = 4*3/9
    assert pq["lift_ppm"] == (1_000_000 * 4 * 3) // 9
    qp = got[("q", "p")]
    assert qp["confidence_ppm"] == 1_000_000 and qp["lift_ppm"] == pq["lift_ppm"]


def test_collocations_hand_computed(spark):
    from blink_spark.operators.corpus import collocations

    # "new york" appears 6x adjacent; "the cat" 5x; "cat the" 4x (below
    # threshold); unigram counts feed exact lift
    docs = [
        ("d1", "new york " * 6),
        ("d2", ("the cat " * 5) + "dog"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["tok_a"], r["tok_b"]): r
        for r in collocations(df).collect()
    }
    # tokens: new x6, york x6, the x5, cat x5, dog x1 -> T = 23
    ny = got[("new", "york")]
    assert (ny["n_bigram"], ny["n_a"], ny["n_b"]) == (6, 6, 6)
    assert ny["lift_ppm"] == (1_000_000 * 23 * 6) // 36
    tc = got[("the", "cat")]
    assert (tc["n_bigram"], tc["n_a"], tc["n_b"]) == (5, 5, 5)
    assert tc["lift_ppm"] == (1_000_000 * 23 * 5) // 25
    # "york new" occurs 5x (interior repeats) -> present; "cat the" 4x -> no
    assert ("cat", "the") not in got
    assert got[("york", "new")]["n_bigram"] == 5


def test_attribution_counts_hand_computed(spark):
    import datetime as dt

    from blink_spark.operators.temporal import attribution_counts

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    # u1: view(1) click(2) purchase(3) purchase(5) -> last: click x2;
    #     first: view x2
    # u2: purchase(1) with no prior touch -> (none) in both models;
    #     click(2) arrives after, must not be credited
    # u3: click at the SAME ts as the purchase -> visible (<=) in both
    rows = [
        (1, 1, "view", T(1)), (2, 1, "click", T(2)),
        (3, 1, "purchase", T(3)), (4, 1, "purchase", T(5)),
        (5, 2, "purchase", T(1)), (6, 2, "click", T(2)),
        (7, 3, "click", T(4)), (8, 3, "purchase", T(4)),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "ts"]
    )
    got = {
        (r["model"], r["touch_type"]): r["n_conversions"]
        for r in attribution_counts(df).collect()
    }
    assert got[("last", "click")] == 3   # u1 x2 + u3
    assert got[("last", "(none)")] == 1  # u2
    assert got[("first", "view")] == 2   # u1 x2
    assert got[("first", "click")] == 1  # u3 (same-ts first touch)
    assert got[("first", "(none)")] == 1
    # both models reconcile to the 4 conversions
    assert sum(v for (m, _), v in got.items() if m == "last") == 4
    assert sum(v for (m, _), v in got.items() if m == "first") == 4


def test_contingency_chi2_hand_computed(spark):
    from blink_spark.operators.profile import contingency_chi2

    # perfectly dependent 2x2: lang determines source exactly ->
    # chi2 = n, V^2 = 1 (the textbook maximum for a 2x2)
    rows = [("en", "a")] * 5 + [("fr", "b")] * 5
    df = spark.createDataFrame(rows, ["lang", "source"])
    out = contingency_chi2(df, "lang", "source").collect()
    summ = [r for r in out if r["row_value"] == "(all)"][0]
    # chi2 = n = 10 -> 10000 milli; small-denominator exact branch
    assert summ["chi2_contrib_milli"] == 10_000
    assert summ["df"] == 1
    assert summ["v2_ppm"] == (1000 * 10_000) // 10 == 1_000_000
    # zero-observed cells ARE present and contribute their expectation
    z = [
        r for r in out
        if r["row_value"] == "en" and r["col_value"] == "b"
    ][0]
    assert z["n_obs"] == 0
    assert z["expected_milli"] == (1000 * 5 * 5) // 10 == 2500
    # dev = 10*0 - 25 = -25; exact branch: (1000*625) // 250 = 2500 milli
    assert z["chi2_contrib_milli"] == 2500

    # independent layout: every cell at expectation -> chi2 = 0, V^2 = 0
    rows2 = [("en", "a"), ("en", "b"), ("fr", "a"), ("fr", "b")] * 3
    out2 = contingency_chi2(
        spark.createDataFrame(rows2, ["lang", "source"]), "lang", "source"
    ).collect()
    s2 = [r for r in out2 if r["row_value"] == "(all)"][0]
    assert s2["chi2_contrib_milli"] == 0 and s2["v2_ppm"] == 0
    assert len(out2) == 5  # 2x2 grid + summary


def test_rater_kappa_hand_computed(spark):
    from blink_spark.operators.eval import rater_kappa

    # classic 2x2: a=20 both-yes, d=15 both-no, b=5 (A only), c=10 (B only)
    rows = (
        [(True, True)] * 20 + [(True, False)] * 5
        + [(False, True)] * 10 + [(False, False)] * 15
    )
    df = spark.createDataFrame(rows, ["ra", "rb"])
    got = rater_kappa(df, "ra", "rb").collect()[0]
    n, a1, b1, g = 50, 25, 30, 35
    p = a1 * b1 + (n - a1) * (n - b1)  # 750 + 500 = 1250
    assert (got["n_pairs"], got["n_a_pos"], got["n_b_pos"], got["n_agree"]) \
        == (n, a1, b1, g)
    assert got["po_ppm"] == (1_000_000 * g) // n == 700_000
    assert got["pe_ppm"] == (1_000_000 * p) // (n * n) == 500_000
    assert got["kappa_ppm"] == (1_000_000 * (n * g - p)) // (n * n - p)
    assert got["kappa_ppm"] == 400_000

    # systematic disagreement: kappa negative (worse than chance)
    rows2 = [(True, False)] * 5 + [(False, True)] * 5
    got2 = rater_kappa(
        spark.createDataFrame(rows2, ["ra", "rb"]), "ra", "rb"
    ).collect()[0]
    assert got2["kappa_ppm"] == -1_000_000

    # one constant rater: po = pe always -> kappa exactly 0
    rows3 = [(True, True)] * 4 + [(True, False)] * 4
    got3 = rater_kappa(
        spark.createDataFrame(rows3, ["ra", "rb"]), "ra", "rb"
    ).collect()[0]
    assert got3["kappa_ppm"] == 0

    # BOTH raters constant: n^2 - P = 0 -> undefined kappa -> NULL
    rows4 = [(True, True)] * 4
    got4 = rater_kappa(
        spark.createDataFrame(rows4, ["ra", "rb"]), "ra", "rb"
    ).collect()[0]
    assert got4["kappa_ppm"] is None and got4["po_ppm"] == 1_000_000


def test_dispersion_index_hand_computed(spark):
    import datetime as dt

    from blink_spark.operators.temporal import dispersion_index

    def day(d):
        return dt.datetime(2024, 1, 1 + d, 12, 0, 0)

    # 'steady': 3 events/day x 4 days -> variance 0 -> D = 0
    # 'bursty': daily counts [1, 1, 1, 9] -> mean 3, s2 = 16, D = 5.333
    rows = [("steady", day(d)) for d in range(4) for _ in range(3)]
    rows += [("bursty", day(d)) for d in range(3)]
    rows += [("bursty", day(3))] * 9
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    got = {r["event_type"]: r for r in dispersion_index(df).collect()}
    st = got["steady"]
    assert (st["n_days"], st["n_events"], st["mean_milli"]) == (4, 12, 3000)
    assert st["dispersion_milli"] == 0 and st["overdispersed"] is False
    bu = got["bursty"]
    n, s, q = 4, 12, 1 + 1 + 1 + 81
    assert (bu["n_days"], bu["n_events"]) == (n, s)
    expect = (1000 * (n * q - s * s)) // ((n - 1) * s)
    assert bu["dispersion_milli"] == expect == 5333
    assert bu["overdispersed"] is True


def test_changepoint_days_hand_computed(spark):
    import datetime as dt

    from blink_spark.operators.temporal import changepoint_days

    def day(d):
        return dt.datetime(2024, 1, 1 + d, 12, 0, 0)

    # 'shift': rate jumps 1/day -> 9/day after day 2 (days 0-5):
    # counts [1,1,1,9,9,9], T=30, K=6; dev_k = |cum*6 - 30*rank|:
    # cum = 1,2,3,12,21,30 -> dev = 24,48,72,48,24,0 -> argmax day 2
    rows = []
    for d in range(3):
        rows += [("shift", day(d))]
    for d in range(3, 6):
        rows += [("shift", day(d))] * 9
    # 'uniform': 2/day x5 -> dev = 0 everywhere, tie -> earliest day 0
    rows += [("uniform", day(d)) for d in range(5) for _ in range(2)]
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    got = {r["event_type"]: r for r in changepoint_days(df).collect()}
    sh = got["shift"]
    assert (sh["n_days"], sh["n_events"]) == (6, 30)
    assert (sh["cp_day"], sh["cp_dev"]) == (2, 72)
    assert sh["cp_dev_ppm"] == (1_000_000 * 72) // (30 * 6) == 400_000
    assert sh["cp_share_ppm"] == (1_000_000 * 3) // 30  # only 10% arrived
    un = got["uniform"]
    assert (un["cp_day"], un["cp_dev"], un["cp_dev_ppm"]) == (0, 0, 0)


def test_readability_hand_computed(spark):
    from blink_spark.operators.corpus import readability

    docs = [
        # 2 sentences, 6 words, vowel groups: the(1) cat(1) sat(1)
        # here(2) it(1) slept(1) = 7
        ("d1", "The cat sat here. It slept!"),
        ("d2", ""),              # no words/sentences -> NULL metrics
        ("d3", "xyz"),           # 1 "sentence", 1 word, 0 vowel groups
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["id"]: r for r in readability(df).collect()}
    d1 = got["d1"]
    assert (d1["n_sentences"], d1["n_words"], d1["n_vowel_groups"]) == (
        2, 6, 7,
    )
    wps, spw = (1000 * 6) // 2, (1000 * 7) // 6
    assert (d1["wps_milli"], d1["spw_milli"]) == (wps, spw)
    assert d1["flesch_milli"] == 206835 - (1015 * wps) // 1000 \
        - (84600 * spw) // 1000
    d2 = got["d2"]
    assert d2["n_words"] == 0 and d2["flesch_milli"] is None
    d3 = got["d3"]
    assert (d3["n_sentences"], d3["n_words"], d3["n_vowel_groups"]) == (
        1, 1, 0,
    )
    assert d3["flesch_milli"] == 206835 - 1015 - 0


def test_source_vocab_overlap_hand_computed(spark):
    from blink_spark.operators.corpus import source_vocab_overlap

    docs = [
        ("a", "alpha beta gamma"),
        ("a", "alpha delta"),        # a vocab: {alpha,beta,gamma,delta}
        ("b", "alpha beta zz"),      # b vocab: {alpha,beta,zz}
        ("c", "qq rr"),              # disjoint from both
    ]
    df = spark.createDataFrame(docs, ["source", "text"])
    got = {
        (r["src_a"], r["src_b"]): r
        for r in source_vocab_overlap(df).collect()
    }
    ab = got[("a", "b")]
    assert (ab["n_inter"], ab["n_vocab_a"], ab["n_vocab_b"]) == (2, 4, 3)
    assert ab["jaccard_ppm"] == (1_000_000 * 2) // 5
    # disjoint pairs produce NO row (inner join semantics — documented)
    assert ("a", "c") not in got and ("b", "c") not in got


def test_nickname_matches_hand_computed(spark):
    from blink_spark.operators.scoring import nickname_matches

    recs = spark.createDataFrame(
        [
            ("r1", "Bill Smith"),
            ("r2", "William Smith"),
            ("r3", "bill smith"),
            ("r4", "Bob Smith"),
            ("r5", "Will  SMITH"),   # another william alias + messy ws
        ],
        ["rid", "txt"],
    )
    pairs = spark.createDataFrame(
        [("r1", "r2"), ("r1", "r3"), ("r1", "r4"), ("r2", "r5")],
        ["record_id_a", "record_id_b"],
    )
    got = {
        (r["record_id_a"], r["record_id_b"]): r
        for r in nickname_matches(pairs, recs, "rid", "txt").collect()
    }
    # bill -> william bridges r1~r2: not raw-equal, nickname-equal
    r12 = got[("r1", "r2")]
    assert (r12["norm_eq"], r12["nickname_eq"], r12["bridged"]) == (
        False, True, True,
    )
    # raw equal stays equal, not bridged
    r13 = got[("r1", "r3")]
    assert (r13["norm_eq"], r13["nickname_eq"], r13["bridged"]) == (
        True, True, False,
    )
    # bob -> robert != william: no bridge
    r14 = got[("r1", "r4")]
    assert (r14["nickname_eq"], r14["bridged"]) == (False, False)
    # will -> william bridges r2~r5 through normalization + dictionary
    r25 = got[("r2", "r5")]
    assert (r25["norm_eq"], r25["nickname_eq"], r25["bridged"]) == (
        False, True, True,
    )


def test_skew_report_hand_computed(spark):
    from blink_spark.operators.profile import skew_report

    # hot: one key holds 8 of 12 rows, others 1 each (sizes 8,1,1,1,1)
    # even: three keys of 4 (sizes 4,4,4); nullable: NULL bucket is hot
    rows = [("h", 1, "x")] * 8 + [
        ("h%d" % i, 1, "x") for i in range(1, 5)
    ]
    rows = [(k, i % 3, None if i < 6 else "s") for i, (k, _, _) in
            enumerate(rows)]
    df = spark.createDataFrame(rows, ["hot", "even", "nullable"])
    got = {
        r["key_name"]: r
        for r in skew_report(
            df, {"hot": "hot", "even": "even", "nullable": "nullable"}
        ).collect()
    }
    h = got["hot"]
    assert (h["n_rows"], h["n_keys"], h["max_size"]) == (12, 5, 8)
    # sizes sorted [1,1,1,1,8]: q25 rank 2 -> 1, q50 rank 3 -> 1
    assert (h["q25_size"], h["q50_size"], h["q75_size"]) == (1, 1, 1)
    assert h["top_share_ppm"] == (1_000_000 * 8) // 12
    assert h["salt_factor"] == 8
    e = got["even"]
    assert (e["n_keys"], e["max_size"], e["salt_factor"]) == (3, 4, 1)
    # NULL keys form a real group: 6 NULLs + 6 's'
    n = got["nullable"]
    assert (n["n_keys"], n["max_size"], n["salt_factor"]) == (2, 6, 1)


def test_integrity_checks_hand_computed(spark):
    from blink_spark.operators.validate import (
        constraint_violations,
        duplicate_keys,
        fk_orphans,
        integrity_report,
    )

    child = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (9, "d"), (9, "e"), (None, "f")],
        ["fk", "x"],
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], ["pk"])
    fo = fk_orphans(child, "fk", parent, "pk").collect()[0]
    # 9 is an orphan key with 2 rows; the NULL row is NOT an orphan
    assert (fo["n_rows"], fo["n_null_keys"]) == (6, 1)
    assert (fo["n_orphan_rows"], fo["n_orphan_keys"]) == (2, 1)

    dup = duplicate_keys(child, ["fk"]).collect()[0]
    # groups: 1 (x2), 2, 9 (x2), NULL -> dup rows 4, dup keys 2
    assert (dup["n_rows"], dup["n_dup_rows"], dup["n_dup_keys"]) == (6, 4, 2)

    cv = constraint_violations(
        spark.createDataFrame([(5,), (-1,), (None,)], ["v"]), "v > 0"
    ).collect()[0]
    # -1 violates; NULL predicate counts as a violation
    assert (cv["n_rows"], cv["n_violations"]) == (3, 2)

    rep = {
        r["check_name"]: r
        for r in integrity_report(
            [("fk", fk_orphans(child, "fk", parent, "pk")),
             ("dup", duplicate_keys(child, ["fk"]))]
        ).collect()
    }
    assert rep["fk"]["n_violations"] == 2 and rep["fk"]["passed"] is False
    assert rep["dup"]["n_checked"] == 6


def test_conversion_lag_histogram_hand_computed(spark):
    import datetime as dt

    from blink_spark.operators.temporal import conversion_lag_histogram

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s)
    rows = [
        # u1: touch at 0, purchases at 7s (bucket 7) and 345s (bucket 300)
        (1, 1, "view", T(0)), (2, 1, "purchase", T(7)),
        (3, 1, "purchase", T(345)),
        # u2: no prior touch -> bucket -1
        (4, 2, "purchase", T(5)),
        # u3: same-second touch -> lag 0 -> bucket 0
        (5, 3, "click", T(10)), (6, 3, "purchase", T(10)),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "ts"]
    )
    got = {
        r["bucket_floor_s"]: r["n_conversions"]
        for r in conversion_lag_histogram(df).collect()
    }
    assert got == {7: 1, 300: 1, -1: 1, 0: 1}
    assert sum(got.values()) == 4  # reconciles to conversion total


def test_elbow_inertia_hand_computed(spark, monkeypatch):
    from blink_spark.operators.ann import elbow_inertia

    # 4 points on a line; k=2 centroids = first two points (ids 0, 1)
    pts = {0: [0, 0], 1: [10, 0], 2: [11, 0], 3: [1, 0]}
    df = spark.createDataFrame(
        [(i, v) for i, v in pts.items()], "item_id long, iv array<long>"
    )
    monkeypatch.setattr("blink_spark.operators.ann.ELBOW_KS", (1, 2))
    out = {r["k"]: r for r in elbow_inertia(df).collect()}
    # k=1: centroid (0,0): dists 0, 100, 121, 1 -> 222
    assert out[1]["inertia_total"] == 222
    assert out[1]["inertia_mean"] == 222 // 4
    # k=2: centroids (0,0),(10,0): dists 0, 0, 1, 1 -> 2 (elbow drop)
    assert out[2]["inertia_total"] == 2
    assert out[2]["n_items"] == 4


def test_transition_conformance_hand_computed(spark):
    import datetime as dt

    from blink_spark.operators.temporal import transition_conformance

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    # u1: view -> click -> purchase (all allowed)
    # u2: purchase -> purchase (NOT in model: violation)
    rows = [
        (1, 1, "view", T(1)), (2, 1, "click", T(2)),
        (3, 1, "purchase", T(3)),
        (4, 2, "purchase", T(1)), (5, 2, "purchase", T(2)),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "ts"]
    )
    model = [("view", "click"), ("click", "purchase")]
    got = {
        (r["src_type"], r["dst_type"]): r
        for r in transition_conformance(df, model).collect()
    }
    assert got[("view", "click")]["allowed"] is True
    assert got[("click", "purchase")]["allowed"] is True
    pp = got[("purchase", "purchase")]
    assert pp["allowed"] is False and pp["n_transitions"] == 1
    # 3 transitions total -> each share 1/3
    assert pp["share_ppm"] == (1_000_000 * 1) // 3
    assert sum(r["n_transitions"] for r in got.values()) == 3


def test_stickiness_hand_computed(spark):
    import datetime as dt

    from blink_spark.operators.temporal import stickiness

    def D(day):
        return dt.datetime(2024, 1, 1) + dt.timedelta(days=day, hours=5)

    # period 0 (weeks 0-3): u1 active all 4 weeks, u2 only week 0;
    # duplicate events in a week must not double-count
    rows = [(1, D(w * 7)) for w in range(4)] + [(1, D(1))] + [(2, D(2))]
    # period 1 (weeks 4-7): u3 appears in 2 of the weeks
    rows += [(3, D(28)), (3, D(36))]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {r["period"]: r for r in stickiness(df).collect()}
    p0 = got[0]
    # wau: wk0 = {u1,u2} = 2, wk1..3 = {u1} -> sum 5; mau = 2; weeks 4
    assert (p0["n_weeks"], p0["wau_sum"], p0["mau"]) == (4, 5, 2)
    assert p0["stickiness_ppm"] == (1_000_000 * 5) // (4 * 2)
    p1 = got[1]
    # observed weeks only: 2 weeks, wau_sum 2, mau 1 -> perfect 1.0
    assert (p1["n_weeks"], p1["wau_sum"], p1["mau"]) == (2, 2, 1)
    assert p1["stickiness_ppm"] == 1_000_000


def test_source_reliability_hand_computed(spark):
    from pyspark.sql import functions as F

    from blink_spark.operators.eval import source_reliability

    rows = [
        # entity 1: 'acme' wins 2-1; src X agrees twice, src Y dissents
        ("X", 1, "acme"), ("X", 1, "acme"), ("Y", 1, "acme inc"),
        # entity 2: singleton value — counts toward n_records only
        ("Y", 2, "zeta"),
        # entity 3: tie 1-1 -> lexicographically greatest ('bb') wins
        ("X", 3, "aa"), ("Y", 3, "bb"),
    ]
    df = spark.createDataFrame(rows, ["world", "label_id", "mention"])
    got = {
        r["world"]: r
        for r in source_reliability(
            df, "world", "label_id", F.col("mention")
        ).collect()
    }
    x = got["X"]
    # X: e1 agree x2, e3 'aa' loses tie -> 2/3; contested-only: 2/3 too
    assert (x["n_records"], x["n_agree"]) == (3, 2)
    assert (x["n_multi"], x["n_multi_agree"]) == (3, 2)
    assert x["multi_reliability_ppm"] == (1_000_000 * 2) // 3
    y = got["Y"]
    # Y: e1 dissent, e2 singleton auto-agree, e3 'bb' wins -> 2/3 overall
    assert (y["n_records"], y["n_agree"]) == (3, 2)
    # contested-only: e1 dissent + e3 agree = 1/2 — the honest column
    assert (y["n_multi"], y["n_multi_agree"]) == (2, 1)
    assert y["multi_reliability_ppm"] == 500_000


def test_weighted_vote_fusion_hand_computed(spark):
    from pyspark.sql import functions as F

    from blink_spark.operators.eval import weighted_vote_fusion

    # Worlds G (good) and B1/B2 (mirrored bad source). Calibration
    # entities 1-3 establish trust: G always agrees with consensus,
    # B1/B2 never do on contested entities.
    rows = []
    for ent in (1, 2, 3, 4, 5, 6):
        rows += [("G", ent, "right"), ("G2", ent, "right"),
                 ("B1", ent, "wrong%d" % ent)]
    # entity 9: G says 'x', B1+B2 both say 'y' -> majority 'y', but
    # weighted vote must flip to 'x' (G's weight 1e6 vs B's low)
    rows += [("G", 9, "x"), ("B1", 9, "y"), ("B1", 9, "y")]
    df = spark.createDataFrame(rows, ["world", "label_id", "mention"])
    got = {
        r["label_id"]: r
        for r in weighted_vote_fusion(
            df, "world", "label_id", F.col("mention")
        ).collect()
    }
    e9 = got[9]
    assert e9["canon_majority"] == "y"
    assert e9["canon_weighted"] == "x"
    assert e9["changed"] is True
    assert (e9["n_records"], e9["n_values"]) == (3, 2)
    # calibration entities: both rounds agree
    assert got[1]["changed"] is False and got[1]["canon_weighted"] == "right"
    # hand-check the weights that flip e9: G agrees 6/7 contested
    # (disagrees on e9), B1 agrees 2/8 -> x: 857142 > y: 2*250000


def test_fd_profile_hand_computed(spark):
    from blink_spark.operators.profile import fd_profile

    rows = [
        ("a", "x", None), ("a", "x", None), ("a", "y", "p"),
        ("b", "z", "p"), (None, "z", "p"), (None, "z", "p"),
    ]
    df = spark.createDataFrame(rows, ["k", "v", "w"])
    got = {
        (r["lhs"], r["rhs"]): r
        for r in fd_profile(df, [("k", "v"), ("k", "w")]).collect()
    }
    kv = got[("k", "v")]
    # groups: a -> {x:2, y:1} (1 violation), b -> {z:1}, NULL -> {z:2}
    assert (kv["n_rows"], kv["n_groups"], kv["n_violations"]) == (6, 3, 1)
    assert kv["fd_strength_ppm"] == 1_000_000 - (1_000_000 * 1) // 6
    kw = got[("k", "w")]
    # a -> {NULL:2, p:1}: two NULL RHS agree with each other -> 1 viol
    assert kw["n_violations"] == 1


def test_rake_keywords_hand_computed(spark):
    from blink_spark.operators.corpus import rake_keywords

    # "machine learning" appears twice, delimited by stopwords; "data"
    # appears alone twice. Stoplist: the/of/and/... (10 words).
    docs = [
        ("d1", "the machine learning of data"),
        ("d2", "machine learning and data"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["phrase"]: r for r in rake_keywords(df).collect()
    }
    # freq: machine 2, learning 2, data 2; deg: machine 4 (two 2-phrases)
    # learning 4, data 2 -> wscore machine/learning 2000, data 1000
    ml = got["machine learning"]
    assert (ml["n_words"], ml["n_occurrences"]) == (2, 2)
    assert ml["score_milli"] == 2000 + 2000
    d = got["data"]
    assert (d["n_words"], d["n_occurrences"], d["score_milli"]) == (
        1, 2, 1000,
    )
    assert set(got) == {"machine learning", "data"}


def test_bot_flags_hand_computed(spark):
    import datetime as dt

    from blink_spark.operators.temporal import bot_flags

    T = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    rows = []
    # bot: 12 identical events, exactly 10s apart, one day -> all 3 flags
    rows += [(100 + i, 1, "click", T(10 * i)) for i in range(12)]
    # human: 4 mixed events across 2 days, irregular gaps -> no flags
    rows += [
        (1, 2, "view", T(0)), (2, 2, "click", T(500)),
        (3, 2, "purchase", T(7000)),
        (4, 2, "view", T(86400 * 1 + 123)),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "ts"]
    )
    got = {r["user_id"]: r for r in bot_flags(df).collect()}
    b = got[1]
    assert (b["n_events"], b["n_days"], b["rate_milli"]) == (12, 1, 12000)
    assert b["top_share_ppm"] == 1_000_000
    assert b["gap_disp_milli"] == 0  # perfectly regular
    assert (b["flag_rate"], b["flag_diversity"], b["flag_metronomic"]) == (
        True, True, True,
    )
    assert b["bot_score"] == 3
    h = got[2]
    assert h["n_days"] == 2 and h["rate_milli"] == 2000
    assert h["top_share_ppm"] == 500_000
    assert h["gap_disp_milli"] > 100  # irregular human gaps
    assert h["bot_score"] == 0


def test_assortativity_star_vs_clique(spark):
    from blink_spark.operators.cluster import _bidirectional
    from blink_spark.operators.profile import spearman_matrix

    # star: hub h linked to 4 leaves -> hub-leaf pairing, rho < 0
    edges = [("h", "l%d" % i) for i in range(4)]
    e = _bidirectional(
        spark.createDataFrame(edges, ["u", "v"])
    )
    from pyspark.sql import functions as F

    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    ed = (
        e.join(deg.select("u", F.col("deg").alias("deg_u")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")),
            "v",
        )
        .select("deg_u", "deg_v")
    )
    got = spearman_matrix(ed, ["deg_u", "deg_v"]).collect()[0]
    assert got["n"] == 8
    # rank2x: deg 1 (4 occ) -> 5, deg 4 -> 13; every row differs by 8
    # -> sum d2 = 8 * 64 = 512; rho = 1e6 - (6*512*1e6)//(4*8*63) =
    # -523809 — negative (disassortative), with the documented
    # heavy-tie down-bias of the 6Σd² formula (|rho| < 1 under ties)
    assert got["sum_d2_4x"] == 512
    assert got["rho_ppm"] == 1_000_000 - (6 * 512 * 1_000_000) // 2016
    assert got["rho_ppm"] == -523_809

    # triangle clique: every endpoint degree 2 -> ties everywhere,
    # degenerate rho of the tie formula is 1e6 - 6*0/... = handled: d2=0
    tri = [("a", "b"), ("b", "c"), ("a", "c")]
    e2 = _bidirectional(spark.createDataFrame(tri, ["u", "v"]))
    deg2 = e2.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    ed2 = (
        e2.join(deg2.select("u", F.col("deg").alias("deg_u")), "u")
        .join(
            deg2.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")),
            "v",
        )
        .select("deg_u", "deg_v")
    )
    got2 = spearman_matrix(ed2, ["deg_u", "deg_v"]).collect()[0]
    assert got2["sum_d2_4x"] == 0 and got2["rho_ppm"] == 1_000_000


def test_norm_ladder_dedup_hand_computed(spark):
    from blink_spark.operators.dedup import norm_ladder_dedup

    docs = [
        ("d1", "Hello World"),
        ("d2", "hello world"),      # casefold dup of d1
        ("d3", "hello   world"),    # ws-collapse dup of d1/d2
        ("d4", "hello, world!"),    # alnum-only dup of all above
        ("d5", "different"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["tier"]: r for r in norm_ladder_dedup(df).collect()}
    assert got["raw"]["n_distinct"] == 5
    assert got["raw"]["n_dup_rows"] == 0
    assert got["casefold"]["n_distinct"] == 4
    assert got["casefold"]["n_dup_rows"] == 2
    assert got["ws_collapse"]["n_distinct"] == 3
    assert got["ws_collapse"]["n_dup_rows"] == 3
    assert got["alnum_only"]["n_distinct"] == 2
    assert got["alnum_only"]["n_dup_rows"] == 4
    # monotone coarsening invariant
    ranks = sorted(got.values(), key=lambda r: r["tier_rank"])
    nd = [r["n_distinct"] for r in ranks]
    assert nd == sorted(nd, reverse=True)


def test_sorted_lev_bridges_word_swaps(spark):
    # drive the driver-registered query over a temp fixture shape via
    # the underlying expressions: word swap must bridge, typo must not
    from pyspark.sql import functions as F

    from blink_spark.functions.text import normalize_text

    recs = spark.createDataFrame(
        [("a", "John Smith"), ("b", "smith  john"), ("c", "Jon Smith")],
        ["rid", "mention"],
    )
    forms = recs.select(
        "rid",
        normalize_text(F.col("mention")).alias("nrm"),
        F.array_join(
            F.array_sort(F.split(normalize_text(F.col("mention")), " ")), " "
        ).alias("srt"),
    ).collect()
    f = {r["rid"]: r for r in forms}
    assert f["a"]["srt"] == f["b"]["srt"] == "john smith"
    # raw forms differ by a full swap (lev 10 > 7% band) but sorted are
    # byte-identical -> the bridged case
    assert f["a"]["nrm"] != f["b"]["nrm"]
    # typo keeps order: sorted form changes too -> no free pass
    assert f["c"]["srt"] == "jon smith"


def test_aging_report_hand_computed(spark):
    import datetime as dt

    from blink_spark.operators.temporal import aging_report

    D = lambda d: dt.datetime(2024, 6, 1) + dt.timedelta(days=d)
    rows = [
        ("O", D(0)),     # snapshot day itself -> 0-30
        ("O", D(-45)),   # 31-90
        ("P", D(-200)),  # 91-365
        ("P", D(-500)),  # 365+
        ("O", None),     # null date bucket
        ("F", D(-10)),   # closed: excluded
    ]
    df = spark.createDataFrame(rows, ["o_orderstatus", "o_orderdate"])
    got = {
        (r["status"], r["age_bucket"]): r
        for r in aging_report(df, "o_orderdate", "o_orderstatus").collect()
    }
    assert got[("O", 0)]["n_items"] == 1
    assert got[("O", 31)]["bucket_label"] == "31-90"
    assert got[("P", 91)]["n_items"] == 1
    assert got[("P", 366)]["bucket_label"] == "365+"
    assert got[("O", -1)]["bucket_label"] == "null_date"
    assert ("F", 0) not in got and len(got) == 5


def test_table_digest_detects_drift(spark):
    from blink_spark.operators.validate import table_digest

    a = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "v"])
    b = spark.createDataFrame([(2, "y"), (1, "x")], ["k", "v"])  # reordered
    c = spark.createDataFrame([(1, "x"), (2, "z")], ["k", "v"])  # drifted
    expr = "concat_ws('|', coalesce(cast(k as string), ''), coalesce(v, ''))"
    da = table_digest(a, expr, "t").collect()[0]
    db = table_digest(b, expr, "t").collect()[0]
    dc = table_digest(c, expr, "t").collect()[0]
    # order-insensitive equality
    assert (da["xor_digest"], da["sum_digest"], da["n_rows"]) == (
        db["xor_digest"], db["sum_digest"], db["n_rows"],
    )
    # any value drift flips at least one combiner
    assert (da["xor_digest"], da["sum_digest"]) != (
        dc["xor_digest"], dc["sum_digest"],
    )
    # duplicate-pair swap that xor alone would cancel: sum catches it
    d = spark.createDataFrame([(1, "x"), (1, "x")], ["k", "v"])
    e = spark.createDataFrame([(2, "y"), (2, "y")], ["k", "v"])
    dd = table_digest(d, expr, "t").collect()[0]
    de = table_digest(e, expr, "t").collect()[0]
    assert dd["xor_digest"] == 0 and de["xor_digest"] == 0
    assert dd["sum_digest"] != de["sum_digest"]


def test_blocking_budget_frontier_hand_computed(spark, monkeypatch):
    from blink_spark.operators.blocking import blocking_budget_frontier

    monkeypatch.setattr("blink_spark.operators.blocking.PAIR_BUDGET", 1)
    # token dfs: 'a' in 3 recs (C(3,2)=3 pairs), 'b' in 2 (1 pair),
    # 'c' in 1 (0 pairs)
    recs = spark.createDataFrame(
        [("r1", "a b"), ("r2", "a b"), ("r3", "a c")], ["rid", "txt"]
    )
    got = {
        r["df_cap"]: r
        for r in blocking_budget_frontier(recs, "rid", "txt").collect()
    }
    assert got[1]["n_token_types"] == 1  # 'c'
    assert (got[1]["cum_token_types"], got[1]["cum_pairs"]) == (1, 0)
    assert got[2]["cum_pairs"] == 1 and got[2]["within_budget"] is True
    assert got[3]["cum_pairs"] == 4 and got[3]["within_budget"] is False


def test_churn_risk_hand_computed(spark):
    import datetime as dt

    from blink_spark.operators.temporal import churn_risk

    T = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    rows = []
    # u1: gaps 10, 10, 10 then silent until the snapshot -> median 10
    rows += [(i, 1, T(10 * i)) for i in range(4)]
    # u2: sets the snapshot at t=1000; gaps 100,100 -> silence 0, risk 0
    rows += [(10, 2, T(800)), (11, 2, T(900)), (12, 2, T(1000))]
    # u3: only 2 events -> excluded (no cadence)
    rows += [(20, 3, T(0)), (21, 3, T(5))]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    got = {r["user_id"]: r for r in churn_risk(df).collect()}
    assert 3 not in got
    u1 = got[1]
    # last event at t=30, snapshot 1000 -> silence 970, risk 97x
    assert (u1["median_gap_s"], u1["silence_s"]) == (10, 970)
    assert u1["risk_milli"] == (1000 * 970) // 10
    assert u1["at_risk"] is True
    u2 = got[2]
    assert (u2["silence_s"], u2["risk_milli"], u2["at_risk"]) == (
        0, 0, False,
    )


def test_scorer_auc_perfect_and_random(spark):
    from blink_spark.operators.profile import mann_whitney_u

    # perfect scorer: every true pair outscores every false pair
    rows = [(True, 0.9), (True, 0.8), (False, 0.2), (False, 0.1)]
    df = spark.createDataFrame(rows, ["same_entity", "jaccard"])
    got = mann_whitney_u(
        df, "cast(floor(jaccard * 1000000) as bigint)", "same_entity"
    ).collect()[0]
    assert got["auc_ppm"] == 1_000_000

    # coin-flip scorer: identical score for all -> AUC exactly 0.5
    rows2 = [(True, 0.5), (True, 0.5), (False, 0.5), (False, 0.5)]
    got2 = mann_whitney_u(
        spark.createDataFrame(rows2, ["same_entity", "jaccard"]),
        "cast(floor(jaccard * 1000000) as bigint)",
        "same_entity",
    ).collect()[0]
    assert got2["auc_ppm"] == 500_000


def test_twonn_intrinsic_dim_line_vs_plane(spark):
    import hashlib

    from blink_spark.operators.ann import twonn_intrinsic_dim

    def h(i, d):
        return (
            int(hashlib.md5(f"id:{i}:{d}".encode()).hexdigest()[:6], 16)
            % 2000 - 1000
        ) / 1000.0

    # 1-D manifold embedded in 4 dims, POISSON-spaced (an equidistant
    # grid is degenerate for TwoNN — d1 = d2 everywhere — and bounded
    # jitter anti-clusters; exponential gaps match the estimator's
    # sampling model)
    import math

    xs, acc = [], 0.0
    for i in range(60):
        u = (int(hashlib.md5(f"g:{i}".encode()).hexdigest()[:6], 16)
             % 10000 + 1) / 10001.0
        acc += -math.log(u)
        xs.append(acc)
    line = [(i, [x / 50.0, 2 * x / 50.0, -x / 50.0, 0.5 * x / 50.0])
            for i, x in enumerate(xs)]
    got1 = twonn_intrinsic_dim(
        spark.createDataFrame(line, "vec_id long, embedding array<double>")
    ).collect()[0]
    assert got1["n_points"] == 60 and got1["n_used"] == 60
    assert 800 <= got1["id_milli"] <= 1600  # ~1-dimensional

    # full-rank 4-D noise: ID estimate well above the line's
    noise = [(i, [h(i, d) for d in range(4)]) for i in range(60)]
    got2 = twonn_intrinsic_dim(
        spark.createDataFrame(noise, "vec_id long, embedding array<double>")
    ).collect()[0]
    assert got2["id_milli"] > 3000  # ~4-dimensional noise
    assert got2["id_milli"] > got1["id_milli"]
