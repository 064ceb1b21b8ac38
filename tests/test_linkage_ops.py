"""Unit tests for the round-4 linkage additions: sorted-neighborhood
blocking, Fellegi-Sunter m/u weights, golden-record survivorship, and the
PII scrub — each against a hand-computed Python expectation."""

from __future__ import annotations

import itertools

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_sorted_neighborhood_matches_python_oracle(spark):
    from blink_spark.operators.blocking import sorted_neighborhood_pairs

    rows = [
        {"id": f"r{i:02d}", "text": t}
        for i, t in enumerate(
            ["delta one", "alpha", "charlie", "bravo", "alpha two",
             "echo", "bravo x", "delta", "charlie b", "alpha"]
        )
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    got = {
        (r["record_id_a"], r["record_id_b"], r["rank_dist"])
        for r in sorted_neighborhood_pairs(df, "id", "text").collect()
    }
    # Python oracle: sort by (normalized text, id), pair with <=3 successors.
    ordered = sorted(rows, key=lambda r: (" ".join(r["text"].split()), r["id"]))
    want = {
        (ordered[i]["id"], ordered[j]["id"], j - i)
        for i, j in itertools.combinations(range(len(ordered)), 2)
        if j - i <= 3
    }
    assert got == want
    # every pair exactly once (the adjacent-bucket join must not duplicate)
    n = sorted_neighborhood_pairs(df, "id", "text").count()
    assert n == len(want)


def test_sorted_neighborhood_plan_has_no_single_partition(spark):
    from blink_spark.operators.blocking import sorted_neighborhood_pairs

    rows = [{"id": f"r{i:03d}", "text": f"tok{i % 17} tok{i % 5}"} for i in range(300)]
    df = spark.createDataFrame(pd.DataFrame(rows))
    plan = sorted_neighborhood_pairs(df, "id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_fs_weights_exact_counts(spark):
    from blink_spark.operators.scoring import fs_weights

    rows = [
        # (label, f1, f2): 3 matches, 5 non-matches
        (True, True, True),
        (True, True, False),
        (True, False, False),
        (False, True, False),
        (False, False, False),
        (False, False, False),
        (False, False, True),
        (False, False, False),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["same_entity", "f1", "f2"])
    )
    out = {r["feature"]: r.asDict() for r in fs_weights(df, ["f1", "f2"]).collect()}
    f1 = out["f1"]
    assert (f1["n_match"], f1["n_nonmatch"]) == (3, 5)
    assert (f1["agree_match"], f1["agree_nonmatch"]) == (2, 1)
    assert f1["m_ppm"] == 2 * 1_000_000 // 3
    assert f1["u_ppm"] == 1_000_000 // 5
    assert f1["lr_ppm"] == (2 * 1_000_000 // 3) * 1_000_000 // (1_000_000 // 5)
    f2 = out["f2"]
    assert (f2["agree_match"], f2["agree_nonmatch"]) == (1, 1)
    assert f2["m_ppm"] == 1_000_000 // 3
    assert f2["u_ppm"] == 200_000


def test_fs_weights_zero_denominators(spark):
    """All-match input: u side divides by greatest(0,1), never crashes."""
    from blink_spark.operators.scoring import fs_weights

    df = spark.createDataFrame(
        pd.DataFrame([(True, True)], columns=["same_entity", "f1"])
    )
    r = fs_weights(df, ["f1"]).collect()[0]
    assert r["n_nonmatch"] == 0 and r["u_ppm"] == 0
    assert r["m_ppm"] == 1_000_000 and r["lr_ppm"] == 1_000_000 * 1_000_000


def test_golden_records_survivorship(spark):
    from blink_spark.operators.cluster import golden_records

    assignments = spark.createDataFrame(
        pd.DataFrame(
            [("a1", "c1"), ("a2", "c1"), ("a3", "c1"), ("a4", "c1"),
             ("b1", "c2"), ("b2", "c2")],
            columns=["record_id", "cluster_id"],
        )
    )
    records = spark.createDataFrame(
        pd.DataFrame(
            [
                ("a1", "Acme Corp"),
                ("a2", "acme  corp"),   # normalizes equal to a1's form
                ("a3", "acme inc"),
                ("a4", "acme inc"),     # 2-2 tie with 'acme corp' -> lex smaller wins
                ("b1", "zeta"),
                ("b2", "zeta ltd"),
            ],
            columns=["id", "name"],
        )
    )
    out = {
        r["cluster_id"]: r.asDict()
        for r in golden_records(assignments, records, "id", "name").collect()
    }
    # c1: 'acme corp' (count 2) ties 'acme inc' (count 2) -> lexicographic
    assert out["c1"]["canonical_text"] == "acme corp"
    assert out["c1"]["canonical_count"] == 2
    assert out["c1"]["n_members"] == 4
    assert out["c1"]["rep_record_id"] == "a1"
    # c2: 1-1 tie -> 'zeta' < 'zeta ltd'
    assert out["c2"]["canonical_text"] == "zeta"
    assert out["c2"]["n_members"] == 2


def test_pii_scrub_counts_and_redaction(spark):
    from blink_spark.operators.corpus import pii_scrub

    df = spark.createDataFrame(
        pd.DataFrame(
            [
                ("d1", "mail a.b@x.io and c_d@y.co.uk plus 1.2.3.4 end"),
                ("d2", "no pii here"),
                ("d3", "ip 255.255.255.255 only"),
            ],
            columns=["doc_id", "text"],
        )
    )
    out = {r["doc_id"]: r.asDict() for r in pii_scrub(df, "doc_id", "text").collect()}
    assert (out["d1"]["n_email"], out["d1"]["n_ipv4"]) == (2, 1)
    assert out["d1"]["clean"] == "mail <EMAIL> and <EMAIL> plus <IP> end"
    assert (out["d2"]["n_email"], out["d2"]["n_ipv4"]) == (0, 0)
    assert out["d2"]["clean"] == "no pii here"
    assert out["d3"]["clean"] == "ip <IP> only"


def test_match_rule_report_exact_counts(spark):
    from blink_spark.operators.scoring import match_rule_report

    rows = [
        # (label, rule_eq, rule_jacc, rule_lev)
        (True, True, True, True),    # eq fires with others -> not exclusive
        (True, True, False, False),  # eq exclusive, true
        (False, True, False, False), # eq exclusive, false positive
        (True, False, True, False),  # jacc exclusive, true
        (False, False, False, True), # lev exclusive, false positive
        (False, False, False, False),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["same_entity", "rule_eq", "rule_jacc", "rule_lev"]
        )
    )
    out = {r["rule"]: r.asDict() for r in match_rule_report(df).collect()}
    eq = out["rule_eq"]
    assert (eq["n_fire"], eq["n_exclusive"], eq["n_true"]) == (3, 2, 2)
    assert eq["precision_ppm"] == 2 * 1_000_000 // 3
    jc = out["rule_jacc"]
    assert (jc["n_fire"], jc["n_exclusive"], jc["n_true"]) == (2, 1, 2)
    assert jc["precision_ppm"] == 1_000_000
    lv = out["rule_lev"]
    assert (lv["n_fire"], lv["n_exclusive"], lv["n_true"]) == (2, 1, 1)
    assert lv["precision_ppm"] == 500_000


def test_token_cosine_exact(spark):
    from blink_spark.operators.scoring import token_cosine_pairs

    records = spark.createDataFrame(
        pd.DataFrame(
            [("r1", "a b a"), ("r2", "a  b"), ("r3", "c d")],
            columns=["id", "text"],
        )
    )
    pairs = spark.createDataFrame(
        pd.DataFrame(
            [("r1", "r2"), ("r1", "r3")],
            columns=["record_id_a", "record_id_b"],
        )
    )
    out = {
        (r["record_id_a"], r["record_id_b"]): r.asDict()
        for r in token_cosine_pairs(pairs, records, "id", "text").collect()
    }
    # r1 = {a:2, b:1} (norm_sq 5), r2 = {a:1, b:1} (norm_sq 2): dot = 3
    p12 = out[("r1", "r2")]
    assert (p12["dot"], p12["norm_a"], p12["norm_b"]) == (3, 5, 2)
    assert p12["cosine"] == round(3 / (10 ** 0.5), 6)
    # r1 vs r3: disjoint vocab -> dot 0 survives the left join as 0
    p13 = out[("r1", "r3")]
    assert (p13["dot"], p13["cosine"]) == (0, 0.0)


def test_tfidf_cosine_exact(spark):
    from blink_spark.operators.scoring import tfidf_cosine_pairs

    records = spark.createDataFrame(
        pd.DataFrame(
            [("r1", "a b a"), ("r2", "a  b"), ("r3", "c d")],
            columns=["id", "text"],
        )
    )
    pairs = spark.createDataFrame(
        pd.DataFrame(
            [("r1", "r2"), ("r1", "r3")],
            columns=["record_id_a", "record_id_b"],
        )
    )
    out = {
        (r["record_id_a"], r["record_id_b"]): r.asDict()
        for r in tfidf_cosine_pairs(pairs, records, "id", "text").collect()
    }
    # N=3; df(a)=df(b)=2 -> w=1500, df(c)=df(d)=1 -> w=3000
    # r1 = {a:3000, b:1500} (norm 11_250_000), r2 = {a:1500, b:1500}
    # (norm 4_500_000): dot = 4_500_000 + 2_250_000
    p12 = out[("r1", "r2")]
    assert (p12["dot"], p12["norm_a"], p12["norm_b"]) == (
        6_750_000, 11_250_000, 4_500_000,
    )
    assert p12["tfidf_cosine"] == round(
        6_750_000 / (11_250_000 ** 0.5 * 4_500_000 ** 0.5), 6
    )
    # idf does its job: the unweighted cosines are equal for equal token
    # overlap, but rare-token pairs would outscore stopword pairs here
    p13 = out[("r1", "r3")]
    assert (p13["dot"], p13["tfidf_cosine"]) == (0, 0.0)
    assert p13["norm_b"] == 18_000_000


def test_phonetic_key_classic_soundex_pairs(spark):
    from blink_spark.functions.text import phonetic_key

    df = spark.createDataFrame(
        pd.DataFrame(
            [("Robert",), ("Rupert",), ("Johnson",), ("Jonson",), ("",)],
            columns=["t"],
        )
    )
    got = [r[0] for r in df.select(phonetic_key("t")).collect()]
    assert got[0] == got[1] == "R163"      # classic Soundex agreement
    assert got[2] == got[3] == "J525"      # h-deletion collapses the pair
    assert got[4] == "0000"                # empty input -> all padding


def test_phonetic_pairs_caps_oversized_blocks(spark, monkeypatch):
    from blink_spark.operators.blocking import phonetic_pairs

    rows = [(f"s{i:02d}", "smith") for i in range(5)] + [
        ("j1", "johnson"), ("j2", "jonson"), ("x1", "quartz")
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "name"]))
    with monkeypatch.context() as m:
        m.setattr("blink_spark.operators.blocking.PHONETIC_MAX_BLOCK", 4)
        got = {
            (r["record_id_a"], r["record_id_b"])
            for r in phonetic_pairs(df, "id", "name").collect()
        }
    # the 5-record smith block exceeds a cap of 4 and is dropped whole;
    # johnson/jonson collide; quartz is a singleton
    assert got == {("j1", "j2")}
    full = phonetic_pairs(df, "id", "name")
    assert full.count() == 10 + 1  # C(5,2) smith pairs + the johnson pair


def test_bcubed_hand_computed(spark):
    from blink_spark.operators.eval import bcubed

    # Classic worked example: gold classes {1,2,3,4,5} / {6,7} split by the
    # prediction into {1,2,3} {4,5,6} {7}.
    assign = [(str(i), c) for i, c in
              [(1, "A"), (2, "A"), (3, "A"), (4, "B"), (5, "B"), (6, "B"),
               (7, "C")]]
    labels = [(str(i), g) for i, g in
              [(1, "x"), (2, "x"), (3, "x"), (4, "x"), (5, "x"), (6, "y"),
               (7, "y")]]
    clusters = spark.createDataFrame(assign, ["record_id", "cluster_id"])
    lab = spark.createDataFrame(labels, ["record_id", "label"])
    row = bcubed(clusters, lab).collect()[0]
    assert row["n_records"] == 7
    # precision: records 1-3 -> 3/3, records 4,5 -> 2/3, record 6 -> 1/3,
    # record 7 -> 1/1; mean = (3*1 + 2*(2/3) + 1/3 + 1) / 7
    p = (3 * 1 + 2 * (2 / 3) + 1 / 3 + 1) / 7
    # recall: 1-3 -> 3/5, 4,5 -> 2/5, 6 -> 1/2, 7 -> 1/2
    r = (3 * (3 / 5) + 2 * (2 / 5) + 1 / 2 + 1 / 2) / 7
    assert abs(row["bcubed_precision"] - p) < 2e-6
    assert abs(row["bcubed_recall"] - r) < 2e-6
    assert abs(row["bcubed_f1"] - 2 * p * r / (p + r)) < 4e-6


def test_bcubed_overflow_boundary(spark):
    """bcubed's per-group n_cl²·10⁹ is a BIGINT with no guard but ANSI,
    which get_spark pins: one (cluster, label) group of 96,038 records
    computes, and 96,039 raises (96,039²·10⁹ > 2⁶³−1)."""
    from pyspark.errors import ArithmeticException

    from blink_spark.operators.eval import bcubed

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"

    def one_group(n):
        ids = spark.range(n).selectExpr("CAST(id AS STRING) AS record_id")
        return bcubed(ids.selectExpr("record_id", "'c' AS cluster_id"),
                      ids.selectExpr("record_id", "'l' AS label")).collect()[0]

    row = one_group(96_038)
    assert row["n_records"] == 96_038
    assert row["bcubed_precision"] == row["bcubed_recall"] == 1.0
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        one_group(96_039)


def test_bcubed_perfect_clustering(spark):
    from blink_spark.operators.eval import bcubed

    rows = [(f"r{i}", f"c{i % 3}") for i in range(9)]
    clusters = spark.createDataFrame(rows, ["record_id", "cluster_id"])
    labels = spark.createDataFrame(rows, ["record_id", "label"])
    row = bcubed(clusters, labels).collect()[0]
    assert (row["bcubed_precision"], row["bcubed_recall"], row["bcubed_f1"]) == (
        1.0, 1.0, 1.0,
    )


def test_meta_block_prune_hand_computed(spark):
    from blink_spark.operators.blocking import meta_block_prune

    # block graph: b1={1,2,3}, b2={1,2}, b3={2,3}, b4={4,5}
    # edges: (1,2) w=2, (1,3) w=1, (2,3) w=2, (4,5) w=1
    rows = [
        ("b1", "r1"), ("b1", "r2"), ("b1", "r3"),
        ("b2", "r1"), ("b2", "r2"),
        ("b3", "r2"), ("b3", "r3"),
        ("b4", "r4"), ("b4", "r5"),
    ]
    df = spark.createDataFrame(rows, ["block_key", "record_id"])
    got = {
        (r["record_id_a"], r["record_id_b"]): r["cbs_weight"]
        for r in meta_block_prune(df).collect()
    }
    # node means: r1 -> (2+1)/2, r2 -> (2+2)/2, r3 -> (1+2)/2, r4/r5 -> 1
    # WNP keeps an edge if w >= mean(either endpoint):
    # (1,2): 2 >= 1.5 yes; (1,3): 1 < 1.5 and 1 also < 1.5 -> pruned;
    # (2,3): 2 >= 2 yes; (4,5): 1 >= 1 yes.
    assert got == {("r1", "r2"): 2, ("r2", "r3"): 2, ("r4", "r5"): 1}


def test_meta_block_prune_purges_oversized_blocks(spark, monkeypatch):
    from blink_spark.operators.blocking import meta_block_prune

    rows = [("big", f"r{i}") for i in range(6)] + [("ok", "a"), ("ok", "b")]
    df = spark.createDataFrame(rows, ["block_key", "record_id"])
    monkeypatch.setattr("blink_spark.operators.blocking.META_MAX_BLOCK", 5)
    got = {
        (r["record_id_a"], r["record_id_b"])
        for r in meta_block_prune(df).collect()
    }
    assert got == {("a", "b")}


def test_reciprocal_best_mutual_only(spark):
    from blink_spark.operators.eval import reciprocal_best

    pairs = [
        # m1's best is e1 (0.9) and e1's best is m1 -> mutual
        ("m1", "e1", 0.9), ("m1", "e2", 0.5),
        # m2's best is e1 (0.8) but e1 prefers m1 -> dropped
        ("m2", "e1", 0.8),
        # m3/e3 tie group: m3 best -> e3 (0.7, id tie e3<e4);
        # e3 best -> m3 -> mutual; e4's best is m3 but m3 chose e3
        ("m3", "e3", 0.7), ("m3", "e4", 0.7),
    ]
    df = spark.createDataFrame(pairs, ["mention_id", "entity_id", "sim"])
    got = {
        (r["mention_id"], r["entity_id"])
        for r in reciprocal_best(df, "mention_id", "entity_id", "sim").collect()
    }
    assert got == {("m1", "e1"), ("m3", "e3")}


def test_em_fs_weights_equals_bruteforce(spark):
    """Planted two-population pair set (clear matches agree on both
    features, clear non-matches on neither, some noise): EM must equal a
    pure-python replication bit-for-bit and recover m >> u."""
    import math

    import pandas as pd

    from blink_spark.operators.scoring import em_fs_weights

    rows = (
        [(True, True)] * 40      # matches: agree on both
        + [(False, False)] * 140  # non-matches
        + [(True, False)] * 12    # noise
        + [(False, True)] * 8
    )

    def brute(counts, k, iters):
        lam, m, u = 500_000, [900_000] * k, [100_000] * k
        w_ = lambda a, b: math.floor(math.log(a / b) * 1e6)
        for _ in range(iters):
            lw = w_(lam, 1_000_000 - lam)
            wa = [w_(m[i], u[i]) for i in range(k)]
            wd = [w_(1_000_000 - m[i], 1_000_000 - u[i]) for i in range(k)]
            nn = sw = 0
            swx, snx = [0] * k, [0] * k
            for x, n in counts.items():
                t = lw + sum(wa[i] if x[i] else wd[i] for i in range(k))
                pw = math.floor(1e6 / (1.0 + math.exp(-t / 1e6)))
                nn += n
                sw += n * pw
                for i in range(k):
                    if x[i]:
                        swx[i] += n * pw
                        snx[i] += n * (1_000_000 - pw)
            cl = lambda v: max(1, min(v, 999_999))
            lam = cl(sw // max(nn, 1))
            m = [cl((1_000_000 * swx[i]) // max(sw, 1)) for i in range(k)]
            u = [
                cl((1_000_000 * snx[i]) // max(1_000_000 * nn - sw, 1))
                for i in range(k)
            ]
        out = {"lambda": (lam, 1_000_000 - lam, w_(lam, 1_000_000 - lam))}
        for i, f in enumerate(["f1", "f2"]):
            out[f] = (m[i], u[i], w_(m[i], u[i]))
        return out

    counts = {}
    for x in rows:
        counts[x] = counts.get(x, 0) + 1
    want = brute(counts, 2, 3)

    df = spark.createDataFrame(pd.DataFrame(rows, columns=["f1", "f2"]))
    got = {
        r.feature: (r.m_ppm, r.u_ppm, r.weight_micro)
        for r in em_fs_weights(df, ["f1", "f2"]).collect()
    }
    assert got == want
    # discriminative features recovered without labels
    assert got["f1"][0] > got["f1"][1] and got["f2"][0] > got["f2"][1]
    # prevalence near the planted 52/200
    assert 150_000 < got["lambda"][0] < 400_000


def test_greedy_one_to_one_frees_runners_up(spark):
    """Planted chain l1-r1-l2-r2-l3-r3: single reciprocal-best yields only
    (l1, r1); the greedy rounds free each runner-up in turn, matching all
    three lefts with the correct round stamps and 1:1 endpoint use."""
    from blink_spark.operators.eval import greedy_one_to_one, reciprocal_best

    pairs = spark.createDataFrame(
        [
            ("l1", "r1", 0.9),
            ("l2", "r1", 0.8),
            ("l2", "r2", 0.5),
            ("l3", "r2", 0.4),
            ("l3", "r3", 0.3),
        ],
        "l string, r string, sim double",
    )
    single = {
        (x.l, x.r) for x in reciprocal_best(pairs, "l", "r", "sim").collect()
    }
    assert single == {("l1", "r1")}

    got = {
        (x.l, x.r): x.match_round
        for x in greedy_one_to_one(pairs, "l", "r", "sim").collect()
    }
    assert got == {("l1", "r1"): 1, ("l2", "r2"): 2, ("l3", "r3"): 3}
    # one-to-one: every endpoint used at most once
    ls = [l for l, _ in got]
    rs = [r for _, r in got]
    assert len(ls) == len(set(ls)) and len(rs) == len(set(rs))


def test_greedy_one_to_one_tie_break_deterministic(spark):
    """Equal scores resolve by other-id ASC on both sides: l1 ties r1/r2
    at 0.7 -> picks r1; r2's round-1 best is l1 (id ASC) so (l2, r2) is
    not mutual until l1/r1 are removed in round 2."""
    from blink_spark.operators.eval import greedy_one_to_one

    pairs = spark.createDataFrame(
        [("l1", "r1", 0.7), ("l1", "r2", 0.7), ("l2", "r2", 0.7)],
        "l string, r string, sim double",
    )
    got = {
        (x.l, x.r): x.match_round
        for x in greedy_one_to_one(pairs, "l", "r", "sim").collect()
    }
    assert got == {("l1", "r1"): 1, ("l2", "r2"): 2}


def test_pr_curve_fixture_shape(spark):
    import __spark_entry__ as entry

    rows = sorted(
        (r.asDict() for r in
         entry._QUERIES["er_pr_curve"](spark, "unused").collect()),
        key=lambda r: -r["threshold_ppm"],
    )
    # top bucket: everything predicted at jaccard=1.0 is a true match
    assert rows[0]["precision_ppm"] == 1_000_000
    # recall is monotone non-decreasing as the threshold drops and ends at 1
    recalls = [r["recall_ppm"] for r in rows]
    assert recalls == sorted(recalls) and recalls[-1] == 1_000_000
    # the operating point: jaccard >= 0.60 is the best single-rule F1 on
    # the fixture corpus (the full 3-rule decision reaches F1 = 1.0)
    best = max(rows, key=lambda r: r["f1_ppm"])
    assert best["threshold_ppm"] == 600_000 and best["f1_ppm"] == 973_324


def test_monge_elkan_hand_computed(spark):
    from blink_spark.operators.scoring import monge_elkan_pairs

    records = spark.createDataFrame(
        pd.DataFrame(
            [("r1", "john smith"), ("r2", "smith jon"), ("r3", "zzz")],
            columns=["id", "text"],
        )
    )
    pairs = spark.createDataFrame(
        pd.DataFrame(
            [("r1", "r2"), ("r1", "r3")],
            columns=["record_id_a", "record_id_b"],
        )
    )
    out = {
        (r["record_id_a"], r["record_id_b"]): r.asDict()
        for r in monge_elkan_pairs(pairs, records, "id", "text").collect()
    }

    def bigrams(t):
        return {t[i:i + 2] for i in range(max(len(t) - 1, 1))}

    def dice_ppm(a, b):
        ba, bb = bigrams(a), bigrams(b)
        return (2_000_000 * len(ba & bb)) // max(len(ba) + len(bb), 1)

    def me_ppm(ta, tb):
        return sum(max(dice_ppm(x, y) for y in tb) for x in ta) // len(ta)

    a, b = ["john", "smith"], ["smith", "jon"]
    p12 = out[("r1", "r2")]
    assert p12["me_ab_ppm"] == me_ppm(a, b)
    assert p12["me_ba_ppm"] == me_ppm(b, a)
    assert p12["me_sym_ppm"] == (p12["me_ab_ppm"] + p12["me_ba_ppm"]) // 2
    # reorder-tolerant: 'smith' matches perfectly, 'john'~'jon' partially
    assert p12["me_ab_ppm"] > 600_000
    # disjoint bigrams -> 0
    assert out[("r1", "r3")]["me_sym_ppm"] == 0


def test_blocking_ensemble_invariants(spark):
    import __spark_entry__ as entry

    rows = {r["strategy"]: r.asDict() for r in
            entry._QUERIES["er_blocking_ensemble"](spark, "unused").collect()}
    assert set(rows) == {"token_pair", "snm", "phonetic", "union"}
    u = rows["union"]
    singles = [rows[s] for s in ("token_pair", "snm", "phonetic")]
    # union covers at least what the best single pass covers
    assert u["n_gold_covered"] >= max(s["n_gold_covered"] for s in singles)
    # exclusive contributions sum to the union's exactly-once count
    assert sum(s["n_gold_unique"] for s in singles) == u["n_gold_unique"]
    # each auxiliary pass earns its keep on the fixture corpus
    assert rows["snm"]["n_gold_unique"] > 0 or rows["phonetic"]["n_gold_unique"] > 0
    assert u["recall_ppm"] <= 1_000_000


def test_cluster_purity_hand_computed(spark):
    from blink_spark.operators.eval import cluster_purity

    clusters = spark.createDataFrame(
        pd.DataFrame(
            [("a1", "c1"), ("a2", "c1"), ("a3", "c1"), ("a4", "c1"),
             ("b1", "c2")],
            columns=["record_id", "cluster_id"],
        )
    )
    labels = spark.createDataFrame(
        pd.DataFrame(
            [("a1", 7), ("a2", 7), ("a3", 7), ("a4", 9), ("b1", 5)],
            columns=["record_id", "label"],
        )
    )
    out = {r["cluster_id"]: r.asDict()
           for r in cluster_purity(clusters, labels).collect()}
    c1 = out["c1"]
    assert (c1["n_records"], c1["n_labels"], c1["n_dominant"]) == (4, 2, 3)
    assert c1["purity_ppm"] == 750_000
    # gini = 1 - (9 + 1)/16
    assert c1["gini_ppm"] == 1_000_000 - (1_000_000 * 10) // 16
    c2 = out["c2"]
    assert (c2["purity_ppm"], c2["gini_ppm"]) == (1_000_000, 0)


def test_suffix_pairs_prefix_corruption_and_caps(spark, monkeypatch):
    from blink_spark.operators.blocking import suffix_pairs

    rows = [
        ("r1", "doctor john smithson"),   # prefix-corrupted twin of r2
        ("r2", "john smithson"),
        ("r3", "mary jones"),             # no partner
        ("r4", "abc"),                    # short-string fallback block
        ("r5", "abc"),
        ("z1", "zzblocked common tail"),  # 4-way block > max_block: dropped
        ("z2", "yzblocked common tail"),
        ("z3", "xzblocked common tail"),
        ("z4", "wzblocked common tail"),
    ]
    min_len, max_sfx, max_block = 5, 12, 3
    monkeypatch.setattr("blink_spark.operators.blocking.SUFFIX_MIN_LEN", min_len)
    monkeypatch.setattr("blink_spark.operators.blocking.SUFFIX_MAX_KEYS", max_sfx)
    monkeypatch.setattr("blink_spark.operators.blocking.SUFFIX_MAX_BLOCK", max_block)

    def mirror(data):
        sfx = {}
        for rid, txt in data:
            s = txt.replace(" ", "")
            n = max(min(len(s) - min_len + 1, max_sfx), 1)
            for i in range(n):
                sfx.setdefault(s[i:], []).append(rid)
        pairs = {}
        for key, ids in sfx.items():
            if not (2 <= len(ids) <= max_block):
                continue
            for a in ids:
                for b in ids:
                    if a < b:
                        n_sh, longest = pairs.get((a, b), (0, 0))
                        pairs[(a, b)] = (n_sh + 1, max(longest, len(key)))
        return pairs

    df = spark.createDataFrame(rows, ["id", "name"])
    got = {
        (r["record_id_a"], r["record_id_b"]): (
            r["n_shared_suffixes"],
            r["longest_suffix_len"],
        )
        for r in suffix_pairs(df, "id", "name").collect()
    }
    exp = mirror(rows)
    assert got == exp
    # the corruption survives: r1-r2 pair found, deepest shared tail =
    # the full space-stripped "johnsmithson"
    assert exp[("r1", "r2")][1] == len("johnsmithson")
    # fallback pairs short strings; the oversized z-block emits nothing
    assert ("r4", "r5") in exp
    assert not any(a.startswith("z") for (a, _b) in exp)
