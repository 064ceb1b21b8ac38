"""Connected-components (large-star/small-star) property tests vs a pure
Python union-find oracle (SURVEY.md §5: determinism, symmetry, transitive
fixed point)."""

from __future__ import annotations

from blink_spark.operators.cluster import assign_clusters, connected_components


def _uf_oracle(edges: list[tuple[str, str]], nodes: list[str]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _run(spark, edges, nodes):
    edf = spark.createDataFrame(edges or [("x", "x")], "src string, dst string")
    if not edges:
        edf = edf.filter("src <> src")
    ndf = spark.createDataFrame([(n,) for n in nodes], "record_id string")
    got = {
        r.record_id: r.cluster_id
        for r in assign_clusters(ndf, "record_id", edf).collect()
    }
    assert got == _uf_oracle(edges, nodes)


def test_cc_simple_chain(spark):
    _run(spark, [("a", "b"), ("b", "c"), ("d", "e")], list("abcdef"))


def test_cc_long_chain(spark):
    # chain of 40 nodes — exercises the O(log n) round bound
    nodes = [f"n{i:03d}" for i in range(40)]
    edges = list(zip(nodes, nodes[1:]))
    _run(spark, edges, nodes)


def test_cc_symmetry_and_dups(spark):
    edges = [("b", "a"), ("a", "b"), ("a", "b"), ("c", "c")]
    _run(spark, edges, list("abcd"))


def test_cc_empty_edges(spark):
    _run(spark, [], list("abc"))


def test_cc_star_and_cycle(spark):
    edges = [("hub", f"s{i}") for i in range(10)] + [("x", "y"), ("y", "z"), ("z", "x")]
    nodes = ["hub"] + [f"s{i}" for i in range(10)] + list("xyz")
    _run(spark, edges, nodes)


def test_cc_deterministic_across_runs(spark):
    edges = [("m3", "m1"), ("m2", "m4"), ("m4", "m1")]
    edf = spark.createDataFrame(edges, "src string, dst string")
    a = sorted(map(tuple, connected_components(edf).collect()))
    b = sorted(map(tuple, connected_components(edf.repartition(7)).collect()))
    assert a == b


def test_local_and_superstep_cc_agree(spark):
    """The size-gated single-task union-find must produce byte-identical
    assignments to the distributed superstep path (min-id labels both)."""
    import random

    rng = random.Random(11)
    edges = []
    # chains, cliques, stars, singleton-free random components
    for c in range(40):
        ids = [f"n{c:02d}_{i:02d}" for i in range(rng.randint(2, 12))]
        kind = c % 3
        if kind == 0:  # chain
            edges += list(zip(ids, ids[1:]))
        elif kind == 1:  # star from a random center
            ctr = rng.choice(ids)
            edges += [(ctr, x) for x in ids if x != ctr]
        else:  # random spanning-ish
            for x in ids[1:]:
                edges.append((rng.choice(ids), x))
    rng.shuffle(edges)
    edf = spark.createDataFrame(edges, "src string, dst string")
    local = sorted(map(tuple, connected_components(edf, local_threshold=10**6).collect()))
    dist = sorted(map(tuple, connected_components(edf, local_threshold=0).collect()))
    assert local == dist
    # min-id labeling invariant on both
    for rows in (local, dist):
        by_cluster = {}
        for rid, cid in rows:
            by_cluster.setdefault(cid, []).append(rid)
        for cid, members in by_cluster.items():
            assert cid == min(members + [cid])


def test_superstep_duplicate_source_converges(spark):
    """Regression (round-4 ADVICE): (3,1),(3,2) has no 2-chain, so the old
    source∩target-only convergence test declared it a star forest before any
    superstep — emitting node 3 in TWO clusters and never merging {1,2}. The
    fixed test also rejects duplicate sources, forcing the superstep to run."""
    edf = spark.createDataFrame(
        [("3", "1"), ("3", "2")], "src string, dst string"
    )
    got = sorted(map(tuple, connected_components(edf, local_threshold=0).collect()))
    assert got == [("1", "1"), ("2", "1"), ("3", "1")]
    _run(spark, [("3", "1"), ("3", "2")], ["1", "2", "3"])


def test_local_cc_preserves_numeric_id_type(spark):
    """The size-gated local path must not stringify numeric-id edge frames
    (superstep path is type-generic; local path derives its Arrow schema
    from the input)."""
    edf = spark.createDataFrame([(3, 1), (3, 2), (7, 5)], "src long, dst long")
    out = connected_components(edf, local_threshold=10**6)
    assert out.schema["record_id"].dataType.simpleString() == "bigint"
    got = sorted(map(tuple, out.collect()))
    assert got == [(1, 1), (2, 1), (3, 1), (5, 5), (7, 5)]


def test_kb_filter_null_description(spark):
    """Regression (round-4 ADVICE): NULL title/description rows must classify
    identically in the counters when-chain and the kept-path filter."""
    from blink_spark.sources.kb_filters import kb_ingestion_filter

    rows = [
        ("Good", "a page", 10, ["ok"]),
        ("NullDesc", None, 10, ["ok"]),
        (None, "no title here", 10, ["ok"]),
        ("Short", None, 2, ["ok"]),
        ("Foo (disambiguation)", None, 10, ["ok"]),
    ]
    kb = spark.createDataFrame(
        rows, "title string, description string, num_tokens int, aliases array<string>"
    )
    kept, counters = kb_ingestion_filter(kb)
    cnt = {r.drop_class: r.n for r in counters.collect()}
    assert cnt == {"kept": 3, "dropped_short": 1, "dropped_disambiguation": 1}
    assert kept.count() == cnt["kept"]


def test_local_cc_edge_cases(spark):
    """The single-task union-find path on degenerate inputs: empty edge set
    (no rows through mapInPandas) and self-loops (canonicalized away)."""
    empty = spark.createDataFrame([], "src string, dst string")
    assert connected_components(empty, local_threshold=10**6).count() == 0
    loops = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("b", "b")], "src string, dst string"
    )
    got = sorted(map(tuple, connected_components(loops, local_threshold=10**6).collect()))
    assert got == [("a", "a"), ("b", "a")]


def test_cluster_size_stats_histogram(spark):
    """Planted assignment: sizes 1,1,2,3 → histogram rows (1,2,2),(2,1,2),
    (3,1,3) and a -1 total row (4 clusters, 7 records)."""
    from blink_spark.operators.cluster import cluster_size_stats

    assigns = spark.createDataFrame(
        [
            ("r1", "c1"), ("r2", "c2"),
            ("r3", "c3"), ("r4", "c3"),
            ("r5", "c4"), ("r6", "c4"), ("r7", "c4"),
        ],
        "record_id string, cluster_id string",
    )
    got = {
        r.cluster_size: (r.n_clusters, r.n_records)
        for r in cluster_size_stats(assigns).collect()
    }
    assert got == {1: (2, 2), 2: (1, 2), 3: (1, 3), -1: (4, 7)}


def test_repair_report_cuts_chain_bridge_keeps_pairs(spark):
    """Triangle {a1,a2,a3} chain-welded to pair {b1,b2} via bridge a3-b1
    (zero triangle support, both endpoints degree>=2): the bridge is cut,
    the pair's own support-0 edge survives the degree guard, and the
    singleton c1 reports untouched."""
    from blink_spark.operators.cluster import repair_report

    edges = spark.createDataFrame(
        [
            ("a1", "a2"), ("a1", "a3"), ("a2", "a3"),  # triangle
            ("a3", "b1"),                                 # bridge
            ("b1", "b2"),                                 # legit pair
        ],
        "src string, dst string",
    )
    records = spark.createDataFrame(
        [("a1",), ("a2",), ("a3",), ("b1",), ("b2",), ("c1",)],
        "mention_id string",
    )
    got = {
        r.cluster_id: (
            r.n_records, r.n_edges, r.n_bridges,
            r.n_clusters_after, r.max_size_after,
        )
        for r in repair_report(records, "mention_id", edges).collect()
    }
    assert got == {"a1": (5, 5, 1, 2, 3), "c1": (1, 0, 0, 1, 1)}


def test_repair_report_pendant_edge_survives(spark):
    """A pendant record hanging off a triangle (deg 1) is support-0 but the
    degree guard keeps it attached — only two-sided welds are cut."""
    from blink_spark.operators.cluster import repair_report

    edges = spark.createDataFrame(
        [("a1", "a2"), ("a1", "a3"), ("a2", "a3"), ("a3", "p1")],
        "src string, dst string",
    )
    records = spark.createDataFrame(
        [("a1",), ("a2",), ("a3",), ("p1",)], "mention_id string"
    )
    rows = repair_report(records, "mention_id", edges).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.cluster_id, r.n_records, r.n_edges, r.n_bridges,
            r.n_clusters_after, r.max_size_after) == ("a1", 4, 4, 0, 1, 4)


def test_triangle_census_hand_computed(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from blink_spark.operators.cluster import triangle_census

    # triangle a-b-c + chain c-d-e (+ duplicate/reversed edges to exercise
    # canonicalization)
    edges = spark.createDataFrame(
        pd.DataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
             ("c", "d"), ("d", "e")],
            columns=["src", "dst"],
        )
    )
    r = triangle_census(edges).collect()[0].asDict()
    # degrees: a=2 b=2 c=3 d=2 e=1 -> wedges = 1+1+3+1+0 = 6
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"]) == (5, 5, 6)
    assert r["n_triangles"] == 1
    # global clustering coefficient 3*1/6 = 0.5
    assert r["closure_ppm"] == 500_000


def test_label_propagation_splits_bridged_triangles(spark):
    from blink_spark.operators.cluster import label_propagation

    # two triangles joined by one bridge edge: CC fuses all 6 nodes,
    # frequency-vote LPA keeps the triangles as separate communities
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        ["u", "v"],
    )
    out = {
        r["record_id"]: (r["lp_label"], r["community_size"])
        for r in label_propagation(edges).collect()
    }
    # hand-traced 3 synchronous sweeps (min-label ties):
    assert out == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        4: (3, 3), 5: (3, 3), 6: (3, 3),
    }


def test_simplified_silhouette_planted_geometry(spark):
    from blink_spark.operators.cluster import simplified_silhouette

    # two tight clusters far apart + one label-0 "traitor" sitting on
    # cluster 1's centroid: every clean point must score positive, the
    # traitor negative. Expected values from an exact pure-python mirror
    # of the operator's integer arithmetic (trunc centroid mean, integer
    # dots, sign-safe ppm division).
    pts = [
        ("a0", 0, [0, 0]), ("a1", 0, [0, 2]),
        ("a2", 0, [2, 0]), ("a3", 0, [2, 2]),
        ("t", 0, [101, 101]),
        ("b0", 1, [100, 100]), ("b1", 1, [100, 102]),
        ("b2", 1, [102, 100]), ("b3", 1, [102, 102]),
    ]

    def mirror(rows):
        by_label = {}
        for _, lbl, q in rows:
            by_label.setdefault(lbl, []).append(q)
        cents = {
            lbl: [sum(v[d] for v in vs) // len(vs) for d in range(2)]
            for lbl, vs in by_label.items()
        }
        out = {}
        for _, lbl, q in rows:
            dists = {
                c: sum((q[d] - cv[d]) ** 2 for d in range(2))
                for c, cv in cents.items()
            }
            a = dists[lbl]
            b = min(v for c, v in dists.items() if c != lbl)
            den = max(a, b, 1)
            s = (
                ((b - a) * 1_000_000) // den
                if b >= a
                else -(((a - b) * 1_000_000) // den)
            )
            n, well, tot = out.get(lbl, (0, 0, 0))
            out[lbl] = (n + 1, well + (1 if s > 0 else 0), tot + s)
        return {
            lbl: (n, well, tot // n if tot >= 0 else -((-tot) // n))
            for lbl, (n, well, tot) in out.items()
        }

    df = spark.createDataFrame(pts, ["record_id", "label", "q"])
    got = {
        r["label"]: (r["n_points"], r["n_well_placed"], r["mean_s_ppm"])
        for r in simplified_silhouette(df).collect()
    }
    exp = mirror(pts)
    assert got == exp
    # the traitor drags label 0 below a clean 5/5
    assert exp[0][1] == 4 and exp[1][1] == 4
