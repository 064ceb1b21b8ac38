"""Dedup/ANN correctness properties that the oracle comparison can't express:
recall guarantees of the banding constructions and the planted-near-dup
fixture assertions (round-1 verdict: simhash band/radius mismatch,
vacuous embedding-cosine check, unasserted LSH recall)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def test_simhash_band_splits_guarantee():
    from blink_spark.operators.dedup import SIMHASH_BITS, simhash_band_splits

    for radius in (1, 3, 8, 12):
        splits = simhash_band_splits(radius)
        # pigeonhole: radius+1 bands partitioning all 60 bits
        assert len(splits) == radius + 1
        assert sum(w for _, w in splits) == SIMHASH_BITS
        offs = [o for o, _ in splits]
        assert offs == sorted(offs) and offs[0] == 0
        for (o1, w1), (o2, _) in zip(splits, splits[1:]):
            assert o1 + w1 == o2  # contiguous, non-overlapping


def test_simhash_banding_full_recall_at_radius_8(spark):
    """Every pair within hamming <= 8 must share >= 1 of the 9 bands —
    banding recall is exactly 1.0 at the guaranteed radius (the round-1
    4x15-bit default only guaranteed radius 3 while verifying at 8)."""
    from blink_spark.functions.hashing import hamming64
    from blink_spark.operators.dedup import simhash_band_cols, simhash_relational

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = simhash_relational(docs, "doc_id", "text").persist()

    # ground truth: all pairs within radius 8 (brute force over signatures)
    a = sh.select(F.col("record_id").alias("a"), F.col("sh").alias("sha"))
    b = sh.select(F.col("record_id").alias("b"), F.col("sh").alias("shb"))
    truth = (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("hamming", hamming64("sha", "shb"))
        .filter(F.col("hamming") <= 8)
        .select("a", "b")
    )
    banded = sh.select(
        "record_id", F.explode(F.array(*simhash_band_cols(F.col("sh"), 8))).alias("bk")
    )
    ba = banded.select(F.col("record_id").alias("a"), "bk")
    bb = banded.select(F.col("record_id").alias("b"), "bk")
    candidates = (
        ba.join(bb, "bk").filter(F.col("a") < F.col("b")).select("a", "b").distinct()
    )
    missed = truth.exceptAll(truth.join(candidates, ["a", "b"], "left_semi")).count()
    assert missed == 0
    sh.unpersist()


def test_embedding_fixture_has_planted_dups(spark, fixture_paths):
    """The embeddings_fx fixture must contain its 50 planted cos>0.98 pairs
    (vec 150+j duplicates vec 3j) — guards against the round-1 vacuous check."""
    from blink_spark.functions.hashing import cosine_exact, quantize_emb
    from blink_spark.synth import EMB_FX_BASE, EMB_FX_DUPS

    e = spark.read.parquet(fixture_paths["embeddings_fx"]).select(
        "vec_id", quantize_emb("embedding").alias("q")
    )
    dup = e.filter(F.col("vec_id") >= EMB_FX_BASE).select(
        (3 * (F.col("vec_id") - EMB_FX_BASE)).alias("base_id"),
        F.col("q").alias("qd"),
    )
    base = e.select(F.col("vec_id").alias("base_id"), F.col("q").alias("qb"))
    cos = dup.join(base, "base_id").select(cosine_exact("qd", "qb").alias("cos"))
    rows = cos.collect()
    assert len(rows) == EMB_FX_DUPS
    assert all(r.cos > 0.98 for r in rows)


def test_embedding_cosine_dups_finds_planted_pairs(spark, fixture_paths):
    """The sign-LSH + verify query finds most planted pairs (LSH blocking
    recall) and every pair it reports is a true cos>=0.9 pair (precision 1
    by construction of the verify step)."""
    import __spark_entry__ as entry
    from blink_spark.synth import EMB_FX_BASE, EMB_FX_DUPS

    out = entry.queries()["embedding_cosine_dups"](spark, "unused").collect()
    found = {(r.record_id_a, r.record_id_b) for r in out}
    planted = {
        tuple(sorted((str(3 * j), str(EMB_FX_BASE + j)))) for j in range(EMB_FX_DUPS)
    }
    hit = len(planted & found)
    assert hit / EMB_FX_DUPS >= 0.7, f"LSH blocking recall too low: {hit}/50"
    assert all(r.cos >= 0.9 for r in out)


def test_ann_lsh_recall_floor(spark):
    """Multi-probe sign-LSH top-10 must reach recall >= 0.4 vs exact top-10
    on the testdata embeddings (asserted, not just emitted — round-1 gap).

    Measured ~0.51 at 4 planes / 1-bit probe on these 500 64-dim vectors;
    the operator's recall knob is ann.LSH_PLANES."""
    import __spark_entry__ as entry

    row = entry.queries()["ann_lsh_recall"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert row.n_exact > 0
    assert row.recall >= 0.4, f"ANN recall {row.recall} below floor"


def test_winnow_fingerprints_guarantee_and_density(spark):
    """Winnowing invariants (Schleimer et al. 2003): (1) any substring match
    of length >= w + k - 1 yields >= 1 shared fingerprint hash — tested with
    a planted shared excerpt inside otherwise-disjoint documents; (2) the
    fingerprint density over a long random-ish text is near the expected
    2/(w+1); (3) every window of w k-grams contains a selected position
    (the local coverage guarantee that makes the scheme excerpt-robust)."""
    from blink_spark.operators.dedup import WINNOW_K, WINNOW_W, winnow_fingerprints

    k, w = WINNOW_K, WINNOW_W
    shared = "the quick brown fox jumps over the lazy dog near the river"
    docs = spark.createDataFrame(
        [
            ("a", "alpha beta gamma " + shared + " delta epsilon"),
            ("b", "one two three four five " + shared + " six seven"),
            ("c", "completely unrelated text with zero overlap whatsoever xyz"),
        ],
        "doc_id string, text string",
    )
    fps = winnow_fingerprints(docs, "doc_id", "text").toPandas()
    by_doc = {d: set(g["fp_hash"]) for d, g in fps.groupby("record_id")}
    # (1) the shared excerpt is len(shared) >= w+k-1 chars: must share a hash
    assert len(shared) >= w + k - 1
    assert by_doc["a"] & by_doc["b"]

    # (3) local coverage: gaps between consecutive selected positions <= w
    # (within one doc, winnowing picks at least one position per window)
    for d, g in fps.groupby("record_id"):
        pos = sorted(g["fp_pos"])
        assert all(b - a <= w for a, b in zip(pos, pos[1:])), d

    # (2) density ~ 2/(w+1) on a long document with distinct k-grams
    import hashlib

    long_text = " ".join(
        hashlib.md5(str(i).encode()).hexdigest()[:6] for i in range(400)
    )
    one = spark.createDataFrame([("x", long_text)], "doc_id string, text string")
    n_fp = winnow_fingerprints(one, "doc_id", "text").count()
    n_grams = len(long_text) - k + 1
    density = n_fp / n_grams
    assert 1.2 / (w + 1) < density < 3.2 / (w + 1), density


def test_winnow_fingerprints_single_exchange_plan(spark):
    """The winnowing plan shuffles the compact (id, norm) projection ONCE
    (pre-explode, reused by both window functions); the exploded per-char
    table must never hit a second Exchange, and the whole plan stays
    Python-free."""
    from blink_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = winnow_fingerprints(docs, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    n_exchange = plan.count("Exchange hashpartitioning")
    # 1 pre-explode repartition + 1 for the final distinct's aggregate
    assert n_exchange <= 2, plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, bad


def test_winnow_fingerprints_rejects_overlong_documents(spark):
    """Documents past the 2^21-char position cap must fail loudly — beyond
    it the packed (hash, pos) key silently corrupts on both engines, so the
    oracle could never catch it."""
    import pytest

    from blink_spark.operators.dedup import WINNOW_POS_BITS, winnow_fingerprints

    too_long = "a b " * ((1 << WINNOW_POS_BITS) // 4 + 8)
    docs = spark.createDataFrame([("big", too_long)], "doc_id string, text string")
    with pytest.raises(Exception, match="WINNOW_POS_BITS"):
        winnow_fingerprints(docs, "doc_id", "text").count()


def test_ivf_assign_cells_null_embedding_tie_rule(spark):
    """A null-embedding item must land on the LOWEST cid (the replaced
    crossJoin+window form's ORDER BY score DESC NULLS LAST, cid ASC), not
    on whichever codebook entry the collect order put last."""
    from blink_spark.functions.similarity import cosine
    from blink_spark.operators.ann import assign_cells

    cents = spark.createDataFrame(
        [(2, [1.0, 0.0]), (0, [0.0, 1.0]), (1, [0.5, 0.5])],
        "cid INT, cv ARRAY<DOUBLE>",
    )
    items = spark.createDataFrame(
        [("ok", [1.0, 0.0]), ("nullemb", None)],
        "item_id STRING, iv ARRAY<DOUBLE>",
    )
    got = {
        r.item_id: r.cid
        for r in assign_cells(
            items, cents, lambda a, b: F.round(cosine(a, b), 6)
        ).collect()
    }
    assert got["ok"] == 2
    assert got["nullemb"] == 0, got


def test_winnow_excerpt_pairs_finds_low_jaccard_excerpt(spark):
    """A short excerpt planted inside a much larger container has LOW
    overall Jaccard with it (the container dilutes the union), which is why
    MinHash-band blocking misses the pair — shared winnowed fingerprints
    must still surface it, and an unrelated doc must not pair."""
    import hashlib

    from blink_spark.operators.dedup import winnow_excerpt_pairs

    excerpt = "the quoted passage that was lifted verbatim from the source"
    filler = " ".join(
        hashlib.md5(f"f{i}".encode()).hexdigest()[:7] for i in range(300)
    )
    unrelated = " ".join(
        hashlib.md5(f"u{i}".encode()).hexdigest()[:7] for i in range(60)
    )
    docs = spark.createDataFrame(
        [
            ("container", filler + " " + excerpt + " " + filler[::-1]),
            ("source", excerpt),
            ("other", unrelated),
        ],
        "doc_id string, text string",
    )
    # containment threshold 0.8: the excerpt's grams are ~fully inside the
    # container, so |A∩B|/min(|A|,|B|) ≈ 1 even though Jaccard ≈ 0.02
    got = winnow_excerpt_pairs(docs, "doc_id", "text").collect()
    pairs = {(r.record_id_a, r.record_id_b) for r in got}
    assert ("container", "source") in pairs, pairs
    assert all("other" not in p for p in pairs), pairs


def test_winnow_fingerprints_match_pure_python_reference(spark):
    """Batch property test: the relational winnowing must equal a direct
    pure-Python implementation of robust winnowing (rightmost-min window
    selection over md5-derived 32-bit k-gram hashes) on a spread of
    deterministic pseudo-random documents, including shorter-than-one-
    window and repeated-k-gram (tie-heavy) cases."""
    import hashlib
    import random

    from blink_spark.operators.dedup import WINNOW_K, WINNOW_W, winnow_fingerprints

    k, w = WINNOW_K, WINNOW_W
    rng = random.Random(1234)
    docs = []
    for i in range(40):
        n = rng.choice([0, 1, 3, k - 1, k, k + w - 2, 20, 80, 200])
        # tiny alphabet → many identical k-grams → exercises the tie rule
        body = "".join(rng.choice("ab c") for _ in range(n))
        docs.append((f"d{i:02d}", body))

    def norm(t):
        return " ".join(t.lower().split())

    def ref(t):
        t = norm(t)
        m = max(len(t) - k + 1, 1)
        hs = [
            int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:8], 16)
            for i in range(m)
        ]
        out = set()
        for j in range(max(m - w + 1, 1)):
            wnd = hs[j : j + w]
            mn = min(wnd)
            # rightmost minimum
            pos = j + max(i for i, h in enumerate(wnd) if h == mn)
            out.add((pos + 1, hs[pos]))
        return out

    got = winnow_fingerprints(
        spark.createDataFrame(docs, "doc_id string, text string"),
        "doc_id", "text",
    ).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.record_id, set()).add((r.fp_pos, r.fp_hash))
    for doc_id, text in docs:
        assert by_doc.get(doc_id, set()) == ref(text), doc_id


def test_ivf_probe_cells_null_query_is_deterministic(spark):
    """Symmetric to the assignment-side null fix: a null-embedding QUERY's
    probed cells must be the lowest cids (comparator falls through to cid
    ASC on null scores), independent of codebook collect order."""
    from blink_spark.functions.similarity import cosine
    from blink_spark.operators.ann import _centroid_literal_array, _probe_cells_lit

    cents = spark.createDataFrame(
        [(2, [1.0, 0.0]), (0, [0.0, 1.0]), (1, [0.5, 0.5])],
        "cid INT, cv ARRAY<DOUBLE>",
    )
    qs = spark.createDataFrame(
        [("nullq", None)], "query_id STRING, qv ARRAY<DOUBLE>"
    )
    carr, cid_t = _centroid_literal_array(cents)
    got = sorted(
        r.cid
        for r in _probe_cells_lit(
            qs, carr, cid_t, lambda a, b: F.round(cosine(a, b), 6), 2
        ).collect()
    )
    assert got == [0, 1], got


def test_pq_encode_planted(spark, monkeypatch):
    """A vector equal to a codebook vector encodes to that centroid with
    zero reconstruction error in every subspace; a perturbed copy still
    snaps to the nearest codebook entry with the exact integer error."""
    from blink_spark.operators.ann import pq_encode

    base = [float(i % 5) / 10 for i in range(8)]
    other = [float((i + 3) % 7) / 10 for i in range(8)]
    # vec 0/1 form the codebook (n_centroids=2); vec 2 copies vec 1.
    rows = [(0, base), (1, other), (2, other)]
    sdf = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    monkeypatch.setattr("blink_spark.operators.ann.PQ_ENCODE_N_SUB", 2)
    monkeypatch.setattr("blink_spark.operators.ann.PQ_ENCODE_D_SUB", 4)
    monkeypatch.setattr("blink_spark.operators.ann.PQ_ENCODE_CENTROIDS", 2)
    out = pq_encode(sdf)
    got = {(r.vec_id, r.sub): (r.code, r.sq_err) for r in out.collect()}
    assert got[(0, 0)] == (0, 0) and got[(0, 1)] == (0, 0)
    assert got[(1, 0)] == (1, 0) and got[(1, 1)] == (1, 0)
    assert got[(2, 0)] == (1, 0) and got[(2, 1)] == (1, 0)


def test_pq_encode_vs_python_reference(spark, monkeypatch):
    """Exact integer parity against an independent pure-Python replica of
    quantize → first-k codebook → per-subspace L2 argmin."""
    import math
    import random
    import struct

    from blink_spark.operators.ann import pq_encode

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    rng = random.Random(67)
    n_sub, d_sub, k = 4, 3, 5
    rows = [
        (i, [rng.uniform(-0.9, 0.9) for _ in range(n_sub * d_sub)])
        for i in range(60)
    ]
    sdf = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    monkeypatch.setattr("blink_spark.operators.ann.PQ_ENCODE_N_SUB", n_sub)
    monkeypatch.setattr("blink_spark.operators.ann.PQ_ENCODE_D_SUB", d_sub)
    monkeypatch.setattr("blink_spark.operators.ann.PQ_ENCODE_CENTROIDS", k)
    out = pq_encode(sdf)
    got = {(r.vec_id, r.sub): (r.code, r.sq_err) for r in out.collect()}

    qv = {i: [math.floor(f32(x) * 1_000_000) for x in v] for i, v in rows}
    cb = {cid: qv[cid] for cid in sorted(qv)[:k]}
    expect = {}
    for i, v in qv.items():
        for s in range(n_sub):
            sv = v[s * d_sub : (s + 1) * d_sub]
            best = min(
                (
                    (
                        sum((a - b) ** 2 for a, b in zip(sv, c[s * d_sub : (s + 1) * d_sub])),
                        cid,
                    )
                    for cid, c in cb.items()
                ),
            )
            expect[(i, s)] = (best[1], best[0])
    assert got == expect


def test_pq_encode_plan_is_shuffle_free(spark):
    """After the one-time codebook collect, encoding is a single per-row
    projection: no Exchange, no join, no Python nodes in the plan."""
    from blink_spark.operators.ann import pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = pq_encode(emb)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, bad


def test_pq_topk_recall_floor_and_plan(spark):
    """PQ-ADC search at 16 subspaces × 64 centroids recalls ≥ 0.4 of the
    exact integer-L2 top-10 on the sf0.001 fixture (deterministic input →
    deterministic value; 0.4 is a safe floor under parameter drift), and
    the search side contains no cross join and no Python nodes — the code
    join must broadcast."""
    from blink_spark.functions.hashing import quantize_emb
    from blink_spark.operators.ann import (
        ann_recall_vs_exact,
        brute_force_topk,
        pq_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 64)
    approx = pq_topk(
        q, e, query_id="vec_id", query_emb="embedding",
        item_id="vec_id", item_emb="embedding",
    )
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, bad

    from blink_spark.functions.hashing import int_l2

    eq = e.select("vec_id", quantize_emb("embedding").alias("q"))
    qq = eq.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qv")
    )
    exact = brute_force_topk(
        qq, eq, k=10, query_id="qid", query_emb="qv",
        item_id="vec_id", item_emb="q",
        scorer=lambda a, b: -int_l2(a, b),
    )
    r = ann_recall_vs_exact(approx, exact).collect()[0]
    assert r.n_exact == 640
    assert r.recall >= 0.4, r.recall


def test_pq_topk_codebook_member_is_its_own_nearest(spark, monkeypatch):
    """An item that IS a codebook centroid encodes to itself in every
    subspace, so a query equal to it gets adc exactly 0 for it and must
    rank it first — falsifiable: any slice-origin or codebook bug in the
    encoder/searcher makes the adc nonzero. The query uses a FRESH id (99)
    so the self-exclusion filter cannot mask the assertion."""
    import random

    from blink_spark.operators.ann import pq_topk

    rng = random.Random(71)
    rows = [(i, [rng.uniform(-0.9, 0.9) for _ in range(8)]) for i in range(20)]
    items = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    # item 3 is a codebook member (first 4 items); query 99 duplicates it
    q = spark.createDataFrame(
        [(99, rows[3][1])], "vec_id bigint, embedding array<float>"
    )
    # top-3 over 2 subspaces × 4 dims, 4 centroids
    monkeypatch.setattr("blink_spark.operators.ann.ANN_K", 3)
    monkeypatch.setattr("blink_spark.operators.ann.PQ_N_SUB", 2)
    monkeypatch.setattr("blink_spark.operators.ann.PQ_D_SUB", 4)
    monkeypatch.setattr("blink_spark.operators.ann.PQ_CENTROIDS", 4)
    out = pq_topk(
        q, items, query_id="vec_id", query_emb="embedding",
        item_id="vec_id", item_emb="embedding",
    )
    top = sorted([(r.rank, r.item_id, r.adc) for r in out.collect()])
    assert top[0] == (1, 3, 0), top
    assert top[1][2] >= 0 and top[2][2] >= top[1][2]


def test_ivfpq_topk_recall_floor_and_plan(spark):
    """IVF-PQ (16 L2 cells probed 4-wide over 16×64 PQ codes) recalls
    ≥ 0.3 of the exact integer-L2 top-10 on the sf0.001 fixture (measured
    0.369 — bounded above by exhaustive PQ's 0.469; the gap is the probe
    restriction working as designed), and the search side is cell
    equi-join + broadcast dtable — no cross join, no Python nodes."""
    from blink_spark.functions.hashing import int_l2, quantize_emb
    from blink_spark.operators.ann import (
        ann_recall_vs_exact,
        brute_force_topk,
        ivfpq_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 64)
    approx = ivfpq_topk(
        q, e, query_id="vec_id", query_emb="embedding",
        item_id="vec_id", item_emb="embedding",
    )
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, bad

    eq = e.select("vec_id", quantize_emb("embedding").alias("q")).filter(
        F.size("q") == 64
    )
    qq = eq.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qv")
    )
    exact = brute_force_topk(
        qq, eq, k=10, query_id="qid", query_emb="qv",
        item_id="vec_id", item_emb="q",
        scorer=lambda a, b: -int_l2(a, b),
    )
    r = ann_recall_vs_exact(approx, exact).collect()[0]
    assert r.n_exact == 640
    assert r.recall >= 0.3, r.recall


def test_ivfpq_results_subset_of_probed_cells(spark, monkeypatch):
    """Every IVF-PQ hit must live in one of its query's probed cells —
    the probe restriction is real, not decorative: a query's result set
    joined back to the cell assignment lands inside its probe list."""
    from blink_spark.functions.hashing import int_l2
    from blink_spark.operators.ann import (
        _assign_cells_lit,
        _centroid_literal_array,
        _pq_quantized,
        _probe_cells_lit,
        ivfpq_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 16)
    monkeypatch.setattr("blink_spark.operators.ann.IVFPQ_NPROBE", 2)
    out = ivfpq_topk(
        q, e, query_id="vec_id", query_emb="embedding",
        item_id="vec_id", item_emb="embedding",
    )
    it = _pq_quantized(e, "vec_id", "embedding", 64, "item_id")
    qs = _pq_quantized(q, "vec_id", "embedding", 64, "query_id")
    coarse = (
        it.orderBy("item_id")
        .limit(16)
        .select(F.col("item_id").alias("cid"), F.col("qv").alias("cv"))
    )
    carr, cid_t = _centroid_literal_array(coarse)
    neg = lambda a, b: -int_l2(a, b)  # noqa: E731
    assigned = _assign_cells_lit(
        it.select("item_id", F.col("qv").alias("iv")), carr, cid_t, neg
    ).select("item_id", "cid")
    probes = {
        (r.query_id, r.cid)
        for r in _probe_cells_lit(qs, carr, cid_t, neg, 2)
        .select("query_id", "cid")
        .collect()
    }
    hits = out.join(assigned, "item_id").select("query_id", "cid").collect()
    assert hits, "no hits returned"
    for r in hits:
        assert (r.query_id, r.cid) in probes


def test_line_dedup_stats_planted(spark):
    import pandas as pd

    from blink_spark.operators.dedup import line_dedup_stats

    footer = "Copyright ACME corp."
    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, "unique alpha line.\n" + footer),
                (2, "unique beta line.\n" + footer + "\n\n"),
                (3, footer + "\nunique gamma line.\n" + footer),
            ],
            columns=["doc_id", "text"],
        )
    )
    out = {r.doc_id: r.asDict() for r in
           line_dedup_stats(docs, "doc_id", "text").collect()}
    # doc 1 owns the footer's first occurrence (smallest packed key)
    assert (out[1]["n_lines"], out[1]["n_dup_lines"]) == (2, 0)
    # doc 2: blank line excluded; its footer is a duplicate
    assert (out[2]["n_lines"], out[2]["n_dup_lines"]) == (2, 1)
    assert out[2]["dup_line_frac"] == 0.5
    f = len(footer.lower())
    total2 = len("unique beta line.") + f
    assert out[2]["dup_char_ppm"] == (1_000_000 * f) // total2
    # doc 3 repeats the footer twice, both non-first
    assert (out[3]["n_lines"], out[3]["n_dup_lines"]) == (3, 2)


def test_sq8_codes_exact_mapping(spark):
    import pandas as pd

    from blink_spark.functions.hashing import quantize_emb, sq8_codes

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1], "embedding": [[-1.5, -1.0, 0.0, 0.5, 1.0]]})
    )
    out = (
        df.select(quantize_emb("embedding").alias("qv"))
        .select(sq8_codes("qv").alias("cv"))
        .collect()[0]["cv"]
    )
    # [-1,1] affine-maps to 0..254; out-of-range saturates; 0.0 -> midpoint
    assert out == [0, 0, 127, 190, 254]


def test_minhash_calibration_planted(spark):
    import pandas as pd

    from blink_spark.operators.dedup import minhash_calibration

    base = "the quick brown fox jumps over the lazy dog " * 4
    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, base),
                (2, base),                # exact dup: 32/32 slots, err 0
                (3, base + "tail variation here"),
                (4, "completely different content about spark engines"),
            ],
            columns=["doc_id", "text"],
        )
    )
    out = {r["n_equal_slots"]: r.asDict()
           for r in minhash_calibration(docs, "doc_id", "text").collect()}
    # the exact-dup pair lands at full agreement with zero error
    assert 32 in out
    full = out[32]
    assert full["n_pairs"] >= 1
    assert full["mean_true_ppm"] == 1_000_000
    assert full["max_abs_err_ppm"] == 0


def test_cross_source_dup_matrix(spark):
    import pandas as pd

    from blink_spark.operators.dedup import cross_source_dup_matrix

    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, "alpha beta gamma", "a"),
                (2, "alpha beta gamma", "a"),   # within-a pair
                (3, "beta alpha gamma", "b"),   # bag-of-words dup of 1,2
                (4, "delta epsilon", "b"),
                (5, "delta epsilon", "c"),      # b-c cross pair
                (6, "unique text here", "c"),
            ],
            columns=["doc_id", "text", "source"],
        )
    )
    out = {
        (r["src_a"], r["src_b"]): (r["n_fp_shared"], r["n_dup_pairs"])
        for r in cross_source_dup_matrix(docs, "doc_id", "text", "source").collect()
    }
    # fp1 = {alpha beta gamma}: a has 2, b has 1 -> (a,a)=C(2,2)=1, (a,b)=2*1=2
    # fp2 = {delta epsilon}: b has 1, c has 1 -> (b,c)=1
    assert out == {("a", "a"): (1, 1), ("a", "b"): (1, 2), ("b", "c"): (1, 1)}
