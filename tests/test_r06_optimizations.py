"""Round-6 optimization equivalence tests.

Each round-6 fast path is a caller-guarantee rewrite that must be
VALUE-IDENTICAL to the defensive form it replaces (OPTIMIZATION_r06.md).
These tests pin that equivalence on small inputs so a future edit to either
side can't silently fork the semantics.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_embed_batch_matches_reference_token_loop():
    """Vectorized + memoized _embed_batch must be bit-identical to the
    original per-token-occurrence loop (exact ±1 integer sums in float64,
    unchanged per-row norm call path)."""
    from blink_spark.functions.hashing import EMB_DIM, _embed_batch

    def reference(texts: pd.Series, dim: int) -> pd.Series:
        out = []
        for t in texts:
            v = np.zeros(dim, dtype=np.float64)
            for tok in (t or "").lower().split():
                d = hashlib.blake2b(tok.encode(), digest_size=9).digest()
                idx = int.from_bytes(d[:8], "big")
                sign = 1.0 if d[8] & 1 else -1.0
                v[idx % dim] += sign
            n = np.linalg.norm(v)
            if n > 0:
                v /= n
            out.append(v.astype(np.float32).tolist())
        return pd.Series(out)

    texts = pd.Series(
        [
            None,
            "",
            "   ",
            "The The the THE",
            "Ünïcode Ünïcode tökens",
            "a b c d e f g a b c",
            "x" * 300,
            "repeated word word word word",
        ]
        + [f"tok{i} tok{i%7} shared common" for i in range(200)],
        dtype=object,
    )
    a = reference(texts, EMB_DIM)
    b = _embed_batch(texts, EMB_DIM)
    assert all(x == y for x, y in zip(a, b))
    # second call exercises the warm memo path — still identical
    c = _embed_batch(texts, EMB_DIM)
    assert all(x == y for x, y in zip(b, c))


def test_tok_feature_memo_is_bounded_and_semantics_free(monkeypatch):
    """The token memo is a bounded LRU cache: its values are the blake2b
    features themselves, and evicting entries mid-batch leaves
    ``_embed_batch`` bit-identical."""
    import functools

    from blink_spark.functions import hashing

    assert hashing._tok_feature.cache_info().maxsize == 4_000_000
    for tok in ["", "a", "Ünïcode", "tok17", "x" * 300]:
        d = hashlib.blake2b(tok.encode(), digest_size=9).digest()
        want = (int.from_bytes(d[:8], "big"), 1.0 if d[8] & 1 else -1.0)
        assert hashing._tok_feature(tok) == want

    texts = pd.Series([f"tok{i} tok{i % 7} shared common" for i in range(200)] + [None, ""],
                      dtype=object)
    want = hashing._embed_batch(texts, hashing.EMB_DIM)
    tiny = functools.lru_cache(maxsize=8)(hashing._tok_feature.__wrapped__)
    monkeypatch.setattr(hashing, "_tok_feature", tiny)
    got = hashing._embed_batch(texts, hashing.EMB_DIM)
    assert tiny.cache_info().currsize == 8 and tiny.cache_info().misses > 200
    assert all(x == y for x, y in zip(want, got))


@pytest.fixture(scope="module")
def prepped_pairs(spark, fixture_paths):
    """Real prepped pair attributes from the fixture mentions."""
    from blink_spark.operators.blocking import (
        df_aware_blocks,
        minhash_blocks,
        union_blocks,
    )
    from blink_spark.operators.pairs import candidate_pairs, pairs_with_attrs
    from blink_spark.operators.scoring import prepare_records
    from blink_spark.pipeline import exact_contract

    m = spark.read.parquet(fixture_paths["mentions"]).select(
        "mention_id", "mention"
    )
    reps = exact_contract(m, "mention_id", "mention")
    tb, _ = df_aware_blocks(reps, "record_id", "norm", cache_freq=False)
    mh = minhash_blocks(reps, "record_id", "norm", bands=4, rows=8).select(
        "block_key", "record_id"
    )
    pairs, _ = candidate_pairs(union_blocks(tb, mh))
    prep = prepare_records(
        reps, "record_id", "norm", with_emb=True, pre_normalized=True
    )
    return pairs_with_attrs(
        pairs, prep, "record_id", ["norm", "toks", "emb", "emb_n"]
    ).persist()


def _per_pair_cosine(a, b):
    """The rounded embedding cosine with both norms folded per pair — the
    form every per-record-norm caller must reproduce bit for bit."""
    from blink_spark.functions.similarity import dot

    denom = F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))
    return F.round(F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0)), 6)


def _union_form_cascade(pa, with_emb, with_jw):
    """The pre-round-6 structural filter→union cascade, verbatim except for
    the guard, which is coalesced to false as score_pairs_cascade now builds
    it (a NULL guard would drop the row from both branches). ``with_jw``
    puts the Jaro-Winkler UDF on the filtered hot branch, so it only ever
    sees plausible rows."""
    from blink_spark.functions.similarity import JACCARD_THRESHOLD, jaro_winkler_udf
    from blink_spark.operators.scoring import _base_features

    base = _base_features(pa).withColumn(
        "plausible",
        F.coalesce(
            F.col("is_match") | (F.col("jaccard") >= F.lit(JACCARD_THRESHOLD * 0.9)),
            F.lit(False),
        ),
    )
    m = F.greatest(F.length("norm_a"), F.length("norm_b"))
    exact_lev = F.when(
        m > 0, 1.0 - F.levenshtein("norm_a", "norm_b").cast("double") / m
    ).otherwise(F.lit(1.0))
    hot_jw = (
        F.round(jaro_winkler_udf("norm_a", "norm_b"), 6)
        if with_jw
        else F.lit(None).cast("double")
    )
    hot = (
        base.filter(F.col("plausible"))
        .withColumn("lev_ratio", F.round(exact_lev, 6))
        .withColumn("jw", hot_jw)
    )
    cold = (
        base.filter(~F.col("plausible"))
        .withColumn("lev_ratio", F.lit(None).cast("double"))
        .withColumn("jw", F.lit(None).cast("double"))
    )
    lexical = (
        0.5 * F.col("jw") + 0.5 * F.col("lev_ratio") if with_jw else F.col("lev_ratio")
    )
    if with_emb:
        hot = hot.withColumn("emb_cos", _per_pair_cosine("emb_a", "emb_b"))
        cold = cold.withColumn("emb_cos", F.lit(None).cast("double"))
        hot = hot.withColumn(
            "score",
            F.round(0.4 * (F.col("emb_cos") + 1.0) / 2.0 + 0.6 * lexical, 6),
        )
    else:
        hot = hot.withColumn("score", F.round(lexical, 6))
    cold = cold.withColumn("score", F.col("jaccard") * 0.5)
    return hot.unionByName(cold).drop("plausible")


@pytest.mark.parametrize(
    "with_emb, with_jw",
    [
        pytest.param(True, False, id="True"),
        pytest.param(False, False, id="False"),
        pytest.param(True, True, id="True-jw"),
        pytest.param(False, True, id="False-jw"),
    ],
)
def test_single_pass_cascade_equals_union_form(prepped_pairs, with_emb, with_jw):
    from blink_spark.functions.similarity import l2_norm
    from blink_spark.operators.scoring import score_pairs_cascade

    # a NULL norm with disjoint tokens makes the plausible guard NULL
    null_norm = (
        prepped_pairs.orderBy("record_id_a", "record_id_b").limit(1)
        .withColumn("record_id_a", F.lit("~null_norm"))
        .withColumn("norm_a", F.lit(None).cast("string"))
        .withColumn("toks_a", F.array(F.lit("~")))
    )
    # embeddings are unit-length; scale one side so a caller that read the
    # wrong norm column would change the cosine
    pa = (
        prepped_pairs.unionByName(null_norm)
        .withColumn("emb_b", F.transform("emb_b", lambda x: x * 3.0))
        .withColumn("emb_n_b", l2_norm("emb_b"))
    )
    cols = [
        "record_id_a", "record_id_b", "norm_eq", "jaccard", "is_match",
        "lev_ratio", "jw", "score",
    ] + (["emb_cos"] if with_emb else [])
    old = _union_form_cascade(pa, with_emb, with_jw)
    new = score_pairs_cascade(pa, with_emb=with_emb, with_jw=with_jw)
    assert old.columns == new.columns
    a = sorted(tuple(r) for r in old.select(cols).collect())
    b = sorted(tuple(r) for r in new.select(cols).collect())
    assert a == b and len(a) > 0
    assert "~null_norm" in {r[0] for r in b}
    # JW is filled on the rows lev_ratio is filled on (the plausible ones)
    jw, lev = cols.index("jw"), cols.index("lev_ratio")
    assert all((r[jw] is not None) == (with_jw and r[lev] is not None) for r in b)
    assert any(r[lev] is not None for r in b)


@pytest.mark.parametrize("op", ["brute_force_topk"])
def test_topk_norm_hoist_equals_per_pair_cosine(spark, fixture_paths, op):
    """The default top-k score reads per-record L2 norms; it must equal the
    per-pair cosine exactly, the empty text's zero embedding included. The
    queries are scaled per record, since the embeddings are unit-length and
    a swapped norm would not show otherwise."""
    from blink_spark.operators import ann
    from blink_spark.operators.scoring import prepare_records

    m = spark.read.parquet(fixture_paths["mentions"]).select(
        "mention_id", "mention"
    )
    empty = spark.createDataFrame([("~empty", "")], m.schema)
    emb = prepare_records(
        m.unionByName(empty), "mention_id", "mention", with_emb=True
    )
    items = emb.select(
        F.col("record_id").alias("item_id"), F.col("emb").alias("item_emb")
    )
    queries = (
        emb.orderBy("record_id").limit(40).unionByName(emb.filter("text = ''"))
        .select(
            F.col("record_id").alias("query_id"),
            F.transform(
                "emb", lambda x: x * (F.length("text") % 5 + 1).cast("float")
            ).alias("query_emb"),
        )
    )
    assert emb.filter("text = ''").first().emb_n == 0.0
    topk = getattr(ann, op)
    hoisted = topk(queries, items, k=10)
    per_pair = topk(queries, items, k=10, scorer=_per_pair_cosine)
    got = sorted(tuple(r) for r in hoisted.collect())
    want = sorted(tuple(r) for r in per_pair.collect())
    assert got == want and len(got) > 0
    assert "~empty" in {r[0] for r in got}


def test_assign_clusters_fast_flags_equal_defensive_path(spark):
    from blink_spark.operators.cluster import assign_clusters

    # canonical (src < dst), distinct, self-loop-free edges — the
    # candidate_pairs guarantee — over ids with singletons left out of edges
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "g"), ("a", "c")],
        ["src", "dst"],
    )
    records = spark.createDataFrame(
        [(x,) for x in "abcdefgh"], ["record_id"]
    )
    slow = assign_clusters(records, "record_id", edges)
    fast = assign_clusters(
        records, "record_id", edges, assume_unique=True, edges_canonical=True
    )
    assert sorted(map(tuple, slow.collect())) == sorted(map(tuple, fast.collect()))


def test_prepare_records_pre_normalized_identity(spark, fixture_paths):
    from blink_spark.operators.scoring import prepare_records
    from blink_spark.pipeline import exact_contract

    m = spark.read.parquet(fixture_paths["mentions"]).select(
        "mention_id", "mention"
    )
    reps = exact_contract(m, "mention_id", "mention")
    a = prepare_records(reps, "record_id", "norm", with_emb=True)
    b = prepare_records(
        reps, "record_id", "norm", with_emb=True, pre_normalized=True
    )
    assert a.columns == b.columns
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb and len(ra) > 0
