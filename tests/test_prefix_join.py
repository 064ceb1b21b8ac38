"""Exactness tests for the prefix-filtering set-similarity join: unlike the
MinHash/SimHash paths (probabilistic recall), prefix filtering guarantees
ZERO false negatives at the threshold — so the whole output must equal a
brute-force all-pairs scan."""

from __future__ import annotations


def _brute_force(doc_tokens: dict[int, set], t: float):
    out = {}
    ids = sorted(doc_tokens)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(doc_tokens[a] & doc_tokens[b])
            union = len(doc_tokens[a] | doc_tokens[b])
            if union and inter * 1_000_000 >= int(t * 1_000_000) * (union):
                out[(a, b)] = inter
    return out


def test_prefix_jaccard_equals_bruteforce(spark):
    from blink_spark.operators.dedup import prefix_jaccard_pairs

    # sliding-window token sets: same offset -> exact dup (jac 1.0),
    # adjacent offset -> 9/11 = 0.818 (kept at 0.8), offset +2 -> 8/12 =
    # 0.667 (dropped). 30 docs over 7 offsets give every class many times.
    rows = []
    doc_tokens = {}
    for i in range(30):
        toks = [f"w{j}" for j in range(i % 7, i % 7 + 10)]
        rows.append((i, " ".join(toks)))
        doc_tokens[i] = set(toks)
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["a"], r["b"]): r["inter"]
        for r in prefix_jaccard_pairs(docs).collect()
    }
    want = _brute_force(doc_tokens, 0.8)
    assert got == want
    assert want  # fixture sanity: the guarantee is vacuous on an empty set
    # both exact-dup (inter == 10) and near-dup (inter == 9) classes present
    assert {10, 9} <= set(want.values())


def test_prefix_jaccard_no_candidates_below_threshold(spark):
    from blink_spark.operators.dedup import prefix_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c x y z")],  # jac = 3/8 = 0.375
        "doc_id long, text string",
    )
    assert prefix_jaccard_pairs(docs).count() == 0
