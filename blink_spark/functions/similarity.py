"""Pairwise similarity functions.

The match-decision features (token Jaccard, Levenshtein ratio, exact
normalized equality) are pure JVM Column expressions — the entire scoring
stage runs in whole-stage codegen. The crossencoder-style pair score adds
Jaro-Winkler (pandas UDF; Spark has no builtin), and ``cosine`` is the one
embedding similarity (``cosine_block`` is its numpy batch form, bit for
bit), mirroring the reference's pair scorer
(/root/reference/blink/crossencoder/crossencoder.py:135-144) as
embedding-similarity + lexical features per BASELINE.json north_star.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blink_spark.functions.text import normalize_text, tokens

# Thresholds validated against the synthetic gold fixture (see
# tests/test_cluster_f1.py): cross-entity pairs are provably below both.
JACCARD_THRESHOLD = 0.65
LEV_RATIO_THRESHOLD = 0.93


def token_jaccard_arrays(ta: Column | str, tb: Column | str) -> Column:
    """Jaccard over precomputed distinct-token arrays (the per-record
    tokenization is hoisted out of the per-pair hot loop)."""
    ca = F.col(ta) if isinstance(ta, str) else ta
    cb = F.col(tb) if isinstance(tb, str) else tb
    inter = F.size(F.array_intersect(ca, cb)).cast("double")
    union = F.size(F.array_union(ca, cb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def token_jaccard(a: Column | str, b: Column | str) -> Column:
    """|tokens(a) ∩ tokens(b)| / |tokens(a) ∪ tokens(b)| — all JVM-side."""
    return token_jaccard_arrays(tokens(a), tokens(b))


def lev_ratio(a: Column | str, b: Column | str) -> Column:
    """1 - levenshtein/max(len) on normalized text (builtin levenshtein)."""
    na, nb = normalize_text(a), normalize_text(b)
    m = F.greatest(F.length(na), F.length(nb))
    return F.when(m > 0, 1.0 - F.levenshtein(na, nb).cast("double") / m).otherwise(
        F.lit(1.0)
    )


def lev_within_norm(na: Column | str, nb: Column | str) -> Column:
    """Banded-levenshtein threshold test (``LEV_RATIO_THRESHOLD``) over
    already-normalized strings."""
    na = F.col(na) if isinstance(na, str) else na
    nb = F.col(nb) if isinstance(nb, str) else nb
    m = F.greatest(F.length(na), F.length(nb))
    eps_num = round((1.0 - LEV_RATIO_THRESHOLD) * 100)
    k = F.floor(m * eps_num / 100).cast("int")
    # F.levenshtein() only takes a python-int threshold; call_function routes
    # to the SQL builtin, which accepts a per-row threshold expression.
    return F.call_function("levenshtein", na, nb, k) >= 0


def lev_within(a: Column | str, b: Column | str) -> Column:
    """``lev_ratio(a,b) >= LEV_RATIO_THRESHOLD`` via the threshold-banded
    builtin ``levenshtein(l, r, k)`` — O(n·k) instead of O(n²). Integer-exact
    equivalent of the float rule: ratio >= 1-eps ⇔ dist <= floor(eps·maxlen).
    """
    return lev_within_norm(normalize_text(a), normalize_text(b))


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product of two array<float/double> columns, in column order —
    analogue of the biencoder score
    (/root/reference/blink/biencoder/biencoder.py:148-166)."""
    return F.aggregate(
        F.zip_with(
            _col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(v: Column | str) -> Column:
    """Euclidean length of an array<float/double> column."""
    return F.sqrt(dot(v, v))


def cosine(
    a: Column | str,
    b: Column | str,
    norm_a: Column | str | None = None,
    norm_b: Column | str | None = None,
) -> Column:
    """Cosine of two embedding columns, 0.0 when either is the zero vector.

    The norms are per-record quantities: a caller holding ``l2_norm``
    columns for each side passes them, so a pair pays for one interpreted
    array fold (the cross dot) instead of up to five: the guard reads the
    norm product twice, and Spark HOFs are CodegenFallback. A missing norm
    is computed inline; the doubles and the arithmetic are the same either
    way, so the result is bit-identical.
    """
    na = l2_norm(a) if norm_a is None else _col(norm_a)
    nb = l2_norm(b) if norm_b is None else _col(norm_b)
    denom = na * nb
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_guard(denom: np.ndarray) -> np.ndarray:
    """numpy form of ``cosine``'s ``denom > 0``: Spark orders NaN above
    every number, so ``NaN > 0`` holds there and not in numpy."""
    return (denom > 0) | np.isnan(denom)


def cosine_block(
    a: np.ndarray, norm_a: np.ndarray, b: np.ndarray, norm_b: np.ndarray
) -> np.ndarray:
    """The numpy batch form of ``cosine(a, b, norm_a, norm_b)``: the
    ``(len(a), len(b))`` matrix of cosines between the float64 rows of
    ``a`` and ``b`` (equal lengths, no NULL norm), bit-identical to the
    Spark expression.

    The cross dot accumulates dimension by dimension from 0.0, the same
    IEEE double products and sums in the same order as ``dot``'s fold, so
    it is exact where a BLAS matmul (blocked, fused, reordered) is not.
    """
    acc = np.zeros((a.shape[0], b.shape[0]))
    prod = np.empty_like(acc)
    bt = np.ascontiguousarray(b.T)
    for d in range(a.shape[1]):
        np.multiply(a[:, d, None], bt[None, d], out=prod)
        acc += prod
    denom = norm_a[:, None] * norm_b[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(cosine_guard(denom), acc / denom, 0.0)


def _jaro_winkler(s1: str, s2: str) -> float:
    """Pure-python Jaro-Winkler."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if not l1 or not l2:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (matches / l1 + matches / l2 + (matches - t) / matches) / 3
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a == b:
            prefix += 1
        else:
            break
    return jaro + 0.1 * prefix * (1 - jaro)


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched Jaro-Winkler similarity."""
    return pd.Series(
        [_jaro_winkler(x or "", y or "") for x, y in zip(a, b)], dtype="float64"
    )


def pair_score(
    text_a: Column | str,
    text_b: Column | str,
) -> Column:
    """Lexical pair score in [0, 1]: the mean of Jaro-Winkler and the
    Levenshtein ratio, the vectorized stand-in for the reference's joint
    BERT pair logit
    (/root/reference/blink/crossencoder/crossencoder.py:135-144)."""
    na = normalize_text(text_a)
    nb = normalize_text(text_b)
    jw = jaro_winkler_udf(na, nb)
    lv = lev_ratio(text_a, text_b)
    return F.round(0.5 * jw + 0.5 * lv, 6)


def softmax_over(score: Column, window) -> Column:
    """Softmax confidence over a window of candidate scores — analogue of
    prob_assigned_to_candidate (/root/reference/blink/candidate_ranking/
    bert_reranking.py:200-227)."""
    mx = F.max(score).over(window)
    ex = F.exp(score - mx)
    return ex / F.sum(ex).over(window)
