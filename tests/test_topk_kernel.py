"""``brute_force_topk``'s default-scorer kernel equals the relational form
it replaced: the queries × items cross join scored by the Spark fold
(``_pair_score(None)``) and ranked by ``_rank_topk``, as exact row sets.

The inputs plant the corners where a numpy kernel could drift from
Spark: raw scores closer than 1e-6 that round equal at the k-th rank (the
lower id must win), half-up rounding boundaries, zero / NULL / wrong-length
vectors, NULL and NaN elements, NULL ids under ``exclude_self``, Arrow
batches smaller than k, and query chunking inside one batch.
"""

from __future__ import annotations

import math
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from blink_spark.operators import ann


def _unit(c: float) -> list[float]:
    """A 2-d unit vector whose cosine with [1, 0] is ``c`` (to ~1e-16)."""
    return [c, math.sqrt(1.0 - c * c)]


# item id -> vector. Raw cosines against [1, 0] descend with the id in each
# cluster, so ranking on the raw score would pick higher ids than the
# rounded (score DESC, id ASC) order does.
_ITEMS = {
    1: _unit(0.9),
    2: _unit(0.5000001),
    3: _unit(0.5000004),
    4: _unit(0.5000002),
    5: _unit(0.5000003),
    6: _unit(0.7000005),   # half-up boundary
    7: _unit(0.70000049),
    8: _unit(0.7000004),
    9: _unit(0.2),
    10: [0.0, 0.0],        # zero vector: 0.0
    11: None,              # NULL vector: 0.0
    12: [0.3, 0.4, 0.5],   # wrong length: NULL against a non-zero query
    13: [None, 1.0],       # NULL element: NULL norm, 0.0
    14: [float("nan"), 1.0],  # NaN norm: NaN, ranks first
    15: _unit(-0.3),
    16: _unit(0.3),
    17: _unit(0.30000049),
    18: _unit(0.3000001),
    19: [-1.0, 0.0, 0.0],  # -1.0 against query 6, behind 2-d items' NULLs
    None: _unit(0.95),     # NULL id: never excluded from, never matched
}
# a rounding tie at the top of query 8 ([0, 1]): 40 scores 0.96 + i·1e-8
# that all round to 0.96, raw order the reverse of id order, so a batch that
# kept only its raw top-k would drop the lowest ids the rounded order wants
_ITEMS.update(
    {100 + i: _unit(0.96 + i * 1e-8)[::-1] for i in range(40)}
)

_QUERIES = {
    1: [1.0, 0.0],         # equals item 1's id: excluded under exclude_self
    2: [2.0, 0.0],
    3: [0.6, 0.8],
    4: [0.0, 0.0],         # zero query: every score 0.0, or NaN vs item 14
    5: None,               # NULL query: every score 0.0
    6: [1.0, 0.0, 0.0],    # three dims: scores only item 12
    7: [float("nan"), 0.0],
    8: [0.0, 1.0],
    None: [1.0, 0.0],      # NULL id: excluded everywhere under exclude_self
}


def _frames(spark):
    items = spark.createDataFrame(
        list(_ITEMS.items()), "item_id BIGINT, item_emb ARRAY<DOUBLE>"
    )
    queries = spark.createDataFrame(
        list(_QUERIES.items()), "query_id BIGINT, query_emb ARRAY<DOUBLE>"
    )
    return queries, items


def _fold(queries, items, k, exclude_self):
    """The relational form: cross join, Spark fold, window rank."""
    q = ann._embedded(queries, "query_id", "query_emb", ann._QUERY)
    it = ann._embedded(items, "item_id", "item_emb", ann._ITEM)
    pairs = q.crossJoin(it)
    if exclude_self:
        pairs = pairs.filter(F.col("item_id") != F.col("query_id"))
    return ann._rank_topk(
        pairs.select("query_id", "item_id", ann._pair_score(None).alias("score")), k
    )


def _rows(df):
    return sorted(tuple(repr(v) for v in r) for r in df.collect())


@contextmanager
def _arrow_batch(spark, rows: int):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(rows))
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("exclude_self", [True, False])
def test_kernel_equals_spark_fold(spark, monkeypatch, exclude_self):
    queries, items = _frames(spark)
    # row_number ranks do not depend on k: one fold serves every k
    fold = _rows(_fold(queries, items, 12, exclude_self))

    def check(k):
        got = ann.brute_force_topk(queries, items, k=k, exclude_self=exclude_self)
        assert _rows(got) == [r for r in fold if int(r[3]) <= k], k

    # batches of 3 rows, below every k but 1, so the window merges the
    # batches; k = 7 and 12 end query 2's top-k inside a rounding tie
    with _arrow_batch(spark, 3):
        for k in (1, 7, 12):
            check(k)
    # batches of a whole partition (~7 items, more than k), so each batch
    # selects around its k-th raw score; k = 3 ends inside query 8's tie,
    # k = 5 at query 6's -1.0, which must beat the NULLs in its batch
    for k in (1, 3, 5):
        check(k)
    # query chunking: one query row per score block
    monkeypatch.setattr(ann, "_BLOCK_DOUBLES", 1)
    check(3)


def test_kernel_corners_are_present(spark):
    """The planted corners reach the output: the rounding tie keeps the
    lower id, a NaN score ranks first, a wrong-length pair scores NULL."""
    queries, items = _frames(spark)
    got = {
        (r.query_id, r.item_id): (r.score, r.rank)
        for r in ann.brute_force_topk(
            queries, items, k=len(_ITEMS), exclude_self=False
        ).collect()
    }
    assert [got[(2, i)] for i in (2, 3, 4, 5)] == [(0.5, 7), (0.5, 8), (0.5, 9), (0.5, 10)]
    assert [got[(2, i)][1] for i in (16, 17, 18)] == [11, 12, 13]
    assert [got[(8, 100 + i)] for i in range(3)] == [(0.96, 3), (0.96, 4), (0.96, 5)]
    assert got[(2, 6)][0] == 0.700001 and got[(2, 7)][0] == 0.7
    assert math.isnan(got[(2, 14)][0]) and got[(2, 14)][1] == 1
    assert got[(2, 12)] == (None, len(_ITEMS) - 1) and got[(6, 19)] == (-1.0, 5)
    assert got[(4, 12)][0] == 0.0 and got[(5, 1)][0] == 0.0
    assert got[(6, 12)][0] is not None and got[(6, 1)][0] is None
