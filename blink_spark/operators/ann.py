"""Similarity search over embedding columns (SURVEY.md §2.4).

- ``brute_force_topk``: exact cosine top-k — the reference's dense
  dot-product retrieval (/root/reference/blink/biencoder/biencoder.py:148-166
  + main_dense.py:237-260). With the default score it runs as the
  reference does, one score matrix per batch of items: the query side is
  collected once (one eager job at call time) and scored against every
  Arrow batch of items by ``similarity.cosine_block`` in ``mapInArrow``,
  so the query side must fit on the driver. A custom ``scorer`` keeps the
  relational cross join.
- ``lsh_topk``: sign-LSH bucketed variant — queries only score candidates in
  their bucket (± multi-probe), the IVF/HNSW analogue
  (/root/reference/blink/indexer/faiss_indexer.py:71-141,
  /root/reference/elq/index/faiss_indexer.py:71-91 — nprobe=10 over
  nlist=100 cells). At 100 TB the bucket id is the partition key: the join
  is co-located, never all-pairs.

Each side projects its L2 norms once per record (``_embedded``), and
``brute_force_topk``'s default pair score is ``similarity.cosine`` over
them (or its numpy batch form, bit for bit), rounded to 6 places by Spark's
``F.round``. A ``scorer(qv, iv)`` (which ``lsh_topk`` and ``ivf_topk``
require) ignores the norms and Catalyst prunes them.

Tie rule fixed to (score DESC, id ASC) for reproducibility (SURVEY.md §7).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blink_spark.functions.similarity import (
    cosine,
    cosine_block,
    cosine_guard,
    l2_norm,
)
from blink_spark.plans.inspect import spread

# result size of the approximate top-k family (lsh, ivf, pq, ivf-pq)
ANN_K = 10
# hyperplanes of lsh_topk's buckets: each query probes its own and the
# LSH_PLANES buckets at Hamming distance 1. 16 buckets over ~500 vectors
# measured recall ~0.5; more planes over-partition it (recall 0.13 at 8).
LSH_PLANES = 4
# coarse cells of ivf_topk and ivfpq_topk; ivfpq_topk probes IVFPQ_NPROBE
IVF_CELLS = 16
IVFPQ_NPROBE = 4
# PQ search geometry (16 subspaces × 4 dims over a 64-centroid codebook)
# and pq_encode's (8 × 8 over 16 centroids)
PQ_N_SUB, PQ_D_SUB, PQ_CENTROIDS = 16, 4, 64
PQ_ENCODE_N_SUB, PQ_ENCODE_D_SUB, PQ_ENCODE_CENTROIDS = 8, 8, 16
# codebook sizes elbow_inertia sweeps
ELBOW_KS = (4, 8, 16)

_QUERY = ("query_id", "qv", "qn")
_ITEM = ("item_id", "iv", "itn")

# One score block (query rows × batch items) holds at most this many
# doubles (2 MiB); a larger batch is scored in chunks of query rows.
_BLOCK_DOUBLES = 1 << 18

# F.round(_, 6) is monotone and moves a score by at most 5e-7, so two raw
# scores that round equal differ by less than 1e-6: every item of the
# rounded top-k lies within this margin of its batch's k-th raw score.
_ROUND_MARGIN = 2e-6


def _embedded(df: DataFrame, id_col: str, emb_col: str, names) -> DataFrame:
    """``(id, vector, norm)`` renamed to ``names`` (``_QUERY``/``_ITEM``):
    the L2 norm is computed here, once per record."""
    id_as, emb_as, norm_as = names
    emb = F.col(emb_col)
    return df.select(
        F.col(id_col).alias(id_as), emb.alias(emb_as), l2_norm(emb).alias(norm_as)
    )


def _pair_score(scorer) -> F.Column:
    """A query-item row's score: ``scorer(qv, iv)`` when given, else the
    rounded cosine from both sides' per-record norms."""
    if scorer is None:
        return F.round(cosine("qv", "iv", "qn", "itn"), 6)
    return scorer(F.col("qv"), F.col("iv"))


def _rank_topk(pairs: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("item_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "score", "rank")
    )


def _rows_by_length(vecs: pa.Array, norms: pa.Array):
    """Arrow ``(vector, norm)`` columns → ``(lengths, norms, groups)``.

    ``lengths`` is each row's vector length, -1 where its norm is NULL (a
    NULL vector or a NULL element; such a row scores 0.0 against anything).
    ``norms`` is float64 with NULL as 0.0. ``groups`` maps a length to the
    ``(rows, float64 matrix)`` of the rows of that length.
    """
    rows = np.flatnonzero(norms.is_valid().to_numpy(zero_copy_only=False))
    sub = vecs.take(pa.array(rows, pa.int64()))
    lens = pc.list_value_length(sub).to_numpy(zero_copy_only=False).astype(np.int64)
    flat = sub.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    starts = np.cumsum(lens) - lens
    lengths = np.full(len(norms), -1, np.int64)
    lengths[rows] = lens
    groups = {
        int(n): (rows[lens == n], flat[starts[lens == n, None] + np.arange(n)])
        for n in np.unique(lens)
    }
    return lengths, pc.fill_null(norms, 0.0).to_numpy(zero_copy_only=False), groups


def _exact_topk_pairs(q: DataFrame, it: DataFrame, k: int, exclude_self: bool) -> DataFrame:
    """``(query_id, item_id, raw)`` for every pair that can reach the
    rounded top-k: per Arrow batch of items, each query keeps the items
    within ``_ROUND_MARGIN`` of its k-th raw score there.

    ``raw`` is ``similarity.cosine`` over the ``qn``/``itn`` norms, with
    its corner cases as Spark evaluates them: a NULL norm scores 0.0; two
    lengths differ → NULL when the guard holds, else 0.0; NaN ranks first
    and NULL last. ``exclude_self`` drops a pair before the k-th score is
    chosen, as SQL ``item_id != query_id`` does (a NULL id matches nothing).

    The batches cross as Arrow (``mapInArrow``), not pandas: pandas turns a
    NULL double into NaN and a nullable BIGINT into float64, and the kernel
    needs NULL apart from NaN and every id exact.
    """
    qt = q.toArrow()
    qids = qt.column("query_id").combine_chunks()
    qlen, qn, qgroups = _rows_by_length(
        qt.column("qv").combine_chunks(), qt.column("qn").combine_chunks()
    )
    nq, kk, block = len(qids), max(k, 1), _BLOCK_DOUBLES
    qpos: dict = {}
    for i, v in enumerate(qids.to_pylist()):
        qpos.setdefault(v, []).append(i)
    q_null = np.array(qpos.pop(None, []), np.int64)

    def exclusions(iid: pa.Array):
        """Item columns with a NULL id, and the (row, col) pairs of equal
        ids: the pairs SQL ``item_id != query_id`` does not keep."""
        null_cols, er, ec = [], [], []
        for j, v in enumerate(iid.to_pylist()):
            if v is None:
                null_cols.append(j)
            for i in qpos.get(v, ()):  # None was popped: a NULL matches nothing
                er.append(i)
                ec.append(j)
        return null_cols, np.array(er, np.int64), np.array(ec, np.int64)

    def score(batch: pa.RecordBatch):
        iid, ni = batch.column("item_id"), batch.num_rows
        ilen, itn, igroups = _rows_by_length(batch.column("iv"), batch.column("itn"))
        if exclude_self:
            null_cols, er, ec = exclusions(iid)
        step = max(1, block // max(1, ni))
        for a in range(0, nq, step):
            b = min(nq, a + step)
            raw = np.zeros((b - a, ni))
            for n, (cols, imat) in igroups.items():
                rows, qmat = qgroups.get(n, (np.empty(0, np.int64), None))
                sel = (rows >= a) & (rows < b)
                if sel.any():
                    raw[np.ix_(rows[sel] - a, cols)] = cosine_block(
                        qmat[sel], qn[rows[sel]], imat, itn[cols]
                    )
            ql = qlen[a:b, None]
            null = (ql >= 0) & (ilen >= 0) & (ql != ilen)
            null &= cosine_guard(qn[a:b, None] * itn)
            # ascending sort key: NaN ranks first in Spark, NULL last, and
            # an excluded pair (NaN here, sorted past everything) not at all
            neg = -raw
            neg[np.isnan(raw)] = -np.inf
            neg[null] = np.inf
            if exclude_self:
                neg[:, null_cols] = np.nan
                neg[q_null[(q_null >= a) & (q_null < b)] - a] = np.nan
                own = (er >= a) & (er < b)
                neg[er[own] - a, ec[own]] = np.nan
            if ni > kk:
                kth = np.partition(neg, kk - 1, axis=1)[:, kk - 1]
                keep = neg <= np.where(np.isnan(kth), np.inf, kth + _ROUND_MARGIN)[:, None]
            else:
                keep = ~np.isnan(neg)
            r, c = np.nonzero(keep)
            yield pa.RecordBatch.from_arrays(
                [
                    qids.take(pa.array(r + a, pa.int64())),
                    iid.take(pa.array(c, pa.int64())),
                    pa.array(raw[r, c], pa.float64(), mask=null[r, c]),
                ],
                names=["query_id", "item_id", "raw"],
            )

    def kernel(batches):
        for batch in batches:
            yield from score(batch)

    schema = T.StructType(
        [q.schema["query_id"], it.schema["item_id"], T.StructField("raw", T.DoubleType())]
    )
    return it.mapInArrow(kernel, schema)


def brute_force_topk(
    queries: DataFrame,
    items: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    item_id: str = "item_id",
    item_emb: str = "item_emb",
    exclude_self: bool = True,
    scorer=None,
) -> DataFrame:
    """Exact cosine top-k: every query against every item, per-query
    window top-k over (score DESC, item_id ASC).

    Default score: the query side is collected once, an eager job at call
    time (the mention batch BLINK's ``main_dense`` holds), and shipped
    with the kernel as a float64 matrix. The items are spread over the
    session's cores and each Arrow batch is scored as one matrix by
    ``similarity.cosine_block``, the same doubles as the Spark fold; per
    batch only the pairs near each query's k-th raw score leave the
    kernel. Rounding to 6 places and ranking stay in Spark, so the result
    equals the relational form row for row (the chunked top-k of the
    reference's elq/main_dense.py:304-334).

    ``scorer(qv, iv) -> Column`` overrides the rounded cosine (e.g.
    ``cosine_exact`` over quantized embeddings for bit-reproducible oracle
    parity); it is scored relationally over the queries × items cross join.
    """
    q = _embedded(queries, query_id, query_emb, _QUERY)
    it = _embedded(items, item_id, item_emb, _ITEM)
    if scorer is None:
        pairs = _exact_topk_pairs(q, spread(it, "item_id"), k, exclude_self).select(
            "query_id", "item_id", F.round("raw", 6).alias("score")
        )
        return _rank_topk(pairs, k)
    cond = F.lit(True) if not exclude_self else (F.col("item_id") != F.col("query_id"))
    pairs = q.crossJoin(it).filter(cond).select(
        "query_id", "item_id", _pair_score(scorer).alias("score")
    )
    return _rank_topk(pairs, k)


def lsh_topk(
    queries: DataFrame,
    items: DataFrame,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    item_id: str = "item_id",
    item_emb: str = "item_emb",
    *,
    scorer,
    bucket_fn,
) -> DataFrame:
    """Approximate top-k via random-hyperplane buckets.

    Items land in their own bucket; queries probe their bucket plus every
    bucket at Hamming distance 1 (the nprobe analogue). The
    scoring join is an equi-join on bucket id — co-partitioned, no cross
    join anywhere. ``bucket_fn(emb) -> Column`` is an embedding's bucket
    id over ``LSH_PLANES`` hyperplanes (e.g. ``sign_lsh_bucket_exact`` over
    quantized embeddings); ``scorer(qv, iv) -> Column`` scores a candidate.
    """
    it = _embedded(items, item_id, item_emb, _ITEM).withColumn(
        "bucket", bucket_fn(F.col("iv"))
    )

    q = _embedded(queries, query_id, query_emb, _QUERY).withColumn(
        "bucket0", bucket_fn(F.col("qv"))
    )
    probes = [F.col("bucket0")]
    probes += [F.col("bucket0").bitwiseXOR(F.lit(1 << b)) for b in range(LSH_PLANES)]
    qp = q.select(
        "query_id", "qv", "qn", F.explode(F.array(*probes)).alias("bucket")
    )

    pairs = qp.join(it, "bucket").filter(F.col("item_id") != F.col("query_id")).select(
        "query_id", "item_id", _pair_score(scorer).alias("score")
    ).dropDuplicates(["query_id", "item_id"])
    return _rank_topk(pairs, ANN_K)


def _centroid_literal_array(cents: DataFrame):
    """Collect the tiny codebook (≤ n_centroids rows — the same 'small side
    goes local' judgment as a broadcast) and rebuild it as a LITERAL
    ``array<struct<cid,cv>>`` column, preserving the exact input types so
    scorer arithmetic is bit-identical to the join form.

    Returns (array_column_or_None, cid_type_string)."""
    cid_t = cents.schema["cid"].dataType.simpleString()
    cv_t = cents.schema["cv"].dataType.simpleString()
    rows = cents.collect()
    if not rows:
        return None, cid_t
    structs = [
        F.struct(
            F.lit(r.cid).cast(cid_t).alias("cid"),
            F.array(*[F.lit(x) for x in r.cv]).cast(cv_t).alias("cv"),
        )
        for r in rows
    ]
    return F.array(*structs), cid_t


def _scored_cells(carr, emb_col: str, scorer):
    """Literal codebook → per-row array<struct<s,cid>> of centroid scores."""
    return F.transform(
        carr,
        lambda c: F.struct(
            scorer(F.col(emb_col), c["cv"]).cast("double").alias("s"),
            c["cid"].alias("cid"),
        ),
    )


def _assign_cells_lit(it: DataFrame, carr, cid_t: str, scorer) -> DataFrame:
    scored = _scored_cells(carr, "iv", scorer)
    best = F.aggregate(
        scored,
        F.struct(
            F.lit(None).cast("double").alias("s"),
            F.lit(None).cast(cid_t).alias("cid"),
        ),
        # replicate the replaced window form's ORDER BY s DESC NULLS LAST,
        # cid ASC exactly: a null score must LOSE to any non-null one, and
        # an all-null row (null embedding) must land on the LOWEST cid, not
        # whichever entry the codebook collect order put last.
        lambda acc, x: F.when(
            acc["cid"].isNull()
            | (
                x["s"].isNotNull()
                & (
                    acc["s"].isNull()
                    | (x["s"] > acc["s"])
                    | ((x["s"] == acc["s"]) & (x["cid"] < acc["cid"]))
                )
            )
            | (x["s"].isNull() & acc["s"].isNull() & (x["cid"] < acc["cid"])),
            x,
        ).otherwise(acc),
    )
    return it.select(*it.columns, best.getField("cid").alias("cid"))


def _probe_cells_lit(
    q: DataFrame, carr, cid_t: str, scorer, nprobe: int
) -> DataFrame:
    """Query → its ``nprobe`` best cells, ZERO shuffle: score the literal
    codebook per row, comparator-sort (score DESC, cid ASC — the same tie
    rule as the window form), slice, explode. No join, no window."""
    scored = _scored_cells(carr, "qv", scorer)
    ordered = F.array_sort(
        scored,
        lambda x, y: F.when(x["s"] > y["s"], F.lit(-1))
        .when(x["s"] < y["s"], F.lit(1))
        .when(x["cid"] < y["cid"], F.lit(-1))
        .when(x["cid"] > y["cid"], F.lit(1))
        .otherwise(F.lit(0)),
    )
    return q.select(
        *q.columns, F.explode(F.slice(ordered, 1, nprobe)).alias("p")
    ).select(*q.columns, F.col("p").getField("cid").alias("cid"))


def assign_cells(it: DataFrame, cents: DataFrame, scorer) -> DataFrame:
    """IVF cell assignment: each item → its best centroid, ZERO shuffle.

    The codebook becomes a literal struct array and the argmax is a single
    per-row ``transform`` + ``aggregate`` fold in one projection — no join,
    no row inflation, no Exchange between the item scan and the assignment
    (the round-3 form crossJoined items × centroids and ran a
    ``row_number`` window over the inflated table: at 5.9M items × 100
    cells that shuffles 590M rows to pick an argmax computable map-side).
    Tie rule preserved: best score, then lowest cid.
    """
    carr, cid_t = _centroid_literal_array(cents)
    if carr is None:  # empty codebook → no assignable cells
        return it.select(
            "item_id", "iv", F.lit(None).cast(cid_t).alias("cid")
        ).filter(F.lit(False))
    return _assign_cells_lit(it, carr, cid_t, scorer)


def ivf_topk(
    queries: DataFrame,
    items: DataFrame,
    nprobe: int = 4,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    item_id: str = "item_id",
    item_emb: str = "item_emb",
    *,
    scorer,
) -> DataFrame:
    """IVF-style approximate top-k — the coarse-quantizer analogue of
    /root/reference/elq/index/faiss_indexer.py:71-91 (nlist cells, nprobe
    probes): every item is assigned to its nearest centroid (one cell),
    queries probe their ``nprobe`` nearest centroids, and scoring is an
    equi-join on the cell id.

    The codebook is the ``IVF_CELLS`` lowest-id items — bit-reproducible
    on any engine, which is what the DuckDB oracle requires. Assignment AND
    probe selection are shuffle-free literal-codebook expressions (argmax
    fold / comparator-sort + slice) — one projection per row on each side,
    no join, no window, no Exchange before the cell equi-join.
    ``scorer(v, cv) -> Column`` scores an item or query against a centroid
    (cell assignment and probes) and a candidate against its query.
    """
    it = _embedded(items, item_id, item_emb, _ITEM)
    cents = (
        it.orderBy(F.col("item_id").asc())
        .limit(IVF_CELLS)
        .select(F.col("item_id").alias("cid"), F.col("iv").alias("cv"))
    )
    q = _embedded(queries, query_id, query_emb, _QUERY)
    carr, cid_t = _centroid_literal_array(cents)  # ONE collect, both sides
    if carr is None:  # empty codebook → nothing assignable/probable
        empty = it.filter(F.lit(False)).select(
            F.col("item_id").alias("query_id"),
            "item_id",
            F.lit(0.0).alias("score"),
        )
        return _rank_topk(empty, ANN_K)
    assigned = _assign_cells_lit(it, carr, cid_t, scorer)
    probes = _probe_cells_lit(q, carr, cid_t, scorer, nprobe)
    pairs = (
        probes.join(assigned, "cid")
        .filter(F.col("item_id") != F.col("query_id"))
        .select("query_id", "item_id", _pair_score(scorer).alias("score"))
        .dropDuplicates(["query_id", "item_id"])
    )
    return _rank_topk(pairs, ANN_K)


def ann_recall_vs_exact(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """recall@k of the approximate result against the exact one (the
    evaluation the reference runs for HNSW vs flat)."""
    a = approx.select("query_id", "item_id").withColumn("hit", F.lit(1))
    joined = exact.select("query_id", "item_id").join(
        a, ["query_id", "item_id"], "left"
    )
    return joined.agg(
        F.count("*").alias("n_exact"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_found"),
        F.round(F.avg(F.coalesce("hit", F.lit(0)).cast("double")), 6).alias("recall"),
    )


def pq_encode(
    emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding — the vector-compression step of a
    FAISS ``IndexPQ`` / ``IndexIVFPQ`` (reference index family:
    /root/reference/elq/index/faiss_indexer.py:71-91 trains coarse+PQ
    quantizers before ``add()``): the ``n_sub·d_sub``-dim vector is split
    into ``n_sub`` subvectors and each is snapped to its nearest of
    ``n_centroids`` subspace centroids (``PQ_ENCODE_*``: 8 × 8 over 16), so
    a vector stores as ``n_sub`` byte-sized codes (here 8×4 bits ≈ 4 bytes
    vs 256 float bytes, 64× compression) plus the codebook.

    Output: one row per (vector, subspace) — ``vec_id, sub, code,
    sq_err`` — where ``sq_err`` is the exact integer squared L2
    reconstruction error of that subspace (sum over subspaces = the
    vector's total reconstruction error; feeds the ADC distance table of
    an IVF-PQ search).

    Determinism/parity: embeddings are micro-quantized (floor(v·1e6) →
    BIGINT); the codebook is the subvectors of the first ``n_centroids``
    vectors by id (the ``first_items`` convention the IVF oracle path
    uses — bit-reproducible anywhere);
    distances are exact integer sums, argmin ties break to the lowest
    centroid id. Everything is integer arithmetic — no floats at all.

    Shape at 100 TB: the codebook is ``n_centroids`` rows collected once
    (the broadcast-small-side-goes-local judgment, same as the IVF literal
    codebook) and unrolled into per-subspace LITERAL arrays; encoding is a
    single per-row projection — ZERO shuffles, no join, no window, nothing
    corpus-sized moves. Vectors whose length ≠ n_sub·d_sub are dropped
    (malformed input guard).
    """
    n_sub, d_sub = PQ_ENCODE_N_SUB, PQ_ENCODE_D_SUB
    n_centroids = PQ_ENCODE_CENTROIDS
    dim = n_sub * d_sub
    q = _pq_quantized(emb, id_col, emb_col, dim, "vec_id")
    cb = _pq_codebook(q, "vec_id", n_centroids)
    if not cb:
        return q.select(
            "vec_id",
            F.lit(0).cast("long").alias("sub"),
            F.lit(0).cast("long").alias("code"),
            F.lit(0).cast("long").alias("sq_err"),
        ).filter(F.lit(False))

    subs = F.array(
        *[_pq_best_struct(cb, s, d_sub, with_err=True) for s in range(n_sub)]
    )
    return q.select("vec_id", F.explode(subs).alias("r")).select(
        "vec_id", "r.sub", "r.code", "r.sq_err"
    )


def _pq_quantized(
    df: DataFrame, id_col: str, emb_col: str, dim: int, out_id: str
) -> DataFrame:
    """(id, micro-quantized array<long>) with malformed-length rows dropped."""
    from blink_spark.functions.hashing import quantize_emb

    return df.select(
        F.col(id_col).alias(out_id), quantize_emb(emb_col).alias("qv")
    ).filter(F.size("qv") == dim)


def _pq_codebook(q: DataFrame, id_field: str, n_centroids: int):
    """First-``n_centroids`` vectors by id as python tuples — the one-time
    tiny collect (small-side-goes-local, same as the IVF literal codebook)."""
    rows = q.orderBy(id_field).limit(n_centroids).collect()
    return [(int(r[id_field]), [int(x) for x in r["qv"]]) for r in rows]


def _pq_entries(cb, s: int, d_sub: int):
    """Subspace ``s``'s codebook as a LITERAL array<struct<cid,cv>>."""
    return F.array(
        *[
            F.struct(
                F.lit(cid).cast("long").alias("cid"),
                F.array(*[F.lit(x) for x in qv[s * d_sub : (s + 1) * d_sub]])
                .cast("array<bigint>")
                .alias("cv"),
            )
            for cid, qv in cb
        ]
    )


def _pq_sub_dists(sv, entries):
    """array<struct<d2,cid>>: exact integer squared L2 of the subvector
    ``sv`` to every centroid in ``entries``."""
    from blink_spark.functions.hashing import int_l2

    return F.transform(
        entries,
        lambda c: F.struct(
            int_l2(sv, c["cv"]).alias("d2"), c["cid"].alias("cid")
        ),
    )


def _pq_argmin(scored):
    """Fold to the (d2, cid) argmin — ties to the lowest centroid id."""
    return F.aggregate(
        scored,
        F.struct(
            F.lit(None).cast("long").alias("d2"),
            F.lit(None).cast("long").alias("cid"),
        ),
        lambda acc, x: F.when(
            acc["cid"].isNull()
            | (x["d2"] < acc["d2"])
            | ((x["d2"] == acc["d2"]) & (x["cid"] < acc["cid"])),
            x,
        ).otherwise(acc),
    )


def _pq_best_struct(cb, s: int, d_sub: int, with_err: bool):
    """Subspace ``s``'s nearest-centroid struct for the row's ``qv`` —
    the ONE definition of slice origin + codebook + argmin that both the
    encoder and the searcher must agree on."""
    sv = F.slice("qv", s * d_sub + 1, d_sub)
    best = _pq_argmin(_pq_sub_dists(sv, _pq_entries(cb, s, d_sub)))
    fields = [
        F.lit(s).cast("long").alias("sub"),
        best["cid"].alias("code"),
    ]
    if with_err:
        fields.append(best["d2"].alias("sq_err"))
    return F.struct(*fields)


def pq_topk(
    queries: DataFrame,
    items: DataFrame,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    item_id: str = "item_id",
    item_emb: str = "item_emb",
) -> DataFrame:
    """PQ asymmetric-distance top-k (FAISS ``IndexPQ`` search): items are
    stored only as their ``n_sub`` codes; each query computes a distance
    TABLE to every (subspace, centroid) once, and the approximate distance
    to an item is the sum of ``n_sub`` table lookups — the query never
    touches item vectors (/root/reference/elq/index/faiss_indexer.py:71-91
    trains exactly this quantizer before ``add()``).

    Relational form: item codes come from the shuffle-free encoder; the
    query distance table (|Q|·n_sub·n_centroids rows — small because the
    query side is) BROADCASTS onto the code rows keyed (sub, code); a
    per-(query,item) partial aggregation sums the n_sub lookups map-side
    before the one pair-keyed shuffle; then the standard per-query top-k
    window. Exhaustive over items BY DESIGN (IndexPQ is a scan —
    compose with IVF cells for the bucketed scale path); the PQ win is
    scanning 8 small integers per item instead of the 64-dim vector.
    All distances are exact integers; ties rank item_id ASC. Geometry:
    ``PQ_N_SUB × PQ_D_SUB`` over ``PQ_CENTROIDS`` centroids.
    """
    n_sub, d_sub = PQ_N_SUB, PQ_D_SUB
    dim = n_sub * d_sub
    it = _pq_quantized(items, item_id, item_emb, dim, "item_id")
    qs = _pq_quantized(queries, query_id, query_emb, dim, "query_id")
    cb = _pq_codebook(it, "item_id", PQ_CENTROIDS)
    if not cb:
        return it.select(
            F.col("item_id").alias("query_id"),
            "item_id",
            F.lit(0).cast("long").alias("adc"),
            F.lit(0).alias("rank"),
        ).filter(F.lit(False))

    codes = _pq_codes(it, cb, n_sub, d_sub)
    dtable = _pq_dtable(qs, cb, n_sub, d_sub)
    adc = (
        codes.join(F.broadcast(dtable), ["sub", "code"])
        .filter(F.col("item_id") != F.col("query_id"))
        .groupBy("query_id", "item_id")
        .agg(F.sum("qd2").cast("long").alias("adc"))
    )
    return _rank_by_adc(adc, ANN_K)


def _pq_codes(it: DataFrame, cb, n_sub: int, d_sub: int) -> DataFrame:
    """(item_id, sub, code) rows — the shuffle-free encoder, codes only."""
    return it.select(
        "item_id",
        F.explode(
            F.array(
                *[
                    _pq_best_struct(cb, s, d_sub, with_err=False)
                    for s in range(n_sub)
                ]
            )
        ).alias("r"),
    ).select("item_id", "r.sub", "r.code")


def _pq_dtable(qs: DataFrame, cb, n_sub: int, d_sub: int) -> DataFrame:
    """(query_id, sub, code, qd2) — each query's full ADC distance table
    (|Q|·n_sub·n_centroids rows; small because the query side is)."""

    def _dists_for_sub(s: int):
        # 1-arg lambda FACTORY: a `lambda x, s=s` default-arg closure would
        # be a 2-arg lambda, and Spark passes those (element, array_index) —
        # the index would silently replace the subspace id.
        sv = F.slice("qv", s * d_sub + 1, d_sub)
        sub_lit = F.lit(s).cast("long")

        def _tag(x):
            return F.struct(
                sub_lit.alias("sub"), x["cid"].alias("cid"), x["d2"].alias("qd2")
            )

        return F.transform(_pq_sub_dists(sv, _pq_entries(cb, s, d_sub)), _tag)

    return qs.select(
        "query_id",
        F.explode(
            F.concat(*[_dists_for_sub(s) for s in range(n_sub)])
        ).alias("t"),
    ).select("query_id", "t.sub", F.col("t.cid").alias("code"), "t.qd2")


def _rank_by_adc(adc: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("item_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "adc", "rank")
    )


def ivfpq_topk(
    queries: DataFrame,
    items: DataFrame,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    item_id: str = "item_id",
    item_emb: str = "item_emb",
) -> DataFrame:
    """IVF-PQ top-k — the production FAISS ``IndexIVFPQ`` shape
    (/root/reference/elq/index/faiss_indexer.py:71-91 trains exactly this
    coarse+PQ pair before ``add()``): a coarse L2 quantizer restricts each
    query to its ``IVFPQ_NPROBE`` nearest of ``IVF_CELLS`` cells, and within
    those cells distance is the PQ asymmetric sum over stored codes — the
    query touches neither full item vectors nor items outside its probed
    cells.

    Everything stays integer-exact: the coarse quantizer scores by negative
    integer L2 (argmax of −d² == argmin d², same NULLS-LAST/min-cid tie
    fold the IVF path uses), and the PQ side is the shared encoder/dtable.
    Encodes RAW vectors (FAISS ``by_residual=false``) so the PQ codebook is
    cell-independent and the encode stays one shuffle-free projection.

    Shape at 100 TB: cell assignment and PQ encode are zero-shuffle literal
    folds; the probes→items join is a cell-keyed equi-join (the cell id is
    the partition key at scale — co-located, never all-pairs); the per-query
    distance table broadcasts; one pair-keyed aggregation and the top-k
    window follow. This is the bucketed scale path ``pq_topk``'s exhaustive
    scan documents.
    """
    from blink_spark.functions.hashing import int_l2

    n_sub, d_sub = PQ_N_SUB, PQ_D_SUB
    dim = n_sub * d_sub
    it = _pq_quantized(items, item_id, item_emb, dim, "item_id")
    qs = _pq_quantized(queries, query_id, query_emb, dim, "query_id")
    coarse = (
        it.orderBy("item_id")
        .limit(IVF_CELLS)
        .select(F.col("item_id").alias("cid"), F.col("qv").alias("cv"))
    )
    carr, cid_t = _centroid_literal_array(coarse)
    cb = _pq_codebook(it, "item_id", PQ_CENTROIDS)
    if carr is None or not cb:
        return it.select(
            F.col("item_id").alias("query_id"),
            "item_id",
            F.lit(0).cast("long").alias("adc"),
            F.lit(0).alias("rank"),
        ).filter(F.lit(False))

    def neg_l2(a, b):
        return -int_l2(a, b)

    assigned = _assign_cells_lit(
        it.select("item_id", F.col("qv").alias("iv")), carr, cid_t, neg_l2
    ).select("item_id", "cid")
    probes = _probe_cells_lit(qs, carr, cid_t, neg_l2, IVFPQ_NPROBE).select(
        "query_id", "cid"
    )
    icodes = assigned.join(_pq_codes(it, cb, n_sub, d_sub), "item_id")
    dtable = _pq_dtable(qs, cb, n_sub, d_sub)
    cand = probes.join(icodes, "cid").filter(
        F.col("item_id") != F.col("query_id")
    )
    adc = (
        cand.join(F.broadcast(dtable), ["query_id", "sub", "code"])
        .groupBy("query_id", "item_id")
        .agg(F.sum("qd2").cast("long").alias("adc"))
    )
    return _rank_by_adc(adc, ANN_K)


def jl_projection_ratio(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss distance-preservation readout for a
    deterministic ±1 sign projection (Achlioptas 2003: random-sign
    matrices satisfy JL — E[(Σ sᵢ·δᵢ)²] = ‖δ‖², so the k-plane projected
    squared distance divided by k estimates the original): projects the
    1e6-quantized embeddings onto 8 md5-derived sign vectors,
    pairs consecutive ids, and histograms the projected/original
    squared-distance ratio — the empirical evidence that a k-dim sketch
    preserves the distances the ANN/dedup family consumes, and the
    calibration readout for picking k. Everything is exact BIGINT: signs
    are ±1 from md5 parity (the minhash/LSH determinism convention — no
    RNG, reproducible across engines), distances are integer sums of
    squares, the ratio uses the spearman staged ppm division.

    Scale notes: the dim-explode is map-side; per-vector projections are
    ONE id-keyed partial agg (signs are codegen md5 expressions — no
    plane×dim join table); pair joins are equi-joins on the pair key;
    the histogram is a ≤ 10-group finalize. No windows, no scalars, no
    broadcast of anything row-scale.

    Returns one row per ratio bucket (bucket = ratio_ppm div 200000
    capped at 9): (bucket, n_pairs, min_ratio_ppm, max_ratio_ppm).
    """
    k = 8
    ex = emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(vec_col).alias("pos", "v"),
    ).select(
        "id",
        "pos",
        F.expr("cast(floor(cast(v as double) * 1000000) as bigint)").alias(
            "q"
        ),
    )
    sign = (
        "(1 - 2 * (cast(conv(substring(md5(concat('jl:{j}:', "
        "cast(pos as string))), 1, 8), 16, 10) as bigint) % 2))"
    )
    proj = ex.groupBy("id").agg(
        *[
            F.sum(F.expr(f"{sign.format(j=j)} * q"))
            .cast("long")
            .alias(f"y{j}")
            for j in range(k)
        ]
    )
    a = proj.filter("id % 2 = 0").select(
        F.expr("id div 2").alias("pk"),
        *[F.col(f"y{j}").alias(f"a{j}") for j in range(k)],
    )
    b = proj.filter("id % 2 = 1").select(
        F.expr("id div 2").alias("pk"),
        *[F.col(f"y{j}").alias(f"b{j}") for j in range(k)],
    )
    dp = " + ".join(f"(a{j} - b{j}) * (a{j} - b{j})" for j in range(k))
    pj = a.join(b, "pk").select("pk", F.expr(dp).cast("long").alias("dp2"))
    exa = ex.filter("id % 2 = 0").select(
        F.expr("id div 2").alias("pk"), "pos", F.col("q").alias("qa")
    )
    exb = ex.filter("id % 2 = 1").select(
        F.expr("id div 2").alias("pk"), "pos", F.col("q").alias("qb")
    )
    orig = (
        exa.join(exb, ["pk", "pos"])
        .groupBy("pk")
        .agg(
            F.sum(F.expr("(qa - qb) * (qa - qb)")).cast("long").alias("do2")
        )
    )
    den = f"({k} * do2)"
    r = (
        pj.join(orig, "pk")
        .filter("do2 > 0")
        .select(
            F.expr(
                f"CASE WHEN {den} >= 1000000"
                f" THEN dp2 div ({den} div 1000000)"
                f" ELSE (1000000 * dp2) div {den} END"
            )
            .cast("long")
            .alias("ratio_ppm")
        )
    )
    return (
        r.select(
            F.expr("least(ratio_ppm div 200000, 9)").cast("long").alias(
                "bucket"
            ),
            "ratio_ppm",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("ratio_ppm").cast("long").alias("min_ratio_ppm"),
            F.max("ratio_ppm").cast("long").alias("max_ratio_ppm"),
        )
    )


def elbow_inertia(
    items: DataFrame,
    item_id: str = "item_id",
    item_emb: str = "iv",
) -> DataFrame:
    """IVF cell-count calibration: k-means inertia (Σ per-item min
    squared distance to a centroid) at the ``ELBOW_KS`` codebook sizes — the
    elbow readout that picks ``n_centroids`` before building the IVF
    index. Centroids are the ``first_items`` codebook (lowest-id items —
    the bit-reproducible oracle convention the IVF family already uses);
    distances are exact integer sums of squares on the quantized
    embeddings, so the whole sweep is engine-reproducible.

    Scale notes: same discipline as the IVF assignment — each k's
    codebook is a tiny collect rebuilt as a LITERAL array, the per-item
    min distance is a shuffle-free array fold (one projection per row,
    no join/window/Exchange before the one-row finalize per k).
    Overflow: per-item distance ≤ dims·(2·10⁶)² ≈ 2.6e14; the total
    stays in BIGINT to ~35k items per sweep at 64 dims — beyond that
    report per-partition partial inertias (the documented-bound
    convention).

    Returns one row per k: (k, n_items, inertia_total, inertia_mean).
    """
    it = items.select(
        F.col(item_id).alias("item_id"), F.col(item_emb).alias("iv")
    )
    sqd = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    out = None
    for k in ELBOW_KS:
        cents = (
            it.orderBy(F.col("item_id").asc())
            .limit(int(k))
            .select(F.col("item_id").alias("cid"), F.col("iv").alias("cv"))
        )
        carr, _ = _centroid_literal_array(cents)
        if carr is None:
            continue
        d = it.select(
            F.array_min(
                F.transform(carr, lambda c: sqd(F.col("iv"), c["cv"]))
            )
            .cast("long")
            .alias("d")
        )
        row = d.agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias(
                "inertia_total"
            ),
        ).select(
            F.lit(int(k)).cast("long").alias("k"),
            "n_items",
            "inertia_total",
            F.expr(
                "CASE WHEN n_items > 0 THEN inertia_total div n_items END"
            )
            .cast("long")
            .alias("inertia_mean"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def twonn_intrinsic_dim(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017): the
    embedding cloud's EFFECTIVE dimensionality from each point's two
    nearest neighbours — ID ≈ n / Σ ln(d₂/d₁). Tells the ANN/projection
    family how much structure the 64 ambient dims actually carry (a
    low ID justifies aggressive PQ/JL compression; ID ≈ ambient means
    no free lunch).

    Determinism/parity: squared distances are exact integers on the
    1e6-quantized vectors; ln enters only as floor(ln(d²)·1e6) micro-
    nats on those exact integers (the heaps/zipf convention), and
    ln(d₂/d₁) = (ln d₂² − ln d₁²)/2 in integer micro-nats. Zero-distance
    neighbours (exact duplicates) are excluded per the TwoNN convention
    — d₁ = 0 would make the ratio infinite.

    Scale notes: the all-pairs distance table is the documented exact-
    baseline crossJoin (the brute-force-topk class — at scale feed this
    from the LSH/IVF candidate pairs instead); neighbour picks are a
    point-keyed window (bounded per point), the estimate is a one-row
    finalize.

    Returns one row: (n_points, n_used, sum_lnmu_micro, id_milli).
    """
    q = emb.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"transform({vec_col}, x ->"
            " cast(floor(cast(x as double) * 1000000) as bigint))"
        ).alias("qv"),
    )
    a = q.select(F.col("id").alias("ia"), F.col("qv").alias("va"))
    b = q.select(F.col("id").alias("ib"), F.col("qv").alias("vb"))
    d = (
        a.crossJoin(b)
        .filter("ia != ib")
        .select(
            "ia",
            F.expr(
                "aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)),"
                " cast(0 as bigint), (acc, v) -> acc + v)"
            ).alias("d2"),
        )
        .filter("d2 > 0")
    )
    w = Window.partitionBy("ia").orderBy(F.col("d2").asc())
    nn = d.select(
        "ia", "d2", F.row_number().over(w).alias("rk")
    ).filter("rk <= 2")
    mu = (
        nn.groupBy("ia")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.min(F.when(F.col("rk") == 1, F.col("d2"))).alias("d1"),
            F.min(F.when(F.col("rk") == 2, F.col("d2"))).alias("d2n"),
        )
        .filter("k = 2")
        .select(
            F.expr(
                "(cast(floor(ln(cast(d2n as double)) * 1000000) as bigint)"
                " - cast(floor(ln(cast(d1 as double)) * 1000000) as bigint))"
                " div 2"
            )
            .cast("long")
            .alias("lnmu_micro")
        )
    )
    n_all = q.agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    est = mu.agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.coalesce(F.sum("lnmu_micro"), F.lit(0))
        .cast("long")
        .alias("sum_lnmu_micro"),
    )
    return n_all.crossJoin(F.broadcast(est)).select(
        "n_points",
        "n_used",
        "sum_lnmu_micro",
        F.expr(
            "CASE WHEN sum_lnmu_micro > 0 THEN"
            " (1000000000 * n_used) div sum_lnmu_micro END"
        )
        .cast("long")
        .alias("id_milli"),
    )
