"""Incremental IVF vector store: cell-partitioned upserts, pruned probes.

Reference behavior: the reference's FAISS index is built ONCE over the full
encoding matrix and reloaded whole (/root/reference/elq/index/
faiss_indexer.py:44-69 ``index_data``/``deserialize_from``); adding vectors
means rebuilding or holding the index in one process's memory. The
streaming-store recast keeps the IVF structure but makes it a TABLE: each
arriving vector batch is assigned to its coarse cell with the shuffle-free
literal-codebook argmax (``operators/ann.py::assign_cells``) and APPENDED
to a hive-partitioned parquet store keyed by cell id — new files only,
existing cells' files untouched, no rebuild. Probing reads ONLY the
``nprobe`` cell directories the query's codebook scores select (partition
pruning, the same discipline as the incremental block store in
``streaming/incremental.py``), then brute-forces within — IVF semantics
identical to the batch ``ivf_topk``, state on disk instead of in RAM.

Scale notes (100 TB of vectors): the codebook is fixed at store creation
(the FAISS contract too — retraining the quantizer means a new index), so
assignment is a per-row projection; the store grows by appending cell
files; probe cost is ``nprobe / n_centroids`` of the corpus regardless of
how many batches accumulated. The only collect is the ≤ ``n_centroids``
distinct probed cell ids (the touched-bucket pattern).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blink_spark.functions.similarity import l2_norm
from blink_spark.operators.ann import (
    _QUERY,
    _centroid_literal_array,
    _default_scorer,
    _embedded,
    _pair_score,
    _probe_cells_lit,
    _rank_topk,
    assign_cells,
)


def first_items_codebook(items: DataFrame, n_centroids: int) -> DataFrame:
    """The deterministic ``first_items`` codebook (lowest ids) as an
    explicit (cid, cv) frame — fixed at store creation, shared by every
    subsequent upsert and probe (the FAISS train-once contract)."""
    return (
        items.orderBy(F.col("item_id").asc())
        .limit(n_centroids)
        .select(F.col("item_id").alias("cid"), F.col("iv").alias("cv"))
    )


def upsert_vector_batch(
    batch: DataFrame,
    store_dir: str,
    cents: DataFrame,
    item_id: str = "item_id",
    item_emb: str = "item_emb",
    scorer=None,
) -> None:
    """Assign the batch's vectors to their coarse cells (zero shuffle) and
    append them to the cell-partitioned store — new files only; files of
    previously written batches are never rewritten."""
    scorer = scorer or _default_scorer
    it = batch.select(F.col(item_id).alias("item_id"), F.col(item_emb).alias("iv"))
    assigned = assign_cells(it, cents, scorer)
    assigned.write.mode("append").partitionBy("cid").parquet(store_dir)


def probe_store_topk(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    cents: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    scorer=None,
) -> DataFrame:
    """IVF probe against the store: pick each query's ``nprobe`` cells from
    the literal codebook (zero shuffle), read ONLY those cell partitions,
    equi-join on cell id, exact-score within, top-k."""
    q = _embedded(queries, query_id, query_emb, _QUERY)
    carr, cid_t = _centroid_literal_array(cents)
    if carr is None:
        return q.filter(F.lit(False)).select(
            "query_id",
            F.lit(None).cast(cid_t).alias("item_id"),
            F.lit(0.0).alias("score"),
            F.lit(0).alias("rank"),
        )
    probes = _probe_cells_lit(q, carr, cid_t, scorer or _default_scorer, nprobe)
    touched = sorted(
        r["cid"] for r in probes.select("cid").distinct().collect()
    )  # <= n_centroids rows — the touched-bucket collect pattern
    store = (
        spark.read.parquet(store_dir)
        .filter(F.col("cid").isin(touched))
        .withColumn("itn", l2_norm("iv"))
    )
    pairs = probes.join(store, "cid").select(
        "query_id", "item_id", _pair_score(scorer).alias("score")
    )
    return _rank_topk(pairs, k)


def pruned_store_scan(
    spark: SparkSession, store_dir: str, cids: list
) -> DataFrame:
    """The store restricted to the given cells — exposed so tests can
    assert via ``input_file_name`` that only those partitions are read."""
    return spark.read.parquet(store_dir).filter(F.col("cid").isin(cids))


def incremental_ann_stream(
    stream: DataFrame,
    store_dir: str,
    cents: DataFrame,
    checkpoint_dir: str,
    item_id: str = "item_id",
    item_emb: str = "item_emb",
):
    """foreachBatch driver: every micro-batch of vectors is upserted into
    the cell-partitioned store; probes run against the store between (or
    during) batches with ``probe_store_topk``."""

    def _sink(batch: DataFrame, _bid: int) -> None:
        upsert_vector_batch(batch, store_dir, cents, item_id, item_emb)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "ann_store"))
        .trigger(availableNow=True)
    )
