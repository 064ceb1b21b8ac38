"""JSONL entity-catalogue / mention scans.

Spark-first re-expression of the reference's line-by-line JSONL loaders:
- entity catalogue with ``curid=<id>`` parsing and dense local ids
  (/root/reference/blink/main_dense.py:99-151)
- test mentions: lowercase everything, keep only rows whose label resolves
  in the KB (/root/reference/blink/main_dense.py:173-207)
- generic dataset reader; its debug cap is the caller's ``.limit(n)``
  (/root/reference/blink/candidate_ranking/utils.py:24-36)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_entity_catalogue(spark: SparkSession, path: str) -> DataFrame:
    """JSONL {title, text, idx:'...curid=<id>'} → (entity_id, title, text,
    wikipedia_id). The reference's mutable ``local_idx += 1`` becomes a
    deterministic dense id over a total order (SURVEY.md §4 custom #3) —
    two-phase partition-offset assignment (operators.ids.dense_ids), NOT a
    global no-partition window: that plan funnels the whole 5.9M-entity
    catalogue through ONE task at scale."""
    from blink_spark.operators.ids import dense_ids

    raw = spark.read.json(path)
    parsed = raw.select(
        "title",
        "text",
        F.regexp_extract("idx", r"curid=(\d+)", 1).cast("long").alias("wikipedia_id"),
    )
    return dense_ids(
        parsed,
        [F.col("wikipedia_id").asc_nulls_last(), F.col("title").asc()],
        "entity_id",
    ).select("entity_id", "title", "text", "wikipedia_id")


def read_mentions_jsonl(
    spark: SparkSession, path: str, entities: DataFrame | None = None,
) -> DataFrame:
    """Mention records, lowercased; optionally left-semi-filtered to rows
    whose label_title resolves in the entity catalogue (the keep side of the
    label-resolution filter — the drop side is the anti join, reported to
    metrics rather than silently lost)."""
    raw = spark.read.json(path)
    m = raw.select(
        F.col("id").cast("string").alias("mention_id"),
        F.lower("context_left").alias("context_left"),
        F.lower("mention").alias("mention"),
        F.lower("context_right").alias("context_right"),
        F.lower("label").alias("label_title"),
    )
    if entities is not None:
        kb = entities.select(F.lower("title").alias("label_title"))
        m = m.join(F.broadcast(kb), "label_title", "left_semi")
    return m
