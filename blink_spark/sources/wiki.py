"""Wikipedia/Wikidata-shaped scans (SURVEY.md §2.1 rows 6-9).

- wiki-extractor output: ``<doc id=.. url=.. title=..> ... </doc>`` blocks →
  (wikipedia_id, title, text, num_tokens)
  (/root/reference/blink/candidate_retrieval/process_wiki_extractor_output*.py)
- anchor-link extraction: ``<a href="...">anchor</a>`` per doc
  (process_wiki_extractor_output_links.py:56-131)
- wikidata JSON dump projection: keep rows with an enwiki sitelink, project
  English labels/aliases/descriptions (process_wikidata.py:42-103)
"""

from __future__ import annotations

from urllib.parse import unquote

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_wiki_extractor(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented wiki-extractor output → one row per <doc> block.

    Sessionize lines by the <doc ...> opener (running sum), group, then
    regex-project id/title; text = every line between the tags, the title
    line included (process_wiki_extractor_output_full.py:52-94).
    """
    from blink_spark.operators.ids import partitioned_running_sum
    from blink_spark.sources.lines import numbered_lines

    df = numbered_lines(spark, path)
    marked = df.withColumn(
        "is_open", F.when(F.col("line").startswith("<doc id="), 1).otherwise(0)
    )
    # two-phase prefix sum (ids.partitioned_running_sum) — a no-partition
    # Window.orderBy here would shuffle the entire dump into one task
    blocks = partitioned_running_sum(marked, "line_no", "is_open", "block_id")
    grouped = blocks.groupBy("block_id").agg(
        F.array_sort(F.collect_list(F.struct("line_no", "line"))).alias("ls")
    )
    all_lines = F.transform("ls", lambda s: s["line"])
    header = F.element_at(all_lines, 1)
    body = F.filter(
        F.slice(all_lines, 2, F.greatest(F.size(all_lines) - 1, F.lit(0))),
        lambda x: (x != "</doc>") & (F.trim(x) != ""),
    )
    text = F.array_join(body, "\n")
    return grouped.select(
        F.regexp_extract(header, r'id="(\d+)"', 1).cast("long").alias("wikipedia_id"),
        F.regexp_extract(header, r'title="([^"]*)"', 1).alias("title"),
        text.alias("text"),
    ).withColumn("num_tokens", F.size(F.split(F.trim("text"), r"[\t\n\x0B\f\r ]+"))).filter(
        F.col("wikipedia_id").isNotNull()
    )


WIKIDATA_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField(
            "sitelinks",
            T.StructType(
                [
                    T.StructField(
                        "enwiki", T.StructType([T.StructField("title", T.StringType())])
                    ),
                    T.StructField(
                        "enwikiquote",
                        T.StructType([T.StructField("title", T.StringType())]),
                    ),
                ]
            ),
        ),
        T.StructField(
            "labels",
            T.StructType(
                [T.StructField("en", T.StructType([T.StructField("value", T.StringType())]))]
            ),
        ),
        T.StructField(
            "descriptions",
            T.StructType(
                [T.StructField("en", T.StructType([T.StructField("value", T.StringType())]))]
            ),
        ),
        T.StructField(
            "aliases",
            T.StructType(
                [
                    T.StructField(
                        "en",
                        T.ArrayType(
                            T.StructType([T.StructField("value", T.StringType())])
                        ),
                    )
                ]
            ),
        ),
    ]
)


def read_wikidata_dump(spark: SparkSession, path: str) -> DataFrame:
    """Wikidata JSON dump scan (/root/reference/blink/candidate_retrieval/
    process_wikidata.py:42-103): bz2 lines (codec is a Spark built-in),
    strip the array brackets and trailing commas the dump format carries,
    keep rows with an enwiki sitelink, project the English
    label/aliases/description + optional enwikiquote title."""
    lines = spark.read.text(path)
    cleaned = lines.select(
        F.regexp_replace(F.trim("value"), r",[\t\n\x0B\f\r ]*$", "").alias("line")
    ).filter(~F.col("line").isin("[", "]", ""))
    parsed = cleaned.select(F.from_json("line", WIKIDATA_SCHEMA).alias("o"))
    kept = parsed.filter(F.col("o.sitelinks.enwiki.title").isNotNull())
    return kept.select(
        F.col("o.id").alias("wikidata_id"),
        F.col("o.sitelinks.enwiki.title").alias("title"),
        F.col("o.labels.en.value").alias("wikidata_label"),
        F.col("o.descriptions.en.value").alias("description"),
        F.transform(F.coalesce("o.aliases.en", F.array()), lambda a: a["value"]).alias(
            "aliases"
        ),
        F.col("o.sitelinks.enwikiquote.title").alias("enwikiquote_title"),
    )


@F.pandas_udf(T.StringType())
def url_unquote_udf(s: pd.Series) -> pd.Series:
    """%xx-unquote — Arrow-batched
    (process_wiki_extractor_output_links.py:86-88)."""
    return s.map(lambda x: unquote(x) if x is not None else None)


def extract_anchor_links(docs: DataFrame, id_col: str = "wikipedia_id",
                         text_col: str = "text") -> DataFrame:
    """All <a href>anchors per doc — regexp_extract_all + explode + unquote."""
    pairs = docs.select(
        F.col(id_col).alias("src_id"),
        F.explode(
            F.expr(
                f"regexp_extract_all({text_col}, "
                '\'<a href="([^"]+)">([^<]*)</a>\', 0)'
            )
        ).alias("a"),
    )
    return pairs.select(
        "src_id",
        url_unquote_udf(
            F.regexp_extract("a", '<a href="([^"]+)">', 1)
        ).alias("href_title"),
        F.regexp_extract("a", '>([^<]*)</a>', 1).alias("anchor_text"),
    )


def incoming_link_counts(links: DataFrame, entities: DataFrame) -> DataFrame:
    """Two-stage resolution then count per target — the groupBy-count + join
    that replaces the reference's two-pass dict mutation
    (/root/reference/blink/candidate_retrieval/enrich_data.py:74-164):
    resolve href by exact title, fall back to normalized (underscores→spaces,
    lowercase) title."""
    ents = entities.select(
        F.col("entity_id"), F.col("title"), F.lower(F.col("title")).alias("title_norm")
    )
    with_norm = links.withColumn(
        "href_norm", F.lower(F.regexp_replace("href_title", "_", " "))
    )
    exact = with_norm.join(
        ents.select(F.col("title").alias("href_title"), "entity_id"),
        "href_title",
        "left",
    )
    resolved = exact.join(
        ents.select(F.col("title_norm").alias("href_norm"),
                    F.col("entity_id").alias("entity_id_fb")),
        "href_norm",
        "left",
    ).withColumn("target", F.coalesce("entity_id", "entity_id_fb"))
    counts = (
        resolved.filter(F.col("target").isNotNull())
        .groupBy(F.col("target").alias("entity_id"))
        .agg(F.count("*").alias("num_incoming_links"))
    )
    return counts
