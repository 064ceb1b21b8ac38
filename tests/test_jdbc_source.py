"""JDBC mapping-store source/sink (Derby-embedded stand-in for the
reference's sqlite mapping DB — generate_wiki2wikidata_mappings.py:35-58)."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from blink_spark.sources.jdbc import read_mapping_jdbc, write_mapping_jdbc


@pytest.fixture(scope="module")
def mapping_db(spark):
    df = spark.range(0, 200).select(
        F.col("id").alias("wikipedia_id"),
        F.concat(F.lit("title "), F.col("id").cast("string")).alias(
            "wikipedia_title"
        ),
        F.concat(F.lit("Q"), (F.col("id") * 3 + 7).cast("string")).alias(
            "wikidata_id"
        ),
    )
    db = os.path.join(tempfile.mkdtemp(prefix="derby_test_"), "db")
    write_mapping_jdbc(df, db)
    return db


def test_jdbc_roundtrip_values(spark, mapping_db):
    got = sorted(
        read_mapping_jdbc(spark, mapping_db, num_partitions=4, upper_bound=200)
        .select("wikipedia_id", "wikipedia_title", "wikidata_id")
        .collect()
    )
    assert len(got) == 200
    assert got[0].wikipedia_id == 0
    assert got[0].wikipedia_title == "title 0"
    assert got[0].wikidata_id == "Q7"
    assert got[199].wikidata_id == f"Q{199 * 3 + 7}"


def test_jdbc_read_is_partitioned(spark, mapping_db):
    """The scan must fan out over range-bounded parallel connections —
    a single-connection pull is the reference's single-process bottleneck."""
    df = read_mapping_jdbc(spark, mapping_db, num_partitions=4, upper_bound=200)
    assert df.rdd.getNumPartitions() == 4
    # every partition holds a disjoint range slice; union is complete
    assert df.count() == 200


def test_jdbc_filter_pushdown(spark, mapping_db):
    """Predicates on the returned frame reach the remote query (the RDBMS
    filters, not Spark) — visible as PushedFilters on the JDBC scan node."""
    df = read_mapping_jdbc(
        spark, mapping_db, num_partitions=2, upper_bound=200
    ).filter(F.col("wikipedia_id") < 50)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "wikipedia_id" in plan
    assert df.count() == 50


def test_roundtrip_queries_reuse_one_scratch_dir(spark, monkeypatch):
    """er_jdbc_mapping_scan and er_orc_mention_scan write their stores into
    one per-process scratch directory: calling each query twice makes no
    new directory, overwrites the same subdirectory and reads the same
    rows back."""
    import __spark_entry__ as entry

    scratch = entry._scratch_dir()
    made = []
    mkdtemp = tempfile.mkdtemp
    monkeypatch.setattr(
        tempfile, "mkdtemp", lambda *a, **k: made.append(a or k) or mkdtemp(*a, **k)
    )
    qs = entry.queries()
    for name, sub in (("er_jdbc_mapping_scan", "mapping_db"),
                      ("er_orc_mention_scan", "mentions_orc")):
        first = sorted(qs[name](spark, "").collect())
        second = sorted(qs[name](spark, "").collect())
        assert first and first == second, name
        assert os.path.isdir(os.path.join(scratch, sub)), (name, os.listdir(scratch))
    assert made == []
    assert entry._scratch_dir() == scratch


def test_orc_scan_frame_outlives_the_next_call(spark):
    """A frame from an earlier er_orc_mention_scan call still reads after a
    second call: each call writes its own subdirectory."""
    import __spark_entry__ as entry

    q = entry.queries()["er_orc_mention_scan"]
    a = q(spark, "")
    b = q(spark, "")
    assert a.count() == b.count() > 0
