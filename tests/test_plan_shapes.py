"""Physical-plan assertions (build-brief efficiency bar): filters reach the
parquet scan, projections prune the read schema, small dimensions broadcast,
approximate similarity never degenerates to a cartesian product."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from blink_spark.plans.inspect import (
    explain_str,
    has_broadcast_join,
    partition_filters,
    pushed_filters,
    scan_read_schema,
)

TESTDATA = "/root/testdata/sf0.001"


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    df = entry.queries()["pricing_summary"](spark, TESTDATA)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, f"shipdate filter not pushed: {pushed}"
    schemas = scan_read_schema(df)
    assert schemas, "no parquet scan found"
    # 16-column lineitem scan must read only the 4 referenced columns
    for s in schemas:
        assert "l_comment" not in s and "l_orderkey" not in s
        assert "l_shipdate" in s and "l_quantity" in s


def test_revenue_by_region_broadcasts_dimensions(spark):
    df = entry.queries()["revenue_by_region"](spark, TESTDATA)
    assert has_broadcast_join(df)


def test_lsh_topk_is_not_a_cross_join(spark):
    """The approximate path must be a bucket equi-join; only the documented
    exact baseline (brute_force_topk) with a custom scorer is allowed a
    cartesian product. Its default score is a batch kernel over the items."""
    from pyspark.sql import functions as F

    from blink_spark.functions.hashing import cosine_exact, quantize_emb, sign_lsh_bucket_exact
    from blink_spark.operators.ann import LSH_PLANES, brute_force_topk, lsh_topk

    e = spark.read.parquet(f"{TESTDATA}/embeddings.parquet").select(
        "vec_id", quantize_emb("embedding").alias("q")
    )
    q = e.limit(8).select(F.col("vec_id").alias("qid"), F.col("q").alias("qv"))
    scorer = lambda a, b: F.round(cosine_exact(a, b), 6)  # noqa: E731
    approx = lsh_topk(
        q, e, query_id="qid", query_emb="qv", item_id="vec_id", item_emb="q",
        scorer=scorer,
        bucket_fn=lambda c: sign_lsh_bucket_exact(c, n_planes=LSH_PLANES, dim=64),
    )
    plan_a = explain_str(approx)
    assert "CartesianProduct" not in plan_a and "BroadcastNestedLoopJoin" not in plan_a
    exact = brute_force_topk(
        q, e, k=5, query_id="qid", query_emb="qv", item_id="vec_id",
        item_emb="q", scorer=scorer,
    )
    plan_e = explain_str(exact)
    assert "CartesianProduct" in plan_e or "BroadcastNestedLoopJoin" in plan_e
    kernel = brute_force_topk(
        q, e, k=5, query_id="qid", query_emb="qv", item_id="vec_id", item_emb="q"
    )
    plan_k = explain_str(kernel)
    assert "CartesianProduct" not in plan_k and "BroadcastNestedLoopJoin" not in plan_k
    assert "MapInArrow" in plan_k


def test_mention_projection_prunes_documents_scan(spark, fixture_paths):
    from blink_spark.operators.extract import media_spans

    docs = spark.read.parquet(fixture_paths["documents"])
    out = media_spans(docs).select("doc_id", "media_ref")
    schemas = scan_read_schema(out)
    assert schemas and all("spans" in s for s in schemas)


def test_world_partition_pruning(spark, fixture_paths, tmp_path):
    """Writing mentions partitioned by the zeshel world key and filtering on
    one world must prune partitions at the scan (SURVEY §4: per-world
    candidate pools → Iceberg/hive partition column)."""
    from pyspark.sql import functions as F

    from blink_spark.plans.inspect import partition_filters

    p = str(tmp_path / "mentions_by_world")
    spark.read.parquet(fixture_paths["mentions"]).write.partitionBy(
        "world"
    ).mode("overwrite").parquet(p)
    one_world = spark.read.parquet(p).filter(F.col("world") == "world_03")
    pf = " ".join(partition_filters(one_world))
    assert "world" in pf, f"no partition pruning: {pf!r}"
    assert one_world.count() > 0


def test_bucketed_prep_table_avoids_its_shuffle(spark, tmp_path):
    """Bucketing the per-record prep table by record_id co-locates the
    pair-attribute join: the bucketed side is scanned pre-partitioned
    (SelectedBucketsCount in the scan, no Exchange on that side) — the
    bucketing story for repeated joins against the same key at scale."""
    from pyspark.sql import functions as F

    from blink_spark.plans.inspect import explain_str

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        recs = spark.range(0, 10000).select(
            F.concat(F.lit("r"), F.col("id")).alias("record_id"),
            (F.col("id") * 7).alias("attr"),
        )
        pairs = spark.range(0, 5000).select(
            F.concat(F.lit("r"), F.col("id")).alias("record_id_a")
        )
        spark.sql("DROP TABLE IF EXISTS prep_bucketed_t")
        recs.write.mode("overwrite").bucketBy(8, "record_id").sortBy(
            "record_id"
        ).saveAsTable("prep_bucketed_t")
        t = spark.table("prep_bucketed_t")
        plan_b = explain_str(pairs.join(t, pairs.record_id_a == t.record_id))
        plan_p = explain_str(pairs.join(recs, pairs.record_id_a == recs.record_id))
        assert "SelectedBucketsCount" in plan_b
        assert plan_b.count("Exchange") < plan_p.count("Exchange")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS prep_bucketed_t")


def test_contraction_shuffles_are_keyed_by_hash_not_text(spark):
    """exact_contract / expand_contracted_clusters must never hash-partition
    on the full normalized text (KBs per row for whole-document dedup): every
    exchange in both plans is keyed by the 32-byte md5 (round-2 verdict #4)."""
    import re

    from pyspark.sql import functions as F

    from blink_spark.pipeline import exact_contract, expand_contracted_clusters

    docs = spark.range(0, 100).select(
        F.concat(F.lit("d"), F.col("id")).alias("id"),
        F.concat(F.lit("some very long document text "), (F.col("id") % 10)).alias(
            "text"
        ),
    )
    reps = exact_contract(docs, "id", "text")
    rep_clusters = reps.select("record_id", F.col("record_id").alias("cluster_id"))
    expanded = expand_contracted_clusters(docs, "id", "text", rep_clusters)
    for df in (reps, expanded):
        plan = explain_str(df)
        for m in re.finditer(r"hashpartitioning\(([^#]+)#", plan):
            key = m.group(1)
            assert key in ("norm_h", "rep_id", "record_id", "cluster_id"), (
                f"exchange keyed by {key}: {plan}"
            )
    assert reps.count() == 10 and expanded.count() == 100


def test_pem_lookup_broadcasts_priors_and_never_shuffles_mentions(spark):
    """All four p_e_m lookups must be broadcast-hash joins on the priors
    side: the (large) mention table is never exchanged. At 100 TB the
    priors dictionary is the classic small dimension."""
    df = entry.queries()["er_pem_lookup"](spark, TESTDATA)
    plan = explain_str(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_kb_ingest_filter_pushes_predicates_to_scan(spark):
    """The KB-ingestion gate must reach the parquet scan as pushed filters
    (min-token comparison AND the disambiguation StringContains) — a
    catalogue scan that reads every row to drop half of them is wrong at
    KB scale."""
    df = entry.queries()["er_kb_ingest_filter"](spark, TESTDATA)
    pushed = " ".join(pushed_filters(df))
    assert "num_tokens" in pushed and "GreaterThanOrEqual" in pushed, pushed
    assert "StringContains" in pushed and "disambiguation" in pushed, pushed


def test_ivf_cell_assignment_is_shuffle_free(spark):
    """IVF item→cell assignment must be a single projection over the item
    scan: no Exchange, no join, no window anywhere in the assignment plan
    (the round-3 form crossJoined items × centroids and shuffled the
    inflated table through row_number — at 5.9M × 100 cells that is 590M
    shuffled rows for a map-side-computable argmax)."""
    from blink_spark.functions.similarity import cosine
    from blink_spark.operators.ann import assign_cells

    items = spark.range(200).selectExpr(
        "cast(id as string) as item_id",
        "array(cast(id % 7 as double), cast(id % 5 as double), 1.0d) as iv",
    )
    cents = items.limit(4).selectExpr("item_id as cid", "iv as cv")
    scorer = lambda a, b: cosine(a, b)  # noqa: E731
    assigned = assign_cells(items, cents, scorer)
    plan = explain_str(assigned)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    # correctness: each item's cell is its argmax centroid (ties → min cid)
    rows = {r.item_id: r.cid for r in assigned.collect()}
    assert len(rows) == 200 and all(v is not None for v in rows.values())


def test_ivf_probe_selection_is_shuffle_free(spark):
    """The query→nprobe-cells side must likewise be a single projection
    (comparator-sorted literal codebook + slice + explode): no Exchange,
    join, or window before the cell equi-join."""
    from blink_spark.functions.similarity import cosine
    from blink_spark.operators.ann import _centroid_literal_array, _probe_cells_lit

    items = spark.range(64).selectExpr(
        "cast(id as string) as cid",
        "array(cast(id % 7 as double), cast(id % 5 as double), 1.0d) as cv",
    )
    carr, cid_t = _centroid_literal_array(items)
    q = spark.range(40).selectExpr(
        "cast(id as string) as query_id",
        "array(cast(id % 3 as double), 2.0d, 1.0d) as qv",
    )
    probes = _probe_cells_lit(q, carr, cid_t, lambda a, b: cosine(a, b), nprobe=4)
    plan = explain_str(probes)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    counts = probes.groupBy("query_id").count().collect()
    assert len(counts) == 40 and all(r["count"] == 4 for r in counts)


def test_candidate_pairs_sizes_blocks_with_one_assignment_shuffle(spark):
    """Block sizing rides a count window over block_key, not groupBy +
    join-back: the assignment table is exchanged ONCE on block_key and that
    partitioning feeds the within-block self-join. The plan must contain a
    Window and no Aggregate ahead of the pair join (the old form's sizing
    groupBy); at 100 TB the removed exchange is a full second pass over
    every block assignment."""
    import re

    from pyspark.sql import functions as F

    from blink_spark.operators.pairs import candidate_pairs

    assignments = spark.range(0, 300).select(
        F.concat(F.lit("b"), (F.col("id") % 40)).alias("block_key"),
        F.concat(F.lit("r"), F.col("id")).alias("record_id"),
    )
    pairs, _ = candidate_pairs(assignments)
    plan = explain_str(pairs)
    assert "Window" in plan, plan
    # every exchange keys on block_key (+ salt cols) or the final distinct's
    # pair key — never a sizing-aggregate round trip
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        keys = re.findall(r"(\w+)#", m.group(1))
        assert set(keys) <= {"block_key", "p", "q", "record_id_a", "record_id_b"}, (
            f"unexpected exchange keys {keys}: {plan}"
        )
    n = pairs.count()
    # 40 blocks of 7-8 records: sum of C(size,2)
    assert n == sum(1 for i in range(300) for j in range(i + 1, 300) if i % 40 == j % 40)
    assignments.unpersist()


def test_orc_scan_prunes_partitions_and_pushes_filters(spark):
    """The ORC roundtrip source must behave like the parquet stores: the
    world filter prunes hive partitions at the directory level and the
    label predicate reaches the ORC scan as a pushed filter — a second
    columnar format with the same scan discipline, not a full-table read."""
    df = entry.queries()["er_orc_mention_scan"](spark, TESTDATA)
    pf = " ".join(partition_filters(df))
    assert "world" in pf, f"no partition pruning on ORC scan: {pf!r}"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "OrcScan" in plan or "orc" in plan.lower(), plan[:500]


def test_minhash_signature_has_no_interpreted_lambda(spark):
    """The library's one MinHash stays in whole-stage codegen: neither the
    signature step nor the band keys may carry a higher-order-function
    lambda (``aggregate``/``zip_with``/``transform``), which Spark
    interprets one element at a time."""
    from blink_spark.operators.blocking import minhash_blocks, minhash_sig

    docs = spark.read.parquet(f"{TESTDATA}/documents.parquet")
    for df in (minhash_sig(docs, "doc_id", "text", 32, 7),
               minhash_blocks(docs, "doc_id", "text")):
        plan = explain_str(df)
        assert "lambdafunction" not in plan, plan
        for hof in ("aggregate(", "zip_with(", "transform("):
            assert hof not in plan, plan
