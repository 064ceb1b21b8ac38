"""Fused vs checkpointed pipeline equivalence, fused lineage, dedup against
the inline operator chain, contraction correctness, and the fixed costs a
warm session must not pay again (codegen compiles, stage schema inference)."""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import re

import pytest

from blink_spark import pipeline
from blink_spark.pipeline import PipelineConfig, run_pipeline


@pytest.fixture(scope="module")
def fused_out(spark, fixture_paths, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fused"))
    run_pipeline(
        spark, fixture_paths["documents"], out,
        config=PipelineConfig(checkpoints=False),
    )
    return out


def test_fused_equals_checkpointed(spark, fixture_paths, tmp_path, fused_out):
    a = run_pipeline(
        spark, fixture_paths["documents"], str(tmp_path / "ck")
    )
    b = spark.read.parquet(os.path.join(fused_out, "clusters"))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_fused_run_logs_clusters_lineage(spark, fused_out):
    rows = [json.loads(line) for line in open(os.path.join(fused_out, "lineage.jsonl"))]
    assert [r["stage"] for r in rows] == ["clusters"]
    n = spark.read.parquet(os.path.join(fused_out, "clusters")).count()
    assert rows[0]["rows"] == n > 0


def _compilations(spark) -> int:
    """Whole-stage-codegen classes Janino has compiled in this JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.mark.parametrize("checkpoints", [True, False], ids=["checkpointed", "fused"])
def test_warm_run_reuses_generated_classes(spark, fixture_paths, tmp_path, checkpoints):
    """A second run in the same session finds its generated classes in the
    codegen cache. The cache must outsize the classes of one run: at Spark's
    default of 100 entries the LRU misses on every class of a checkpointed
    or fused run (154 and 124 recompiles on this fixture)."""
    cfg = PipelineConfig(checkpoints=checkpoints)
    run_pipeline(spark, fixture_paths["documents"], str(tmp_path), config=cfg, force=True)
    before = _compilations(spark)
    run_pipeline(spark, fixture_paths["documents"], str(tmp_path), config=cfg, force=True)
    assert _compilations(spark) - before < 20


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return re.sub(r"#\d+", "#", buf.getvalue())


def test_written_stage_reread_carries_inferred_schema(spark, fixture_paths, tmp_path,
                                                      monkeypatch):
    """A stage written in this run is read back with the schema of the frame
    it wrote. That schema equals the one Spark infers from the parquet files
    (nullable and containsNull included), and so do the re-read plans."""
    returned = {}
    stage = pipeline._Checkpoint.stage

    def recording(self, name, build, **kw):
        returned[name] = stage(self, name, build, **kw)
        return returned[name]

    monkeypatch.setattr(pipeline._Checkpoint, "stage", recording)
    out = str(tmp_path / "ck")
    run_pipeline(spark, fixture_paths["documents"], out)

    assert set(returned) == {"mentions", "reps", "blocks", "cand_pairs",
                             "scored_pairs", "clusters"}
    for name, df in returned.items():
        inferred = spark.read.parquet(os.path.join(out, name))
        assert df.schema == inferred.schema, name
        if name in ("scored_pairs", "clusters"):
            assert _formatted_plan(df) == _formatted_plan(inferred), name


def _near_dup_docs(spark):
    """Seeded word documents with planted near-duplicates (one word swapped)
    and exact duplicates up to case and spacing."""
    import pandas as pd

    rng = random.Random(7)
    vocab = [f"w{i:03d}" for i in range(300)]
    rows = []
    for i in range(40):
        words = rng.choices(vocab, k=40)
        rows.append((f"d{i:03d}", " ".join(words)))
        if i % 4 == 0:
            words[rng.randrange(40)] = rng.choice(vocab)
            rows.append((f"d{i:03d}n", " ".join(words)))
        if i % 5 == 0:
            rows.append((f"d{i:03d}x", "  ".join(words).upper()))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_dedup_equals_inline_chain(spark):
    """dedup_documents_pipeline against the chain it ran before it shared the
    linking chain: MinHash blocks, cheap base features, no embedding."""
    from pyspark.sql import functions as F

    from blink_spark.operators.blocking import minhash_blocks
    from blink_spark.operators.cluster import assign_clusters
    from blink_spark.operators.pairs import candidate_pairs, pairs_with_attrs
    from blink_spark.operators.scoring import _base_features, match_edges, prepare_records
    from blink_spark.pipeline import (
        dedup_documents_pipeline,
        exact_contract,
        expand_contracted_clusters,
    )

    docs = _near_dup_docs(spark)
    got = dedup_documents_pipeline(spark, docs, "doc_id", "text")

    cfg = PipelineConfig(minhash_shingle_n=7, minhash_rows=4)
    recs = docs.select(F.col("doc_id").cast("string").alias("record_id"), "text")
    reps = exact_contract(recs, "record_id", "text")
    blocks = minhash_blocks(
        reps, "record_id", "norm", bands=cfg.minhash_bands,
        rows=cfg.minhash_rows, shingle_n=cfg.minhash_shingle_n,
    ).select("block_key", "record_id")
    pairs, _ = candidate_pairs(blocks, max_block_size=cfg.max_block_size,
                               hard_cap=cfg.hard_cap, n_salt=cfg.n_salt)
    prep = prepare_records(reps, "record_id", "norm", pre_normalized=True)
    attrs = pairs_with_attrs(pairs, prep, "record_id", ["norm", "toks"])
    rep_clusters = assign_clusters(reps, "record_id", match_edges(_base_features(attrs)),
                                   assume_unique=True, edges_canonical=True)
    want = expand_contracted_clusters(recs, "record_id", "text", rep_clusters).localCheckpoint()
    blocks.unpersist()

    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    sizes = [r["n"] for r in got.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()]
    assert max(sizes) >= 3 and len(sizes) < docs.count()


def test_contraction_identity(spark):
    """Identical normalized surfaces always share a cluster; the cluster id
    is the min mention id of the component (contraction-invariant)."""
    import pandas as pd

    from blink_spark.pipeline import exact_contract, expand_contracted_clusters
    from pyspark.sql import functions as F

    recs = spark.createDataFrame(
        pd.DataFrame(
            {
                "mention_id": ["m1", "m2", "m3", "m4"],
                "mention": ["Alpha  Bravo", "alpha bravo", "ALPHA BRAVO", "zulu"],
            }
        )
    )
    reps = exact_contract(recs, "mention_id", "mention")
    rows = {r.norm: r.record_id for r in reps.collect()}
    assert rows == {"alpha bravo": "m1", "zulu": "m4"}

    rep_clusters = reps.select(
        "record_id", F.col("record_id").alias("cluster_id")
    )
    expanded = {
        r.record_id: r.cluster_id
        for r in expand_contracted_clusters(
            recs, "mention_id", "mention", rep_clusters
        ).collect()
    }
    assert expanded == {"m1": "m1", "m2": "m1", "m3": "m1", "m4": "m4"}
