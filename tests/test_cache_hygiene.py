"""No pipeline call may leak an explicit persist() it created.

Round-2 verdict item #8: candidate_pairs persists its input and only the
checkpointed pipeline released it. Every entry point that materializes its
result must release every cache it (or its operators) registered.

localCheckpoint artifacts are exempt: they are lineage-truncation storage
owned by the ContextCleaner (released when the DataFrame is GC'd), not a
persist() anyone is expected to pair with an unpersist().
"""

from __future__ import annotations

import pandas as pd
import pytest


def _persistent_noncheckpoint_ids(spark) -> set[int]:
    """Ids of persisted RDDs that are NOT locally-checkpointed artifacts."""
    out = set()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.entrySet().iterator()
    while it.hasNext():
        e = it.next()
        rdd = e.getValue().rdd()
        if not rdd.isLocallyCheckpointed():
            out.add(int(e.getKey()))
    return out


def _docs_df(spark, n=60):
    rows = [
        {"id": f"d{i:04d}", "text": f"alpha beta gamma delta tok{i % 7} tok{i % 11}"}
        for i in range(n)
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_dedup_documents_pipeline_releases_caches(spark):
    from blink_spark.pipeline import dedup_documents_pipeline

    before = _persistent_noncheckpoint_ids(spark)
    out = dedup_documents_pipeline(spark, _docs_df(spark), "id", "text")
    assert out.count() == 60
    leaked = _persistent_noncheckpoint_ids(spark) - before
    assert not leaked, f"leaked persisted RDD ids: {leaked}"


@pytest.mark.parametrize("checkpoints", [False, True])
def test_run_pipeline_releases_caches(spark, tmp_path, fixture_paths, checkpoints):
    from blink_spark.pipeline import PipelineConfig, run_pipeline

    before = _persistent_noncheckpoint_ids(spark)
    clusters = run_pipeline(
        spark,
        fixture_paths["documents"],
        str(tmp_path / f"out_{checkpoints}"),
        PipelineConfig(checkpoints=checkpoints),
    )
    assert clusters.count() > 0
    leaked = _persistent_noncheckpoint_ids(spark) - before
    assert not leaked, f"leaked persisted RDD ids: {leaked}"


def test_dedup_operators_release_caches(spark):
    from blink_spark.operators.dedup import minhash_dedup

    docs = _docs_df(spark, 40)
    before = _persistent_noncheckpoint_ids(spark)
    out = minhash_dedup(docs, "id", "text")
    assert out.count() == 40
    leaked = _persistent_noncheckpoint_ids(spark) - before
    assert not leaked, f"leaked persisted RDD ids: {leaked}"
