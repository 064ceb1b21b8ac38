"""End-to-end pipeline tests: pairwise F1 >= 0.99 at shared blocking key,
span-sequence invariant, blocking recall, and checkpoint resumability."""

from __future__ import annotations

import os
import shutil

import pytest

from blink_spark.operators.blocking import token_pair_blocks
from blink_spark.operators.eval import blocking_recall, pairwise_f1
from blink_spark.operators.extract import extract_mentions
from blink_spark.operators.pairs import candidate_pairs
from blink_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def pipe_out(spark, fixture_paths, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    run_pipeline(spark, fixture_paths["documents"], out)
    return out


def test_pairwise_f1_headline(spark, fixture_paths, pipe_out):
    clusters = spark.read.parquet(os.path.join(pipe_out, "clusters"))
    gold = spark.read.parquet(fixture_paths["gold_pairs"])
    row = pairwise_f1(gold, clusters).collect()[0]
    assert row.f1 >= 0.99, f"pairwise F1 {row.f1} below target (tp={row.tp} fp={row.fp} fn={row.fn})"


def test_extracted_mentions_match_fixture(spark, fixture_paths):
    docs = spark.read.parquet(fixture_paths["documents"])
    got = extract_mentions(docs).select(
        "mention_id", "doc_id", "span_idx", "context_left", "mention", "context_right"
    )
    want = spark.read.parquet(fixture_paths["mentions"]).select(
        "mention_id", "doc_id", "span_idx", "context_left", "mention", "context_right"
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_span_sequence_invariant(spark, fixture_paths, pipe_out):
    """Surviving rows joined back to the input reproduce spans exactly —
    the pipeline never rewrites the spans array (SURVEY.md §1.4)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(fixture_paths["documents"])
    clusters = spark.read.parquet(os.path.join(pipe_out, "clusters"))
    surviving_docs = clusters.select(
        F.split("record_id", ":")[0].alias("doc_id")
    ).distinct()
    out = surviving_docs.join(docs, "doc_id").select("doc_id", "spans")
    orig = docs.select("doc_id", "spans")
    # every surviving doc's spans identical to input (join-back by key)
    diff = out.join(orig, ["doc_id", "spans"], "left_anti")
    assert diff.count() == 0


def test_blocking_recall_is_total(spark, fixture_paths):
    mentions = spark.read.parquet(fixture_paths["mentions"])
    blocks = token_pair_blocks(mentions, "mention_id", "mention").select(
        "block_key", "record_id"
    )
    pairs, _ = candidate_pairs(blocks)
    gold = spark.read.parquet(fixture_paths["gold_pairs"])
    row = blocking_recall(gold, pairs).collect()[0]
    assert row.recall >= 0.999, f"blocking recall {row.recall}"


_CHECKPOINTS = ("mentions", "reps", "blocks", "cand_pairs", "scored_pairs")


@pytest.mark.parametrize("deleted", _CHECKPOINTS)
def test_resume_skips_completed_stages(spark, fixture_paths, pipe_out, tmp_path, deleted):
    """Kill-and-restart semantics: delete one stage table (and the clusters),
    re-run; the result equals the fresh run and every stage upstream of the
    deleted one is reused (its _SUCCESS mtime unchanged)."""
    out = str(tmp_path / "resume")
    shutil.copytree(pipe_out, out)  # copy2 keeps the mtimes
    upstream = _CHECKPOINTS[: _CHECKPOINTS.index(deleted)]

    def mtimes():
        return {s: os.path.getmtime(os.path.join(out, s, "_SUCCESS")) for s in upstream}

    before = mtimes()
    shutil.rmtree(os.path.join(out, deleted))
    shutil.rmtree(os.path.join(out, "clusters"))
    clusters = run_pipeline(spark, fixture_paths["documents"], out)
    fresh = spark.read.parquet(os.path.join(pipe_out, "clusters"))
    assert clusters.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(clusters).count() == 0
    assert os.path.exists(os.path.join(out, deleted, "_SUCCESS"))
    assert mtimes() == before


def test_skew_metrics_logged(spark, fixture_paths, pipe_out):
    import json

    lineage = os.path.join(pipe_out, "lineage.jsonl")
    rows = [json.loads(line) for line in open(lineage)]
    stages = {r["stage"] for r in rows}
    assert {"mentions", "blocks", "cand_pairs", "scored_pairs", "clusters"} <= stages
    pair_rows = [r for r in rows if r["stage"] == "cand_pairs"]
    assert pair_rows and "skew" in pair_rows[-1]


def test_per_partition_lineage_logged(spark, fixture_paths, pipe_out):
    """North-rule per-partition lineage: every stage entry carries one
    record per written part file (footer row count + bytes), and the
    per-partition rows sum to the stage's observed row count."""
    import json

    rows = [json.loads(line) for line in open(os.path.join(pipe_out, "lineage.jsonl"))]
    by_stage = {r["stage"]: r for r in rows}
    for stage in ("mentions", "blocks", "cand_pairs", "scored_pairs", "clusters"):
        entry = by_stage[stage]
        parts = entry.get("partitions")
        assert parts, f"stage {stage} missing per-partition lineage"
        assert all(p["rows"] >= 0 and p["bytes"] > 0 and p["file"] for p in parts)
        assert sum(p["rows"] for p in parts) == entry["rows"], stage
