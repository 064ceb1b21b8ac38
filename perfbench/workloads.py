"""The benchmark's workloads: inputs, one pass through the public API, the
output checks, and the same pass again layer by layer for the traced run.

Every traced pass calls the layer functions in ``blink_spark.pipeline``'s
own order with its own arguments (``assume_unique``, ``edges_canonical``,
``pre_normalized``, ``cache_freq``, the ``emb_n`` attribute). Each layer's
output is persisted and fully computed through a noop sink before the next
layer starts, so the layer's Spark jobs carry only its own work; a bare
``count()`` would let Catalyst prune columns and time a cheaper plan.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd

import inputs
from eventlog import lineage_summary, read_lineage
from procstat import children_cpu_seconds


class CheckFailed(Exception):
    """A pass produced output that fails a correctness check."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Clock:
    """Wall seconds and child-process CPU seconds of the region it times."""

    wall = cpu = 0.0

    def __enter__(self) -> "Clock":
        self._cpu0 = children_cpu_seconds()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        self.cpu = children_cpu_seconds() - self._cpu0


@dataclass
class Pass:
    clock: Clock
    output: object  # the DataFrame the public API returned
    extra: dict = field(default_factory=dict)


class Tracer:
    """One traced pass: each layer runs under its own Spark job group
    ``<tag>.<layer>`` and its wall time is summed over its spans. Work the
    benchmark adds (row counts) runs under ``<tag>.bookkeeping``."""

    def __init__(self, spark, tag: str):
        self.spark, self.tag = spark, tag
        self.wall: dict[str, float] = defaultdict(float)
        self.rows: dict[str, int] = defaultdict(int)
        self.extra: dict[str, float] = {}
        self.lineage: dict[str, float] = {}  # stage -> seconds since the previous stage
        self._kept: list = []
        self._set_group("bookkeeping")

    def _set_group(self, layer: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{self.tag}.{layer}", layer)

    @contextmanager
    def layer(self, name: str):
        self._set_group(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] += time.perf_counter() - t0
            self._set_group("bookkeeping")

    def keep(self, df):
        """Persist ``df`` and compute all of its columns."""
        df = df.persist()
        df.write.format("noop").mode("overwrite").save()
        self._kept.append(df)
        return df

    def count(self, layer: str, df) -> int:
        n = df.count()
        self.rows[layer] += n
        return n

    def release(self) -> None:
        for df in self._kept:
            df.unpersist()
        self._kept.clear()


def _pair_count(sizes: pd.Series) -> int:
    return int((sizes * (sizes - 1) // 2).sum())


def pairwise_f1(pred: pd.Series, gold: pd.Series) -> float:
    """Pairwise F1 of a clustering from (cluster, label) pair counts: a
    pair is predicted when both items share a cluster, true when they share
    a label. No O(n²) pair table is built."""
    both = pd.DataFrame({"c": pred.to_numpy(), "g": gold.to_numpy()})
    tp = _pair_count(both.groupby(["c", "g"]).size())
    predicted = _pair_count(both.groupby("c").size())
    actual = _pair_count(both.groupby("g").size())
    precision = tp / predicted if predicted else 1.0
    recall = tp / actual if actual else 1.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


def same_rows(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


F1_MIN = 0.99
RECALL_MIN = 0.9

# lineage stages whose writes are checkpoints; the clusters write is the
# pipeline's output and is timed under ``expand``
_CHECKPOINT_STAGES = ("mentions", "reps", "blocks", "cand_pairs", "scored_pairs")


class LinkCheckpointed:
    """Mentions extracted from seeded synthetic documents and linked into
    entity clusters by the default checkpointed ``run_pipeline``. Once per
    run the pipeline also resumes after its ``scored_pairs`` and
    ``clusters`` stage tables are removed."""

    name = "link_checkpointed"
    entities = 400
    mentions_per_doc = 3  # synth.make_documents_and_mentions default

    def __init__(self, docs: int):
        self.docs = docs
        self.records = docs * self.mentions_per_doc

    def inputs(self, cache_dir: str, seed: int) -> str:
        return inputs.link_inputs(cache_dir, self.docs, self.entities, seed)

    def run(self, spark, inp: str, out: str) -> Pass:
        from blink_spark.pipeline import run_pipeline

        shutil.rmtree(out, ignore_errors=True)
        docs = os.path.join(inp, "documents.parquet")
        with Clock() as clock:
            clusters = run_pipeline(spark, docs, out)
        return Pass(clock, clusters)

    def resume(self, spark, inp: str, out: str) -> Pass:
        """Finish the run left in ``out`` after its ``scored_pairs`` and
        ``clusters`` tables are removed; the fresh clusters are kept aside
        for the check."""
        from blink_spark.pipeline import run_pipeline

        os.rename(os.path.join(out, "clusters"), os.path.join(out, "clusters_fresh"))
        shutil.rmtree(os.path.join(out, "scored_pairs"))
        docs = os.path.join(inp, "documents.parquet")
        with Clock() as clock:
            resumed = run_pipeline(spark, docs, out)
        fresh = spark.read.parquet(os.path.join(out, "clusters_fresh"))
        return Pass(clock, resumed, {"fresh": fresh})

    def check(self, spark, inp: str, p: Pass) -> dict:
        if "fresh" in p.extra:
            _require(same_rows(p.extra["fresh"], p.output),
                     "resumed clusters differ from the fresh run's")
        got = p.output.toPandas()
        gold = pd.read_parquet(os.path.join(inp, "gold.parquet"))
        _require(
            len(got) == len(gold) and set(got["record_id"]) == set(gold["mention_id"]),
            "clusters do not cover every mention exactly once",
        )
        merged = gold.merge(got, left_on="mention_id", right_on="record_id")
        f1 = pairwise_f1(merged["cluster_id"], merged["label_id"])
        _require(f1 >= F1_MIN, f"pairwise F1 {f1:.4f} < {F1_MIN}")
        return {"pairwise_f1": f1}

    def trace(self, tr: Tracer, spark, inp: str, out: str):
        """The checkpointed ``run_pipeline``, layer by layer. Each stage is
        computed under its layer, then written and re-read under
        ``stage_io`` exactly as the pipeline writes it (same observed
        metrics, same lineage line)."""
        from pyspark.sql import functions as F

        from blink_spark.operators.blocking import df_aware_blocks, minhash_blocks, union_blocks
        from blink_spark.operators.cluster import assign_clusters
        from blink_spark.operators.extract import extract_mentions
        from blink_spark.operators.pairs import candidate_pairs, pairs_with_attrs
        from blink_spark.operators.scoring import match_edges, prepare_records, score_pairs_cascade
        from blink_spark.pipeline import (
            PipelineConfig,
            _log_lineage,
            _read_documents,
            _write_stage,
            exact_contract,
            expand_contracted_clusters,
        )

        cfg = PipelineConfig()  # run_pipeline's default
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        rows_obs = {"rows": F.count(F.lit(1))}

        def checkpoint(df, stage: str, observe=rows_obs, extra=None):
            path = os.path.join(out, stage)
            with tr.layer("stage_io"):
                metrics = _write_stage(df, path, observe=observe)
                metrics.update(extra() if extra else {})
                _log_lineage(out, stage, metrics, path)
                return tr.keep(spark.read.parquet(path))

        with tr.layer("extract"):
            mentions = tr.keep(extract_mentions(_read_documents(
                spark, os.path.join(inp, "documents.parquet"))))
        n_mentions = tr.count("extract", mentions)
        mentions = checkpoint(mentions, "mentions")
        with tr.layer("contract"):
            reps = tr.keep(exact_contract(mentions, "mention_id", "mention"))
        n_reps = tr.count("contract", reps)
        reps = checkpoint(reps, "reps")
        with tr.layer("blocking"):
            tb, token_stats = df_aware_blocks(
                reps, "record_id", "norm",
                rare_df=cfg.max_block_size, max_df=cfg.hard_cap,
                cache_freq=cfg.rich_metrics,
            )
            mh = minhash_blocks(
                reps, "record_id", "norm",
                bands=cfg.minhash_bands, rows=cfg.minhash_rows,
                shingle_n=cfg.minhash_shingle_n,
            ).select("block_key", "record_id")
            blocks = tr.keep(union_blocks(tb, mh).select("block_key", "record_id"))
            token_classes = [r.asDict() for r in token_stats.collect()]
        tr.count("blocking", blocks)
        blocks = checkpoint(blocks, "blocks", extra=lambda: {"token_classes": token_classes})
        with tr.layer("pairs"):
            pairs, skew = candidate_pairs(
                blocks, max_block_size=cfg.max_block_size,
                hard_cap=cfg.hard_cap, n_salt=cfg.n_salt,
            )
            pairs = tr.keep(pairs)
            skew_rows = [r.asDict() for r in skew.collect()]
        n_pairs = tr.count("pairs", pairs)
        pairs = checkpoint(pairs, "cand_pairs", extra=lambda: {"skew": skew_rows})
        dropped = sum(r["n_blocks"] for r in skew_rows if r["size_class"] == "dropped_oversize")
        with tr.layer("scoring.prepare"):
            prep = tr.keep(prepare_records(reps, "record_id", "norm", with_emb=True,
                                           pre_normalized=True))
        tr.count("scoring.prepare", prep)
        with tr.layer("scoring.score"):
            attrs = pairs_with_attrs(pairs, prep, "record_id", ["norm", "toks", "emb", "emb_n"])
            scored = tr.keep(score_pairs_cascade(attrs, with_emb=True, with_jw=cfg.with_jw).select(
                "record_id_a", "record_id_b", "jaccard", "lev_ratio", "emb_cos", "score", "is_match",
            ))
        scored = checkpoint(scored, "scored_pairs", observe={
            "rows": F.count(F.lit(1)),
            "matches": F.sum(F.col("is_match").cast("long")),
        })
        with tr.layer("scoring.score"):
            edges = tr.keep(match_edges(scored))
        n_edges = tr.count("scoring.score", edges)
        with tr.layer("cluster"):
            rep_clusters = tr.keep(assign_clusters(reps, "record_id", edges,
                                                   assume_unique=True, edges_canonical=True))
        tr.count("cluster", rep_clusters)
        p_clusters = os.path.join(out, "clusters")
        with tr.layer("expand"):
            clusters = expand_contracted_clusters(mentions, "mention_id", "mention", rep_clusters)
            metrics = _write_stage(clusters, p_clusters, observe={
                "rows": F.count(F.lit(1)),
                "n_clusters_approx": F.approx_count_distinct("cluster_id"),
            })
            _log_lineage(out, "clusters", metrics, p_clusters)
        clusters = spark.read.parquet(p_clusters)
        tr.count("expand", clusters)
        tr.extra.update({
            "contract.ratio": n_reps / n_mentions,
            "pairs.per_record": n_pairs / n_reps,
            "pairs.dropped_blocks": dropped,
            "scoring.match_yield": n_edges / n_pairs if n_pairs else 0.0,
        })
        lineage = lineage_summary(read_lineage(out), _CHECKPOINT_STAGES)
        tr.rows["stage_io"] = lineage["rows"]
        tr.extra["stage_io.write_mb"] = lineage["write_mb"]
        tr.lineage = lineage["gaps_s"]
        return clusters


class RetrieveTopk:
    """BLINK stage 1: mention queries against an entity catalogue, both
    embedded by ``prepare_records(with_emb=True)``, then exact
    ``brute_force_topk(k=10)``."""

    name = "retrieve_topk"
    entities = 2000
    k = 10

    def __init__(self, queries: int):
        self.records = queries

    def inputs(self, cache_dir: str, seed: int) -> str:
        return inputs.topk_inputs(cache_dir, self.entities, self.records, seed)

    def _prepared(self, spark, inp: str):
        from blink_spark.operators.scoring import prepare_records

        ents = spark.read.parquet(os.path.join(inp, "entities.parquet"))
        queries = spark.read.parquet(os.path.join(inp, "queries.parquet"))
        return (
            prepare_records(queries, "query_id", "mention", with_emb=True),
            prepare_records(ents, "entity_id", "title", with_emb=True),
        )

    def _topk(self, q, items):
        from blink_spark.operators.ann import brute_force_topk

        return brute_force_topk(
            q, items, k=self.k,
            query_id="record_id", query_emb="emb", item_id="record_id", item_emb="emb",
            exclude_self=False,
        )

    def run(self, spark, inp: str, out: str) -> Pass:
        shutil.rmtree(out, ignore_errors=True)
        path = os.path.join(out, "topk")
        with Clock() as clock:
            q, items = self._prepared(spark, inp)
            self._topk(q, items).write.parquet(path)
        return Pass(clock, spark.read.parquet(path))

    def check(self, spark, inp: str, p: Pass) -> dict:
        got = p.output.toPandas()
        gold = pd.read_parquet(os.path.join(inp, "gold.parquet"))
        ranks = got.groupby("query_id")["rank"].apply(sorted)
        _require(
            len(ranks) == len(gold)
            and all(r == list(range(1, self.k + 1)) for r in ranks),
            f"not exactly ranks 1..{self.k} for every query",
        )
        hits = got.merge(gold, left_on=["query_id", "item_id"], right_on=["query_id", "label_id"])
        recall = hits["query_id"].nunique() / len(gold)
        _require(recall >= RECALL_MIN, f"recall@{self.k} {recall:.4f} < {RECALL_MIN}")
        return {"recall_at_10": recall}

    def trace(self, tr: Tracer, spark, inp: str, out: str):
        shutil.rmtree(out, ignore_errors=True)
        path = os.path.join(out, "topk")
        with tr.layer("scoring.prepare"):
            q, items = (tr.keep(df) for df in self._prepared(spark, inp))
        n_q = tr.count("scoring.prepare", q)
        n_items = tr.count("scoring.prepare", items)
        with tr.layer("ann"):
            self._topk(q, items).write.parquet(path)
        topk = spark.read.parquet(path)
        tr.count("ann", topk)
        tr.extra["ann.pairs_scored"] = n_q * n_items  # a full cross join
        return topk


WORKLOADS = {
    w.name: w
    for w in (
        LinkCheckpointed(docs=1000),
        RetrieveTopk(queries=100),
    )
}
