"""End-to-end ER pipeline: one stage chain, two materializers.

Stage graph (SURVEY.md §7):

    documents  ─ S1  extract  ─→ mentions
    mentions   ─ S2a contract ─→ reps          (one row per distinct surface)
    reps       ─ S2b block    ─→ blocks        (token-pair ∪ MinHash-LSH keys)
    blocks     ─ S3  pairs    ─→ cand_pairs    (skew-aware salted self-join)
    cand_pairs ─ S4  score    ─→ scored_pairs  (cascade features + decision)
    scored     ─ S5  cluster  ─→ clusters      (CC over reps, expanded back)

``_run_chain`` is the only place the chain is written. It runs under one of
two materializers:

- ``_Checkpoint`` (``PipelineConfig.checkpoints=True``, the default): each
  stage is a parquet table, skipped when ``<stage>/_SUCCESS`` exists,
  otherwise written with its metrics observed during the write, logged to
  ``lineage.jsonl`` and read back. This is the Spark translation of the
  reference's "output exists → exit" guards
  (blink/candidate_retrieval/process_wikidata.py) and its
  try-load-else-compute caches (blink/biencoder/eval_biencoder.py): kill the
  job after any stage and a re-run resumes from the next one.
- ``_InMemory`` (fused linking, document dedup): one DAG. Only the frames
  with more than one consumer (the S1 records and ``reps``) persist, and
  every persist is released before the entry point returns.

The entry points differ only in their S1 frame, their terminal step and
their block families.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blink_spark.operators.blocking import (
    df_aware_blocks,
    minhash_blocks,
    union_blocks,
)
from blink_spark.operators.cluster import assign_clusters
from blink_spark.operators.extract import extract_mentions
from blink_spark.operators.pairs import candidate_pairs, pairs_with_attrs
from blink_spark.operators.scoring import (
    match_edges,
    prepare_records,
    score_pairs_cascade,
)
from blink_spark.functions.text import normalize_text
from blink_spark.plans.inspect import spread


def exact_contract(mentions: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Contract exact-duplicate normalized surfaces before pair generation.

    Mentions with identical normalized text are same-cluster by the match
    rule (norm_eq), so only one representative per distinct surface — the
    min id, which is also what makes the final min-id cluster labels come
    out identical to the uncontracted run — needs to enter blocking /
    scoring / clustering. Classic dedupe-before-match: cuts the pair table
    by the square of the duplication factor, with provably unchanged
    cluster assignments.

    Returns (record_id, norm) — one row per distinct surface.

    The shuffle is keyed by ``(xxhash64(norm), length(norm))`` — a 12-byte
    numeric composite, never the full normalized text: for whole-document
    inputs (dedup_documents_pipeline) the text is KBs per row, and
    hash-partitioning + sort-comparing on it dominates the exchange. A
    numeric key beats a hex-digest string key (round-3 A/B: the 32-char md5
    key cost ~15% end-to-end at 600k docs — string grouping keys sort/probe
    byte-wise). All norms within a (hash, length) group are identical
    (64-bit+length collision: ~n²/2^65 · P(len_eq), negligible to ~10^9
    distinct surfaces per job; beyond that, widen to two seeded hashes), so
    ``min(norm)`` recovers the surface exactly and the cluster labels are
    unchanged.
    """
    return (
        mentions.select(
            mentions[id_col].alias("mention_id"),
            normalize_text(mentions[text_col]).alias("norm"),
        )
        .withColumn("norm_h", F.xxhash64("norm"))
        .withColumn("norm_l", F.length("norm"))
        .groupBy("norm_h", "norm_l")
        .agg(
            F.min("mention_id").alias("record_id"),
            F.min("norm").alias("norm"),
        )
        .select("record_id", "norm")
    )


def expand_contracted_clusters(
    mentions: DataFrame, id_col: str, text_col: str, rep_clusters: DataFrame
) -> DataFrame:
    """Map every mention to its representative's cluster id.

    Only the numeric ``(xxhash64(norm), length(norm))`` key ever leaves the
    scan — the expansion never shuffles the text at all (the groupBy and the
    final join are both keyed by the 12-byte composite), versus two
    full-text-keyed exchanges in the naive form.
    """
    norm = normalize_text(mentions[text_col])
    with_norm = mentions.select(
        mentions[id_col].alias("record_id"),
        F.xxhash64(norm).alias("norm_h"),
        F.length(norm).alias("norm_l"),
    )
    norm_to_cluster = (
        with_norm.groupBy("norm_h", "norm_l")
        .agg(F.min("record_id").alias("rep_id"))
        .join(
            rep_clusters.withColumnRenamed("record_id", "rep_id"),
            "rep_id",
            "left",
        )
        .select(
            "norm_h", "norm_l",
            F.coalesce("cluster_id", "rep_id").alias("cluster_id"),
        )
    )
    return with_norm.join(norm_to_cluster, ["norm_h", "norm_l"]).select(
        "record_id", "cluster_id"
    )


@dataclass
class PipelineConfig:
    max_block_size: int = 64
    hard_cap: int = 4096
    n_salt: int = 8
    minhash_bands: int = 4
    # 8 rows/band: short similar-vocab strings collide far less (p ≈ j^8)
    # while true near-dups (j ≳ 0.9) still land together w.p. ~1-(1-0.43)^4
    minhash_rows: int = 8
    # char-shingle width for MinHash. 3 suits short mention strings; long
    # documents from a small vocabulary need wider shingles (7 ≈ a word
    # bigram) or their baseline shingle-Jaccard is high enough that every
    # band collides and candidate generation degenerates quadratic.
    minhash_shingle_n: int = 3
    # Row/match counts are observed DURING stage writes (Observation API —
    # zero extra scans, always on). rich_metrics additionally collects the
    # token-class and skew stats tables (small extra jobs).
    rich_metrics: bool = True
    # Jaro-Winkler (the only Python UDF in the plan) feeds only the
    # diagnostic `score` column — is_match and the clusters are identical
    # without it, so the clustering pipeline defaults it off.
    with_jw: bool = False
    # write every stage to parquet (resumable checkpoints). False = fused
    # plan: only clusters are written; intermediates persist in memory/disk
    # cache. Checkpointing costs ~2 full materializations of the pair table
    # in disk bandwidth, which does not scale with cores — on a real cluster
    # the same trade is checkpoint-to-object-store vs fused stages.
    checkpoints: bool = True


def _read_documents(spark: SparkSession, documents_path: str) -> DataFrame:
    """Read the input at full parallelism. Row-group splitting (see
    session.py maxPartitionBytes) usually parallelizes the scan itself; the
    explicit repartition only fires for inputs estimated to arrive in fewer
    partitions than cores (tiny or single-row-group files) — repartitioning
    an already-parallel scan would just add a full shuffle of the corpus.

    The repartition is KEYED on doc_id (not round-robin): per-doc consumers
    (the context windows of the full ``extract_mentions`` schema, per-doc
    span work) require hashpartitioning on doc_id, so a keyed shuffle of the
    compact pre-explode table satisfies EnsureRequirements and the
    ~10x-larger exploded span table is never re-shuffled. doc_id is unique
    per row, so the keyed shuffle is as uniform as round-robin.
    ``perfbench``'s traced chain reads its documents through it."""
    return spread(spark.read.parquet(documents_path), "doc_id")


def _stage_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage)


def _exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _write_stage(df: DataFrame, path: str, observe: dict | None = None) -> dict:
    """Write a stage table; optionally collect aggregate metrics DURING the
    write via Observation — row/match counts cost zero extra scans (the
    round-1 pipeline re-read and re-counted every stage table)."""
    if observe:
        from pyspark.sql import Observation

        obs = Observation()
        df = df.observe(obs, *[expr.alias(name) for name, expr in observe.items()])
        df.write.mode("overwrite").parquet(path)
        return dict(obs.get)
    df.write.mode("overwrite").parquet(path)
    return {}


def _partition_lineage(path: str) -> list[dict]:
    """Per-partition lineage of a written stage table: one entry per part
    file with its row count (parquet FOOTER read only — no Spark job, no
    data scan) and byte size. Each part file is one write task's output, so
    this is the per-partition record the north rule's resumability contract
    asks for; at cluster scale the same footers are what a manifest-based
    table format (Iceberg) indexes."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        full = os.path.join(path, name)
        try:
            n_rows = pq.ParquetFile(full).metadata.num_rows
        except Exception:  # non-data sidecar
            continue
        out.append({"file": name, "rows": n_rows, "bytes": os.path.getsize(full)})
    return out


def _log_lineage(out_dir: str, stage: str, metrics: dict, path: str | None = None) -> None:
    os.makedirs(out_dir, exist_ok=True)
    line = {"stage": stage, "ts": time.time(), **metrics}
    if path is not None and os.path.isdir(path):
        line["partitions"] = _partition_lineage(path)
    with open(os.path.join(out_dir, "lineage.jsonl"), "a") as f:
        f.write(json.dumps(line) + "\n")


class _Checkpoint:
    """Resumable materializer: a stage whose ``<stage>/_SUCCESS`` exists is
    skipped; otherwise it is written to parquet with its metrics observed
    during the write, logged to ``lineage.jsonl`` and read back. A stage
    written in this run is read back with the schema of the frame it wrote
    (file sources make it nullable, so it equals the inferred one), which
    saves the schema-inference job; a skipped stage infers it."""

    logs_stages = True

    def __init__(self, spark: SparkSession, out_dir: str, force: bool):
        os.makedirs(out_dir, exist_ok=True)
        self.spark, self.out_dir, self.force = spark, out_dir, force

    def stage(self, name, build, observe=None, shared=False, releases=()):
        """``build()`` returns the stage frame, or ``(frame, {key: stats})``
        whose small stats frames are collected into the lineage line.
        ``releases`` are persists the build registered; they are dropped as
        soon as the stage is on disk."""
        path = _stage_path(self.out_dir, name)
        if self.force or not _exists(path):
            df, logged = _with_stats(build())
            metrics = _write_stage(df, path, observe=observe or {"rows": F.count(F.lit(1))})
            for held in releases:
                held.unpersist()
            for key, stats in logged.items():
                metrics[key] = [r.asDict() for r in stats.collect()]
            _log_lineage(self.out_dir, name, metrics, path)
            return self.spark.read.schema(df.schema).parquet(path)
        return self.spark.read.parquet(path)

    def release(self) -> None:
        pass


class _InMemory:
    """Fused materializer: stages stay lazy in one DAG. Frames with more than
    one consumer persist; ``release()`` drops every persist of the run."""

    logs_stages = False

    def __init__(self):
        self._held: list[DataFrame] = []

    def stage(self, name, build, observe=None, shared=False, releases=()):
        df, _ = _with_stats(build())
        self._held.extend(releases)
        if shared:
            df = df.persist()
            self._held.append(df)
        return df

    def release(self) -> None:
        for held in self._held:
            held.unpersist()


def _with_stats(built) -> tuple[DataFrame, dict]:
    return built if isinstance(built, tuple) else (built, {})


def _run_chain(mat, records, id_col: str, text_col: str, cfg: PipelineConfig,
               finish, token_blocks: bool = True) -> DataFrame:
    """The stage chain, from ``exact_contract`` through
    ``expand_contracted_clusters``, under materializer ``mat``.

    ``records()`` builds the S1 frame (at least ``id_col`` and ``text_col``);
    ``finish(build)`` materializes the clusters that ``build()`` computes;
    ``token_blocks`` adds df-aware token blocks to the MinHash-LSH ones
    (linking), while long-document dedup blocks on MinHash alone."""
    # token_classes/skew stats are small extra jobs; only lineage reads them
    stats = cfg.rich_metrics and mat.logs_stages
    recs = mat.stage("mentions", records, shared=True)
    # S2a — exact contraction: one representative per distinct surface
    reps = mat.stage("reps", lambda: exact_contract(recs, id_col, text_col), shared=True)

    def block():
        families, logged = [], {}
        if token_blocks:
            tb, token_stats = df_aware_blocks(
                reps, "record_id", "norm",
                rare_df=cfg.max_block_size, max_df=cfg.hard_cap,
                cache_freq=stats,  # stats unread ⇒ freq has 1 consumer
            )
            families.append(tb)
            if stats:
                logged["token_classes"] = token_stats
        families.append(minhash_blocks(
            reps, "record_id", "norm",
            bands=cfg.minhash_bands, rows=cfg.minhash_rows,
            shingle_n=cfg.minhash_shingle_n,
        ).select("block_key", "record_id"))
        return union_blocks(*families).select("block_key", "record_id"), logged

    blocks = mat.stage("blocks", block)

    def pair():
        pairs, skew = candidate_pairs(
            blocks,
            max_block_size=cfg.max_block_size,
            hard_cap=cfg.hard_cap,
            n_salt=cfg.n_salt,
        )
        return pairs, {"skew": skew} if stats else {}

    # candidate_pairs persists its input
    pairs = mat.stage("cand_pairs", pair, releases=(blocks,))

    # S4 — cascade scoring with biencoder-style embeddings on the hot branch.
    # When only match_edges reads the result (fused, dedup), Catalyst prunes
    # the expensive columns and the embedding UDF out of the plan.
    def score():
        prep = prepare_records(reps, "record_id", "norm", with_emb=True,
                               pre_normalized=True)
        attrs = pairs_with_attrs(pairs, prep, "record_id", ["norm", "toks", "emb", "emb_n"])
        return score_pairs_cascade(attrs, with_emb=True, with_jw=cfg.with_jw).select(
            "record_id_a", "record_id_b", "jaccard", "lev_ratio", "emb_cos", "score",
            "is_match",
        )

    scored = mat.stage("scored_pairs", score, observe={
        "rows": F.count(F.lit(1)),
        "matches": F.sum(F.col("is_match").cast("long")),
    })

    # S5 — clustering over representatives, expanded back to all records
    out = finish(lambda: expand_contracted_clusters(
        recs, id_col, text_col,
        assign_clusters(reps, "record_id", match_edges(scored),
                        assume_unique=True, edges_canonical=True),
    ))
    mat.release()
    return out


def run_pipeline(
    spark: SparkSession,
    documents_path: str,
    out_dir: str,
    config: PipelineConfig | None = None,
    force: bool = False,
) -> DataFrame:
    """Run (or resume) the full pipeline; returns the clusters DataFrame.

    ``config.checkpoints`` picks the materializer; both modes build the same
    S1 frame. The chain reads only ``(mention_id, mention)``: selecting them
    right after the extract lets Catalyst drop the per-doc Sort and the two
    Window passes of the context columns, and the under-parallel
    repartition sits after the explode on the skinny mention rows, so the
    span/text payload never crosses an exchange. Both write the clusters
    with a lineage line; fused runs always rewrite them."""
    cfg = config or PipelineConfig()
    out = _Checkpoint(spark, out_dir, force=force or not cfg.checkpoints)
    mat = out if cfg.checkpoints else _InMemory()

    def mentions():
        documents = spark.read.parquet(documents_path)
        return spread(extract_mentions(documents).select("mention_id", "mention"),
                      "mention_id", source=documents)

    return _run_chain(mat, mentions, "mention_id", "mention", cfg, finish=lambda build: out.stage(
        "clusters", build, observe={
            "rows": F.count(F.lit(1)),
            # observed during the write (no second scan); approximate by
            # construction — the exact distinct needs its own aggregate
            "n_clusters_approx": F.approx_count_distinct("cluster_id"),
        },
    ))


def dedup_documents_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """In-memory run over a flat (id, text) table — near-duplicate
    clustering (the flagship `entry()` query), MinHash blocks only, with
    wide shingles (see minhash_shingle_n)."""
    cfg = PipelineConfig(minhash_shingle_n=7, minhash_rows=4)

    def records():
        return spread(documents.select(
            F.col(id_col).cast("string").alias("record_id"), F.col(text_col).alias("text")
        ), "record_id")

    # localCheckpoint is eager: the whole plan materializes before the
    # chain releases its persists, so no cached RDD outlives the call.
    return _run_chain(_InMemory(), records, "record_id", "text", cfg,
                      finish=lambda build: build().localCheckpoint(), token_blocks=False)
