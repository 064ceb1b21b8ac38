"""Seeded benchmark inputs, cached by (workload, size, seed).

The program under test only ever receives the generated parquet; the gold
labels are written beside it and read back by the benchmark's output checks.
Every table is written with ``row_group_size=20_000``: Spark splits a parquet
file only at row-group boundaries, so a single-row-group file would scan as
one task.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd

ROW_GROUP = 20_000


def _cached(cache_dir: str, key: str, build) -> str:
    """Return ``cache_dir/key``, building it first if it is missing.

    ``build(tmp_dir)`` writes into a scratch directory that is renamed into
    place only when complete, so an interrupted run never leaves a partial
    input behind for the next run to trust."""
    final = os.path.join(cache_dir, key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent run finished the same key first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _write(df: pd.DataFrame, path: str) -> None:
    df.to_parquet(path, index=False, row_group_size=ROW_GROUP)


def _seed_synth(seed: int):
    # synth._h reads the module-level SEED at call time, so setting it here
    # reseeds every generator below for this process.
    from blink_spark import synth

    synth.SEED = seed
    return synth


def link_inputs(cache_dir: str, n_docs: int, n_entities: int, seed: int) -> str:
    """Interleaved text/mention/media documents from ``blink_spark.synth``.

    ``documents.parquet`` is the program input; ``gold.parquet`` holds
    ``(mention_id, label_id)``."""

    def build(d: str) -> None:
        synth = _seed_synth(seed)
        ents = synth.make_entities(n_entities)
        docs, ments = synth.make_documents_and_mentions(ents, n_docs=n_docs)
        _write(docs, os.path.join(d, "documents.parquet"))
        _write(ments[["mention_id", "label_id"]], os.path.join(d, "gold.parquet"))

    return _cached(cache_dir, f"link-{n_docs}x{n_entities}-s{seed}", build)


def topk_inputs(cache_dir: str, n_entities: int, n_queries: int, seed: int) -> str:
    """Entity catalogue plus corrupted mention queries (BLINK stage 1).

    ``entities.parquet`` holds ``(entity_id, title)`` and
    ``queries.parquet`` holds ``(query_id, mention)``; each query is one
    entity title put through ``synth``'s mention corruption (case, alias,
    typo or token drop). ``gold.parquet`` holds ``(query_id, label_id)``.
    """

    def build(d: str) -> None:
        synth = _seed_synth(seed)
        ents = synth.make_entities(n_entities).to_dict("records")
        queries, gold = [], []
        for q in range(n_queries):
            e = ents[synth._h("perfbench-q", q) % len(ents)]
            key = synth._h("perfbench-corrupt", q, e["entity_id"])
            qid = f"q{q:06d}"
            queries.append({"query_id": qid, "mention": synth._corrupt(e["title"], e["aliases"], key)})
            gold.append({"query_id": qid, "label_id": e["entity_id"]})
        catalogue = pd.DataFrame(
            [{"entity_id": e["entity_id"], "title": e["title"]} for e in ents]
        )
        _write(catalogue, os.path.join(d, "entities.parquet"))
        _write(pd.DataFrame(queries), os.path.join(d, "queries.parquet"))
        _write(pd.DataFrame(gold), os.path.join(d, "gold.parquet"))

    return _cached(cache_dir, f"topk-{n_entities}x{n_queries}-s{seed}", build)
