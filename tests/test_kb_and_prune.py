"""KB-ingestion filters + repeat/overlap pruning variants, verified against
tiny in-test replicas of the reference rules
(/root/reference/blink/candidate_retrieval/data_ingestion.py:81-155,
/root/reference/scripts/tune_hyperparams_new.py:43-87)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def _spans_df(spark):
    # (record, entity, start, end_excl, score) — entities repeat, spans overlap
    rows = [
        ("q1", "e1", 0, 2, 9.0),
        ("q1", "e1", 1, 3, 8.0),   # overlaps (0,2) same entity
        ("q1", "e1", 5, 6, 7.0),   # same entity, disjoint → repeat-pruned only
        ("q1", "e2", 1, 3, 6.0),   # overlaps e1 span, different entity
        ("q1", "e2", 2, 4, 6.5),
        ("q2", "e1", 0, 1, 1.0),
    ]
    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["record_id", "entity", "start", "end_excl", "score"]
        )
    )


def _ref_filter_repeats(triples, scores):
    """Literal port of tune_hyperparams_new.py:43-59 for the fixture."""
    order = sorted(range(len(scores)), key=lambda i: -scores[i])
    seen, out = set(), []
    for i in order:
        if triples[i][0] in seen:
            continue
        seen.add(triples[i][0])
        out.append(triples[i])
    return out


def _ref_filter_repeat_overlaps(n_tokens, triples, scores):
    """Literal port of tune_hyperparams_new.py:75-87 (score-sorted input)."""
    order = sorted(range(len(scores)), key=lambda i: -scores[i])
    masks = {t[0]: [0] * n_tokens for t in triples}
    out = []
    for i in order:
        ent, s, e = triples[i]
        if sum(masks[ent][s:e]) > 0:
            continue
        out.append(triples[i])
        for p in range(s, e):
            masks[ent][p] = 1
    return out


def test_filter_repeats_matches_reference_rule(spark):
    from blink_spark.operators.spans import filter_repeats

    df = _spans_df(spark)
    got = {
        (r.record_id, r.entity, r.start, r.end_excl)
        for r in filter_repeats(df).collect()
    }
    want = set()
    for rec in ("q1", "q2"):
        rows = [r for r in df.collect() if r.record_id == rec]
        kept = _ref_filter_repeats(
            [(r.entity, r.start, r.end_excl) for r in rows],
            [r.score for r in rows],
        )
        want |= {(rec, *t) for t in kept}
    assert got == want
    # exactly one span per (record, entity)
    assert len(got) == len({(g[0], g[1]) for g in got})


def test_filter_repeat_overlaps_matches_reference_rule(spark):
    from blink_spark.operators.spans import filter_repeat_overlaps

    df = _spans_df(spark)
    got = {
        (r.record_id, r.entity, r.start, r.end_excl)
        for r in filter_repeat_overlaps(df).collect()
    }
    want = set()
    for rec in ("q1", "q2"):
        rows = [r for r in df.collect() if r.record_id == rec]
        kept = _ref_filter_repeat_overlaps(
            10,
            [(r.entity, r.start, r.end_excl) for r in rows],
            [r.score for r in rows],
        )
        want |= {(rec, *t) for t in kept}
    assert got == want
    # cross-entity overlap survives; same-entity overlap does not
    assert ("q1", "e2", 2, 4) in got and ("q1", "e1", 1, 3) not in got
    # the repeat-only variant is strictly stronger on disjoint same-entity
    assert ("q1", "e1", 5, 6) in got


def test_kb_ingestion_filter_counters_and_aliases(spark, fixture_paths):
    from blink_spark.sources.kb_filters import kb_ingestion_filter

    kb = spark.read.parquet(fixture_paths["kb_raw"])
    n_in = kb.count()
    kept, counters = kb_ingestion_filter(kb)
    c = {r.drop_class: r.n for r in counters.collect()}
    # cap-and-report: every input row is accounted for, every class non-empty
    assert sum(c.values()) == n_in
    assert c["dropped_short"] > 0 and c["dropped_disambiguation"] > 0
    assert kept.count() == c["kept"]
    # sequential semantics: short is judged before disambiguation
    both = kb.filter(
        (F.col("num_tokens") < 5) & F.col("title").contains("isambiguation")
    ).count()
    short_total = kb.filter(F.col("num_tokens") < 5).count()
    assert c["dropped_short"] == short_total and both >= 0
    # kept rows: no disambiguation titles/descriptions, no emoji aliases
    assert kept.filter(F.col("title").contains("isambiguation")).count() == 0
    assert (
        kept.filter(F.col("description").contains("isambiguation page")).count() == 0
    )
    emoji_left = kept.select(
        F.explode("aliases").alias("a")
    ).filter(F.col("a").rlike(r"^[\x{1F000}-\x{1FAFF}]+$")).count()
    assert emoji_left == 0
    assert kept.filter(F.col("n_aliases_dropped") > 0).count() > 0


def test_pem_lookup_every_branch_populated(spark):
    import __spark_entry__ as entry

    df = entry.queries()["er_pem_lookup"](spark, "/root/testdata/sf0.001")
    sources = {r.source for r in df.select("source").distinct().collect()}
    assert sources == {
        "pem_span", "pem_title", "pem_lower_org", "pem_lower_lower", "none"
    }
    # resolved rows carry an entity, unresolved don't
    assert df.filter((F.col("source") != "none") & F.col("entity_id").isNull()).count() == 0
    assert df.filter((F.col("source") == "none") & F.col("entity_id").isNotNull()).count() == 0
