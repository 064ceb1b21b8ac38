"""Tests for span ops, multimodal plumbing and sources."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_span_enumeration_counts(spark):
    from blink_spark.operators.spans import enumerate_token_spans

    df = spark.createDataFrame([("a", "w1 w2 w3 w4")], "id string, text string")
    spans = enumerate_token_spans(df, "id", "text", max_len=2).collect()
    # n=4, len<=2 → 4 + 3 = 7 spans
    assert len(spans) == 7
    texts = {(r.start, r.end_excl): r.span_text for r in spans}
    assert texts[(0, 1)] == "w1" and texts[(2, 4)] == "w3 w4"


def test_greedy_overlap_prune_matches_python_oracle(spark):
    from blink_spark.operators.spans import greedy_overlap_prune

    rows = [
        ("d1", 0, 2, 0.9),   # kept (best)
        ("d1", 1, 3, 0.8),   # overlaps kept → dropped
        ("d1", 3, 4, 0.7),   # kept
        ("d1", 0, 1, 0.6),   # overlaps → dropped
        ("d2", 0, 1, 0.5),   # kept (other doc)
    ]
    df = spark.createDataFrame(
        rows, "record_id string, start int, end_excl int, score double"
    )
    got = sorted(
        (r.record_id, r.start, r.end_excl)
        for r in greedy_overlap_prune(df).collect()
    )
    assert got == [("d1", 0, 2), ("d1", 3, 4), ("d2", 0, 1)]


def test_media_decode_stub_schema_and_determinism(spark, fixture_paths):
    from blink_spark.operators.extract import media_spans
    from blink_spark.operators.multimodal import decode_media_stub, frame_sample

    docs = spark.read.parquet(fixture_paths["documents"]).limit(50)
    decoded = decode_media_stub(media_spans(docs))
    rows = decoded.collect()
    assert rows, "expected media spans in fixture"
    for r in rows:
        assert r.media_kind in ("image", "audio", "video")
        assert r.width >= 640 and r.height >= 360
        assert len(r.feature) == 8
        assert (r.n_frames == 1) == (r.media_kind == "image")
    again = {(r.doc_id, r.span_idx): r.width for r in decoded.collect()}
    assert all(again[(r.doc_id, r.span_idx)] == r.width for r in rows)
    fs = frame_sample(decoded)
    assert fs.filter(F.col("frame_idx") >= F.col("n_frames")).count() == 0


def test_conll_sessionization(spark, tmp_path):
    from blink_spark.sources.conll import conll_mention_spans, read_conll

    p = tmp_path / "conll.txt"
    p.write_text(
        "-DOCSTART- (1 EU)\n"
        "EU B\nrejects O\nGerman B\ncall I\n\n"
        "-DOCSTART- (2)\n"
        "Peter B\nBlackburn I\n"
    )
    toks = read_conll(spark, str(p))
    assert toks.select("doc_id").distinct().count() == 2
    spans = {
        (r.doc_id, r.mention) for r in conll_mention_spans(toks).collect()
    }
    assert (1, "EU") in spans and (1, "German call") in spans
    assert (2, "Peter Blackburn") in spans


def test_wiki_extractor_scan(spark, tmp_path):
    from blink_spark.sources.wiki import extract_anchor_links, read_wiki_extractor

    p = tmp_path / "wiki.txt"
    p.write_text(
        '<doc id="12" url="u" title="Anarchism">\n'
        "Anarchism\n"
        'Anarchism is a <a href="political%20philosophy">philosophy</a>.\n'
        "</doc>\n"
        '<doc id="25" url="u" title="Autism">\n'
        "Autism\n"
        "Autism is a disorder.\n"
        "</doc>\n"
    )
    docs = read_wiki_extractor(spark, str(p))
    rows = {r.wikipedia_id: r for r in docs.collect()}
    assert set(rows) == {12, 25}
    assert rows[25].title == "Autism" and "disorder" in rows[25].text
    links = extract_anchor_links(docs).collect()
    assert any(
        l.src_id == 12 and l.href_title == "political philosophy" for l in links
    )


def test_incoming_link_counts(spark):
    from blink_spark.sources.wiki import incoming_link_counts

    entities = spark.createDataFrame(
        [(1, "Alpha Beta"), (2, "Gamma")], "entity_id long, title string"
    )
    links = spark.createDataFrame(
        [(9, "Alpha Beta"), (9, "alpha_beta"), (9, "Gamma"), (9, "Missing")],
        "src_id long, href_title string",
    )
    got = {r.entity_id: r.num_incoming_links for r in
           incoming_link_counts(links, entities).collect()}
    assert got == {1: 2, 2: 1}


def test_jsonl_catalogue_roundtrip(spark, tmp_path):
    from blink_spark.sources.jsonl import read_entity_catalogue, read_mentions_jsonl

    cat = tmp_path / "cat.jsonl"
    cat.write_text(
        '{"title": "Foo", "text": "foo text", "idx": "x?curid=77"}\n'
        '{"title": "Bar", "text": "bar text", "idx": "x?curid=33"}\n'
    )
    ents = read_entity_catalogue(spark, str(cat))
    rows = {r.title: r for r in ents.collect()}
    assert rows["Bar"].entity_id == 0 and rows["Bar"].wikipedia_id == 33
    assert rows["Foo"].entity_id == 1

    m = tmp_path / "m.jsonl"
    m.write_text(
        '{"id": 1, "context_left": "A", "mention": "FOO", "context_right": "B", "label": "Foo"}\n'
        '{"id": 2, "context_left": "A", "mention": "ZAP", "context_right": "B", "label": "Zap"}\n'
    )
    kept = read_mentions_jsonl(spark, str(m), entities=ents)
    assert [r.mention for r in kept.collect()] == ["foo"]


def test_blocking_quality_histogram(spark):
    """Planted block sizes land in the right log2 buckets with exact pair
    counts; the -1 total row carries the reduction-ratio complement."""
    from blink_spark.operators.blocking import blocking_quality

    assigns = spark.createDataFrame(
        [("a", r) for r in ["r1"]]
        + [("b", r) for r in ["r1", "r2"]]
        + [("c", r) for r in ["r3", "r4"]]
        + [("d", r) for r in ["r1", "r2", "r3", "r4"]],
        "block_key string, record_id string",
    )
    records = spark.createDataFrame(
        [(f"r{i}",) for i in range(1, 7)], "record_id string"
    )
    got = {
        r.size_bucket: (r.n_blocks, r.n_records, r.n_pairs, r.pairs_frac)
        for r in blocking_quality(assigns, records).collect()
    }
    # sizes 1 / 2,2 / 4 → buckets 0 / 1 / 2; pairs 0 / 1+1 / 6; N=6 → 15 all-pairs
    assert got[0] == (1, 1, 0, 0.0)
    assert got[1] == (2, 4, 2, round(2 / 15, 6))
    assert got[2] == (1, 4, 6, round(6 / 15, 6))
    assert got[-1] == (4, 9, 8, round(8 / 15, 6))


def test_decode_media_stub_tolerates_null_ref(spark):
    """A NULL media_ref must decode to all-NULL fields (the oracle's
    md5(NULL) propagation), not crash the Arrow batch or the row writer."""
    from blink_spark.operators.multimodal import decode_media_stub

    df = spark.createDataFrame(
        [("d1", 0, "m://a"), ("d1", 1, None)],
        "doc_id string, span_idx int, media_ref string",
    )
    rows = {r.span_idx: r for r in decode_media_stub(df).collect()}
    assert rows[0].media_kind in ("image", "audio", "video")
    assert rows[1].media_kind is None and rows[1].width is None
    assert rows[1].feature is None
