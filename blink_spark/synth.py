"""Deterministic synthetic ER fixtures (seed=42, per FIXTURES.md).

Generates the interleaved text+media ``documents`` table of the input hint,
an entity catalogue, exploded gold-labeled ``mentions``, and ``gold_pairs`` —
gold clusters are known by construction because every mention span is a
(purposely corrupted) rendering of a known entity.

Separation guarantees (what makes pairwise F1 >= 0.99 achievable):
- entity title = ``w1 w2 w3 idtok`` where (w1,w2,w3) are vocabulary words
  indexed by the entity id in mixed radix (distinct entities differ in at
  least one whole word for id < 45^2) and ``idtok`` is a base-26 encoding
  with a parity character, so id tokens of distinct entities are at
  Levenshtein distance >= 2;
- corruptions applied to a mention are at most one character edit, one
  case flip, one token drop, or an alias substitution that preserves the
  id token. Hence same-entity surface pairs stay close (lev ratio >= 0.95
  or token-Jaccard >= 0.75) while cross-entity pairs stay far
  (lev ratio <= ~0.91, token-Jaccard <= 0.6).

All randomness is a pure function of (entity_id, doc_id, span_idx) through
blake2b, so fixtures are identical across machines, partitionings and runs —
no model weights, no wall clock (mirrors the reference's determinism needs;
cf. tokenize caching at /root/reference/elq/biencoder/data_process.py:371-375).
"""

from __future__ import annotations

import hashlib
import itertools
import os

import pandas as pd

SEED = 42

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu amber birch cedar dune ember flint grove harbor iris "
    "jasper kestrel lagoon meadow nimbus orchid pearl quartz reef summit"
).split()

_WORLDS = [f"world_{i:02d}" for i in range(16)]

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _h(*parts: object) -> int:
    """Pure deterministic 64-bit hash of the parts (replaces random.Random)."""
    raw = "|".join(str(p) for p in parts) + f"|seed={SEED}"
    return int.from_bytes(hashlib.blake2b(raw.encode(), digest_size=8).digest(), "big")


def _pick(seq, *key):
    return seq[_h(*key) % len(seq)]


def _id_token(eid: int) -> str:
    """'e' + base26(eid, width 3) + parity char → pairwise lev distance >= 2."""
    digits = [(eid // 26**i) % 26 for i in (2, 1, 0)]
    parity = sum((i + 1) * d for i, d in enumerate(digits)) % 26
    return "e" + "".join(_LETTERS[d] for d in digits) + _LETTERS[parity]


def entity_words(eid: int) -> tuple[str, str, str]:
    n = len(_WORDS)
    return (_WORDS[eid % n], _WORDS[(eid // n) % n], _WORDS[(eid // (n * n)) % n])


def make_entities(n_entities: int = 500, allow_large: bool = False) -> pd.DataFrame:
    """allow_large lifts the 45^2 cap for throughput fixtures: beyond 2025
    entities the whole-word separation guarantee weakens to the id-token
    lev>=2 guarantee, so F1 oracles should stick to <=2000 entities."""
    assert allow_large or n_entities <= 2000, "separation guarantee needs eid < 45^2"
    assert n_entities <= 45**3, "id space exhausted"
    rows = []
    for eid in range(n_entities):
        w1, w2, w3 = entity_words(eid)
        idt = _id_token(eid)
        title = f"{w1} {w2} {w3} {idt}"
        text = " ".join(_pick(_WORDS, "d", eid, j) for j in range(12))
        # alias 1: token permutation (keeps id token); alias 2: abbreviation
        # dropping w2 but keeping w1 first (same blocking key as the title).
        aliases = [f"{w2} {w1} {w3} {idt}", f"{w1} {w3} {idt}"]
        rows.append(
            {
                "entity_id": eid,
                "title": title,
                "text": text,
                "wikipedia_id": 100000 + eid * 7,
                "aliases": aliases,
                "num_incoming_links": _h("links", eid) % 1000,
                "world": _WORLDS[_h("w", eid) % len(_WORLDS)],
            }
        )
    return pd.DataFrame(rows)


def _corrupt(title: str, aliases: list[str], key: int) -> str:
    """Deterministic surface-form corruption of an entity name.

    Mirrors the mention/label surface mismatch the reference tolerates
    (lowercasing at /root/reference/blink/main_dense.py:199-203; alias fields
    from data_ingestion.py:81-97). Modes: 0-2 identity, 3 lowercase, 4 UPPER,
    5 alias substitution, 6 single-char typo, 7 middle-token drop.
    """
    mode = key % 8
    if mode in (0, 1, 2):
        return title
    if mode == 3:
        return title.lower()
    if mode == 4:
        return title.upper()
    if mode == 5 and aliases:
        return aliases[(key // 8) % len(aliases)]
    if mode == 6 and len(title) > 4:
        i = 1 + (key // 8) % (len(title) - 2)
        ch = _LETTERS[(key // 512) % 26]
        if title[i] == " " or title[i] == ch:  # never merge tokens / no-op
            ch = "q" if title[i] != "q" else "z"
        if title[i] == " ":
            i += 1
        return title[:i] + ch + title[i + 1 :]
    toks = title.split()
    if len(toks) > 3:
        return " ".join([toks[0]] + toks[2:])  # drop w2, keep w1 + id token
    return title


def make_documents_and_mentions(
    entities: pd.DataFrame,
    n_docs: int = 2000,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Interleaved documents + the exploded gold mention view, three
    mentions per document.

    Each document alternates text / mention / media spans with strictly
    increasing char offsets (the span-sequence invariant under test).
    """
    by_world: dict[str, list[dict]] = {}
    ents = entities.to_dict("records")
    for e in ents:
        by_world.setdefault(e["world"], []).append(e)
    docs, mentions = [], []
    for d in range(n_docs):
        doc_id = f"d{d:08d}"
        world = _WORLDS[_h("docworld", d) % len(_WORLDS)]
        in_world = by_world.get(world) or ents
        spans = []
        offset = 0
        span_idx = 0
        for m in range(3):
            left = " ".join(_pick(_WORDS, "L", d, m, j) for j in range(4))
            spans.append({"kind": "text", "text": left, "media_ref": None, "offset": offset})
            offset += len(left) + 1
            span_idx += 1

            ent = in_world[_h("pick", d, m) % len(in_world)]
            surface = _corrupt(ent["title"], ent["aliases"], _h("corrupt", d, m, ent["entity_id"]))
            mention_span_idx = span_idx
            spans.append({"kind": "mention", "text": surface, "media_ref": None, "offset": offset})
            offset += len(surface) + 1
            span_idx += 1

            if _h("media?", d, m) % 3 == 0:
                ref = "m://" + hashlib.blake2b(f"{d}:{m}".encode(), digest_size=8).hexdigest()
                spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": offset})
                offset += 1
                span_idx += 1

            right = " ".join(_pick(_WORDS, "R", d, m, j) for j in range(4))
            spans.append({"kind": "text", "text": right, "media_ref": None, "offset": offset})
            offset += len(right) + 1
            span_idx += 1

            mentions.append(
                {
                    "mention_id": f"{doc_id}:{mention_span_idx:04d}",
                    "doc_id": doc_id,
                    "span_idx": mention_span_idx,
                    "context_left": left.lower(),
                    "mention": surface.lower(),
                    "context_right": right.lower(),
                    "world": world,
                    "label_id": ent["entity_id"],
                    "label_title": ent["title"],
                }
            )
        docs.append({"doc_id": doc_id, "spans": spans})
    return pd.DataFrame(docs), pd.DataFrame(mentions)


def normalized_block_key(mention: str) -> str:
    """Blocking key for gold_pairs: first alpha token prefix, lowercased.

    The analogue of the reference's per-world candidate pools
    (/root/reference/blink/biencoder/zeshel_utils.py:36-47): gold and
    predicted pairs are both restricted to pairs sharing this key.
    """
    for tok in mention.lower().split():
        t = "".join(c for c in tok if c.isalpha())
        if t:
            return t[:4]
    return "_"


def make_gold_pairs(mentions: pd.DataFrame) -> pd.DataFrame:
    """All intra-block mention pairs labeled same_entity (FIXTURES.md §4)."""
    df = mentions.copy()
    df["block_key"] = df["world"] + "|" + df["mention"].map(normalized_block_key)
    rows = []
    for block_key, grp in df.groupby("block_key"):
        recs = list(grp[["mention_id", "label_id"]].sort_values("mention_id").itertuples(index=False))
        for (a, la), (b, lb) in itertools.combinations(recs, 2):
            rows.append(
                {
                    "mention_id_a": a,
                    "mention_id_b": b,
                    "same_entity": bool(la == lb),
                    "block_key": block_key,
                }
            )
    return pd.DataFrame(rows, columns=["mention_id_a", "mention_id_b", "same_entity", "block_key"])


def make_questions(entities: pd.DataFrame) -> pd.DataFrame:
    """300 ELQ-style multi-mention rows with parallel arrays (FIXTURES.md §6;
    schema documented at /root/reference/elq/main_dense.py:150-172):
    mentions are [start, end) char offsets (exclusive end, raw-data
    convention before the inclusive conversion at
    /root/reference/elq/biencoder/data_process.py:410-411)."""
    ents = entities.to_dict("records")
    rows = []
    for q in range(300):
        n_m = 1 + _h("nm", q) % 3
        parts: list[str] = []
        bounds: list[list[int]] = []
        label_id: list[int] = []
        label: list[str] = []
        pos = 0
        for m in range(n_m):
            lead = " ".join(_pick(_WORDS, "qL", q, m, j) for j in range(3))
            parts.append(lead)
            pos += len(lead) + 1
            ent = ents[_h("qe", q, m) % len(ents)]
            surface = ent["title"]
            parts.append(surface)
            bounds.append([pos, pos + len(surface)])
            label_id.append(ent["entity_id"])
            label.append(ent["title"])
            pos += len(surface) + 1
        rows.append(
            {
                "id": f"q{q:06d}",
                "text": " ".join(parts),
                "mentions": bounds,
                "label_id": label_id,
                "entity": label,
            }
        )
    return pd.DataFrame(rows)


EMB_FX_DIM = 16
EMB_FX_BASE = 150
EMB_FX_DUPS = 50


def make_embeddings_fx() -> pd.DataFrame:
    """Embedding fixture WITH PLANTED NEAR-DUPLICATES: 150 base unit vectors
    plus 50 perturbed copies of bases 0,3,6,... (cosine > 0.98 by
    construction), so embedding-cosine dedup at threshold 0.9 has a non-empty
    known answer (round-1 fixture had none — the check was vacuous).
    vec_id of the dup of base 3j is 150+j."""
    import numpy as np

    def unit(vals: list[float]) -> list[float]:
        v = np.asarray(vals, dtype=np.float64)
        v /= np.linalg.norm(v)
        return v.astype(np.float32).tolist()

    rows = []
    base_vecs = []
    for i in range(EMB_FX_BASE):
        vals = [(_h("embfx", i, d) % 20001 - 10000) / 10000.0 for d in range(EMB_FX_DIM)]
        v = unit(vals)
        base_vecs.append(v)
        rows.append({"vec_id": i, "embedding": v})
    for j in range(EMB_FX_DUPS):
        src = base_vecs[3 * j]
        noise = [(_h("embnz", j, d) % 2001 - 1000) / 20000.0 for d in range(EMB_FX_DIM)]
        v = unit([s + n for s, n in zip(src, noise)])
        rows.append({"vec_id": EMB_FX_BASE + j, "embedding": v})
    return pd.DataFrame(rows)


def make_sentences_fx() -> pd.DataFrame:
    """200-row multi-sentence text fixture (the testdata documents carry no
    sentence
    punctuation, so sentence ops need their own fixture). 1-5 sentences per
    row with ., !, ? terminators and irregular spacing."""
    terms = [". ", "! ", "? ", ".  "]
    rows = []
    for i in range(200):
        n_sent = 1 + _h("ns", i) % 5
        parts = []
        for s in range(n_sent):
            words = " ".join(_pick(_WORDS, "sw", i, s, j) for j in range(2 + _h("sl", i, s) % 5))
            parts.append(words + terms[_h("st", i, s) % len(terms)])
        rows.append({"sent_id": f"s{i:05d}", "text": "".join(parts).strip()})
    return pd.DataFrame(rows)


_KB_EMOJI = ["\U0001F600", "\U0001F680", "☀", "\U0001F40D"]


def make_kb_raw(entities: pd.DataFrame) -> pd.DataFrame:
    """Pre-ingestion KB rows with the defects the reference's ingestion
    filter drops (/root/reference/blink/candidate_retrieval/
    data_ingestion.py:81-155): short stubs (1-3 tokens), disambiguation
    pages (in the title or in the wikidata description), and pure-emoji
    aliases. Injection is deterministic by entity_id so every drop class is
    non-empty and the kept set is stable."""
    rows = []
    for r in entities.itertuples():
        eid = int(r.entity_id)
        title, text = r.title, r.text
        description = " ".join(text.split()[:5])
        aliases = list(r.aliases)
        if eid % 7 == 3:
            title = f"{title} (disambiguation)"
        elif eid % 7 == 5:
            title = f"{title} (Disambiguation)"
        elif eid % 11 == 4:
            description = f"disambiguation page for {description}"
        elif eid % 11 == 8:
            description = f"Disambiguation page listing {description}"
        if eid % 5 == 2:
            text = " ".join(text.split()[: eid % 3 + 1])  # 1-3 token stub
        if eid % 4 == 1:
            aliases.append(_KB_EMOJI[eid % len(_KB_EMOJI)])
        rows.append(
            {
                "entity_id": eid,
                "title": title,
                "text": text,
                "description": description,
                "num_tokens": len(text.split()),
                "aliases": aliases,
                "num_incoming_links": int(r.num_incoming_links),
            }
        )
    return pd.DataFrame(rows)


def make_wikidata_rows(entities: pd.DataFrame) -> list[dict]:
    """Wikidata-dump-shaped rows (nested sitelinks/labels/aliases/
    descriptions; /root/reference/blink/candidate_retrieval/
    process_wikidata.py:42-103): some rows lack the enwiki sitelink, an en
    label, en aliases, or an en description — all the branches the scan's
    filters/projections must handle."""
    rows = []
    for e in entities.head(80).to_dict("records"):
        i = e["entity_id"]
        obj: dict = {"id": f"Q{1000 + i}", "sitelinks": {}, "labels": {},
                     "aliases": {}, "descriptions": {}}
        if i % 4 != 3:
            obj["sitelinks"]["enwiki"] = {"title": e["title"]}
        if i % 5 == 0:
            obj["sitelinks"]["enwikiquote"] = {"title": e["title"] + " (quotes)"}
        if i % 3 != 2:
            obj["labels"]["en"] = {"value": e["title"].lower()}
        if i % 2 == 0:
            obj["aliases"]["en"] = [{"value": a} for a in e["aliases"]]
        if i % 3 != 1:
            obj["descriptions"]["en"] = {"value": e["text"]}
        rows.append(obj)
    return rows


def _write_wikidata_fixture(out_dir: str, entities: pd.DataFrame) -> tuple[str, str]:
    """bz2 dump in the reference's on-disk shape ('[', rows with trailing
    commas, ']') for the Spark scan, plus a clean JSONL copy of the same
    rows for the DuckDB oracle (which verifies semantics, not the codec)."""
    import bz2 as _bz2
    import json as _json

    rows = make_wikidata_rows(entities)
    bz2_path = os.path.join(out_dir, "wikidata.jsonl.bz2")
    plain_path = os.path.join(out_dir, "wikidata_plain.jsonl")
    if not os.path.exists(bz2_path):
        with _bz2.open(bz2_path, "wt") as f:
            f.write("[\n")
            for r in rows:
                f.write(_json.dumps(r) + ",\n")
            f.write("]\n")
    if not os.path.exists(plain_path):
        with open(plain_path, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
    return bz2_path, plain_path


def _write_conll_csv_fixture(out_dir: str, entities: pd.DataFrame) -> str:
    """AIDA-style TSV rows (variable arity, candidate lists 'id,prior,name'
    where names may contain commas/quotes/spaces, EMPTYCAND rows, both gold
    marker variants) — the parse branches of dataset.py:18-69."""
    path = os.path.join(out_dir, "conll.tsv")
    if os.path.exists(path):
        return path
    ents = entities.head(40).to_dict("records")
    lines = []
    for i in range(60):
        e = ents[i % len(ents)]
        doc = f"doc{i % 7}"
        mention = e["title"].split()[0]
        lctx, rctx = f"left ctx {i}", f"right ctx {i}"
        if i % 5 == 4:
            cand_cols = ["EMPTYCAND"]
            gold = f"-1,{e['entity_id']},{e['title']}"
        else:
            n_c = 1 + _h("nc", i) % 3
            cand_cols = []
            for c in range(n_c):
                ce = ents[(i + c) % len(ents)]
                name = ce["title"]
                if c == 1:
                    name = f'{name}, "the {c}nd"'  # comma + quote in name
                cand_cols.append(f"{ce['entity_id']},{0.5 + c / 10:.2f},{name}")
            gold = f"{i},x,{e['entity_id']},{e['title']}"
        lines.append(
            "\t".join([doc, f"part{i % 3}", mention, lctx, rctx, "CANDIDATES",
                       *cand_cols, gold])
        )
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path


def _write_wiki_extractor_fixture(out_dir: str, entities: pd.DataFrame) -> str:
    """Wiki-extractor-shaped text: <doc id=.. title=..> blocks whose body
    carries <a href> anchors (percent-encoded) pointing at other entities."""
    from urllib.parse import quote

    path = os.path.join(out_dir, "wiki_extractor.txt")
    if os.path.exists(path):
        return path
    ents = entities.head(50).to_dict("records")
    blocks = []
    for i, e in enumerate(ents):
        tgt = ents[(i * 7 + 3) % len(ents)]
        tgt2 = ents[(i * 11 + 5) % len(ents)]
        body = (
            f"{e['title']}\n"
            f"{e['title']} links to "
            f'<a href="{quote(tgt["title"])}">{tgt["title"].split()[0]}</a> and '
            f'<a href="{quote(tgt2["title"])}">{tgt2["title"].split()[0]}</a>.\n'
        )
        blocks.append(
            f'<doc id="{e["wikipedia_id"]}" url="https://x/?curid={e["wikipedia_id"]}" '
            f'title="{e["title"]}">\n{body}</doc>\n'
        )
    with open(path, "w") as f:
        f.write("".join(blocks))
    return path


def _write_mentions_jsonl_fixture(out_dir: str, mentions: pd.DataFrame) -> str:
    """Mention records in the reference's test-set shape (main_dense.py
    __load_test), with some labels that do NOT resolve in the catalogue."""
    import json as _json

    path = os.path.join(out_dir, "mentions.jsonl")
    if os.path.exists(path):
        return path
    with open(path, "w") as f:
        for i, r in enumerate(mentions.head(300).itertuples(index=False)):
            label = r.label_title if i % 7 != 6 else f"unresolvable {i}"
            f.write(
                _json.dumps(
                    {
                        "id": r.mention_id,
                        "context_left": r.context_left,
                        "mention": r.mention,
                        "context_right": r.context_right,
                        "label": label,
                    }
                )
                + "\n"
            )
    return path


def _write_conll_stream_fixture(out_dir: str, entities: pd.DataFrame) -> str:
    """CoNLL token/tag stream: -DOCSTART- markers, B/I runs, orphan I tags
    (continuation after O — the run-start edge case), blank separators."""
    path = os.path.join(out_dir, "conll_stream.txt")
    if os.path.exists(path):
        return path
    ents = entities.head(20).to_dict("records")
    lines = []
    for d in range(10):
        lines.append(f"-DOCSTART- ({d})")
        e = ents[d % len(ents)]
        words = e["title"].split()
        for w in words[:2]:
            lines.append(f"{w} {'B' if w == words[0] else 'I'}")
        lines.append("said O")
        if d % 3 == 0:
            lines.append(f"{words[2]} I")  # orphan I after O → new run
        lines.append("that O")
        if d % 2 == 0:
            lines.append(f"{words[-1]} B")
        lines.append("")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path


def write_fixtures(out_dir: str) -> dict[str, str]:
    """Write all fixture parquet files (500 entities, 2000 documents);
    returns {table: path}. Idempotent."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {t: os.path.join(out_dir, f"{t}.parquet") for t in
             ("entities", "documents", "mentions", "gold_pairs", "questions",
              "embeddings_fx", "sentences_fx", "kb_raw")}
    paths["wikidata_bz2"] = os.path.join(out_dir, "wikidata.jsonl.bz2")
    paths["wikidata_plain"] = os.path.join(out_dir, "wikidata_plain.jsonl")
    paths["conll_tsv"] = os.path.join(out_dir, "conll.tsv")
    paths["wiki_extractor"] = os.path.join(out_dir, "wiki_extractor.txt")
    paths["mentions_jsonl"] = os.path.join(out_dir, "mentions.jsonl")
    paths["conll_stream"] = os.path.join(out_dir, "conll_stream.txt")
    if all(os.path.exists(p) for p in paths.values()):
        return paths
    ents = make_entities()
    docs, ments = make_documents_and_mentions(ents)
    gold = make_gold_pairs(ments)
    questions = make_questions(ents)
    ents.to_parquet(paths["entities"], index=False)
    docs.to_parquet(paths["documents"], index=False)
    ments.to_parquet(paths["mentions"], index=False)
    gold.to_parquet(paths["gold_pairs"], index=False)
    questions.to_parquet(paths["questions"], index=False)
    make_embeddings_fx().to_parquet(paths["embeddings_fx"], index=False)
    make_sentences_fx().to_parquet(paths["sentences_fx"], index=False)
    make_kb_raw(ents).to_parquet(paths["kb_raw"], index=False)
    _write_wikidata_fixture(out_dir, ents)
    _write_conll_csv_fixture(out_dir, ents)
    _write_wiki_extractor_fixture(out_dir, ents)
    _write_mentions_jsonl_fixture(out_dir, ments)
    _write_conll_stream_fixture(out_dir, ents)
    return paths
