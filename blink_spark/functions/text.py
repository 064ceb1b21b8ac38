"""Text functions as JVM Column expressions (no Python in the hot path).

Reference analogues: lowercasing everywhere (/root/reference/blink/
main_dense.py:199-203), token counting (/root/reference/blink/
candidate_retrieval/process_wiki_extractor_output_full.py:72), punctuation
strip (`rmpunc`, /root/reference/blink/candidate_retrieval/dataset.py:112).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small multilingual stopword lists for the heuristic language id / quality
# scorer. Deliberately tiny and deterministic — this is the n-gram-heuristic
# class of language ID, not a model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "mit", "für", "auf"],
    "fr": ["le", "la", "et", "les", "des", "de", "un", "une", "est", "dans"],
}


def normalize_text(col: Column | str) -> Column:
    """lowercase + collapse whitespace + trim (the canonical mention form)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"[\t\n\x0B\f\r ]+", " "))


def tokens(col: Column | str) -> Column:
    """Distinct, order-insensitive token set of the normalized text."""
    return F.array_distinct(F.split(normalize_text(col), " "))


def token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"[\t\n\x0B\f\r ]+"))


# BPE-style pretokenizer classes (the GPT-2 pattern's core, minus its
# lookahead/contraction clauses so the regex stays in RE2's subset and the
# classes are disjoint — alternation order can't differ between engines):
# a token is a maximal run of letters, of digits, or of non-space symbols.
# Whitespace is the EXPLICIT class [\t\n\x0B\f\r ], not \s: Java's \s
# includes vertical tab while RE2's does not, so \s would silently diverge
# between the Spark query and the DuckDB oracle on VT-bearing text.
BPE_PRETOKEN_RE = r"\p{L}+|\p{N}+|[^\t\n\x0B\f\r \p{L}\p{N}]+"


def bpe_pretokens(col: Column | str) -> Column:
    """BPE-ish pretokenization as array<string> (the subword-tokenizer-shaped
    count of the training-data brief — `What topic?!` → [What, topic, ?!],
    where whitespace splitting gives 2 tokens and hides the punctuation)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_PRETOKEN_RE), F.lit(0))


def bpe_token_count(col: Column | str) -> Column:
    return F.size(bpe_pretokens(col))


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct character n-grams of the normalized text (MinHash input).

    Pure SQL: explode index sequence + substring — stays in codegen.
    """
    norm = normalize_text(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1))),
            lambda i: norm.substr(i, F.lit(n)),
        )
    )


def word_ngrams(col: Column | str, n: int = 2) -> Column:
    """Distinct word n-grams of the normalized text (n-gram-Jaccard dedup
    input — word-level, vs the char shingles MinHash uses). Built by zipping
    shifted token slices — pure array expressions, no UDF."""
    toks = F.split(normalize_text(col), " ")
    if n == 1:
        return F.array_distinct(toks)
    size = F.size(toks)
    slices = [F.slice(toks, i + 1, F.greatest(size - (n - 1), F.lit(0))) for i in range(n)]
    grams = slices[0]
    for s in slices[1:]:
        grams = F.zip_with(grams, s, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(grams)


def quality_features(col: Column | str) -> dict[str, Column]:
    """Document-quality scoring features: length, punctuation ratio,
    stopword ratio, mean token length (training-data pipeline staple)."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    toks = F.split(normalize_text(c), " ")
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\t\n\x0B\f\r ]", ""))
    en = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), en))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
        "stopword_ratio": F.round(
            n_stop.cast("double") / F.greatest(F.size(F.array_distinct(toks)), F.lit(1)), 6
        ),
        "mean_token_len": F.round(
            (F.length(F.regexp_replace(c, r"[\t\n\x0B\f\r ]+", "")).cast("double"))
            / F.greatest(n_tokens, F.lit(1)),
            6,
        ),
    }


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword hits.

    Ties and no-hits resolve to 'und'. Pure SQL (array_intersect per lang).
    """
    toks = tokens(col)
    scores = [
        (lang, F.size(F.array_intersect(toks, F.array([F.lit(w) for w in words]))))
        for lang, words in sorted(STOPWORDS.items())
    ]
    best = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    # first language (sorted) wins ties deterministically
    for lang, s in reversed(scores):
        result = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(result)
    return result


def sentences(col: Column | str) -> Column:
    """Sentence split as an array<string> column (sentence-file scan /
    first-N-sentences family, /root/reference/blink/utils.py:15-30 and
    process_intro_sents.py:46-64). Terminator [.!?] + whitespace marks a
    boundary; pieces are trimmed, empties dropped. Marker-replace + split
    instead of lookbehind regex (RE2 engines have no lookbehind — keeps the
    construction portable to the SQL oracle)."""
    c = F.col(col) if isinstance(col, str) else col
    marked = F.regexp_replace(c, r"([.!?])[\t\n\x0B\f\r ]+", "$1\x01")
    parts = F.transform(F.split(marked, "\x01"), lambda s: F.trim(s))
    return F.filter(parts, lambda s: s != "")


def first_n_sentences(col: Column | str) -> Column:
    """First two sentences re-joined (the intro-sentence projection,
    /root/reference/blink/candidate_retrieval/process_intro_sents.py:61-64)."""
    return F.array_join(F.slice(sentences(col), 1, 2), " ")


def fingerprint(col: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token list (dedup key robust to token reordering)."""
    return F.md5(F.array_join(F.array_sort(tokens(col)), " "))


# Soundex consonant classes (Russell/Odell): the `to` string is shorter than
# `from`, so vowels + h/w/y are DELETED by translate() in both Spark and
# DuckDB/Postgres (chars in `from` beyond len(to) are removed).
_SOUNDEX_FROM = "bfpvcgjkqsxzdtlmnraeiouyhw"
_SOUNDEX_TO = "111122222222334556"


def phonetic_key(col: Column | str) -> Column:
    """Simplified Soundex key for phonetic blocking: first letter + the
    first 3 Soundex consonant-class digits of the remainder (runs of the
    same digit collapsed), zero-padded to 4. Catches misspellings that
    preserve pronunciation ("jonson"/"johnson") that token and LSH blocking
    both miss — the classic third blocking key in record linkage.

    Simplifications vs archival Soundex (documented, applied identically on
    both engines): run-collapse happens after vowel removal (so codes
    separated by a vowel also collapse), and the first letter's own class
    digit is not collapsed with the first tail digit. Every step is in the
    RE2/Java regex COMMON SUBSET — translate + per-digit `regexp_replace(x,
    'd{2,}', 'd')`, no backreferences (RE2 has none) — so a DuckDB oracle
    reproduces the key byte-for-byte.

    Reference analogue: the lexical candidate generators normalize surface
    forms before neighbourhood lookup (/root/reference/blink/
    candidate_retrieval/candidate_generators.py:60-117); the phonetic key is
    the same cheap canonicalization idea pushed one level further.
    """
    c = F.col(col) if isinstance(col, str) else col
    letters = F.regexp_replace(normalize_text(c), "[^a-z]", "")
    head = F.upper(F.substring(letters, 1, 1))
    code = F.translate(F.substring(letters, 2, 1 << 30), _SOUNDEX_FROM, _SOUNDEX_TO)
    for d in "123456":
        code = F.regexp_replace(code, f"{d}{{2,}}", d)
    return F.rpad(F.concat(head, F.substring(code, 1, 3)), 4, "0")
