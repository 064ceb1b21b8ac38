"""KB-ingestion filters: the document-quality gate the reference applies
before indexing its entity catalogue
(/root/reference/blink/candidate_retrieval/data_ingestion.py:81-155):

- drop entities with fewer than ``MIN_TOKENS`` intro tokens;
- drop disambiguation pages — 'disambiguation'/'Disambiguation' anywhere in
  the title, or 'disambiguation page'/'Disambiguation page' in the wikidata
  description (data_ingestion.py:118-155);
- strip aliases that are pure emoji (data_ingestion.py:81-90, the
  ``alias not in emoji.UNICODE_EMOJI`` guard).

Cap-and-report discipline: nothing is silently dropped — the companion
counters frame classifies every input row (short is checked before
disambiguation, mirroring the reference's sequential filters), and kept rows
carry how many aliases the emoji strip removed.

Everything is a single codegen'd column expression — no UDFs, no shuffle
beyond the counters' one small aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the reference's document-length gate
MIN_TOKENS = 5

# pure-emoji alias detector: the common emoji planes. The reference tests
# dict membership in emoji.UNICODE_EMOJI; a codepoint-class regex is the
# engine-portable equivalent (same expression runs in DuckDB's RE2).
EMOJI_ALIAS_RE = r"^[\x{1F000}-\x{1FAFF}\x{2600}-\x{27BF}\x{2B00}-\x{2BFF}]+$"


def _is_disambiguation() -> F.Column:
    # NULL-safe: coalesce to '' so a missing title/description classifies the
    # row identically in the counters when-chain (where NULL would fall
    # through to 'kept') and the kept-path filter (where ~NULL would DROP it)
    # — otherwise the cap-and-report invariant sum(counters.kept) ==
    # kept.count() breaks on real KB rows with absent descriptions.
    title = F.coalesce(F.col("title"), F.lit(""))
    desc = F.coalesce(F.col("description"), F.lit(""))
    return (
        title.contains("disambiguation")
        | title.contains("Disambiguation")
        | desc.contains("disambiguation page")
        | desc.contains("Disambiguation page")
    )


def strip_emoji_aliases(aliases: F.Column) -> F.Column:
    return F.filter(aliases, lambda a: ~a.rlike(EMOJI_ALIAS_RE))


def kb_ingestion_filter(kb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(kept, counters) over a raw KB table with columns
    (title, description, num_tokens, aliases, ...).

    kept = input rows passing both gates (at least MIN_TOKENS tokens, not a
    disambiguation page), with ``aliases`` emoji-stripped
    and ``n_aliases_dropped`` recording the strip. counters = one row per
    drop class (kept / dropped_short / dropped_disambiguation) with counts.
    """
    counters = kb.withColumn(
        "_class",
        F.when(F.col("num_tokens") < MIN_TOKENS, F.lit("dropped_short"))
        .when(_is_disambiguation(), F.lit("dropped_disambiguation"))
        .otherwise(F.lit("kept")),
    ).groupBy(F.col("_class").alias("drop_class")).agg(
        F.count(F.lit(1)).alias("n")
    )
    kept_aliases = strip_emoji_aliases(F.col("aliases"))
    # kept path uses plain conjunctive filters (not the when-chain above) so
    # the num_tokens comparison reaches the parquet scan as a pushed filter;
    # the when-chain exists only for the counters aggregate. The NOT-
    # disambiguation predicate is written as IsNull-OR-NotContains per field
    # (logically identical to ~_is_disambiguation() under its coalesce
    # null-safety) because IsNull/Not/StringContains compose into a PUSHABLE
    # source filter while NOT(contains(coalesce(...))) does not.
    keep_title = F.col("title").isNull() | (
        ~F.col("title").contains("disambiguation")
        & ~F.col("title").contains("Disambiguation")
    )
    keep_desc = F.col("description").isNull() | (
        ~F.col("description").contains("disambiguation page")
        & ~F.col("description").contains("Disambiguation page")
    )
    kept = (
        kb.filter(F.col("num_tokens") >= MIN_TOKENS)
        .filter(keep_title & keep_desc)
        .withColumn(
            "n_aliases_dropped",
            (F.size("aliases") - F.size(kept_aliases)).cast("long"),
        )
        .withColumn("aliases", kept_aliases)
    )
    return kept, counters
