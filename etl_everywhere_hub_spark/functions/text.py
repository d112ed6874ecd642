"""Text-analysis column functions (SURVEY.md §2.B LLM-pipeline ops).

All built from JVM-side pyspark.sql.functions — no Python UDFs — so
they run inside whole-stage codegen and scale to 100 TB document
corpora. Each has an exact ANSI-SQL twin used by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A BPE-ish tokenizer regex kept deliberately inside the common
# Java-regex ∩ RE2 dialect so Spark and the oracle agree: runs of
# letters, runs of digits, or a single other non-space symbol.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# Tiny per-language stopword lists for the heuristic language
# identifier. The fixture corpus shares one vocabulary across langs,
# so this is exercised as a deterministic scoring function (the
# mechanics of n-gram/stopword lang-ID), not a benchmark of accuracy.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "y", "es", "los"],
    "zh": ["de", "le", "shi", "he", "zai"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens. The fixture corpus is single-space separated."""
    return F.split(text, " ")


def word_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def bpe_ish_tokens(text: Column) -> Column:
    """Regex tokens approximating a BPE pre-tokenizer's word splits."""
    return F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)


def token_count(text: Column) -> Column:
    return F.size(bpe_ish_tokens(text)).cast("bigint")


def shingles_of(toks: Column | str, k: int) -> Column:
    """k-word shingles from an already-tokenized array<string> column.

    Pass a *materialized* column (not an inline split(...) expression):
    a lambda closing over an expression makes Catalyst re-evaluate it
    per element — O(words²) per doc (see operators/dedup.doc_shingles).
    """
    toks = F.col(toks) if isinstance(toks, str) else toks
    n = F.size(toks)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )


def shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles as an array<string> (order-preserving, with dups).

    Pure higher-order functions: transform over an index sequence,
    concat_ws over a slice — no explode until the caller wants rows.
    """
    return shingles_of(tokens(text), k)


def punct_ratio(text: Column) -> Column:
    """(chars that are not alnum/space) / chars — a quality signal."""
    stripped = F.regexp_replace(text, "[A-Za-z0-9 ]", "")
    return F.length(stripped) / F.length(text)


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    stop = stopwords or LANG_MARKERS["en"]
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stop)))
    return hits / F.size(toks)


def lang_scores(text: Column) -> list[tuple[str, Column]]:
    toks = tokens(text)
    out = []
    for lang, markers in LANG_MARKERS.items():
        score = F.size(F.filter(toks, lambda t: t.isin(*markers)))
        out.append((lang, score))
    return out


def lang_id(text: Column) -> Column:
    """argmax over per-language marker-token counts; ties → lexicographic
    smallest language code (deterministic)."""
    scored = lang_scores(text)
    # Build a greatest-score then first-matching-lang cascade. Languages
    # are evaluated in sorted order so the tie-break is lexicographic.
    ordered = sorted(scored, key=lambda kv: kv[0])
    best = F.greatest(*[s for _, s in ordered]) if len(ordered) > 1 else ordered[0][1]
    expr = F.lit(None).cast("string")
    for lang, score in reversed(ordered):
        expr = F.when(score == best, F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.

    Engine-portable (md5 hex matches everywhere); the normalization is
    the useful part — trivially different copies collide.
    """
    normalized = F.regexp_replace(F.lower(F.trim(text)), " +", " ")
    return F.md5(normalized)


def gram_hashes(toks: Column | str, k: int = 3) -> Column:
    """Portable md5_long hash of every k-token gram, in position order
    (array<long>, empty when the doc has < k tokens): md5_long mapped
    over shingles_of, which owns the window arithmetic and the n<k
    empty guard. Pass a MATERIALIZED column (see shingles_of's
    lambda-capture warning)."""
    from etl_everywhere_hub_spark.functions.hashing import md5_long

    return F.transform(shingles_of(toks, k), md5_long)


def winnow_positions(h: Column | str, w: int = 4) -> Column:
    """Winnowing selection (Schleimer/Wilkerson/Aiken, MOSS): slide a
    window of ``w`` consecutive gram hashes, keep the RIGHTMOST
    MINIMAL hash per window, dedupe positions. Returns the distinct
    selected 1-based positions into ``h`` (array<long>, selection
    density ~2/(w+1)). Guarantee: two docs sharing >= w+k-1
    consecutive tokens share at least one selected hash. The
    left-fold argmin with <= implements the rightmost tiebreak; all
    higher-order functions over a materialized column — zero
    shuffles. Docs with fewer than w hashes yield an empty selection
    (winnow the whole doc with a smaller w upstream if needed)."""
    h = F.col(h) if isinstance(h, str) else h
    big = F.lit(1 << 62).cast("long")
    sel = F.transform(
        F.sequence(F.lit(1), F.size(h) - (w - 1)),
        lambda p: F.aggregate(
            F.sequence(p, p + (w - 1)),
            F.struct(F.lit(-1).cast("long").alias("pos"), big.alias("hv")),
            lambda acc, j: F.when(
                F.element_at(h, j.cast("int")) <= acc["hv"],
                F.struct(
                    j.cast("long").alias("pos"),
                    F.element_at(h, j.cast("int")).alias("hv"),
                ),
            ).otherwise(acc),
        )["pos"],
    )
    return F.when(
        F.size(h) < w, F.array().cast("array<bigint>")
    ).otherwise(F.array_distinct(sel))
