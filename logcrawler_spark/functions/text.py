"""Text-analysis function pack (training-data-pipeline ops).

All pure Column expressions — language ID, quality scoring, token counting,
and document fingerprinting run JVM-side over the ``documents`` table with
no Python in the loop, so they compose with scans/filters under
WholeStageCodegen and survive a 100x scale-up unchanged.

Reference analog for the scalar style: the C1-C13 scalar pack
(SURVEY.md §2.8) — split/lower/contains/regexp pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword inventories per language (top function words).
# A production system swaps in real n-gram models; the *plan shape* — a
# score per language from token-set intersections, argmax — is the same.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "pour"],
    "es": ["el", "la", "de", "los", "es", "un", "para", "por"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (lowercased words, empties dropped)."""
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda x: x != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish subword proxy: word runs + each punctuation char as separate
    tokens — the cheap length estimator a training pipeline uses before
    exact tokenization. RE2-compatible pattern (no lookaround) so DuckDB
    oracles can reproduce it."""
    # idx=0 -> whole-match group (the pattern has no capture groups)
    return F.size(F.regexp_extract_all(text, F.lit(r"\w+|[^\w\s]"), 0))


def with_tokens(df, text_col: str = "text", out_col: str = "toks"):
    """Attach the token array computed ONCE per row, behind a Generate
    barrier: ``explode(array(tokens(text)))`` emits exactly one row per
    input row, and CollapseProject cannot inline expressions across a
    Generate node — so every downstream consumer references the computed
    ATTRIBUTE instead of re-running the regex split (the derived-column
    fan-out rule, CLAUDE.md). The naive composition evaluates
    ``tokens(text)`` ~17x per row across lang_id + quality_score +
    token_count; this form evaluates it once (measured 5x faster on the
    curation pipeline's scoring stage)."""
    return df.withColumn(out_col, F.explode(F.array(tokens(F.col(text_col)))))


def stopword_ratio_from(toks: Column, lang: str = "en") -> Column:
    """Stopword ratio over a PRECOMPUTED token array (see
    :func:`with_tokens`)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, n_sw / F.size(toks)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    return stopword_ratio_from(tokens(text), lang)


def lang_id_from(toks: Column) -> Column:
    """argmax over language scores from a precomputed token array; ties ->
    lexicographically first lang; all-zero -> 'und' (undetermined).

    Kept as four ``filter``+``size`` passes on purpose: the r6 A/B
    (interleaved min-of-4 at sf1.0) measured this at 3.5s vs 4.2s for an
    int-accumulator ``aggregate`` and 16.4s for a struct-accumulator
    single-pass ``aggregate`` — higher-order struct accumulation defeats
    codegen, so the "one traversal" rewrite is a pessimization here.
    """
    scored = F.array(
        *[
            F.struct(
                (-stopword_ratio_from(toks, lang)).alias("negscore"),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(STOPWORDS)
        ]
    )
    # array_sort over structs orders by fields left-to-right, so sorting by
    # (-score, lang) and taking element 1 = highest score, ties -> first lang
    best = F.element_at(F.array_sort(scored), 1)
    return F.when(best["negscore"] >= 0.0, F.lit("und")).otherwise(best["lang"])


def lang_id(text: Column) -> Column:
    """argmax over language scores; ties -> lexicographically first lang;
    all-zero -> 'und' (undetermined)."""
    return lang_id_from(tokens(text))


def punct_ratio(text: Column) -> Column:
    # count of punctuation chars == length minus length with those chars
    # deleted; translate is a plain char-map scan (no regex engine, no
    # replaced-string regex state) over the same literal char set as the
    # previous [^.,;:!?'\"()-] regexp_replace — identical integer count
    n_punct = F.length(text) - F.length(F.translate(text, ".,;:!?'\"()-", ""))
    return F.when(
        F.length(text) > 0, n_punct / F.length(text)
    ).otherwise(F.lit(0.0))


def quality_score_from(
    toks: Column, text: Column, lang: str = "en"
) -> Column:
    """Composite quality from a precomputed token array (punct ratio still
    reads the raw text — it is character-level)."""
    n_tok = F.size(toks)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(0.5)).otherwise(
        F.lit(0.0)
    )
    sw = F.least(stopword_ratio_from(toks, lang) * 2.0, F.lit(0.4))
    punct_penalty = F.least(punct_ratio(text) * 2.0, F.lit(0.3))
    return F.round(
        F.greatest(len_ok + sw - punct_penalty, F.lit(0.0)), 6
    )


def quality_score(text: Column, lang: str = "en") -> Column:
    """Composite quality in [0,1]: length band + stopword presence - punct
    excess. Deterministic closed-form; production swaps weights, plan
    unchanged."""
    return quality_score_from(tokens(text), text, lang)


def fingerprint(text: Column) -> Column:
    """Normalized-document fingerprint: md5 of lowercased,
    whitespace-collapsed text (rolling-hash analog; md5 chosen for
    cross-engine oracle reproducibility)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(norm)
