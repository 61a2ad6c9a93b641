"""Text analysis operators for LLM-data pipelines (SURVEY.md §2.11):
language id, quality scoring, token counting, fingerprinting.

All pure column expressions — scale is one map-side pass over the
corpus; the only shuffles are caller-chosen aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ena_database_build_spark.operators.dedup import (
    normalized_text,
    tokens,
)

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# (A production lang-id would plug a real model in via pandas_udf; the
# operator contract — argmax over per-language evidence scores — stays
# identical.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en", "los"],
    "de": ["der", "die", "und", "das", "nicht", "ist", "ein"],
    "fr": ["le", "la", "et", "les", "des", "une", "est"],
    "zh": ["的", "是", "了", "在", "我", "有", "他"],
}

# BPE-ish token pattern: word pieces or single non-space symbols.
TOKEN_PATTERN = r"[A-Za-z]+|\d+|[^\sA-Za-z\d]"


def lang_score_array(text: Column) -> Column:
    """All per-language scores as ARRAY<INT> (language-code order) from
    ONE tokenization and ONE fold over the tokens.

    The naive form — ``size(filter(tokens(text), ...))`` per language —
    re-runs the tokenization once per language because Catalyst performs
    no common-subexpression elimination across expressions that contain
    lambda variables (same trap as dedup.shingle_rows documents).  One
    ``F.aggregate`` whose *input* is the token array evaluates the split
    once and scores every language per token.
    """
    langs = sorted(LANG_MARKERS)
    zero = F.array(*[F.lit(0) for _ in langs])

    def step(acc: Column, tok: Column) -> Column:
        return F.array(
            *[
                F.element_at(acc, i + 1)
                + F.when(tok.isin(*LANG_MARKERS[lang]), 1).otherwise(0)
                for i, lang in enumerate(langs)
            ]
        )

    return F.aggregate(tokens(text), zero, step)


def detect_lang(text: Column) -> Column:
    """Argmax language (ties broken by language code order); 'und' when
    no marker hits at all.  Single tokenization pass (see
    :func:`lang_score_array`).

    Measured note: although HOF lambda folds run interpreted (outside
    whole-stage codegen), this one-pass per-document fold beats the
    "codegen-friendly" explode + 5-conditional-sums reshaping by ~2x at
    sf1 — the ~150x row explosion through the hash aggregate costs more
    than interpreting a tight fold whose accumulator is a 5-int array.
    Explode+agg wins when the per-element work is heavy (md5 in
    simhash/minhash), not when it's a handful of string compares.
    """
    scores = lang_score_array(text)
    langs_lit = F.array(*[F.lit(lang) for lang in sorted(LANG_MARKERS)])
    pairs = F.zip_with(
        scores,
        langs_lit,
        lambda score, lang: F.struct(score.alias("score"), lang.alias("lang")),
    )
    best = F.array_max(F.filter(pairs, lambda p: p["score"] > 0))
    return F.coalesce(best["lang"], F.lit("und"))


def regexp_token_count(text: Column) -> Column:
    """Token count under the BPE-ish regex."""
    return F.size(F.regexp_extract_all(text, F.lit(f"({TOKEN_PATTERN})"), 1))


def whitespace_token_count(text: Column) -> Column:
    return F.size(tokens(text))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\w\s]", "")
    return (F.length(text) - F.length(stripped)) / F.greatest(
        F.length(text), F.lit(1)
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length sweet-spot, low punct
    density, reasonable stopword rate, sane word lengths.

    The three token features (stopword hits, summed token length,
    token count) come from ONE fold over ONE ``tokens(text)`` — a
    naive composition of one stopword-ratio and one mean-word-length
    expression re-tokenizes per feature because Catalyst does not CSE across
    lambda-bearing expressions (same trap as :func:`lang_score_array`;
    measured 2.24 s -> 1.0 s on the sf1 quality_gate pass).

    The WHOLE composite is assembled inside the fold's ``finish``
    lambda, where the accumulator is a bound lambda VARIABLE: every
    ``acc[i]`` read is an O(1) access to the already-evaluated triple.
    The r12 form computed the fold once but then referenced the result
    array six times from the outer projection — and HOF expressions
    run interpreted with no common-subexpression elimination, so each
    reference re-ran the whole O(tokens) fold (the corpus_curation
    filter+aggregate plan carried 6 inlined folds per evaluation;
    measured r13: corpus_curation 0.81 -> 0.53 s at sf0.1).  The
    arithmetic graph — term order, association, rounding — is
    unchanged, so scores are bit-identical.

    NULL text is scored explicitly (r13, caught by the nulls sweep
    axis): ``aggregate`` over a NULL array short-circuits to NULL
    WITHOUT running ``finish``, but the pre-fold composition — and the
    DuckDB oracle, whose ``least``/``greatest`` skip NULL operands the
    same way Spark's do — evaluates the NULL-text terms to constants:
    length_term = least(NULL, 1.0) = 1.0, punct_term = 1.0 -
    least(NULL, 1.0) = 0.0, sw_term = 1.0 - least(NULL, 1.0) = 0.0,
    mwl_term = otherwise-branch 0.5 ⇒ (1.0+0.0+0.0+0.5)/4 = 0.375
    exactly."""
    sw = LANG_MARKERS["en"]
    n = F.length(text)
    length_term = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))

    def finish(acc: Column) -> Column:
        n_toks = F.greatest(acc[2], F.lit(1))
        sw_ratio = acc[0] / n_toks
        mwl = acc[1] / n_toks
        sw_term = F.lit(1.0) - F.least(
            F.abs(sw_ratio - F.lit(0.4)) * 2, F.lit(1.0)
        )
        mwl_term = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(
            F.lit(0.5)
        )
        return (length_term + punct_term + sw_term + mwl_term) / 4

    return F.when(
        text.isNull(), F.lit(0.375)  # derivation in the docstring
    ).otherwise(
        F.aggregate(
            tokens(text),
            F.array(F.lit(0), F.lit(0), F.lit(0)),
            lambda acc, tok: F.array(
                acc[0] + F.when(tok.isin(*sw), 1).otherwise(0),
                acc[1] + F.length(tok),
                acc[2] + 1,
            ),
            finish,
        )
    )


# polynomial rolling-hash parameters (shared with the DuckDB oracle)
RH_BASE = 257
RH_MOD = 1_000_000_007
RH_K = 8
RH_POWERS = [pow(RH_BASE, j, RH_MOD) for j in range(RH_K)]


def _kgram_hash_over_codes(codes) -> Column:
    """k-gram polynomial hash array over an ascii-codes array column,
    built from ``RH_K`` SHIFTED SLICES combined pairwise with
    ``zip_with`` — hash_i = sum_j codes[i+j] * BASE^(k-1-j) mod M.

    Why slices, not positional ``get``: an indexed form
    (``transform(sequence(..), i -> get(codes, i+j)..)``) references
    ``codes`` inside the lambda, and once the optimizer inlines the
    codes construction into those references it re-evaluates an
    O(len) expression PER POSITION — O(k*len^2) per doc (measured:
    sf0.1 rolling_fingerprints went from ~2 s to >100 s).  Each slice
    here references ``codes`` exactly once OUTSIDE any lambda, so
    even fully inlined the plan evaluates k O(len) slices per doc —
    O(k*len), the oracle's own envelope.

    Docs shorter than ``RH_K`` chars yield an EMPTY array (callers
    drop them — boilerplate_kgrams by exploding nothing,
    rolling_fingerprints by its size>0 filter); NULL text propagates NULL the same way.
    Sum magnitude: 8 terms of (codepoint <= 0x10FFFF) * (power < 1e9)
    < 1e16, well inside int64 before the final mod."""
    m = F.greatest(F.size(codes) - (RH_K - 1), F.lit(0))
    acc = F.transform(
        F.slice(codes, 1, m),
        lambda c: c * F.lit(RH_POWERS[RH_K - 1]),
    )
    for j in range(1, RH_K):
        p = F.lit(RH_POWERS[RH_K - 1 - j])
        acc = F.zip_with(
            acc, F.slice(codes, j + 1, m), lambda a, c: a + c * p
        )
    return F.transform(acc, lambda x: x % F.lit(RH_MOD))


def _with_kgram_codes(df, text_col: str, id_col: str):
    """(id, _codes) projection: normalized text -> one ascii-codes
    long array per doc, materialized ONCE so every downstream k-gram
    read is an O(1) array access (``substr``-style access would be
    O(pos) per read on UTF8 strings — quadratic per doc)."""
    nt = normalized_text(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.transform(
            F.split(nt, ""), lambda c: F.ascii(c).cast("long")
        ).alias("_codes"),
    )


def rolling_fingerprints(df, text_col: str = "text", id_col: str = "doc_id"):
    """Winnowing-style document fingerprint from polynomial rolling
    hashes of character k-grams: per doc, the minimum k-gram hash and
    the distinct k-gram count.

    ZERO-shuffle form: the per-doc min / distinct-count fold over the
    hash array (``array_min`` / ``array_distinct``) replaces the
    explode + groupBy(doc) of the r11 shape — the whole query is one
    projection over the scan.  Docs with fewer than ``RH_K``
    normalized chars (or NULL text) have no k-grams and are absent
    from the output, exactly as the exploded form's empty groups
    were.

    Measured curve (r12, tools/bench_bars.py 1/10/30/100 replicas of
    sf0.1, i.e. up to ~sf10): Spark 1.01 / 1.09 / 1.23 / 6.39 s vs
    oracle 2.01 / 2.26 / 2.55 / 9.83 s — ratio 0.50/0.48/0.48/0.65,
    Spark ahead at every point.  (The r11 char-explode + window form
    was 6.0x at sf1.)"""
    staged = _with_kgram_codes(df, text_col, id_col)
    # distinct computed ONCE: explode(array(..)) is a one-element
    # Generate BARRIER — the optimizer inlines a multiply-referenced
    # projection alias into each reference, and higher-order functions
    # are codegen-fallback (no common-subexpression elimination), so
    # without the barrier the 3 references below re-ran the whole
    # hash pipeline 3x (measured 4.6 s vs 1.5 s at sf0.1).  Filters
    # on generator output cannot be pushed below the Generate, so
    # ``_hd`` is a real attribute here.  (min over distinct == min
    # over all.)
    return (
        staged.select(
            F.col(id_col),
            F.explode(
                F.array(
                    F.array_distinct(
                        _kgram_hash_over_codes(F.col("_codes"))
                    )
                )
            ).alias("_hd"),
        )
        .where(F.size("_hd") > 0)
        .select(
            F.col(id_col),
            F.array_min("_hd").alias("min_kgram_hash"),
            F.size("_hd").alias("n_kgrams"),
        )
    )


def boilerplate_kgrams(
    df, min_docs: int = 5, text_col: str = "text", id_col: str = "doc_id"
):
    """Character-k-gram hashes shared by at least ``min_docs`` distinct
    documents — the shared-boilerplate index a C4/CCNet-style template
    stripper subtracts from every document.

    Precondition: ``id_col`` must be a unique, non-NULL key — the
    count below is over deduped-per-ROW hashes, so a duplicated or
    NULL doc_id would inflate ``n_docs`` relative to a
    count(DISTINCT doc_id) oracle.  Under that invariant, the per-doc
    ``array_distinct`` BEFORE the explode means each (doc, hash) pair
    reaches the aggregate at most once and the distinct-doc count
    degrades to a plain ``count(*)`` — no Expand / distinct-aggregate
    machinery.  One shuffle keyed on the hash,
    map-side partial aggregation, no joins; the output is only the
    shared tail of the hash distribution, tiny next to the corpus.

    Measured curve (r12, tools/bench_bars.py 1/10/30/100 replicas of
    sf0.1, i.e. up to ~sf10): Spark 1.36 / 1.40 / 1.72 / 7.32 s vs
    oracle 2.04 / 2.16 / 2.79 / 9.18 s — ratio 0.67/0.65/0.62/0.80,
    Spark ahead at every point.  (The r11 form was 4.3x at sf1.)
    """
    staged = _with_kgram_codes(df, text_col, id_col)
    dedup = staged.select(
        F.explode(
            F.array_distinct(_kgram_hash_over_codes(F.col("_codes")))
        ).alias("kgram_hash")
    )
    return (
        dedup.groupBy("kgram_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def script_composition(text: Column, ndigits: int = 6) -> dict[str, Column]:
    """Character-class composition of a document — the script/charset
    signal corpus filters use next to language id (e.g. drop docs
    whose letter share collapses, or whose 'other' share spikes —
    mojibake, binary spill, markup residue).

    Returns ratio expressions over the NON-SPACE characters:
    ``letter_ratio``, ``digit_ratio``, ``punct_ratio``,
    ``other_ratio``.  Each is one regexp_count over the raw text —
    pure codegen expressions, no tokenization, no shuffle; ratios are
    exact-count divisions rounded once, so any engine reproduces them
    digit-for-digit."""
    non_space = F.length(F.regexp_replace(text, r"\s", ""))
    letters = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    punct = F.length(
        F.regexp_replace(text, r"""[^.,;:!?'"()\[\]{}-]""", "")
    )
    other = non_space - letters - digits - punct

    def ratio(n: Column) -> Column:
        return F.round(
            F.try_divide(n.cast("double"), non_space), ndigits
        )

    return {
        "letter_ratio": ratio(letters),
        "digit_ratio": ratio(digits),
        "punct_ratio": ratio(punct),
        "other_ratio": ratio(other),
    }
