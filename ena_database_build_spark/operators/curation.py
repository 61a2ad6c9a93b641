"""Corpus-curation quality operators for LLM training-data pipelines
(SURVEY.md §2.11 extension surface): Gopher-style repetition statistics,
PII redaction, TF-IDF term ranking, and train/eval decontamination.

Scale notes (the design constraint for every operator here):

* Repetition stats split per-document work into a map-side array pass
  (token counts — zero shuffle) and a relational bigram count keyed by
  ``(doc_id, bigram)`` — the same explode + partial-agg shape the dedup
  stack uses, so two giant documents never meet in one row buffer.
* PII redaction is a pure column expression — one map pass, no shuffle,
  whole-stage codegen.
* TF-IDF is two hash aggregations (term frequency, document frequency)
  plus a 1-row broadcast of the corpus size; ranking is one window over
  the per-document partitioning.
* Decontamination is an equi-join on shingle hash — ONE shuffle, never
  an all-pairs comparison, identical to the LSH candidate-pair shape
  (reference behavior parity: the reference has no curation layer; this
  extends its tabular pipeline per the §2.11 mandate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ena_database_build_spark.operators.dedup import shingle_rows, tokens
from ena_database_build_spark.operators.sampling import train_test_split

# ---------------------------------------------------------------------------
# Gopher-style repetition statistics
# ---------------------------------------------------------------------------


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals (Gopher/MassiveText-style
    quality filters, token-level):

    * ``n_tokens`` — whitespace token count
    * ``dup_token_frac`` — ``1 - distinct_tokens / n_tokens``
    * ``top_bigram_frac`` — fraction of tokens covered by occurrences
      of the single most frequent bigram
      (``least(1, 2 * max_count / n_tokens)`` — overlapping
      occurrences double-count positions, so the raw ratio is capped
      into [0, 1])

    Everything is ONE map pass over per-row token arrays — zero
    shuffles, zero joins.  Each intermediate array is materialized by
    its own projection before reuse (Catalyst performs no CSE across
    expressions, the trap documented in dedup.shingle_rows).  The
    bigram mode is ``array_sort`` + a longest-run fold; the interpreted
    HOF fold beats the relational explode + double hash-agg + join
    alternative (~2x at sf1) because the per-element work is a string
    compare, the same regime as textstats.detect_lang.  Per-row memory
    is O(doc tokens) — for corpora with pathological single documents
    use the relational :func:`~ena_database_build_spark.operators.dedup.
    shingle_rows` + hash-agg shape instead.
    """
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    # bigram i = tok[i] + ' ' + tok[i+1]; built by zipping the array
    # with its own tail.  NOTE: slice length must be a bounded column,
    # not a huge literal — Spark computes start+length as int32 and a
    # 2^31-1 literal overflows to an empty slice.
    base = base.select(
        F.col(id_col),
        F.size("_toks").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).alias("_n_distinct"),
        F.zip_with(
            "_toks",
            F.concat(
                F.slice("_toks", 2, F.size("_toks")),
                F.array(F.lit(None).cast("string")),
            ),
            lambda a, b: F.concat_ws(" ", a, b),
        ).alias("_bgraw"),
    )
    # drop the trailing (token, NULL) pseudo-bigram, except for 1-token
    # docs whose single partial shingle is kept (shingle_rows parity)
    base = base.select(
        F.col(id_col),
        "n_tokens",
        "_n_distinct",
        F.array_sort(
            F.slice("_bgraw", 1, F.greatest(F.col("n_tokens") - 1, F.lit(1)))
        ).alias("_bg"),
    )
    # longest equal-run in the sorted bigram array == max bigram count
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    max_bigram = F.aggregate("_bg", zero, step)["best"]
    return base.select(
        F.col(id_col),
        "n_tokens",
        F.round(
            F.lit(1.0)
            - F.col("_n_distinct")
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
            6,
        ).alias("dup_token_frac"),
        # least(1, ...): overlapping occurrences double-count positions
        # ('a a a' -> bigram 'a a' twice over 3 tokens = raw 1.33) and
        # a 1-token doc's kept partial shingle gives raw 2.0 — a gate
        # like `top_bigram_frac <= 0.9` needs a genuine [0,1] range
        F.round(
            F.least(
                F.lit(1.0),
                max_bigram * 2.0 / F.greatest(F.col("n_tokens"), F.lit(1)),
            ),
            6,
        ).alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Patterns restricted to syntax Java regex and RE2 (the DuckDB oracle)
# agree on: no lookaround, no backreferences.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
}
PII_REPLACEMENTS: dict[str, str] = {
    "email": "<EMAIL>",
    "ipv4": "<IP>",
    "phone": "<PHONE>",
}
# Redaction order matters: emails first (their domain cannot then feed
# the ipv4 pattern), phones last.
PII_ORDER = ["email", "ipv4", "phone"]


def pii_counts(text: Column) -> dict[str, Column]:
    """Match count per PII category — pure column expressions."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(f"({pat})"), 1))
        for kind, pat in PII_PATTERNS.items()
    }


def pii_redact(text: Column) -> Column:
    """Replace every PII span with its placeholder token.  Spark's
    ``regexp_replace`` is global by construction (parity with the
    oracle's ``regexp_replace(..., 'g')``)."""
    out = text
    for kind in PII_ORDER:
        out = F.regexp_replace(
            out, PII_PATTERNS[kind], PII_REPLACEMENTS[kind]
        )
    return out


# ---------------------------------------------------------------------------
# TF-IDF term ranking
# ---------------------------------------------------------------------------


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` terms per document with their tf, document frequency
    and tf-idf score (natural-log idf).

    Ranking is by ``(tf DESC, doc_freq ASC, term ASC)`` — integer keys
    only.  Ranking by the float score itself would make the selected
    rows depend on last-ulp ``ln`` differences between engines; with
    integer ranking the score is *reported* (checked to 6 dp) but never
    *compared*.

    Shape: two hash aggregations (term frequency per (doc, term);
    document frequency per term) + a 1-row corpus-size broadcast + one
    window over the per-document partitioning.  No step holds more than
    one document's terms in memory; doc_freq is a map-side-combinable
    count — the whole plan survives a 100x corpus.
    """
    tok_rows = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    tf = tok_rows.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # document frequency as an aggregate READING THE SAME tf exchange,
    # then a hint-free join back (same design + alignment trick as
    # bm25_top_terms, see its docstring: the round-3 window-over-term
    # form pinned each term's whole posting list to one un-splittable
    # task; a plain count(*) aggregate would desync from the main
    # branch under Catalyst pruning and re-run the explode — the
    # historical "join form is 2x slower at sf1" measurement was that
    # unaligned form)
    df_map = tf.groupBy("term").agg(
        F.sum(F.when(F.col("tf") >= 1, F.lit(1)))
        .cast("long")
        .alias("doc_freq")
    )
    with_df = tf.join(df_map, "term")
    # corpus size from the RAW table: a 1-row map-side count, no explode
    n_docs = df.select(F.countDistinct(id_col).alias("_n_docs"))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tf"), F.asc("doc_freq"), F.asc("term")
    )
    return (
        with_df.join(F.broadcast(n_docs))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            F.col(id_col),
            "term",
            "tf",
            "doc_freq",
            F.round(
                F.col("tf") * F.log(F.col("_n_docs") / F.col("doc_freq")), 6
            ).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram LM scoring
# ---------------------------------------------------------------------------


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean token log-probability under the corpus's own
    unigram language model — the cheap relational analog of the
    perplexity-based quality filters (CCNet/Gopher-style) that gate
    pre-training data: documents whose tokens are corpus-atypical score
    low.

    Model and scoring in one lineage: token counts (one explode + one
    hash agg), corpus total as a 1-row broadcast, per-document mean of
    ``ln(count / total)`` grouped back per document.  The per-token
    probability join carries the aggregated (doc, term, tf) relation —
    the same single-explode discipline as tf-idf/BM25; a real LM would
    swap the probability column for a pandas_udf model call, the
    surrounding plan is identical.

    Returns ``(doc_id, n_tokens, mean_logprob)``.
    """
    tok_rows = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    tf = tok_rows.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # corpus term counts: an aggregate reading the SAME tf exchange
    # (sum(tf) references the tf column intrinsically, so the subtree
    # stays aligned and resolves as ReusedExchange without the bm25
    # sum(when(...)) trick) + a hint-free join back — the former
    # window over the term partitioning pinned each term's whole
    # posting list to one un-splittable task (see bm25_top_terms)
    cc_map = tf.groupBy("term").agg(F.sum("tf").alias("corpus_count"))
    with_cc = tf.join(cc_map, "term")
    total = df.select(
        F.sum(
            F.size(F.filter(tokens(F.col(text_col)), lambda t: t != ""))
        ).cast("double").alias("_total")
    )  # map-side pass, 1 row -> broadcast
    return (
        with_cc.join(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                (
                    F.sum(
                        F.col("tf")
                        * F.log(F.col("corpus_count") / F.col("_total"))
                    )
                    / F.sum("tf")
                ),
                6,
            ).alias("mean_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 term ranking
# ---------------------------------------------------------------------------


def bm25_top_terms(
    df: DataFrame,
    k: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` terms per document by BM25 (Okapi weighting with
    document-length normalization).

    Same integer-deterministic ranking contract as
    :func:`tfidf_top_terms`: rows are selected by ``(tf DESC, doc_freq
    ASC, term ASC)``; the float BM25 score is reported, never compared,
    so engine ``ln`` ulp differences cannot change which rows appear.

    Shape: ONE tokenize/explode feeds term frequency; document
    frequency is a map-side-combinable aggregate of that SAME tf
    exchange (``count("tf")``, not ``count(*)`` — referencing the tf
    column keeps the aggregate subtree byte-identical to the main
    branch's, so it resolves as ReusedExchange instead of re-running
    the explode; the round-3 window-over-term form is gone because a
    window must co-locate a term's whole posting list in ONE task —
    un-splittable skew for stopword-like terms — while the join form
    is left to AQE, which broadcasts the vocabulary-sized df-map when
    it is small and skew-splits the shuffle join when it is not).
    Per-document length rides the ranking window's doc partitioning.
    Corpus size and average document length come from a MAP-SIDE pass
    over the raw table (``size(tokens(text))`` — no explode) reduced
    to a 1-row broadcast.  The corpus is scanned twice (once heavy,
    once map-side-cheap) and the tf relation never recomputes.
    """
    tok_rows = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    tf = tok_rows.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # sum(when(tf >= 1, 1)) IS count(*) here (tf >= 1 by construction)
    # but, unlike count(*)/count(tf), the predicate's reference to the
    # tf column survives Catalyst's aggregate pruning, keeping this
    # branch's plan byte-identical to the main branch's tf exchange —
    # the ReusedExchange alignment (count(tf) gets rewritten to
    # count(1) and pruned, re-running the explode; verified in the
    # executed plan, pinned by test_bm25_exchange_budget)
    df_map = tf.groupBy("term").agg(
        F.sum(F.when(F.col("tf") >= 1, F.lit(1)))
        .cast("long")
        .alias("doc_freq")
    )
    with_df = tf.join(df_map, "term")
    # dl shares the ranking window's doc partitioning — one exchange,
    # two window passes
    with_dl = with_df.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy(id_col))
    )
    # dl per doc == its non-empty token count, so corpus stats need only
    # a cheap array-length pass over the raw rows
    nonempty = F.size(
        F.filter(tokens(F.col(text_col)), lambda t: t != "")
    )
    corpus = (
        df.select(nonempty.alias("_dl"))
        .where(F.col("_dl") > 0)  # docs with no terms have no tf rows
        .agg(F.count("*").alias("_n_docs"), F.avg("_dl").alias("_avgdl"))
    )  # 1 row -> broadcast
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tf"), F.asc("doc_freq"), F.asc("term")
    )
    idf = F.log(
        (F.col("_n_docs") - F.col("doc_freq") + 0.5)
        / (F.col("doc_freq") + 0.5)
        + 1.0
    )
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("_avgdl"))
    )
    return (
        with_dl.join(F.broadcast(corpus))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            F.col(id_col),
            "term",
            "tf",
            "doc_freq",
            F.round(idf * norm, 6).alias("bm25"),
        )
    )


# ---------------------------------------------------------------------------
# Inverted index + positional phrase search
# ---------------------------------------------------------------------------


def position_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, term) rows — the posting-list source relation."""
    return df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
    ).where(F.col("term") != "")


def inverted_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Term -> posting-list index: document frequency, total term
    frequency, and the sorted posting list rendered as a
    '|'-joined string (the catalog's engine-portable array encoding).

    One explode + one hash aggregation per term; posting lists are
    built with ``sort_array(collect_list(...))`` so the result is
    partition-order independent.  A term's posting list lives on one
    reducer — the inherent inverted-index shape; a pathologically hot
    term is bounded by the corpus's document count, not its token
    count, because postings collapse to (doc, first_pos) granularity
    before the collect.
    """
    first_pos = (
        position_rows(df, text_col, id_col)
        .groupBy("term", id_col)
        .agg(F.min("pos").alias("first_pos"), F.count("*").alias("tf"))
    )
    return first_pos.groupBy("term").agg(
        F.count("*").alias("doc_freq"),
        F.sum("tf").cast("long").alias("total_tf"),
        F.array_join(
            F.sort_array(
                F.collect_list(
                    F.concat_ws(
                        ":",
                        F.col(id_col).cast("string"),
                        F.col("first_pos").cast("string"),
                    )
                )
            ),
            "|",
        ).alias("postings"),
    )


def phrase_search(
    df: DataFrame,
    phrase: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Documents containing ``phrase`` as consecutive tokens, with the
    match count — the positional posting-list join: occurrences of
    word i at position p survive only when word i+1 occurs at p+1.

    Each join step filters on a term literal first, so the joined
    relations are tiny slices of the position table (predicate reaches
    the scan), and every join key is ``(doc, pos)`` — co-partitioned
    equi-joins, no theta join anywhere.
    """
    pos = position_rows(df, text_col, id_col)
    acc = pos.where(F.col("term") == phrase[0]).select(
        F.col(id_col), F.col("pos").alias("_p0")
    )
    for i, word in enumerate(phrase[1:], start=1):
        nxt = pos.where(F.col("term") == word).select(
            F.col(id_col), (F.col("pos") - i).alias("_p0")
        )
        acc = acc.join(nxt, [id_col, "_p0"])
    return acc.groupBy(id_col).agg(F.count("*").alias("n_matches"))


# ---------------------------------------------------------------------------
# Train/eval decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    df: DataFrame,
    k: int = 5,
    eval_fraction: float = 0.1,
    seed: str = "decon",
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_eval: bool = False,
    bloom_prefilter: bool = False,
) -> DataFrame:
    """Benchmark-contamination report: train documents sharing any
    word ``k``-gram with the held-out eval split.

    The split reuses the deterministic md5 hash axis
    (:func:`~ena_database_build_spark.operators.sampling.train_test_split`),
    so the eval set is stable under corpus growth.  Overlap detection is
    a distinct-shingle equi-join — one shuffle keyed by the shingle
    string, the same shape as LSH candidate generation; a hot shingle
    (boilerplate) fans out in the join but AQE skew-split handles it.

    ``broadcast_eval=True`` pins a broadcast of the eval shingles so
    the (huge) train side never shuffles — measured ~20% faster and
    visibly steadier at sf1.  Opt-in, not default: real-world
    decontamination probes a BOUNDED benchmark suite where the hint is
    always safe, but this function's eval side is a corpus *fraction*,
    and force-broadcasting a fraction of a 100 TB corpus would OOM the
    driver where AQE's size-based choice degrades gracefully.

    ``bloom_prefilter=True`` probes the train shingles through a Bloom
    filter of the eval shingles (operators/sketch.py) BEFORE the exact
    join.  The filter has no false negatives, so the result is
    provably unchanged; the exact join's train-side shuffle shrinks
    from "every distinct train shingle" to "shingles that might
    match" (true overlap + the filter's small false-positive rate) —
    the 100 TB composition, where the filter itself stays bounded by
    the bit-space size.  Off by default so small corpora skip the
    extra probe stage.

    Returns one row per contaminated train document:
    ``(doc_id, n_shared_shingles, n_eval_docs)``.
    """
    split = train_test_split(
        df, test_fraction=eval_fraction, id_col=id_col, seed=seed
    )
    train_sh = shingle_rows(
        split.where(F.col("split") == "train"),
        text_col=text_col,
        id_col=id_col,
        k=k,
        distinct=True,
    )
    eval_sh = shingle_rows(
        split.where(F.col("split") == "test"),
        text_col=text_col,
        id_col=id_col,
        k=k,
        distinct=True,
    ).select(F.col(id_col).alias("_eval_id"), "shingle")
    if bloom_prefilter:
        from .sketch import bloom_build, bloom_probe

        bits = bloom_build(
            eval_sh, value_col="shingle", n_hashes=3, hex_chars=5
        )
        train_sh = bloom_probe(
            train_sh, bits, value_col="shingle", n_hashes=3, hex_chars=5
        )
    if broadcast_eval:
        eval_sh = F.broadcast(eval_sh)
    return (
        train_sh.join(eval_sh, "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("_eval_id").alias("n_eval_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source corpus capping
# ---------------------------------------------------------------------------


def source_cap(
    df: DataFrame,
    group_col: str,
    score_col: str,
    n: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top ``n`` rows per group by score (ties broken by id
    ascending) — the "cap every domain/source at N best documents"
    curation step that stops one crawl domain from dominating the
    mixture.

    One shuffle keyed on the group; ``row_number`` needs only the
    group's own rows in one sorted partition, and Spark 3.5+ inserts a
    WindowGroupLimit partial below the exchange (rank-limit pushdown),
    so each map task pre-trims to its local top-n before shuffling —
    the exchange carries at most ``n * tasks`` rows per group, not the
    whole corpus."""
    w = Window.partitionBy(group_col).orderBy(
        F.desc(score_col), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= n)
        .drop("_rk")
    )


def line_dedup(
    df: DataFrame,
    max_doc_freq: int = 3,
    sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Line-level boilerplate removal (the CCNet/RefinedWeb paragraph
    dedup): drop every line whose normalized fingerprint occurs in
    more than ``max_doc_freq`` DISTINCT documents (headers, footers,
    cookie banners), then rebuild each document's text from its
    surviving lines in original order.

    Scale shape: lines explode once; the document-frequency count is
    one fingerprint-keyed shuffle (map-side combinable count over
    (fp, doc) distinct pairs), and the verdict joins back on the same
    fingerprint key — the exact shape of the boilerplate k-gram index,
    plus an order-restoring per-doc rebuild (sort_array over collected
    (pos, line) structs, one doc-keyed shuffle).  Blank lines are
    dropped outright (they carry no content and would dominate every
    frequency bucket).

    Returns ``(id, n_kept, n_dropped, text)`` with the rebuilt text,
    one row per input doc that has at least one non-blank line; a doc
    whose every line is blank (or whose text is empty/NULL) has no
    line row to rebuild from and is ABSENT from the output — left-join
    the result if callers must see every doc.  A doc whose every line
    is boilerplate IS present (``n_kept = 0``, empty text).

    ``sep`` is a LITERAL separator: ``F.split`` takes a Java regex, so
    it is wrapped in ``\\Q...\\E`` quoting before splitting — a
    separator like ``'.'`` or ``'|'`` splits on the literal character,
    not on every-char / empty-alternation (round-3 ADVICE item #4).
    The rebuild side (``concat_ws``) always treated it literally, so
    quoting also removes a split/rebuild asymmetry.
    """
    # \Q...\E quotes everything between; an embedded \E would close
    # the quote early, so it is stitched around: \E -> \E\\E\Q
    sep_rx = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep_rx)).alias(
                "_pos", "_line"
            ),
        )
        .where(F.trim(F.col("_line")) != "")
        .withColumn("_lfp", F.md5(F.trim(F.col("_line"))))
    )
    freq = lines.groupBy("_lfp").agg(
        F.count_distinct(id_col).alias("_ndocs")
    )
    verdict = lines.join(freq, "_lfp").withColumn(
        "_keep", F.col("_ndocs") <= max_doc_freq
    )
    return (
        verdict.groupBy(id_col)
        .agg(
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            F.sum((~F.col("_keep")).cast("long")).alias("n_dropped"),
            F.concat_ws(
                sep,
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct(
                                    F.col("_pos"), F.col("_line")
                                ),
                            )
                        )
                    ),
                    lambda s: s["_line"],
                ),
            ).alias(text_col),
        )
    )


def span_dedup(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-substring removal (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" exact
    substring dedup, re-expressed relationally at word granularity):
    any word ``k``-gram occurring in at least ``min_docs`` DISTINCT
    documents marks its ``k`` covering tokens as duplicated in every
    document; duplicated tokens are removed and each document's text
    is rebuilt from the survivors in order.

    Where :func:`line_dedup` needs boilerplate to align on line
    boundaries and ``decontaminate`` drops whole documents, this
    removes the duplicated SPAN only — the suffix-array semantics of
    the paper, bounded to k-gram resolution so it stays a pure
    DataFrame computation (the true suffix array is inherently
    sequential; k-gram cover converges to it as k shrinks).

    Scale shape: k-grams are composed MAP-SIDE from each document's
    token array (``transform`` + ``slice`` before the explode — no
    shuffle, where a lead-window formulation would shuffle every
    token by doc first).  The gram verdict ("appears in >=
    ``min_docs`` distinct docs" — ``min(id) != max(id)`` for the
    default 2, a distinct count above) is a map-side-combinable
    aggregate whose shuffle carries ~one row per distinct gram, never
    the token relation, joined back hint-free so AQE broadcasts the
    dup-gram map when small and skew-splits when not — a boilerplate
    gram in millions of docs cannot pin one task (see the inline
    note).  Token rows then shuffle by doc ONCE for the RANGE-window
    span cover over [pos-k+1, pos]; the final per-doc rebuild reuses
    that partitioning.  No all-pairs stage, no per-doc state beyond
    the window frame.  Output: ``(id, n_kept, n_dropped, text)`` for
    every non-blank input doc.

    Tokens are RAW whitespace splits (no case folding): removal
    rebuilds the user-visible text, so the match key must be the text
    itself, byte-for-byte.

    The gram-construction kernel is evaluated on BOTH the probe and
    the dup-map build side (the r12/r13 documented floor).  The r14
    shared-exchange alternative (key the gram relation once by ``_g``,
    aggregate and equi-join over one ReusedExchange — kernel planned
    ONCE) was built, plan-verified and measured (the probe script is
    in git history; numbers in OPTIMIZATION_r14.md): it wins only in
    the launch-floor regime (x1) and loses 12-15% at x30 where data
    dominates, because the corpus-sized (id, pos, tok, gram) exchange
    outweighs the saved kernel pass — and it forfeits map-side combine
    on the gram aggregate, re-creating the hot-gram straggler this shape
    exists to avoid.  The duplicate kernel is the cheaper side of that trade at
    every scale that matters.
    """
    base = df.where(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_arr"),
    )
    # gram at position i = the joined tokens [i, i+k) — computed from
    # the array IN PLACE (one row per doc, no shuffle); positions whose
    # gram would run past the end stay NULL, matching a lead-window
    # formulation's isNotNull(last lead) guard.  The gram is a RAW
    # string, not an md5: the key never leaves this operator (only the
    # dup verdict does), hashing inside the per-element transform is
    # interpreted work (~20% of the whole query at sf0.1, r6 measure),
    # and the shuffle hashes whatever key it gets anyway
    gram_arr = F.transform(
        "_arr",
        lambda x, i: F.when(
            i + F.lit(k) <= F.size("_arr"),
            F.concat_ws(" ", F.slice("_arr", i + F.lit(1), k)),
        ),
    )
    grams = base.select(
        F.col(id_col),
        F.posexplode(
            F.arrays_zip(F.col("_arr").alias("_tok"), gram_arr.alias("_g"))
        ).alias("_pos", "_z"),
    ).select(
        id_col,
        "_pos",
        F.col("_z._tok").alias("_tok"),
        F.col("_z._g").alias("_g"),
    )
    # "appears in >= min_docs distinct docs" as a map-side-combinable
    # aggregate + hint-free join — NEVER a window over the gram hash: a
    # window must co-locate a gram's every occurrence in ONE task, and
    # a boilerplate gram shared by millions of documents (the exact
    # thing this operator exists to find) would be an un-splittable
    # straggler.  The hash aggregate collapses a heavy gram to one row
    # per map task before the (distinct-gram-sized) shuffle, and AQE
    # broadcasts the dup-gram map when small / skew-splits the join
    # when not (the bm25_top_terms doc-frequency discipline).  NULL _g
    # rows (the last k-1 tokens of each doc) never match the left
    # join, so they need no special casing.
    dup_test = (
        (F.min(id_col) != F.max(id_col)).alias("_d")
        if min_docs == 2  # >= 2 distinct ids iff min and max differ
        else (F.count_distinct(F.col(id_col)) >= min_docs).alias("_d")
    )
    dup_grams = (
        grams.where(F.col("_g").isNotNull())
        .groupBy("_g")
        .agg(dup_test)
        .where(F.col("_d"))
        .select("_g", F.lit(1).alias("_dup"))
    )
    marked = grams.join(dup_grams, "_g", "left").drop("_g", "_d")
    cover = (
        Window.partitionBy(id_col)
        .orderBy("_pos")
        .rangeBetween(-(k - 1), 0)
    )
    verdict = marked.withColumn(
        "_covered", F.max("_dup").over(cover).isNotNull()
    )
    return verdict.groupBy(id_col).agg(
        F.sum((~F.col("_covered")).cast("long")).alias("n_kept"),
        F.sum(F.col("_covered").cast("long")).alias("n_dropped"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            ~F.col("_covered"),
                            F.struct(F.col("_pos"), F.col("_tok")),
                        )
                    )
                ),
                lambda s: s["_tok"],
            ),
        ).alias(text_col),
    )


def bigram_logprob(
    df: DataFrame,
    k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean CONDITIONAL log-probability under the
    corpus's own add-k-smoothed bigram model — one step up from
    :func:`unigram_logprob`: word-order scrambles and unnatural
    collocations score low even when every individual token is
    common, which is exactly what the unigram score cannot see.

    ``P(w2 | w1) = (C(w1 w2) + k) / (C(w1 ·) + k·V)`` with ``V`` the
    corpus vocabulary size; the context count ``C(w1 ·)`` is the
    number of bigrams starting at ``w1`` (not the unigram count), so
    probabilities per context sum to 1 over the smoothed vocabulary.

    Scale shape: bigrams are composed MAP-SIDE from each document's
    token array (zipped shifted slices — no tokens-by-doc exchange or
    window sort, r13) and aggregate to (doc, w1, w2, n) before any
    shuffle; the corpus bigram map is an
    aggregate READING THE SAME exchange (``sum(n)`` references the n
    column intrinsically, so the subtree aligns and resolves as
    ReusedExchange — the bm25/tf-idf discipline), the context map
    ``C(w1 ·)`` re-aggregates the BIGRAM MAP (vocab²-bounded, far
    smaller than the doc-level relation), and both join back
    hint-free so AQE broadcasts them when small and skew-splits when
    not (the former window sums pinned every bigram of a stopword
    context to one un-splittable task); V is a 1-row broadcast.
    Counts are exact integers; the smoothed ratio, ``ln``, and the
    per-doc average are one float expression rounded once.  Docs with
    fewer than two tokens have no bigram and are absent (no
    conditional model scores them).

    Returns ``(doc_id, n_bigrams, mean_logprob)``.
    """
    # bigram composition is MAP-ONLY (r13): adjacent pairs come from
    # zipping two shifted slices of the per-doc token array, so the
    # token relation never shuffles by doc for a lead-window pass (the
    # r11 form paid a full tokens-by-doc exchange + sort before any
    # aggregation could reduce it).  arrays_zip over slices, NOT a
    # positional get inside transform — the latter re-walks the array
    # per element under Catalyst lambda inlining (the r12 quadratic
    # trap pinned in test_plan_shapes).  Pair order within a doc is
    # array order, identical to the lead-window's _pos order.
    # array_remove, not a filter() lambda: NamedLambdaVariable ids
    # defeat plan canonicalization, so a lambda here broke the
    # ReusedExchange alignment between the three bi-map consumers
    # (observed r13: the c1 chain re-ran the whole scan+explode+agg)
    base = df.select(
        F.col(id_col),
        F.array_remove(tokens(F.col(text_col)), "").alias("_arr"),
    )
    npairs = F.greatest(F.size("_arr") - F.lit(1), F.lit(0))
    bi = (
        base.select(
            F.col(id_col),
            F.explode(
                F.arrays_zip(
                    F.slice("_arr", 1, npairs).alias("w1"),
                    F.slice("_arr", 2, npairs).alias("w2"),
                )
            ).alias("_bi"),
        )
        .select(
            F.col(id_col),
            F.col("_bi.w1").alias("w1"),
            F.col("_bi.w2").alias("w2"),
        )
        # semantically a no-op (zipped equal-length slices of a
        # non-null token array), but load-bearing for the plan: the
        # downstream joins push IsNotNull(w1)/IsNotNull(w2) into their
        # copies of this subtree, and the c1 consumer (joined on w1
        # alone) would get a DIFFERENT pushed-filter set than the
        # others, breaking sameResult and re-executing the whole
        # scan+explode+agg chain instead of a ReusedExchange (observed
        # r13; the r11 lead-window form was immune only because its
        # where(w2.isNotNull()) subsumed every pushed variant the same
        # way this guard does)
        .where(F.col("w1").isNotNull() & F.col("w2").isNotNull())
        .groupBy(id_col, "w1", "w2")
        .agg(F.count("*").alias("n"))
    )
    toks = base.select(
        F.col(id_col), F.explode("_arr").alias("_w")
    )
    c12_map = bi.groupBy("w1", "w2").agg(F.sum("n").alias("c12"))
    c1_map = c12_map.groupBy("w1").agg(F.sum("c12").alias("c1"))
    with_counts = bi.join(c12_map, ["w1", "w2"]).join(c1_map, "w1")
    vocab = toks.agg(
        F.count_distinct("_w").cast("double").alias("_v")
    )
    logp = F.log(
        (F.col("c12") + F.lit(k))
        / (F.col("c1") + F.lit(k) * F.col("_v"))
    )
    return (
        with_counts.join(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("n") * logp) / F.sum("n"), 6
            ).alias("mean_logprob"),
        )
    )
