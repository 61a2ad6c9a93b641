"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.11).

All operators are pure column expressions (JVM-side, codegen-friendly)
so they scale to 100 TB: no Python UDFs, no driver-side loops.  The
only shuffles are the groupBys/joins inherent to the semantics.

Design at scale:

* exact dedup — hash-groupBy on a fingerprint, one shuffle; with AQE
  the reducer count adapts to the observed fingerprint cardinality.
* MinHash+LSH — per-doc signature computation is embarrassingly
  parallel (map-side); candidate generation is an equi-join on
  ``(band_idx, band_signature)`` — ONE shuffle keyed by band bucket —
  instead of the O(n^2) cross join a naive near-dup would need.
  Banding parameters trade recall vs join fan-in; skewed buckets
  (e.g. boilerplate) are handled by AQE skew-join splitting.
* SimHash — 16-bit signature via md5-nibble voting: deterministic and
  reproducible in any engine that has md5 (the DuckDB oracle computes
  the identical value).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalized_text(text: Column) -> Column:
    """Canonical form used for exact dedup: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic 128-bit content fingerprint (hex md5 of the
    normalized text).

    NULL text fingerprints as the empty string, i.e. "no content" is
    ONE identity whether it arrives as NULL or as whitespace — a NULL
    md5 would fall out of every equi-join/group consistently only by
    accident, and incremental vs batch dedup would disagree on which
    no-content row survives."""
    return F.md5(F.coalesce(normalized_text(text), F.lit("")))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one deterministic representative (min id) per normalized
    text.  Equivalent to ``dropDuplicates`` but with a *stable* winner,
    which a distributed engine needs for reproducible pipelines."""
    fp = fingerprint(F.col(text_col)).alias("fp")
    winners = df.select(fp, F.col(id_col)).groupBy("fp").agg(
        F.min(id_col).alias(id_col)
    )
    return df.join(winners, id_col, "left_semi")


def dedup_incremental(
    incoming: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-build dedup: keep the incoming rows whose content
    fingerprint appears neither in the already-ingested corpus nor
    earlier (lower id) in the batch itself.

    One anti-join on the 128-bit fingerprint (batch vs the existing
    corpus's distinct fingerprints) followed by a row_number window
    keeping the in-batch stable winner (min id per fingerprint, same
    rule as :func:`exact_dedup`).  The window partitions by the SAME
    fingerprint key the anti-join just hash-partitioned on, so it
    reuses that exchange — the whole operator is one shuffle of the
    batch plus one of the corpus fingerprint index (tiny vs the
    text), with no recomputation; a groupBy-min + semi-join here
    would re-execute the anti-join subtree and add a second
    ``(fp, id)`` shuffle of the batch.  Re-running with the same
    batch is a no-op (idempotent ingestion).

    :func:`fingerprint` maps NULL text to the empty-string identity,
    so no-content rows dedup here exactly like everywhere else (a
    NULL md5 would never satisfy the anti-join's equi-condition and
    NULL-text rows would be re-admitted on every re-ingestion).
    """
    fp_expr = fingerprint(F.col(text_col))
    inc = incoming.withColumn("_fp", fp_expr)
    seen = existing.select(fp_expr.alias("_fp")).distinct()
    fresh = inc.join(seen, "_fp", "left_anti")
    # NULLS LAST: ids are the dedup identity, and the documented
    # contract is "min id wins" — default NULLS FIRST would let a
    # NULL-id row beat every real id for its fingerprint.
    w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc_nulls_last())
    return (
        fresh.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def tokens(text: Column) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalized_text(text), " ")


def spread_by_id(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-partition ``df`` by ``id_col`` across the cluster's full
    parallelism, placed BEFORE a compute-amplifying explode.

    Two scale effects, both independent of data size:

    * The per-id exchange the downstream window/groupBy would otherwise
      force moves to the PRE-explode rows — one row per document instead
      of one per token/k-gram/character, i.e. the shuffle carries k-to-
      1000x fewer rows for the same result.
    * The partition count is pinned explicitly.  AQE's byte-based
      coalescing sizes partitions for ~64 MB of *input*, but an
      exploding stage multiplies work per input byte; letting AQE
      coalesce a small-but-heavy input (e.g. docs whose char explode is
      1000x) serializes the whole stage onto one core.  Explicit
      ``defaultParallelism`` keeps the compute spread regardless of how
      few input bytes feed it.
    """
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )


def shingles(text: Column, k: int = 3) -> Column:
    """ARRAY<STRING> of word ``k``-shingles (distinct, order-free).

    The token array is BOUND to a lambda variable (single-element
    ``array`` + ``transform``) so it evaluates once per row — writing
    ``tokens(text)`` inside the inner lambda would re-tokenize per
    shingle (Catalyst performs no CSE into lambda bodies), quadratic
    in document length.  ``slice`` tolerates the end of the array, so
    a doc shorter than ``k`` yields its single partial shingle
    (``element_at`` past the end would raise under ANSI semantics),
    matching :func:`shingle_rows`."""
    return F.array_distinct(
        F.flatten(
            F.transform(
                F.array(tokens(text)),
                lambda toks: F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size(toks) - (k - 1), F.lit(1)),
                    ),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
                ),
            )
        )
    )


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    distinct: bool = False,
) -> DataFrame:
    """(id, shingle) rows via posexplode + window ``lead`` — the scale
    path for shingling.

    Building shingle *arrays* with ``transform(sequence(...),
    element_at(tokens(text), ...))`` re-evaluates the tokenization per
    array element (Catalyst does not CSE subexpressions into lambda
    bodies), which is quadratic in document length.  Exploding tokens
    once and composing each shingle from ``lead(tok, j)`` keeps every
    step whole-stage-codegen'd and linear; the window's
    ``partitionBy(id)`` exchange is reused by the downstream
    per-doc aggregation.

    Documents shorter than ``k`` tokens yield their single partial
    shingle (``concat_ws`` skips the null leads), matching
    :func:`shingles`.
    """
    df = spread_by_id(df, id_col)
    tok = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tok", j).over(w) for j in range(1, k)]
    sh = tok.select(
        F.col(id_col),
        F.col("pos"),
        F.concat_ws(" ", F.col("tok"), *leads).alias("shingle"),
        (leads[-1].isNotNull() if k > 1 else F.lit(True)).alias("_complete"),
    ).where(F.col("_complete") | (F.col("pos") == 0))
    out = sh.select(id_col, "shingle")
    return out.distinct() if distinct else out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    k: int = 3,
) -> DataFrame:
    """Per-doc MinHash signatures via explode + vectorized hash-agg.

    Exploding (doc, shingle) and taking ``min(md5(i||shingle))`` per doc
    beats evaluating ``num_hashes`` nested array transforms per row: the
    mins combine map-side (partial aggregation), the hash agg is
    whole-stage-codegen'd, and one huge document can no longer blow a
    single row buffer — the shape that survives 100 TB.
    """
    sh = shingle_rows(df, text_col, id_col, k)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """``(id, band_idx, band_sig)`` LSH band rows — the unit every
    candidate join keys on, and the thing a continuous build
    MATERIALIZES per epoch (see cc.band_index): persist these rows
    for the corpus once, and each incoming batch joins them instead
    of re-shingling 100 TB."""
    assert num_hashes % band_size == 0
    nbands = num_hashes // band_size
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, k)
    return sigs.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh{b * band_size + j}")
                            for j in range(band_size)
                        ],
                    )
                    for b in range(nbands)
                ]
            )
        ).alias("band_idx", "band_sig"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs: docs agreeing on >=1 LSH band.

    bands = num_hashes / band_size; band signature = concat of its
    MinHash values.  The candidate join is an equi-join on
    ``(band_idx, band_sig)`` — one shuffle, no cross product.

    SIZE THE BANDING TO THE CORPUS: candidate volume is sum over band
    buckets of ``m^2/2``, so growing the corpus without growing band
    selectivity grows candidates QUADRATICALLY.  Through r10 the
    catalog rows used tiny test-scaled params (num_hashes=4,
    band_size=1, P(bucket-collide) = sim per band): measured at sf1
    that parameterization shuffled >100 GB on one query (r9
    full-catalog profile — the same blowup hit the DuckDB oracle,
    which ran for hours), so those rows were ``--skip``ped at sf1.
    r11 re-parameterized the whole catalog family to 16 hashes x
    band 4 (4 bands, P = sim^4 — the production band WIDTH at reduced
    band COUNT): 131M band collisions -> 813k / max bucket 50 at sf1,
    every row now profiles at every SF, zero skips.  Production
    near-dedup wants e.g. 128 hashes x band 4 (32 bands, graded by
    the `lsh_candidate_pairs_prod` row): same selectivity per band,
    recall 1-(1-sim^4)^32.  The operator is linear in candidates
    either way; the parameterization decides what "candidates" means.
    """
    bands = band_rows(df, text_col, id_col, num_hashes, band_size, k)
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("left_id"),
            F.col(f"r.{id_col}").alias("right_id"),
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Exact k-shingle Jaccard for given candidate (left_id, right_id)
    pairs — the verify step after LSH candidate generation.

    Computed relationally (explode distinct shingles, equi-join on the
    shingle, count) rather than via per-row ``array_intersect`` on
    materialized shingle arrays: the join shuffles hash-partitioned
    shingle rows, so two giant documents never meet in one row buffer.
    """
    ex = shingle_rows(df, text_col, id_col, k, distinct=True)
    sizes = ex.groupBy(id_col).agg(F.count("*").alias("n"))
    exl = ex.select(F.col(id_col).alias("left_id"), "shingle")
    exr = ex.select(F.col(id_col).alias("rid"), F.col("shingle").alias("r_shingle"))
    inter = (
        pairs.join(exl, "left_id")
        .join(
            exr,
            (F.col("right_id") == F.col("rid"))
            & (F.col("shingle") == F.col("r_shingle")),
        )
        .groupBy("left_id", "right_id")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "left_id").withColumnRenamed("n", "n_left"), "left_id")
        .join(sizes.withColumnRenamed(id_col, "right_id").withColumnRenamed("n", "n_right"), "right_id")
        .select(
            "left_id",
            "right_id",
            (
                F.col("n_inter")
                / (F.col("n_left") + F.col("n_right") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 16,
) -> DataFrame:
    """Per-doc ``width``-bit SimHash via explode + one vectorized
    hash-agg (``width`` conditional sums), semantically identical to
    :func:`simhash16` at the default width but with map-side partial
    aggregation instead of per-row array folds.  ``width`` up to 32
    (one bit per md5 hex digit — bit i votes on hex digit i's high
    bit); wider signatures make Hamming-band candidate joins sparser
    (see :func:`simhash_candidates`).  Output:
    ``id_col, simhash STRING``."""
    if not 1 <= width <= 32:
        raise ValueError("width must be in [1, 32]")
    df = spread_by_id(df, id_col)
    tk = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    h = F.md5("tok")
    aggs = [
        F.sum(
            F.when(F.substring(h, i, 1) >= "8", 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(1, width + 1)
    ]
    votes = tk.groupBy(id_col).agg(*aggs)
    bits = [
        F.when(F.col(f"v{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(1, width + 1)
    ]
    return votes.select(F.col(id_col), F.concat(*bits).alias("simhash"))


def simhash16(text: Column) -> Column:
    """16-bit SimHash as a bit string (e.g. ``'1010...'``).

    Per token t, md5(t) supplies 16 hex nibbles; nibble i votes +1 for
    bit i if >= 8 else -1; bit i is 1 when the vote sum is positive.
    Fully deterministic and portable (the DuckDB oracle reproduces it
    nibble for nibble).
    """
    toks = tokens(text)

    def voter(i: int):
        return lambda acc, t: acc + F.when(
            F.substring(F.md5(t), i, 1) >= "8", 1
        ).otherwise(-1)

    bit_cols = []
    for i in range(1, 17):
        vote = F.aggregate(toks, F.lit(0), voter(i))
        bit_cols.append(F.when(vote > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bit_cols)


def simhash_candidates(
    df: DataFrame,
    bands: int = 4,
    max_hamming: int = 3,
    width: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Hamming-banded near-dup candidate pairs from the ``width``-bit
    SimHash — the simhash counterpart of the MinHash band join: the
    signature splits into ``bands`` equal bit-bands, pairs agreeing on
    at least one band meet in an equi-join, and the exact Hamming
    distance (``width`` fixed char compares, pure codegen) filters to
    ``<= max_hamming``.

    Pigeonhole completeness: a pair differing in fewer than ``bands``
    bits MUST agree on some band, so with the defaults (4 bands,
    max_hamming 3) the candidate set contains EVERY pair within the
    radius — no probabilistic recall gap, unlike MinHash banding.

    Width sizes the join density: at 16 bits each band carries 4 bits
    (1/16 collision chance for unrelated docs — a quarter of all
    pairs met in the measured fixture), at the default 32 bits each
    band carries 8 bits (1/256) — the difference between a
    near-quadratic candidate set and a sparse one, at zero recall
    cost within the radius.

    Scale shape: one banded equi-join keyed on (band_idx, band_key)
    over #docs x bands narrow rows — never an all-pairs stage.  The
    signature rides the join as ONE LONG (``conv(bits, 2, 10)``), so
    the shuffled payload is two 8-byte ints rather than two
    ``width``-char strings; the Hamming distance is a single
    ``bit_count(xor)``; and multi-band agreements collapse WITHOUT a
    pair-relation distinct — a pair is emitted only at its FIRST
    agreeing band (a per-row codegen predicate on the carried
    signatures), the standard LSH emit-once device.  On the
    template-heavy sf0.1 fixture (6.4M band collisions from 5k docs)
    this form measured 3.5x the string+distinct one, byte-identical
    output.  Output: ``(left_id, right_id, hamming)``.

    ``max_bucket`` (r11): a FIXED-width signature has a fixed bucket
    grid (4 bands x 2^8 keys at the defaults), so on a template-heavy
    corpus bucket populations — and with them the candidate join —
    grow QUADRATICALLY with corpus size (measured: 640M band
    collisions / 80+ GB on the 50k-doc sf1 fixture).  Setting
    ``max_bucket`` DROPS buckets holding more than that many docs
    before the join — the standard industrial LSH cap: a band shared
    by thousands of documents carries no near-dup signal, only
    template noise, and a dropped pair still meets on any other
    (kept) agreeing band.  Candidates become <= n_docs x bands x
    max_bucket / 2 — linear in the corpus.  The capped path collapses
    multi-band agreements with a pair DISTINCT instead of the
    emit-once predicate: "first agreeing band" is ill-defined when an
    earlier agreeing band was dropped, and the cap already bounds the
    distinct's input.  Recall trade within the Hamming radius is
    explicit and mirrored exactly by the oracle (same cap, same
    buckets)."""
    if width % bands:
        raise ValueError("bands must divide width")
    if width > 63:
        # conv(bits, 2, 10) is UNSIGNED: at 64+ bits a signature with
        # the top bit set exceeds Long.MaxValue and the long cast
        # returns NULL — every such doc would silently drop out of the
        # candidate join (round-6 ADVICE).  simhash_signatures caps at
        # 32 today; fail loudly if that ever widens past the long.
        raise ValueError(
            f"width={width} exceeds 63: the single-long signature "
            "encoding (conv base-2 -> long) would overflow to NULL"
        )
    band_w = width // bands
    mask = (1 << band_w) - 1
    sigs = simhash_signatures(df, text_col, id_col, width=width).select(
        F.col(id_col), F.conv("simhash", 2, 10).cast("long").alias("_sig")
    )

    def band(sig, j):  # j = 0 is the leftmost band of the bit string
        return F.shiftright(sig, (bands - 1 - j) * band_w).bitwiseAND(
            F.lit(mask)
        )

    band_arr = F.array(*[band(F.col("_sig"), j) for j in range(bands)])
    rows = sigs.select(
        F.col(id_col),
        F.col("_sig"),
        F.posexplode(band_arr).alias("band_idx", "band_key"),
    )
    if max_bucket is not None:
        # keep only information-carrying buckets (see docstring).  The
        # bucket census is a WINDOW count over the same
        # (band_idx, band_key) exchange the candidate self-join needs —
        # NOT a separate aggregate joined back: that form re-executed
        # the whole scan+simhash subtree for the census branch (caught
        # by tools/scan_audit.py in r12: 2 scans vs the manifest's 1),
        # recomputing every signature twice.  The window's exchange is
        # the join's exchange, so signatures are computed once and the
        # self-join sides collapse to one ReusedExchange.
        from pyspark.sql import Window

        w = Window.partitionBy("band_idx", "band_key")
        rows = (
            rows.withColumn("_bn", F.count("*").over(w))
            .where(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
        left = rows.select(
            F.col(id_col).alias("left_id"),
            F.col("_sig").alias("_sl"),
            "band_idx",
            "band_key",
        )
        right = rows.select(
            F.col(id_col).alias("right_id"),
            F.col("_sig").alias("_sr"),
            "band_idx",
            "band_key",
        )
        return (
            left.join(right, ["band_idx", "band_key"])
            .where(F.col("left_id") < F.col("right_id"))
            .select(
                "left_id",
                "right_id",
                F.bit_count(F.col("_sl").bitwiseXOR(F.col("_sr"))).alias(
                    "hamming"
                ),
            )
            .where(F.col("hamming") <= max_hamming)
            .distinct()
        )
    left = rows.select(
        F.col(id_col).alias("left_id"),
        F.col("_sig").alias("_sl"),
        "band_idx",
        "band_key",
    )
    right = rows.select(
        F.col(id_col).alias("right_id"),
        F.col("_sig").alias("_sr"),
        "band_idx",
        "band_key",
    )
    # emit-once: a pair agreeing on several bands meets in the join
    # once per agreement; keep only the row whose band_idx is the
    # FIRST agreeing band (no earlier band agrees) — a codegen
    # predicate in place of a distinct over the pair relation
    agree = [band(F.col("_sl"), j) == band(F.col("_sr"), j) for j in range(bands)]
    emit_once = F.when(F.col("band_idx") == 0, F.lit(True))
    no_earlier = None
    for j in range(1, bands):
        no_earlier = (
            ~agree[j - 1] if no_earlier is None else no_earlier & ~agree[j - 1]
        )
        emit_once = emit_once.when(F.col("band_idx") == j, no_earlier)
    return (
        left.join(right, ["band_idx", "band_key"])
        .where((F.col("left_id") < F.col("right_id")) & emit_once)
        .select(
            "left_id",
            "right_id",
            F.bit_count(F.col("_sl").bitwiseXOR(F.col("_sr"))).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def edit_distance1_pairs(
    df: DataFrame, str_col: str, id_col: str | None = None
) -> DataFrame:
    """EXACT edit-distance-1 pairs over a string column via
    deletion-neighborhood joins (the SymSpell index made exact):

    * substitution pairs: equal-length strings whose single-deletion
      variants match AT THE SAME POSITION — ``del(a, i) == del(b, i)``
      holds iff a and b differ only at position i;
    * insert/delete pairs: ``del(a, i) == b`` for ``len(a) = len(b)+1``
      is itself the definition of one deletion.

    Carrying the deletion index makes both joins exact — no
    verification UDF, no Levenshtein: position-less deletion matching
    (classic SymSpell) would also pair transpositions like
    ``ab``/``ba`` (edit distance 2), which the same-position equi-key
    excludes by construction.

    Scale shape: one explode to (string, i, variant) rows — ~len(s)
    rows per string — and two keyed equi-joins (on (variant, i, len)
    and on (variant == other string)); never an all-pairs or
    length-bucket cross.  Pairs order canonically (left < right).
    Output: ``(left, right, kind)`` with kind 'sub' or 'indel'."""
    strs = df.select(F.col(str_col).alias("s")).where(
        F.col("s").isNotNull() & (F.col("s") != "")
    ).distinct()
    n = F.length("s")
    variants = strs.select(
        "s",
        n.alias("_len"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.concat(
                    F.substring(F.col("s"), 1, i.cast("int") - 1),
                    F.col("s").substr(i.cast("int") + 1, n),
                ),
            )
        ).alias("_i", "_v"),
    )
    lv = variants.select(
        F.col("s").alias("left"), F.col("_len").alias("_ll"),
        "_i", "_v",
    )
    rv = variants.select(
        F.col("s").alias("right"), F.col("_len").alias("_rl"),
        F.col("_i").alias("_ri"), F.col("_v").alias("_rv"),
    )
    subs = (
        lv.join(
            rv,
            (F.col("_v") == F.col("_rv"))
            & (F.col("_i") == F.col("_ri"))
            & (F.col("_ll") == F.col("_rl")),
        )
        .where(F.col("left") < F.col("right"))
        .select("left", "right", F.lit("sub").alias("kind"))
        .distinct()
    )
    indel = (
        lv.join(rv.select(F.col("right")).distinct(),
                F.col("_v") == F.col("right"))
        .select(
            F.least("left", "right").alias("left"),
            F.greatest("left", "right").alias("right"),
            F.lit("indel").alias("kind"),
        )
        .distinct()
    )
    return subs.unionByName(indel)
