"""Duplicated-span detection and removal (exact substring dedup).

The training-data op from "Deduplicating Training Data Makes
Language Models Better" (Lee et al. 2021, arXiv:2107.06499): find
every maximal token span whose n-token windows all occur >= 2 times
in the corpus, and optionally cut those spans out of the text. The
paper builds a suffix array; that structure is inherently
single-machine, so this engine re-expresses the same semantics as
a distributed n-gram-position pipeline:

  1. positional n-grams — every (doc, token position) yields the
     n-token window starting there (one zip_with chain, no
     per-element re-evaluation; see dedup.word_shingles);
  2. duplicated windows — group by the window hash, keep hashes
     with total count >= min_count (map-side partial counts, one
     shuffle on the hash);
  3. span assembly — positions whose window is duplicated merge
     into maximal spans per doc via gaps-and-islands (a lag +
     running-sum window partitioned BY DOC — never a global sort).
     A span [p0, p1] of n-gram positions covers tokens
     [p0, p1 + n - 1].

Scale: the shuffles key on gram hash (step 2, bounded by DISTINCT
grams after map-side partial aggregation) and doc_id (step 3).
Nothing is all-pairs, nothing collects to the driver, and the
per-doc window state is one doc's positions. Hot n-grams
(boilerplate) are exactly the ones the op exists to find; the
duplicated-gram set attaches back to positions through a JOIN so
AQE's runtime skew splitting applies (round-12 — a window over the
gram hash would put every occurrence of a hot gram in one task,
and window execs get no skew mitigation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from zed_spark.textops.dedup import normalize_text


def positional_ngrams(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, pos, gram): the n-token window starting at each 0-based
    token position of the normalized text. Built with the zip_with
    chain (tail windows shorter than n come out null and are dropped
    AFTER posexplode, so positions stay aligned)."""
    # word array staged in its own projection so the regexp+split runs
    # once per row — inlined into the Generate it was evaluated
    # 2(n-1)+1 times (Generate has no codegen/CSE). The window chain
    # stays inline in the posexplode (attribute children trigger
    # InferFiltersFromGenerate + pushdown re-inlining — see
    # dedup.shingles_from_words).
    words = F.col("__w")
    cur: Column = words
    for j in range(1, n):
        rest = F.slice(words, j + 1, F.greatest(F.size(words) - j, F.lit(0)))
        cur = F.zip_with(cur, rest, lambda a, b: F.concat(a, F.lit(" "), b))
    return (
        df.select(
            id_col, F.split(normalize_text(F.col(text_col)), " ").alias("__w")
        )
        .select(id_col, F.posexplode(cur).alias("pos", "gram"))
        .where(F.col("gram").isNotNull())
    )


def _positional_gram_hashes(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, pos, gh): a 64-bit hash of the n-token window at each
    position. Each WORD is hashed once (xxhash64, staged alongside
    the word array) and the window hash is a polynomial combine of n
    consecutive word hashes (FNV-64 prime multiplier, wrapping long
    arithmetic) — the zip chain runs integer multiply-adds instead of
    building every window's string and hashing it after the explode
    (round-11: the concat chain allocated n-1 growing strings per
    token position and carried them through the Generate). Null
    propagation matches the string form: tail windows shorter than n
    zip against null and come out null."""
    _FNV = 1099511628211
    wh = F.col("__wh")
    cur: Column = wh
    for j in range(1, n):
        rest = F.slice(wh, j + 1, F.greatest(F.size(wh) - j, F.lit(0)))
        cur = F.zip_with(cur, rest, lambda a, b: a * _FNV + b)
    return (
        df.select(
            id_col, F.split(normalize_text(F.col(text_col)), " ").alias("__w")
        )
        .select(id_col, F.transform("__w", lambda w: F.xxhash64(w)).alias("__wh"))
        .select(id_col, F.posexplode(cur).alias("pos", "gh"))
        .where(F.col("gh").isNotNull())
    )


def duplicated_spans(
    df: DataFrame,
    n: int = 5,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated token spans per doc: (id, span_start,
    span_end, n_tokens), token positions 0-based inclusive. A span is
    the union of consecutive positions whose n-gram occurs at least
    `min_count` times corpus-wide (within- and cross-doc occurrences
    both count, as in the paper)."""
    # 8-byte codegen hash as the shuffle key (not md5 strings, not
    # gram strings): a 64-bit collision would merge two distinct
    # grams, at ~1e-19 per pair — the oracle's exact-output compare
    # would catch it
    pg = _positional_gram_hashes(df, n=n, text_col=text_col, id_col=id_col)
    # TWO-LEVEL count + semi-join. The groupBy runs a partial
    # aggregation map-side, so a hot gram's occurrences collapse to one
    # (gh, partial count) row per map partition before the shuffle —
    # the wide shuffle carries distinct grams, not positions. Attaching
    # the duplicated-gram set back to positions is a LEFT SEMI join,
    # which AQE can broadcast when the set is small and skew-split when
    # it is not (joins get runtime skew handling; a window over the
    # gram hash would put every occurrence of a hot gram in one task,
    # and window execs get no skew mitigation). Costs one extra
    # evaluation of the gram pipeline (integer multiply-adds over the
    # staged word hashes — no gram strings).
    dup = (
        pg.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= min_count)
        .select("gh")
    )
    hits = pg.join(dup, "gh", "left_semi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = hits.withColumn(
        "brk",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + 1),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("brk").over(w))
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n - 1).alias("span_end"),
            (F.max("pos") - F.min("pos") + n).alias("n_tokens"),
        )
        .drop("island")
    )


def strip_duplicated_spans(
    df: DataFrame,
    n: int = 5,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut duplicated spans out of each doc: the paper's remediation
    step. Returns the input rows with `text` replaced by the
    normalized text minus every token inside a duplicated span (docs
    with no spans keep their normalized text whole).

    Plan: spans collapse to one small array per affected doc
    (collect_list after the span agg), broadcast-or-shuffle join
    back on id, then ONE pass over the word array with an
    index-aware filter — exists() over the span array per token.
    Span counts per doc are tiny (boilerplate runs), so the arrays
    are bounded."""
    spans = duplicated_spans(
        df, n=n, min_count=min_count, text_col=text_col, id_col=id_col
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    # word array staged once: both the null-span branch and the filter
    # branch read it (array_join(__w) == normalize_text(text) because
    # split-on-single-space inverts exactly after whitespace collapse,
    # including the empty and null cases), so the regexp+split runs
    # once per row instead of twice
    kept = F.filter(
        F.col("__w"),
        lambda w, i: ~F.exists(
            F.col("__spans"),
            lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
        ),
    )
    return (
        df.join(per_doc, id_col, "left")
        .withColumn("__w", F.split(normalize_text(F.col(text_col)), " "))
        .withColumn(
            text_col,
            F.when(F.col("__spans").isNull(), F.array_join(F.col("__w"), " "))
            .otherwise(F.array_join(kept, " ")),
        )
        .select(*df.columns)  # original column order, text in place
    )
