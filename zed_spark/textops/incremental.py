"""Cross-snapshot INCREMENTAL near-duplicate dedup.

The full-corpus pipeline (textops/minhash.py) rescans every document
each run. A real training pipeline ingests a new crawl every few
weeks and must dedup it against the corpus it already cleaned —
WITHOUT rescanning 100 TB of old text. This module splits the
pipeline at its natural seam: everything downstream of shingling is
a pure function of the text, so per-distinct-text SIGNATURES
(md5 key, minhash array, verify hash-set, old cluster label) persist
to a lake pool at original-dedup time, and a later crawl bands its
new texts against the stored arrays.

Exactness (pinned by the incremental_dedup oracle row): the output
equals `dedup_corpus(old ∪ new)` because
  - connectivity is TEXT-level: bands, jaccard, and edges are
    functions of text alone, so stored signatures stand in for old
    documents byte-for-byte;
  - old↔old connectivity cannot change (no new old texts), so the
    stored component labels replace re-banding old pairs;
  - exact duplicates merge by md5 key, so a new copy of an old text
    joins its group without any text comparison;
  - the final survivor of a merged component is its minimum doc id,
    computable from per-text minimum ids (stored for old, computed
    for new) — connected components run over those minima plus the
    stored labels as hub nodes, never over member lists.

Scale shape: the signature store is ~100 bytes/distinct text vs KBs
of text; the incremental run scans new text once, scans the store
(narrow columns, no text), and shuffles (node, band, int64) rows.
Nothing touches old documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zed_spark.textops.dedup import (
    connected_components,
    normalize_text,
    shingles_from_words,
)
from zed_spark.textops.minhash import (
    P,
    _SHIFT,
    hash_params,
    minhash_lsh_clusters,
    shingle_base,
)


def _text_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int,
    num_hashes: int,
    assume_unique: bool = False,
) -> DataFrame:
    """(__h, min_id, minhashes, hashset) per DISTINCT text: one
    shingle scan over group representatives only (the same
    one-aggregation shape as _lsh_parts; minhashes is null for
    shingle-less texts).

    assume_unique=True declares the input already holds exactly one
    row per distinct text (incremental_dedup's fresh_docs are built
    that way: one min-id doc per fresh hash), so the exact-dup
    collapse — a groupBy Exchange plus a join that carries the text
    payload — is skipped outright (round-11: two fewer stages in the
    fresh-signature leg, the widest rows in the incremental plan)."""
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("__h"),
        F.col(text_col).alias("__t"),
    )
    if assume_unique:
        groups = keyed.select("__h", F.col("id").alias("min_id"))
        reps = keyed
    else:
        groups = keyed.groupBy("__h").agg(F.min("id").alias("min_id"))
        reps = keyed.join(groups, "__h").filter(F.col("id") == F.col("min_id"))
    # word array staged so the regexp+split runs once per row; the
    # shingle chain stays inline in the explode (attribute children
    # trigger InferFiltersFromGenerate + pushdown re-inlining — see
    # dedup.shingles_from_words)
    based = (
        reps.select(
            "__h", F.split(normalize_text(F.col("__t")), " ").alias("__w")
        )
        .select(
            "__h",
            F.explode(
                shingles_from_words(F.col("__w"), k_shingle, sort=False)
            ).alias("sh"),
        )
        .select("__h", shingle_base(F.col("sh")).alias("b"))
    )
    # one SQL string per aggregate instead of ~16 py4j round-trips per
    # seed at plan-build time (same trees; see minhash._lsh_parts)
    agg = based.groupBy("__h").agg(
        F.expr(
            "array("
            + ", ".join(
                f"min(({hash_params(i)[0]} * b + {hash_params(i)[1]}) % {P})"
                for i in range(num_hashes)
            )
            + ") AS minhashes"
        ),
        F.expr("array_sort(array_distinct(collect_list(b))) AS hashset"),
    )
    return groups.join(agg, "__h", "left")


def build_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float | None = 0.5,
    max_iters: int = 20,
) -> DataFrame:
    """The signature table a dedup run persists alongside its cleaned
    corpus: per distinct text, the minhash/verify arrays plus `comp`,
    the corpus's near-dup component label (null when unclustered).
    Store with `write_signatures`; feed to `incremental_dedup`."""
    sigs = _text_signatures(df, text_col, id_col, k_shingle, num_hashes)
    clusters = minhash_lsh_clusters(
        df, text_col, id_col, k_shingle, num_hashes, bands, threshold, max_iters
    )
    comp = clusters.select(
        F.col("doc_id").alias("min_id"), F.col("cluster_id").alias("comp")
    )
    return sigs.join(comp, "min_id", "left").select(
        "__h", "min_id", "minhashes", "hashset", "comp"
    )


def write_signatures(lake, pool_name: str, sigs: DataFrame) -> str:
    """Persist a signature table to a lake pool (keyed by min_id so
    object pruning works for id-ranged maintenance queries)."""
    try:
        pool = lake.create_pool(pool_name, key="min_id", order="asc")
    except ValueError:
        pool = lake.pool(pool_name)
    return pool.load(sigs, message="minhash signatures")


def read_signatures(lake, pool_name: str) -> DataFrame:
    return lake.pool(pool_name).scan()


def _bands_of_array(num_hashes: int, bands: int):
    """Band-hash columns over a `minhashes` array column — the exact
    construction minhash._lsh_parts builds over m{i} columns (one
    parsed SQL string per band, not a py4j call per operator)."""
    rows_per_band = num_hashes // bands
    out = []
    for b in range(bands):
        expr = f"minhashes[{b * rows_per_band}]"
        for r in range(1, rows_per_band):
            idx = b * rows_per_band + r
            if r == rows_per_band - 1:
                expr = f"({expr} * {_SHIFT} + minhashes[{idx}])"
            else:
                expr = f"(({expr} + minhashes[{idx}]) % {P})"
        out.append(F.expr(expr))
    return out


def incremental_dedup(
    new_df: DataFrame,
    signatures: DataFrame,
    old_deduped: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float | None = 0.5,
    max_iters: int = 20,
):
    """Dedup a new crawl against an already-deduped corpus using only
    its signature table — output-equal to rerunning dedup_corpus on
    old ∪ new (oracle-pinned), without rescanning old text.

    Returns (kept_new, retired_old):
      - kept_new: the new_df rows that survive the MERGED corpus
        dedup (all columns);
      - retired_old: (doc_id) — old survivors displaced because a new
        document with a smaller id joined their cluster or exact
        group.
    With `old_deduped` given, returns the assembled cleaned corpus
    instead: old_deduped minus retired, plus kept_new.
    """
    # --- merge exact groups by text hash -----------------------------
    from zed_spark.cache_scope import scoped_cache

    new_keyed = scoped_cache(
        new_df.select(
            F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("__h")
        ),
        "incremental.new_keyed",
    )
    new_groups = new_keyed.groupBy("__h").agg(F.min("id").alias("new_min"))
    sig = signatures.select("__h", "min_id", "minhashes", "hashset", "comp")
    merged = sig.join(new_groups, "__h", "full_outer")

    # signatures for genuinely-new texts, computed from new text only
    fresh_h = merged.filter(F.col("min_id").isNull()).select("__h", "new_min")
    fresh_docs = new_df.join(
        fresh_h.select(F.col("new_min").alias(id_col)), id_col, "left_semi"
    )
    fresh_sigs = _text_signatures(
        fresh_docs, text_col, id_col, k_shingle, num_hashes,
        # fresh_docs holds exactly one (min-id) doc per fresh hash by
        # construction — no exact-dup collapse needed
        assume_unique=True,
    ).withColumnRenamed("min_id", "f_min")

    # per-text state: node = merged min doc id; shingled-ness and the
    # arrays come from the store for old texts, from fresh_sigs for new
    texts = (
        merged.join(fresh_sigs.withColumnRenamed("__h", "__fh")
                    .withColumnRenamed("minhashes", "f_mh")
                    .withColumnRenamed("hashset", "f_hs"),
                    F.col("__h") == F.col("__fh"), "left")
        .select(
            "__h",
            F.least("min_id", "new_min").alias("node"),
            F.col("min_id").isNotNull().alias("is_old"),
            F.coalesce("minhashes", "f_mh").alias("minhashes"),
            F.coalesce("hashset", "f_hs").alias("hashset"),
            "comp",
            "min_id",
        )
    )
    texts = scoped_cache(texts, "incremental.texts")

    # --- band: every signed text; candidates need ≥1 NEW side --------
    # the band self-join shuffles (node, is_old, band, int64) ONLY —
    # the verify hash-sets join in AFTER candidate dedup (round-11:
    # riding the band rows they were copied `bands`× per text into
    # both sides of the shuffle; keys-not-payloads, same shape as
    # minhash._lsh_parts)
    banded = (
        texts.filter(F.col("minhashes").isNotNull())
        .select(
            "node",
            "is_old",
            F.posexplode(F.array(*_bands_of_array(num_hashes, bands))).alias(
                "band", "bh"
            ),
        )
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.node") < F.col("b.node"))
            # old↔old connectivity is already in the store — never
            # recompute it (this is what makes the run incremental)
            & ~(F.col("a.is_old") & F.col("b.is_old")),
        )
        .select(
            F.col("a.node").alias("id_a"),
            F.col("b.node").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    if threshold is not None:
        hsets = texts.filter(F.col("minhashes").isNotNull()).select(
            F.col("node"), F.col("hashset")
        )
        cand = cand.join(
            hsets.select(
                F.col("node").alias("id_a"), F.col("hashset").alias("__sa")
            ),
            "id_a",
        ).join(
            hsets.select(
                F.col("node").alias("id_b"), F.col("hashset").alias("__sb")
            ),
            "id_b",
        )
        common = F.size(F.array_intersect("__sa", "__sb"))
        jac = common / (F.size("__sa") + F.size("__sb") - common)
        cand = cand.filter(jac >= threshold)
    edges_new = cand.select("id_a", "id_b")
    # stored old components enter as hub edges: text-node -> comp id
    # (comp is itself an old doc id ≥ its own text's node, so min
    # labels stay true document minima)
    edges_old = texts.filter(F.col("comp").isNotNull()).select(
        F.col("node").alias("id_a"), F.col("comp").alias("id_b")
    )
    cc = connected_components(
        edges_new.unionByName(edges_old), max_iters=max_iters
    ).select(F.col("doc_id").alias("node"), F.col("cluster_id").alias("__cc"))

    labeled = texts.join(cc, "node", "left").select(
        "__h",
        "node",
        "min_id",
        "comp",
        F.col("minhashes").isNotNull().alias("shingled"),
        F.coalesce("__cc", "node").alias("label"),
    )

    # --- survivors ----------------------------------------------------
    # shingle-less texts never cluster: every copy survives (the full
    # pipeline's gsz>=2-but-unshingled behavior). Shingled texts keep
    # exactly the component/group minimum.
    kept_new = new_df.join(
        new_keyed.join(labeled, "__h").filter(
            (~F.col("shingled")) | (F.col("id") == F.col("label"))
        ).select(F.col("id").alias(id_col)),
        id_col,
        "left_semi",
    )
    # ONE distinct (round-12): the old form deduped (s, label) pairs
    # and then deduped s again — two Exchanges for one set. Filtering
    # displaced survivors BEFORE the distinct leaves a single shuffle
    # on the retired ids (same set: a displaced survivor is any s
    # whose component label differs from it, however many texts map
    # to s).
    retired = (
        labeled.filter(F.col("shingled") & F.col("min_id").isNotNull())
        .select(F.coalesce("comp", "min_id").alias("s"), "label")
        .filter(F.col("s") != F.col("label"))
        .select(F.col("s").alias(id_col))
        .distinct()
    )

    if old_deduped is None:
        return kept_new, retired
    return old_deduped.join(retired, id_col, "left_anti").unionByName(
        kept_new
    )
