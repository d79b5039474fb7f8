"""Deduplication: exact and n-gram-Jaccard near-dup.

Exact dedup is a hash group-by (scales linearly, one shuffle on the
content hash). Near-dup Jaccard generates candidate pairs through a
shingle inverted index (shuffle on shingle, never O(n²) row pairs);
for very large corpora prefer minhash.minhash_lsh_pairs which bounds
the index size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def normalize_text(text: Column) -> Column:
    """Lowercase + whitespace-collapse — the usual normalization
    before content hashing."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", keep_count: bool = True
) -> DataFrame:
    """Exact dedup on normalized content hash: keeps the minimum id
    per distinct content (deterministic representative) plus the
    duplicate count.

    Scale: single hash-shuffle on a 32-char key; partial aggregation
    (min/count) runs map-side, so the shuffle carries one row per
    distinct content per partition.
    """
    h = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    agg = [F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies")]
    out = df.groupBy(h).agg(*agg)
    if not keep_count:
        out = out.drop("n_copies")
    return out


def shingles_from_words(words: Column, k: int = 3, sort: bool = True) -> Column:
    """Distinct word k-shingles of a MATERIALIZED word-array column.

    Callers should stage the word array (`F.split(normalize_text(t),
    " ")`) in its own projection and pass the attribute here: the
    zip_with chain references `words` 2(k-1)+1 times, and Generate/
    Filter nodes evaluate their expression trees as written (no
    whole-stage codegen, no subexpression elimination), so an inlined
    split+regexp runs up to 9× per row for k=5 (round-11 plan audit:
    the decontaminate Generate carried 9 split(regexp_replace(...))
    copies, and InferFiltersFromGenerate duplicated the whole tree
    into a pre-filter twice more). Staging collapses that to ONE
    regexp+split per row; CollapseProject keeps the staged column
    because it is non-cheap and multiply referenced.

    Built by zipping the word array with its own shifted tails rather
    than indexing with transform(sequence(...)) — an expression
    referenced inside a transform lambda is re-evaluated PER ELEMENT,
    which made the index formulation ~8× slower. zip_with pads the
    shorter side with nulls; concat propagates them, so the overhang
    entries are nulls and get filtered.
    """
    cur = words
    for j in range(1, k):
        rest = F.slice(words, j + 1, F.greatest(F.size(words) - j, F.lit(0)))
        cur = F.zip_with(cur, rest, lambda a, b: F.concat(a, F.lit(" "), b))
    cur = F.filter(cur, lambda x: x.isNotNull())
    out = F.array_distinct(cur)
    return F.array_sort(out) if sort else out


def word_shingles(text: Column, k: int = 3, sort: bool = True) -> Column:
    """Distinct word k-shingles of the text (sorted for determinism;
    pass sort=False when the consumer is order-insensitive — e.g.
    decontamination's membership counting — to skip the per-doc
    O(m log m) sort). Column-level form; DataFrame pipelines should
    stage the word array and use `shingles_from_words` (see there)."""
    return shingles_from_words(F.split(normalize_text(text), " "), k, sort)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard near-duplicate pairs.

    Inverted-index plan: explode distinct shingles → self-join on
    shingle (the shuffle key) → count common shingles per pair →
    jaccard = common / (|A| + |B| - common). Only pairs sharing at
    least one shingle are ever materialized.

    Scale note: hot shingles create skew; AQE skew-join splitting is
    enabled in the session. For >10^9 docs, drop the top-frequency
    shingles (stopword shingles) before the join — standard practice.

    Exact duplicates are collapsed first and representative pairs
    expanded back at the end (identical texts ⇒ identical shingle
    sets, so member-pair jaccard equals rep-pair jaccard and
    within-group pairs are exactly 1.0) — duplicate clusters
    otherwise grow the inverted index's per-shingle document
    frequency, and the pair join, quadratically (the bench --scale
    finding on the minhash path; same algebra as minhash.py).
    """
    # exact-dup collapse keys on RAW-text md5 (round-12; same keying
    # as minhash._lsh_parts): the normalized-md5 key this replaces
    # re-evaluated the normalize regexp in every keying subtree (the
    # round-11 plan carried 24 copies). Raw keying groups FINER —
    # normalized-equal raw-different docs stay separate reps — but the
    # output is identical: identical normalized texts have identical
    # shingle sets, so such pairs emerge from the rep-pair path with
    # common == n_a == n_b, i.e. jaccard exactly 1.0 (the same value
    # the within-group branch emits), and empty-shingle docs never
    # pair on either path.
    keyed = df.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("__h")
    )
    groups = keyed.groupBy("__h").agg(
        F.min("id").alias("rep"), F.count(F.lit(1)).alias("gsz")
    )
    members = keyed.join(groups, "__h").select("id", "rep", "gsz")
    df = df.join(groups.select(F.col("rep").alias(id_col)), id_col, "left_semi")

    # word array staged in its own projection so the regexp+split runs
    # once per row; the distinct shingle ARRAY is then materialized
    # once per rep in a doc-granular cache — the inverted-index
    # self-join (two sides) and the shingled-reps filter all read the
    # cache instead of re-running the normalize+shingle chain per
    # subtree (round-12: regexp copies 24+ -> 1; same doc-granular
    # cache shape as minhash._lsh_parts).
    sh = shingles_from_words(F.col("__w"), k, sort=False)
    from zed_spark.cache_scope import scoped_cache

    sharr = scoped_cache(
        df.select(
            F.col(id_col).alias("id"),
            F.split(normalize_text(F.col(text_col)), " ").alias("__w"),
        ).select("id", sh.alias("__sh")),
        "dedup.ngram_jaccard.sharr",
    )
    ex = sharr.select(
        "id", F.size("__sh").alias("n_sh"), F.explode("__sh").alias("sh")
    )
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("a.n_sh").alias("n_a"),
            F.first("b.n_sh").alias("n_b"),
        )
    )
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    rep_pairs = (
        common.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )

    # expand rep pairs to member pairs + within-group 1.0 pairs
    # (groups with at least one shingle — empty-shingle docs never
    # pair in the uncollapsed pipeline either)
    ma = members.select(F.col("rep").alias("id_a"), F.col("id").alias("__xa"))
    mb = members.select(F.col("rep").alias("id_b"), F.col("id").alias("__xb"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__xa", "__xb").alias("id_a"),
            F.greatest("__xa", "__xb").alias("id_b"),
            "jaccard",
        )
    )
    shingled = sharr.filter(F.size("__sh") > 0).select(F.col("id").alias("rep"))
    dup_groups = members.filter(F.col("gsz") >= 2).join(shingled, "rep", "left_semi")
    within = (
        dup_groups.select("rep", F.col("id").alias("__xa"))
        .join(dup_groups.select("rep", F.col("id").alias("__xb")), "rep")
        .filter(F.col("__xa") < F.col("__xb"))
        .select(
            F.col("__xa").alias("id_a"),
            F.col("__xb").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Duplicate CLUSTERS from a near-dup pair list: connected
    components by iterative min-label propagation — the step after
    pair detection in the C4/GPT-3 dedup recipe (keep one
    representative per component).

    Each round every node adopts the minimum label among itself and
    its neighbors; converges in O(component diameter) rounds, and in
    O(log diameter) with the pointer-doubling shortcut from round 3
    on. LSH duplicate clusters are small and band-join-dense
    (near-cliques), so they converge in 2 rounds at any scale. This is
    the large-star/small-star label-propagation shape (Kiveris et al.,
    SoCC 2014) restricted to undirected propagation, which is enough
    for near-dup graphs whose components are tiny.

    100 TB design: one shuffle per round keyed on node id — no
    driver-side adjacency; each round ends in an eager
    `localCheckpoint`, so the plan stays bounded across rounds.

    - The symmetrised edge list is checkpointed EAGERLY, once. Under
      AQE a "lazy" checkpoint is not lazy: planning it runs every
      shuffle stage of the upstream pair pipeline as its own job and
      defers only the last stage, which then runs inside round 2's
      checkpoint job, where the round's concurrent stages block on it.
    - Round 1 needs no labels frame: on a symmetric edge list, the
      minimum over a node and its neighbours is one aggregation,
      `least(a, min(b)) by a`. It stays a lazy plan fragment that runs
      inside round 2's checkpoint job.
    - Convergence is observed, not probed: `DataFrame.observe` counts
      the changed labels inside the round's checkpoint job, so a round
      costs no separate probe job. A count of 0 (or null, when there
      are no nodes) stops the loop.
    """
    # symmetrize in ONE pass over the (possibly expensive) upstream
    # pair pipeline: explode both directions per pair, so the LSH
    # stage above is computed once, not once per union branch. No
    # distinct(): min-label aggregation is insensitive to edge
    # multiplicity, and the upstream pair lists are already deduped.
    both = F.explode(
        F.array(
            F.struct(F.col(id_a).alias("a"), F.col(id_b).alias("b")),
            F.struct(F.col(id_b).alias("a"), F.col(id_a).alias("b")),
        )
    )
    edges = pairs.select(both.alias("e")).select("e.a", "e.b").localCheckpoint()
    labels = edges.groupBy("a").agg(
        F.col("a").alias("node"), F.least("a", F.min("b")).alias("label")
    ).drop("a")
    global _LAST_CC_ROUNDS
    _LAST_CC_ROUNDS = 1
    for i in range(2, max_iters + 1):
        _LAST_CC_ROUNDS = i
        neigh = edges.join(labels, edges["b"] == labels["node"]).select(
            edges["a"].alias("node"), "label"
        )
        # self-rows carry the previous label in `old`; neighbor rows
        # carry null — min(label) is the propagation step and min(old)
        # recovers the previous label, so the round's own result
        # shows which labels changed
        prop = (
            labels.withColumn("old", F.col("label"))
            .unionByName(
                neigh.withColumn(
                    "old", F.lit(None).cast(labels.schema["label"].dataType)
                )
            )
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("old").alias("old"))
        )
        if i > 2:
            # pointer doubling (label := label's label) from round 3:
            # each round then roughly squares a chain's reach. Labels
            # are node ids and only decrease, so label's label exists;
            # the left join + coalesce keeps self-rooted nodes. Round 2
            # skips it: a near-clique is already converged after
            # round 1, and the shortcut's self-join would buy nothing.
            lbl2 = prop.select(
                F.col("node").alias("__pn"), F.col("label").alias("__pl")
            )
            prop = prop.join(lbl2, prop["label"] == lbl2["__pn"], "left").select(
                "node",
                F.coalesce(F.least("__pl", "label"), F.col("label")).alias("label"),
                "old",
            )
        changed = Observation()
        labels = (
            prop.observe(
                changed,
                F.sum((F.col("label") != F.col("old")).cast("long")).alias("n"),
            )
            .localCheckpoint()
            .select("node", "label")
        )
        if not changed.get["n"]:
            break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# round count of the most recent connected_components call (pinned by
# tests: pointer doubling must keep chains at O(log diameter))
_LAST_CC_ROUNDS = 0
