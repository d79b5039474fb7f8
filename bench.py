#!/usr/bin/env python
"""Benchmark harness: times the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is forced to full materialization with the noop sink
(df.count() would let Catalyst prune the projections away).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

# FROZEN at the round-2 battery (BENCH_r02.json's 23 keys) so
# round-over-round totals compare apples-to-apples. Queries added in
# later rounds go in NEW_QUERIES and are reported in a separate
# "new" block, never in the headline total.
HEADLINE = [
    "q1_pricing_summary",
    "where_filter",
    "cut_project",
    "join_inner_agg",
    "join_left_count",
    "agg_where",
    "every_hour",
    "top_k",
    "uniq_runs",
    "json_props",
    "over_words",
    "dedup_exact",
    "minhash_lsh_pairs",
    "simhash_fingerprints",
    "cosine_topk",
    "text_analysis",
    "sessionize",
    "top_per_group",
    "rollup_totals",
    "percentiles",
    "percentiles_approx",
    # scale path: LSH-bucketed near-pairs (the exact all-pairs
    # variant is correctness-graded at sf0.01; O(n²) by design)
    "embedding_near_lsh",
    "zq_filter_agg",
]

# round-3 additions folded into the PINNED set in round 4 (their
# BENCH_r03 `new`-block numbers are the baseline); the r02-comparable
# 23-key subtotal is still printed as `headline23` for continuity.
PINNED_R4: list[str] = ["dedup_clusters", "ann_ivf_topk"]
# round-4's `new` entry promoted in round 6 (BENCH_r05 `new` is its
# baseline: 0.117 s)
PINNED_R6: list[str] = ["lake_scan_range"]
HEADLINE = HEADLINE + PINNED_R4 + PINNED_R6

# round-6 additions, timed and reported separately. Entries outside
# the graded 50-query registry resolve via EXTRA_QUERIES.
# (embedding_lsh_agreement is grading-only: it computes the exact
# all-pairs set as its own truth reference, which is O(n²) by design
# and belongs at the sf0.01 fixture, not in the timed battery.)
NEW_QUERIES: list[str] = [
    "fuse_hetero", "fuse_union",
    # round-9 training-data additions (codegen-only corpus filters;
    # oracle-pinned in tests/test_oracle_parity.EXTRA_ORACLES)
    "repetition_filter", "pii_scan",
    # round-10: deterministic sampling + shard packing + end-to-end
    # corpus dedup + mixture construction (oracle-pinned in
    # EXTRA_ORACLES)
    "corpus_sample", "shard_pack", "dedup_corpus", "mixture_sample",
    # round-11: cross-snapshot incremental dedup (lake-persisted
    # signatures; oracle-pinned equal to full dedup in EXTRA_ORACLES)
    "incremental_dedup",
    # round-11 late tranche: exact substring dedup (duplicated spans)
    # + benchmark decontamination (oracle-pinned in EXTRA_ORACLES)
    "duplicated_spans", "strip_spans", "decontaminate", "chunk_documents",
    "quantize_embeddings", "profile_documents", "bpe_merges", "lm_quality",
]


def _extra_queries() -> dict:
    """Pinned bench keys whose functions are no longer (or never
    were) in the graded 50-entry registry — the battery stays
    byte-identical round-over-round regardless of registry rotation."""
    from zed_spark import queries_analytics as qa
    from zed_spark import queries_core as qc
    from zed_spark import queries_text as qt

    return {
        "ann_ivf_topk": qt.ann_ivf_q,
        # rotated out of the graded registry in round 6; still timed
        "json_props": qc.json_props,
        "embedding_near_lsh": qt.embedding_near_lsh_q,
        # the graded registry row became a rank-check truth table in
        # round 7; the bench keeps timing the raw sketch aggregate
        "percentiles_approx": qa.percentiles_approx_raw_q,
        # round-9 corpus filters (NEW_QUERIES block)
        "repetition_filter": qt.repetition_filter_q,
        "pii_scan": qt.pii_scan_q,
        # round-10 sampling/packing + corpus ops (NEW_QUERIES block)
        "corpus_sample": qt.corpus_sample_q,
        "shard_pack": qt.shard_pack_q,
        "dedup_corpus": qt.dedup_corpus_q,
        "mixture_sample": qt.mixture_sample_q,
        "incremental_dedup": qt.incremental_dedup_q,
        # round-11 late tranche (NEW_QUERIES block)
        "duplicated_spans": qt.duplicated_spans_q,
        "strip_spans": qt.strip_spans_q,
        "decontaminate": qt.decontaminate_q,
        "chunk_documents": qt.chunk_documents_q,
        "quantize_embeddings": qt.quantize_embeddings_q,
        "profile_documents": qt.profile_documents_q,
        "bpe_merges": qt.bpe_merges_q,
        "lm_quality": qt.lm_quality_q,
    }


# key columns shifted per copy when synthesizing a scaled dataset, so
# joins/dedup keep realistic selectivity instead of copies^2 fanout
_SCALE_TABLES = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_DIM_TABLES = ["region", "nation", "supplier", "part"]


def synthesize_scaled(spark, src_dir: str, factor: int, out_dir: str) -> None:
    """Union `factor` key-shifted copies of the big tables (dims stay
    single-copy) — a scaling-curve dataset without touching
    /root/testdata. Idempotent: skips tables already written."""
    from pyspark.sql import functions as F

    for name, keys in _SCALE_TABLES.items():
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(dst):
            continue
        df = spark.read.parquet(f"{src_dir}/{name}.parquet")
        shifts = {k: df.agg(F.max(k)).first()[0] + 1 for k in keys}
        copies = [
            df.select(
                *[
                    (F.col(c) + i * shifts[c]).alias(c) if c in keys else F.col(c)
                    for c in df.columns
                ]
            )
            for i in range(factor)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionAll(c)
        out.write.mode("overwrite").parquet(dst)
    for name in _DIM_TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            spark.read.parquet(f"{src_dir}/{name}.parquet").write.mode(
                "overwrite"
            ).parquet(dst)


def _calibration_run(spark) -> float:
    """Fixed-work calibration key (round-7 VERDICT item 4): hash and
    sort 20M longs — constant work, independent of sf_dir and of
    every query plan. Its round-over-round movement measures AMBIENT
    machine conditions, so a uniform shift across all query keys can
    be attributed (or not) to load directly from the artifact."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 20_000_000, 1, 32)
        .select(F.xxhash64("id").alias("h"))
        .orderBy("h")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def _parallel_calibration_run(spark) -> float:
    """Fixed-work PARALLEL calibration key (round-9 VERDICT item 1).

    The serial key above is dominated by fixed scheduling cost, so it
    under-corrects multi-core contention: background load inflates the
    battery while the serial key barely moves (r9 driver run: battery
    +22% vs quiet re-run, calibration flat). This key saturates every
    core the session gets with pure codegen compute (100M triple-
    xxhash64 rows per core + partial-agg sum, no shuffle, no data), so
    ambient multi-core load inflates it by the same factor it inflates
    the battery. `total_per_parallel_calibration` is the round-over-
    round regression gate; the serial key stays for single-core drift."""
    from pyspark.sql import functions as F

    from zed_spark.session import default_parallelism

    cores = default_parallelism()
    t0 = time.perf_counter()
    (
        spark.range(0, 100_000_000 * cores, 1, cores)
        .select(
            F.sum(F.xxhash64(F.xxhash64(F.xxhash64("id")))).alias("s")
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from zed_spark.session import build_spark

    spark = build_spark(app_name="zed_spark_bench")

    if "--scale" in sys.argv:
        factor = int(sys.argv[sys.argv.index("--scale") + 1])
        out_dir = f"/tmp/zed_spark_scale_{factor}x"
        synthesize_scaled(spark, sf_dir, factor, out_dir)
        sf_dir, sf = out_dir, sf * factor

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    queries.update(_extra_queries())
    times: dict[str, float] = {}
    # untimed warm-up pass: JIT-compile the generated code for every
    # query shape (steady-state throughput is what matters at scale —
    # a real cluster amortizes codegen over hours, not milliseconds)
    for name in HEADLINE + NEW_QUERIES:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # median of 3 timed runs per query (round-4 VERDICT item 7:
    # single-shot timings drifted ±17% on unchanged code, so
    # round-over-round comparisons chased noise). Runs are
    # interleaved per-query (r1 r2 r3 back-to-back) — the warm-up
    # pass above already paid codegen, so the three repeats sample
    # steady state.
    # Sub-0.5 s keys get 5 repeats (round-7 VERDICT item 4: their
    # max_spread was the size of the key itself at 3 repeats).
    REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    SMALL_KEY_REPEATS = max(REPEATS, 5)
    new_times: dict[str, float] = {}
    spreads: dict[str, float] = {}
    # parallel calibration samples INTERLEAVED with the battery: the
    # shared host's ambient load swings within one bench run, so
    # end-of-run calibration misses the load the battery actually
    # experienced. One warm-up here; a sample lands every ~6 keys.
    _parallel_calibration_run(spark)
    pcal_samples: list[float] = [_parallel_calibration_run(spark)]
    for qi, name in enumerate(HEADLINE + NEW_QUERIES):
        if qi % 6 == 5:
            pcal_samples.append(_parallel_calibration_run(spark))
        fn = queries[name]
        samples = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        if sorted(samples)[len(samples) // 2] < 0.5:
            for _ in range(SMALL_KEY_REPEATS - REPEATS):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
        samples.sort()
        med = samples[len(samples) // 2]
        (times if name in HEADLINE else new_times)[name] = round(med, 4)
        if med > 0:
            spreads[name] = round((samples[-1] - samples[0]) / med, 3)

    # fixed-work calibration: warm once, median of 5
    _calibration_run(spark)
    cal_samples = sorted(_calibration_run(spark) for _ in range(5))
    cal = cal_samples[2]

    # final parallel calibration sample, then the median over the
    # whole battery window
    pcal_samples.append(_parallel_calibration_run(spark))
    pcal_samples.sort()
    pcal = pcal_samples[len(pcal_samples) // 2]

    total = round(sum(times.values()), 4)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        # r02/r03-comparable subtotal (the original 23 pinned keys)
        "headline23": round(
            sum(
                v
                for k, v in times.items()
                if k not in PINNED_R4 and k not in PINNED_R6
            ),
            4,
        ),
        # per-query medians of N runs; spread = (max-min)/median, the
        # variance note round-4 VERDICT item 7 asked for
        "runs_per_query": REPEATS,
        "runs_per_small_query": SMALL_KEY_REPEATS,
        "max_spread": round(max(spreads.values(), default=0.0), 3),
        # fixed-work ambient-load signal: constant job, constant data;
        # compare across rounds to attribute uniform total shifts.
        # Clean-box reference value recorded in COVERAGE.md.
        "calibration_sec": round(cal, 4),
        "calibration_spread": round(
            (cal_samples[-1] - cal_samples[0]) / cal, 3
        )
        if cal > 0
        else 0.0,
        "total_per_calibration": round(total / cal, 2) if cal > 0 else None,
        # 32-core-saturating fixed-work key: inflates under the same
        # multi-core contention that inflates the battery, so THIS is
        # the round-over-round regression gate (round-9 VERDICT item 1)
        "parallel_calibration_sec": round(pcal, 4),
        "parallel_calibration_spread": round(
            (pcal_samples[-1] - pcal_samples[0]) / pcal, 3
        )
        if pcal > 0
        else 0.0,
        "total_per_parallel_calibration": round(total / pcal, 2)
        if pcal > 0
        else None,
    }
    if new_times:
        out["new"] = new_times
    print(json.dumps(out))


if __name__ == "__main__":
    main()
