"""Seeded input generators for the workloads.

Everything here is plain Python and pyarrow: the program under
test only ever sees the files and request bodies these functions
produce. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# Workload sizes. "full" is what the benchmark measures; "tiny" is the
# smoke-test size. The full corpus has the shape of the `documents`
# table of the repo's sf0.1 test data: 5,000 documents of 10-100 words drawn from a 31-word
# vocabulary, 8 documents (0.16%) that exact dedup removes, and 477
# documents (9.5%) in 233 MinHash-LSH clusters of sizes 2 (223), 3 (9)
# and 4 (1); clusters of 3 and 4 are built as edit chains here. The
# lake batch of 2,000 ndjson rows is the batch of the load/query probe
# whose query time grew from 1.1 s to 8.4 s over 40 loads; the history
# depth of 4 commits is the deepest that keeps one run within its time
# budget (README.md). BENCHMARK.json repeats these sizes.
SIZES = {
    "full": {
        "docs": 5_000, "words": (10, 100), "vocab": 31, "exact_copies": 8,
        "clusters": {2: 223, 3: 9, 4: 1}, "history": 4, "batch_rows": 2_000,
    },
    "tiny": {
        "docs": 300, "words": (10, 100), "vocab": 31, "exact_copies": 2,
        "clusters": {2: 10, 3: 2, 4: 1}, "history": 2, "batch_rows": 50,
    },
}

EVENT_TYPES = ["click", "view", "purchase", "login", "logout", "error"]
EVENTS_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20)


# --- corpus -------------------------------------------------------------

def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 6))))
    return sorted(words)


@dataclass
class Corpus:
    """The generated corpus plus the structure it was built with."""

    path: str
    # doc_id groups that hold byte-for-byte-equal text after
    # normalization (lowercase + whitespace collapse)
    exact_groups: list[list[int]]


LANGS = (["en"] * 41 + ["es", "zh", "de", "fr"] * 15)  # sf0.1 shares, in %
SOURCES = 20


def write_corpus(out_dir: str, seed: int, size: str = "full") -> Corpus:
    """A `documents` table with a stated number of exact duplicates
    (re-cased and re-spaced copies) and of near-duplicate clusters, the
    larger ones as edit chains whose ends are less similar than their
    neighbours, so that clustering needs transitive closure."""
    sz = SIZES[size]
    rng = random.Random(seed)
    vocab = _vocab(rng, sz["vocab"])
    n = sz["docs"]

    def fresh() -> list[str]:
        return [rng.choice(vocab) for _ in range(rng.randint(*sz["words"]))]

    def edit(words: list[str]) -> list[str]:
        # ~8% of tokens, and at least 2, replaced
        out = list(words)
        for _ in range(max(2, len(out) * 8 // 100)):
            out[rng.randrange(len(out))] = rng.choice(vocab)
        return out

    texts: list[str] = []
    chains = [k for k, count in sorted(sz["clusters"].items()) for _ in range(count)]
    rng.shuffle(chains)
    for length in chains:  # near-duplicate clusters come first
        words = fresh()
        for _ in range(length):
            texts.append(" ".join(words))
            words = edit(words)
    n_exact = sz["exact_copies"]
    while len(texts) < n - n_exact:
        texts.append(" ".join(fresh()))
    exact_ix: dict[int, list[int]] = {}
    base_count = len(texts)
    for _ in range(n_exact):
        src = rng.randrange(base_count)
        words = texts[src].split(" ")
        copy = "  ".join(w.upper() if rng.random() < 0.1 else w for w in words)
        exact_ix.setdefault(src, [src]).append(len(texts))
        texts.append(copy)

    ids = list(range(1, n + 1))
    rng.shuffle(ids)  # ids interleave duplicates with originals
    os.makedirs(out_dir, exist_ok=True)
    path = f"{out_dir}/documents.parquet"
    _write(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in texts],
        "source": [f"src{i % SOURCES}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)
    return Corpus(
        path=path,
        exact_groups=[[ids[i] for i in g] for g in exact_ix.values()],
    )


# --- lake batches ---------------------------------------------------------

def lake_batches(seed: int, count: int, rows: int, start: int = 0) -> list[list[dict]]:
    """`count` ndjson-ready batches of `rows` event records each.
    Batch i covers its own hour of `ts`, so pool key ranges do not
    overlap; `start` offsets the first batch's hour."""
    rng = random.Random(seed * 7919 + start)
    out = []
    for b in range(start, start + count):
        base = EVENTS_EPOCH + b * 3600
        out.append([
            {
                "ts": base + rng.randrange(3600),
                "event_type": rng.choice(EVENT_TYPES),
                "user_id": rng.randrange(1, 200),
                "value": rng.randrange(0, 100_000) / 100,
            }
            for _ in range(rows)
        ])
    return out


def ndjson(batch: list[dict]) -> bytes:
    return "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in batch).encode()
