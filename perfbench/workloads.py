"""The workloads: their inputs, the program set-up they time,
the operations of one pass, and how each result is checked.

Each operation returns plain Python data (rows as tuples, dicts,
counts) so that a result check is a comparison with an expected value
computed before any timing, by DuckDB or by a tally of what was sent.
Inputs and expected values are made in a child process (`prepared`), so
that the Python process's peak memory is the program's, not the
oracles'.
"""

from __future__ import annotations

import importlib
import json
import math
import pickle
import subprocess
import sys
from dataclasses import dataclass
from typing import Callable

import gen


@dataclass
class Op:
    """One operation of a pass. Spark-side operations give `build`
    (returns the DataFrame) and `finish` (runs the action on it and
    returns plain data), so the traced run can time plan building,
    Catalyst planning and execution apart; the others give `run`."""

    kind: str  # "query" (its latency is reported), "load" or "admin"
    name: str
    run: Callable[[], object] | None = None
    build: Callable[[], object] | None = None
    finish: Callable[[object], object] | None = None
    expect: object = None  # compared with `same`, unless `check` is given
    size: int = 0  # request body bytes of a load
    check: Callable[[object], bool] | None = None

    def ok(self, result) -> bool:
        if self.check is not None:
            return self.check(result)
        return same(result, self.expect)


def same(got, want) -> bool:
    """Equality that allows float rounding from a different summation
    order (relative 1e-9)."""
    if isinstance(got, float) or isinstance(want, float):
        return (isinstance(got, (int, float)) and isinstance(want, (int, float))
                and math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-6))
    if isinstance(got, (list, tuple)) and isinstance(want, (list, tuple)):
        return len(got) == len(want) and all(same(a, b) for a, b in zip(got, want))
    if isinstance(got, dict) and isinstance(want, dict):
        return got.keys() == want.keys() and all(same(got[k], want[k]) for k in got)
    return got == want


def rows(values) -> list[tuple]:
    """Result rows as sorted tuples: the checked outputs are sets, each
    with a unique first column."""
    return sorted(tuple(r) for r in values)


def _program(path: str):
    """Look a program function up at call time, so that the traced run's
    patches (tracing.PATCHES) and the program's own name binding are used."""
    mod, _, attr = path.rpartition(".")
    return getattr(importlib.import_module(mod), attr)


def prepared(work: str, fn, *args):
    """fn(*args), computed by a child Python process (this file run as a
    script) that has exited when this returns."""
    out = f"{work}/{fn.__name__}.pickle"
    subprocess.run([sys.executable, __file__, out, fn.__name__, json.dumps(args)],
                   check=True)
    with open(out, "rb") as f:
        return pickle.load(f)


# --- corpus ----------------------------------------------------------------

DEDUP_KW = dict(k_shingle=2, num_hashes=16, bands=8, threshold=0.35)

# textops public functions run in every pass, in this order
CORPUS_OPS = [
    ("exact_dedup", "zed_spark.textops.exact_dedup", {}),
    ("dedup_corpus", "zed_spark.textops.minhash.dedup_corpus", DEDUP_KW),
    ("strip_duplicated_spans", "zed_spark.textops.strip_duplicated_spans",
     dict(n=4, min_count=2)),
]


def _noop(df) -> bool:
    df.write.format("noop").mode("overwrite").save()
    return True


def _clusters_from_pairs(pairs) -> dict[int, int]:
    """doc_id -> min reachable doc_id over the pair graph (the
    DEDUP_CLUSTERS_SQL definition, by union-find)."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def corpus_inputs(out_dir: str, seed: int, size: str):
    """Writes the corpus; returns the oracles' answers and the ids of
    the generated exact duplicates that dedup must remove."""
    import duckdb

    from zed_spark import queries_text as qt

    corpus = gen.write_corpus(out_dir, seed, size)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{corpus.path}')")
        exact = rows(con.execute(qt.DEDUP_EXACT_SQL).fetchall())
        pairs = con.execute(qt.MINHASH_LSH_SQL).fetchall()
        strip = rows(con.execute(qt.STRIP_SPANS_SQL).fetchall())
        docs = rows(con.execute(
            "SELECT doc_id, lang, source, n_chars FROM documents").fetchall())
    finally:
        con.close()
    clusters = _clusters_from_pairs(pairs)
    dropped = {d for d, c in clusters.items() if d != c}
    expected = {
        "exact_dedup": exact,
        "dedup_corpus": [r for r in docs if r[0] not in dropped],
        "strip_duplicated_spans": strip,
    }
    # every non-minimum member of a group must be gone after dedup
    dup_members = {d for g in corpus.exact_groups for d in g if d != min(g)}
    return expected, dup_members


class Corpus:
    """Training-data dedup operators over a seeded corpus. Timed passes
    write every output to the noop sink; the checked pass collects the
    same outputs and compares them with the repo's DuckDB oracles."""

    name = "corpus"
    build_span = "textops.build"

    def __init__(self, work: str, seed: int, size: str):
        self.dir = f"{work}/corpus"
        self.expected, self.dup_members = prepared(work, corpus_inputs, self.dir, seed, size)
        self.spark = None

    def setup(self, spark) -> None:
        self.spark = spark

    def load_history(self) -> None:
        pass

    def teardown(self) -> None:
        pass

    def _frame(self, fn_path: str, kw: dict):
        read_table = _program("zed_spark.sources.readers.read_table")
        docs = read_table(self.spark, self.dir, "documents")
        return _program(fn_path)(docs, **kw)

    def ops(self, pass_no: int, checked: bool = False) -> list[Op]:
        out = []
        for name, path, kw in CORPUS_OPS:
            build = lambda path=path, kw=kw: self._frame(path, kw)
            if checked:
                out.append(Op("query", name, build=build,
                              finish=lambda df, name=name: self._collect(name, df),
                              check=lambda got, name=name: self._check(name, got)))
            else:
                out.append(Op("query", name, build=build, finish=_noop, expect=True))
        return out

    @staticmethod
    def _collect(name: str, df):
        if name == "dedup_corpus":
            df = df.select("doc_id", "lang", "source", "n_chars")
        elif name == "strip_duplicated_spans":
            df = df.select("doc_id", "text")
        return rows(df.collect())

    def _check(self, name: str, got) -> bool:
        if not same(got, self.expected[name]):
            return False
        if name == "dedup_corpus":
            return not self.dup_members & {r[0] for r in got}
        return True


# --- lake_service ------------------------------------------------------------

def lake_inputs(seed: int, size: str):
    """The history's request bodies, and tallies of the history for the
    query checks."""
    sz = gen.SIZES[size]
    batches = gen.lake_batches(seed, sz["history"], sz["batch_rows"])
    history = [r for b in batches for r in b]
    agg_min = (100.0, 300.0, 500.0, 700.0)[seed % 4]
    top_k = (3, 5, 8)[seed % 3]
    agg: dict = {}
    counts: dict = {}
    users: dict = {}
    for r in history:
        counts[r["event_type"]] = counts.get(r["event_type"], 0) + 1
        users[r["user_id"]] = users.get(r["user_id"], 0) + 1
        if r["value"] > agg_min:
            n, s = agg.get(r["event_type"], (0, 0.0))
            agg[r["event_type"]] = (n + 1, s + r["value"])
    ranked = sorted(users.items(), key=lambda kv: (kv[1], kv[0]), reverse=True)
    return {
        "bodies": [gen.ndjson(b) for b in batches],
        "counts": counts,
        "agg_min": agg_min,
        "agg": sorted((k, n, s) for k, (n, s) in agg.items()),
        "top_k": top_k,
        "top": ranked[:top_k],
    }


class LakeService:
    """QueryService over a lake root on loopback, driven by one Client.
    Set-up loads a fixed history of commits into pool `hist`. Each pass
    branches `hist` at its main tip, loads one ndjson batch into the
    branch, counts the branch and queries main. Main's objects never
    change and each branch holds exactly one more, so every query sees
    the same objects at the same point of every pass."""

    name = "lake_service"
    pool = "hist"

    def __init__(self, work: str, seed: int, size: str):
        self.root = f"{work}/lake"
        self.config_dir = work
        self.seed = seed
        self.rows = gen.SIZES[size]["batch_rows"]
        self.hist = prepared(work, lake_inputs, seed, size)
        self.svc = self.client = None

    def setup(self, spark) -> None:
        from zed_spark.client import Client
        from zed_spark.service import QueryService

        self.svc = QueryService(spark, lake_root=self.root)
        port = self.svc.start()
        self.client = Client(f"http://127.0.0.1:{port}", config_dir=self.config_dir)

    def load_history(self) -> None:
        self.client.create_pool(self.pool)
        for body in self.hist["bodies"]:
            self.client.load(self.pool, body, commit_author="bench")

    def teardown(self) -> None:
        if self.svc is not None:
            self.client.session.close()
            self.svc.stop()
            self.svc = self.client = None

    def ops(self, pass_no: int, checked: bool = False) -> list[Op]:
        # every result is compared with a tally, in every pass; three
        # query kinds, so the median query is the middle kind's latency
        branch = f"p{pass_no}"
        (batch,) = gen.lake_batches(self.seed + 1, 1, self.rows, start=1000 + pass_no)
        body = gen.ndjson(batch)
        counts = dict(self.hist["counts"])
        for r in batch:
            counts[r["event_type"]] = counts.get(r["event_type"], 0) + 1
        ref = f"{self.pool}@{branch}"
        return [
            Op("admin", "branch", run=lambda: self._branch(branch), expect=True),
            Op("load", "load", run=lambda: self._load(branch, body), expect=True,
               size=len(body)),
            Op("query", "branch_count", expect=counts,
               run=lambda: self._counts(f"from {ref} | count() by event_type")),
            Op("query", "hist_agg", run=self._agg, expect=self.hist["agg"]),
            Op("query", "hist_top", run=self._top, expect=self.hist["top"]),
        ]

    def _branch(self, branch: str) -> bool:
        r = self.client.session.post(
            f"{self.client.base_url}/pools/{self.pool}/branch",
            json={"name": branch, "from": "main"})
        return r.status_code == 200

    def _load(self, branch: str, body: bytes) -> bool:
        self.client.load(self.pool, body, branch_name=branch, commit_author="bench")
        return True

    def _counts(self, text: str) -> dict:
        return {r["event_type"]: r["count"] for r in self.client.query(text)}

    def _agg(self):
        text = (f"from {self.pool} | where value > {self.hist['agg_min']} "
                "| n:=count(), s:=sum(value) by event_type")
        return sorted((r["event_type"], r["n"], r["s"]) for r in self.client.query(text))

    def _top(self):
        text = (f"from {self.pool} | count() by user_id | sort -r count, user_id "
                f"| head {self.hist['top_k']}")
        return [(r["user_id"], r["count"]) for r in self.client.query(text)]


WORKLOADS = {w.name: w for w in (Corpus, LakeService)}


if __name__ == "__main__":
    # the child side of `prepared`: OUT FN ARGS_JSON
    out, name, args = sys.argv[1], sys.argv[2], json.loads(sys.argv[3])
    with open(out, "wb") as f:
        pickle.dump(globals()[name](*args), f)
