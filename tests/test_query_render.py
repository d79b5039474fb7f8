"""Served `/query` responses: byte-exact goldens for every Accept
format, and the one-execution contract of a served pool query.

The goldens in `tests/goldens/query_bodies.json` pin the response
status, the X-Zed-Truncated header and the body of each case.  Only
the zjson QueryStats timestamps are masked (the request id travels in
a header, which is not compared), and parquet bodies compare as
decoded files.  Regenerate after an intended output change with

    python -m tests.test_query_render

and review the diff of the JSON file."""

import base64
import json
import os
import re
import tempfile

import pytest

GOLDEN = os.path.join(os.path.dirname(__file__), "goldens", "query_bodies.json")

ACCEPT = {
    "csv": "text/csv",
    "tsv": "text/tab-separated-values",
    "json": "application/json",
    "ndjson": "application/x-ndjson",
    "zeek": "application/x-zeek",
    "zjson": "application/x-zjson",
    "zson": "application/x-zson",
    "arrows": "application/vnd.apache.arrow.stream",
    "parquet": "application/x-parquet",
    "zng": "application/x-zng",
    "vng": "application/x-vng",
}

# mixed shapes (the __zed_missing sidecar), precise types (the
# __zed_types sidecar), colliding and null pool keys
_BATCH1 = b"""{k:1,s:"b",v:1.5,t:2020-01-01T00:00:00.123456789Z}
{k:1,s:"a",v:2.5,n:1(int32)}
{k:2,s:"c",v:0.5}
{k:null,s:"n1",v:1.}
{k:null,s:"n0",v:3.}
{k:3,s:"z",v:4.,ip:10.0.0.1}"""
_BATCH2 = b"""{k:1,s:"a",v:9.}
{k:2,s:"d"}
{k:4,s:"y",v:5.,extra:true}"""
# no row carries the pool key: every row ties
_KEYLESS = b"""{s:"b",v:2}
{s:"a",v:1}
{s:"b",v:2}
{s:"c",v:0}"""
# one shape, so csv/tsv/zeek render rows instead of rejecting
_UNIFORM = b"""{k:2,s:"x",v:1.5}
{k:1,s:"y",v:2.5}
{k:2,s:"w",v:0.5}
{k:3,s:"v",v:4.}"""

QUERIES = {
    "scan_asc": "from asc",  # 9 rows > max_rows: truncated
    "head_desc": "from desc | head 6",
    "keyless": "from nokey",
    "count_by": "from asc | count() by k | sort k",
    "uniform": "from uni",
}

MAX_ROWS = 6


def make_service(spark):
    from zed_spark.service import QueryService

    root = tempfile.mkdtemp(prefix="query_render_") + "/lake"
    svc = QueryService(spark, lake_root=root, max_rows=MAX_ROWS)

    def api(method, path, body, accept="application/json"):
        return svc.handle_api(
            method, path, {}, {"accept": accept, "content-type": ""}, body
        )

    # one load per pool: the merged column order of objects loaded
    # within the same second follows their random ksuid suffixes
    for name, key, order, body in [
        ("asc", "k", "asc", _BATCH1 + b"\n" + _BATCH2),
        ("desc", "k", "desc", _BATCH1 + b"\n" + _BATCH2),
        ("nokey", "ts", "desc", _KEYLESS),
        ("uni", "k", "asc", _UNIFORM),
    ]:
        spec = {"name": name, "layout": {"keys": [[key]], "order": order}}
        api("POST", "/pool", json.dumps(spec).encode())
        api("POST", f"/pool/{name}/branch/main", body)
    return svc


def _mask(body: bytes) -> bytes:
    return re.sub(rb'"sec":\d+,"ns":\d+', b'"sec":0,"ns":0', body)


def run_case(svc, qname: str, fmt: str, ctrl: bool = False) -> dict:
    params = {"ctrl": "true"} if ctrl else {}
    body = json.dumps({"query": QUERIES[qname]}).encode()
    try:
        resp = svc.handle_api(
            "POST", "/query", params, {"accept": ACCEPT[fmt]}, body
        )
    except Exception as e:  # a format that rejects the frame
        return {"error": f"{type(e).__name__}: {e}"}
    hdrs = resp[3] if len(resp) > 3 else {}
    out = {
        "status": resp[0],
        "ctype": resp[1],
        "truncated": hdrs.get("X-Zed-Truncated"),
    }
    payload = _mask(resp[2])
    if fmt == "parquet":
        # parquet-mr writes each column chunk's encoding list from a
        # hash set, so its bytes differ between JVMs: compare the
        # decoded file instead
        import io

        import pyarrow.parquet as pq

        f = pq.ParquetFile(io.BytesIO(payload))
        out["parquet"] = {
            "schema": str(f.schema_arrow),
            "row_groups": f.metadata.num_row_groups,
            "rows": json.dumps(f.read().to_pylist(), default=str),
        }
        return out
    try:
        out["text"] = payload.decode("utf-8")
    except UnicodeDecodeError:
        out["b64"] = base64.b64encode(payload).decode()
    return out


def all_cases(svc) -> dict:
    out = {}
    for q in QUERIES:
        for fmt in ACCEPT:
            out[f"{q}/{fmt}"] = run_case(svc, q, fmt)
        out[f"{q}/zjson-ctrl"] = run_case(svc, q, "zjson", ctrl=True)
    return out


@pytest.fixture(scope="module")
def svc(spark):
    return make_service(spark)


def test_query_bodies_match_goldens(svc):
    with open(GOLDEN) as fh:
        want = json.load(fh)
    got = all_cases(svc)
    assert sorted(got) == sorted(want)
    bad = [k for k in want if got[k] != want[k]]
    assert not bad, {k: (want[k], got[k]) for k in bad[:3]}
    # the fixture exercises what the goldens claim to cover
    assert want["scan_asc/zjson"]["truncated"] == "true"
    assert want["head_desc/zjson"]["truncated"] is None
    assert "QueryStats" in want["scan_asc/zjson-ctrl"]["text"]


def _jobs(sc, fn):
    before = set(sc.statusTracker().getJobIdsForGroup() or [])
    fn()
    return len(set(sc.statusTracker().getJobIdsForGroup() or []) - before)


@pytest.mark.parametrize("text", ["from asc", "from uni | count() by k"])
def test_served_query_runs_one_execution(svc, spark, text):
    """One zjson /query = the jobs of ONE collect of the same plan:
    the pool scan plans from the commit journal (no footer job), and
    truncation, the QueryStats frame and the renderer all read one
    materialized result."""
    from zed_spark.session import ZedSession

    sc = spark.sparkContext
    body = json.dumps({"query": text}).encode()

    def serve():
        svc.handle_api(
            "POST", "/query", {"ctrl": "true"},
            {"accept": "application/x-zjson"}, body,
        )

    serve()  # warm the plan caches
    served = _jobs(sc, serve)
    holder = {}
    planning = _jobs(sc, lambda: holder.update(
        df=ZedSession(spark).query(
            text, allow_paths=False, lake=svc.lake_root
        ).df
    ))
    collect = _jobs(sc, lambda: holder["df"].limit(MAX_ROWS + 1).collect())
    assert planning == 0
    assert served == collect, (served, planning, collect)


def test_summarize_type_probe_is_one_aggregation(svc, spark):
    """On a pool with the `__zed_types` sidecar, summarize probes every
    field key's runtime types in ONE aggregation: planning a two-key
    group-by starts no more jobs than a one-key one."""
    from zed_spark.session import ZedSession

    sc = spark.sparkContext

    def plan(text):
        return ZedSession(spark).query(
            text, allow_paths=False, lake=svc.lake_root
        ).df

    plan("from asc | count() by k, s")  # warm the plan caches
    one = _jobs(sc, lambda: plan("from asc | count() by k"))
    two = _jobs(sc, lambda: plan("from asc | count() by k, s"))
    assert 0 < one and two <= one, (one, two)


if __name__ == "__main__":
    from zed_spark.session import build_spark

    cases = all_cases(make_service(build_spark(app_name="query_goldens")))
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w") as fh:
        json.dump(cases, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(cases)} cases to {GOLDEN}")
