"""Driver-side ZSON ingest: characterization goldens and the load plan.

`tests/goldens/ingest.json` pins, for each body below, what
`ingest.zson_text_to_df` builds (Spark schema, wrapped flag, rows with
their `__zed_*` sidecars) and what a served load followed by
`from <pool>` returns (the pool scan's schema and rows, and the
`/query` ZSON body).  Regenerate after an intended output change with

    python -m tests.test_ingest

and review the diff of the JSON file."""

import base64
import json
import math
import os
import tempfile
from datetime import date, datetime

import pytest

GOLDEN = os.path.join(os.path.dirname(__file__), "goldens", "ingest.json")

BODIES = {
    # the service benchmark's shape: quoted names, one record type
    "uniform_ndjson": (
        '{"ts":1700000000,"event_type":"click","user_id":5,"value":12.5}\n'
        '{"ts":1700000007,"event_type":"view","user_id":9,"value":0.25}\n'
        '{"ts":1700000003,"event_type":"click","user_id":5,"value":99.0}\n'
    ),
    # absent fields (__zed_missing) and an untyped null
    "mixed_shapes": '{a:1,b:"x"}\n{a:2}\n{a:null,b:"y",c:true}\n',
    # named and sized types, per-row field order (__zed_types with
    # the \x00order aux key), a redefined-by-use named type
    "named_sized": (
        '{p:80(port=uint16),n:1(int32),s:"a"}\n'
        '{p:443(port),n:2(int8),s:"b"}\n'
        '{s:"c",p:8080(port),n:3}\n'
        '{r:{x:1(int16),y:"q"}(=point),p:1(port)}\n'
    ),
    "ip_net_duration_bytes": (
        "{ip:10.0.0.1,net:10.0.0.0/8,d:1h30m,b:0x0102}\n"
        '{ip:fe80::1,net:1::/8,d:-5ms,b:0x}\n'
        '{ip:null(ip),net:"10.0.0.0/8",d:1s,b:null(bytes)}\n'
    ),
    "sets_and_maps": (
        '{s:|[3,1,2]|,m:|{"b":2,"a":1}|,t:|["x","y"]|}\n'
        '{s:|[]|,m:|{}|,t:|[1.5]|}\n'
    ),
    # type values (the \x00tv: aux key)
    "type_values": (
        "{t:<int64>,u:1}\n"
        "{t:<{x:string}>,u:2}\n"
        "{t:<port=uint16>,u:3}\n"
    ),
    "errors": '{e:error("missing"),v:1}\n{e:error({x:1}),v:2}\n{e:null,v:3}\n',
    # a non-record stream rides in a `this` column
    "wrapped_stream": '1\n"two"\n{x:3}\n[4,5]\n',
    # sub-µs times carry __zed_ns_* shadows
    "sub_us_times": (
        "{ts:2020-01-01T00:00:00.123456789Z,v:1}\n"
        "{ts:2020-01-01T00:00:01.5Z,v:2}\n"
        "{ts:2020-01-01T00:00:02.000000001Z,v:3}\n"
    ),
}


def _plain(v):
    """A Spark value → JSON-stable form (maps by sorted key)."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return repr(v) if (math.isnan(v) or math.isinf(v)) else v
    if isinstance(v, (bytes, bytearray)):
        return {"bytes": base64.b64encode(bytes(v)).decode()}
    if isinstance(v, (datetime, date)):
        return {"time": v.isoformat()}
    if isinstance(v, dict):
        return {"map": sorted([_plain(k), _plain(x)] for k, x in v.items())}
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return {"repr": repr(v)}


def _frame(df) -> dict:
    return {
        "schema": df.schema.simpleString(),
        "rows": [_plain(r) for r in df.collect()],
    }


def ingest_case(spark, text: str) -> dict:
    from zed_spark.sources.ingest import zson_text_to_df

    try:
        df, wrapped = zson_text_to_df(spark, text)
    except Exception as e:
        return {"error": f"{type(e).__name__}: {e}"}
    return dict(_frame(df), wrapped=wrapped)


def served_case(svc, name: str, text: str) -> dict:
    """Load `text` into a fresh pool keyed `ts`, then read it back."""

    def api(method, path, body, accept="application/json"):
        return svc.handle_api(
            method, path, {}, {"accept": accept, "content-type": ""}, body
        )

    api("POST", "/pool", json.dumps({"name": name}).encode())
    try:
        api("POST", f"/pool/{name}/branch/main", text.encode())
    except Exception as e:
        return {"error": f"{type(e).__name__}: {e}"}
    scan = svc._lake().pool(name).scan()
    # an unordered scan is a multiset of rows (the /query body below
    # pins the order); __zed_seq is the keyless pool's load-order
    # sequence, whose values depend on the write's partitioning
    out = _frame(scan.drop("__zed_seq"))
    out["rows"].sort(key=lambda r: json.dumps(r, sort_keys=True))
    q = json.dumps({"query": f"from {name}"}).encode()
    resp = api("POST", "/query", q, accept="application/x-zson")
    out["zson"] = resp[2].decode("utf-8")
    return out


def make_service(spark):
    from zed_spark.service import QueryService

    root = tempfile.mkdtemp(prefix="ingest_golden_") + "/lake"
    return QueryService(spark, lake_root=root)


def all_cases(spark) -> dict:
    svc = make_service(spark)
    out = {}
    for name, text in BODIES.items():
        out[f"{name}/ingest"] = ingest_case(spark, text)
        out[f"{name}/served"] = served_case(svc, name, text)
    return out


def test_ingest_matches_goldens(spark):
    with open(GOLDEN) as fh:
        want = json.load(fh)
    got = json.loads(json.dumps(all_cases(spark)))
    assert sorted(got) == sorted(want)
    bad = [k for k in want if got[k] != want[k]]
    assert not bad, {k: (want[k], got[k]) for k in bad[:3]}
    # the bodies exercise the sidecars the goldens claim to cover
    assert "__zed_missing" in want["mixed_shapes/ingest"]["schema"]
    assert "__zed_types" in want["named_sized/ingest"]["schema"]
    assert "\\u0000order" in json.dumps(want["named_sized/ingest"])
    assert "\\u0000tv:" in json.dumps(want["type_values/ingest"])
    assert "__zed_ns_ts" in want["sub_us_times/ingest"]["schema"]
    assert want["wrapped_stream/ingest"]["wrapped"] is True


def _jobs(sc, fn):
    before = set(sc.statusTracker().getJobIdsForGroup() or [])
    fn()
    return len(set(sc.statusTracker().getJobIdsForGroup() or []) - before)


def test_served_load_is_a_local_relation(spark):
    """The served ndjson load frame is an Arrow-built local relation
    (no Python-row RDD for the write and the key stats to re-run),
    and the whole load runs at most 5 Spark jobs."""
    from zed_spark.service import _Scratch

    svc = make_service(spark)
    body = BODIES["uniform_ndjson"].encode()
    with _Scratch("ingest_plan_") as tmp:
        df = svc._load_body(body, "", {}, tmp)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    svc.handle_api(
        "POST", "/pool", {}, {"accept": "application/json"},
        json.dumps({"name": "p"}).encode(),
    )
    jobs = _jobs(spark.sparkContext, lambda: svc.handle_api(
        "POST", "/pool/p/branch/main", {},
        {"accept": "application/json", "content-type": ""}, body,
    ))
    assert 0 < jobs <= 5, jobs


def test_ingest_failure_fails_the_load(spark, monkeypatch):
    """Only a body that is not ZSON (or is past the size gate) falls
    back to the distributed readers: a failing frame build fails the
    load, and no commit is written."""
    import zed_spark.sources.ingest as ing

    svc = make_service(spark)
    svc.handle_api(
        "POST", "/pool", {}, {"accept": "application/json"},
        json.dumps({"name": "p"}).encode(),
    )

    def broken(*args, **kwargs):
        raise RuntimeError("frame build failed")

    monkeypatch.setattr(ing, "_arrow_frame", broken)
    with pytest.raises(RuntimeError, match="frame build failed"):
        svc.handle_api(
            "POST", "/pool/p/branch/main", {},
            {"accept": "application/json", "content-type": ""},
            BODIES["uniform_ndjson"].encode(),
        )
    assert svc._lake().pool("p").commits() == []


if __name__ == "__main__":
    from zed_spark.session import build_spark

    cases = all_cases(build_spark(app_name="ingest_goldens"))
    with open(GOLDEN, "w") as fh:
        json.dump(cases, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(cases)} cases to {GOLDEN}")
