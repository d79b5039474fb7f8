"""Query service: POST /query → ndjson, error paths, /pools."""

import json
import urllib.request

import pytest

from tests.conftest import SF_DIR
from zed_spark.service import QueryService


@pytest.fixture(scope="module")
def svc(spark, tmp_path_factory):
    from zed_spark.sources.lake import Lake
    from zed_spark.sources.readers import read_table

    root = str(tmp_path_factory.mktemp("lake"))
    lake = Lake(spark, root)
    lake.create_pool("events", key="ts").load(read_table(spark, SF_DIR, "events"))
    s = QueryService(spark, sf_dir=SF_DIR, lake_root=root)
    port = s.start()
    yield f"http://127.0.0.1:{port}"
    s.stop()


def _post(url, body: str):
    req = urllib.request.Request(f"{url}/query", data=body.encode(), method="POST")
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_query_ndjson(svc):
    code, body = _post(svc, "from events | count() by event_type")
    assert code == 200
    rows = [json.loads(line) for line in body.splitlines()]
    assert sum(r["count"] for r in rows) == 1000


def test_query_json_envelope(svc):
    code, body = _post(svc, json.dumps({"query": "from orders | head 3"}))
    assert code == 200
    assert len(body.splitlines()) == 3


def _channel_frames(url, query):
    """(type, channel) of each channel frame of a ctrl=true zjson
    /query response, in response order."""
    req = urllib.request.Request(
        f"{url}/query?ctrl=true",
        data=json.dumps({"query": query}).encode(),
        method="POST",
        headers={"Accept": "application/x-zjson"},
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        frames = [json.loads(ln) for ln in resp.read().decode().splitlines()]
    return [
        (f["type"], f["value"]["channel"])
        for f in frames
        if f["type"] in ("QueryChannelSet", "QueryChannelEnd")
    ]


@pytest.mark.parametrize("query, channels", [
    ("from events | fork (=> count() | output main "
     "=> head 1 | output secondary)", ["main", "secondary"]),
    ("from events | switch ( case value > 50.0 => output a "
     "default => output b )", ["a", "b"]),
    ("from events | fork (=> fork (=> head 1 | output x "
     "=> head 2 | output y) => head 3 | output z)", ["x", "y", "z"]),
    ("from events | count() by event_type", ["main"]),
])
def test_zjson_ctrl_channel_frames(svc, query, channels):
    """ctrl=true zjson opens and closes one channel per `output` op,
    in the order the ops appear; a query with none has only main."""
    want = []
    for ch in channels:
        want += [("QueryChannelSet", ch), ("QueryChannelEnd", ch)]
    assert _channel_frames(svc, query) == want


def test_compile_agrees_with_query_parser(spark):
    """POST /compile accepts exactly what /query's parser accepts and
    returns that parser's AST; a rejected query reports the parser's
    error position."""
    from zed_spark.lang.parser import parse

    s = QueryService(spark, sf_dir=SF_DIR)
    for text in [
        "from p | where v > 3 | min(v), max(v) by k",
        "from t | shape {b:int64, a:string}",
        "from t | crop {a:int64}",
        "from events | sort -q",
        "from events | count() by event_type",
        "from p | count( by",
    ]:
        code, _, body = s.handle_api(
            "POST", "/compile", {}, {},
            json.dumps({"query": text}).encode(),
        )[:3]
        out = json.loads(body)
        try:
            ast = parse(text)
        except SyntaxError as e:
            assert code == 400, text
            pos = int(str(e).rsplit(" at ", 1)[1])
            assert out["compilation_errors"] == [
                {"Msg": "error parsing SuperPipe", "Pos": pos, "End": -1}
            ], text
        else:
            assert code == 200, text
            assert out == json.loads(json.dumps(ast, default=str)), text


@pytest.mark.parametrize(
    "text, pos",
    [
        ("from p | uniq -x", 15),
        ("from p | switch ( )", 18),
        ("from p | fork ( )", 16),
        ("from p | explode a x", 19),
        ("from p | head x", 14),
        ("from p | load", 13),
    ],
)
def test_compile_error_positions(spark, text, pos):
    """Parser errors carry the position of the offending token, so
    POST /compile reports it instead of Pos 0; a `load` with no pool
    name is a syntax error, not a load into pool ''."""
    s = QueryService(spark, sf_dir=SF_DIR)
    code, _, body = s.handle_api(
        "POST", "/compile", {}, {}, json.dumps({"query": text}).encode()
    )[:3]
    assert code == 400, body
    assert json.loads(body)["compilation_errors"] == [
        {"Msg": "error parsing SuperPipe", "Pos": pos, "End": -1}
    ]


def test_parse_error_400(svc):
    code, body = _post(svc, "from events | sort -q")
    assert code == 400 and "parse" in json.loads(body)["error"]


def test_arbitrary_path_read_refused(svc):
    """The service resolver must not fall through to filesystem reads
    (a client could otherwise read any host file)."""
    code, body = _post(svc, "from /etc/passwd")
    assert code == 400
    assert "unknown source" in json.loads(body)["error"]


def test_result_row_cap(svc):
    code, body = _post(svc, json.dumps({"query": "from lineitem", "limit": 7}))
    assert code == 200
    assert len(body.splitlines()) == 7


def _post_json(url, path, payload):
    req = urllib.request.Request(
        f"{url}{path}", data=json.dumps(payload).encode(), method="POST"
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read().decode())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode())


def test_query_pool_branch_ref(svc):
    """POST /query resolves lake refs: pool@branch and :pools."""
    code, body = _post(svc, "from events@main | count()")
    assert code == 200
    first = json.loads(body.splitlines()[0])
    # lone unassigned count() yields the value BARE (summarize.md);
    # the ndjson writer carries it in the `this` column
    assert first == 1000 or first.get("this") == 1000
    code, body = _post(svc, "from :pools | cut name")
    assert code == 200 and json.loads(body.splitlines()[0])["name"] == "events"


def test_branch_endpoints(svc):
    code, out = _post_json(svc, "/pools/events/branch", {"name": "dev"})
    assert code == 200 and out["ok"]
    with urllib.request.urlopen(f"{svc}/pools/events/branches") as resp:
        rows = json.loads(resp.read().decode())
    assert {r["branch"] for r in rows} == {"main", "dev"}
    code, out = _post_json(svc, "/pools/events/merge", {"source": "dev"})
    assert code == 200 and "commit" in out
    code, out = _post_json(svc, "/pools/nope/branch", {"name": "x"})
    assert code == 400


def test_events_sse_streams_commits(svc, spark):
    """A lake commit in this process must arrive on GET /events as an
    SSE event (reference /events feed, service/core.go:173)."""
    import socket
    import threading
    import time as _time
    from urllib.parse import urlparse

    u = urlparse(svc)
    got: list[str] = []

    def reader():
        s = socket.create_connection((u.hostname, u.port), timeout=5)
        s.sendall(b"GET /events HTTP/1.1\r\nHost: x\r\n\r\n")
        buf = b""
        deadline = _time.time() + 10
        while _time.time() < deadline:
            try:
                chunk = s.recv(4096)
            except socket.timeout:
                break
            if not chunk:
                break
            buf += chunk
            if b"event: commit" in buf:
                break
        got.append(buf.decode(errors="replace"))
        s.close()

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    _time.sleep(0.5)  # let the subscription register
    from tests.conftest import SF_DIR
    from zed_spark.sources.lake import Lake
    from zed_spark.sources.readers import read_table

    import tempfile

    root = tempfile.mkdtemp()
    lake = Lake(spark, root)
    pool = lake.create_pool("sse_pool", key="n_nationkey")
    pool.load(read_table(spark, SF_DIR, "nation"), message="sse test")
    t.join(timeout=12)
    assert got and "event: commit" in got[0]
    assert "sse_pool" in got[0] and "sse test" in got[0]


def test_check_from_no_space_around_pipe(svc, spark, tmp_path_factory):
    """`from events|head 1` and compound `from ( ... )` must not
    trip the pre-flight pool check (the source token is split at the
    first operator punctuation — advice r8)."""
    from zed_spark.service import ApiError, QueryService
    from zed_spark.sources.lake import Lake
    from zed_spark.sources.readers import read_table

    root = str(tmp_path_factory.mktemp("lake_cf"))
    Lake(spark, root).create_pool("events", key="ts").load(
        read_table(spark, SF_DIR, "events")
    )
    s = QueryService(spark, sf_dir=SF_DIR, lake_root=root)
    # existing pool, no spaces around the pipe: no error
    s._check_from("from events|head 1")
    # compound source: each leg resolved by the real compiler
    s._check_from("from ( pool events pool events )")
    # unknown pool with a pipe: squiggle on the pool name only
    with pytest.raises(ApiError) as ei:
        s._check_from("from nopool|head 1")
    err = str(ei.value)
    assert "nopool: pool not found" in err
    assert err.rstrip().endswith("~" * len("nopool"))
    assert "~" * (len("nopool") + 1) not in err


def test_load_zson_keyword_scalars(svc, spark):
    """`true`/`false`/`null` bodies are valid ZSON scalars, not
    prose — auto-detect must accept them (advice r8)."""
    from zed_spark.service import QueryService, _Scratch

    s = QueryService(spark, sf_dir=SF_DIR)
    with _Scratch("svc_load_") as tmp:
        df = s._load_body(b"true\nfalse\ntrue\n", "", {}, tmp)
        vals = [r[df.columns[0]] for r in df.collect()]
    assert sorted(vals) == [False, True, True]
    # bare prose still produces the detector report
    import pytest as _pt

    from zed_spark.service import ApiError

    with _pt.raises(ApiError), _Scratch("svc_load_") as tmp:
        s._load_body(b"hello world prose\n", "", {}, tmp)


def test_render_unknown_failure_reraises(svc, spark):
    """A render failure with no reference-writer equivalent must NOT
    be swallowed into an empty 200 (advice r8)."""
    from zed_spark.service import QueryService

    s = QueryService(spark, sf_dir=SF_DIR)
    assert s._writer_error(ValueError("boom"), "csv", None) is None


def test_exec_error_400(svc):
    code, body = _post(svc, "from events | yield {x: nope(1)}")
    assert code == 400 and "unknown function" in json.loads(body)["error"]


def test_pools_and_status(svc):
    with urllib.request.urlopen(f"{svc}/pools") as resp:
        assert json.loads(resp.read()) == ["events"]
    with urllib.request.urlopen(f"{svc}/status") as resp:
        assert json.loads(resp.read())["ok"] is True


def test_not_found(svc):
    try:
        urllib.request.urlopen(f"{svc}/nope")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_render_caps_every_format(svc, spark):
    """_render must bound driver memory for EVERY output format, not
    just json/ndjson (round-6 VERDICT item 1a): the limit is applied
    once before any materialization."""
    from pyspark.sql import functions as F

    from zed_spark.service import QueryService

    s = QueryService(spark, sf_dir=SF_DIR, max_rows=5)
    df = spark.range(0, 1000).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    )
    for fmt, data_lines in [("csv", 6), ("tsv", 6), ("zson", 5), ("ndjson", 5)]:
        out = s._render(df, fmt).decode()
        n = len([ln for ln in out.splitlines() if ln.strip()])
        assert n <= data_lines, f"{fmt}: {n} lines rendered, cap is 5"
    # binary formats round-trip through their own readers
    import glob
    import os
    import tempfile

    zng_bytes = s._render(df, "zng")
    d = tempfile.mkdtemp()
    p = os.path.join(d, "x.zng")
    with open(p, "wb") as fh:
        fh.write(zng_bytes)
    from zed_spark.sources.zng import read_zng_fused

    assert read_zng_fused(spark, p).count() == 5


def test_delete_where_pushes_predicate(svc, spark, tmp_path):
    """The delete endpoint compiles the where text to a Column that
    plans as a pushed-down parquet filter — no driver-side key collect
    (round-6 VERDICT item 1b)."""
    from pyspark.sql import functions as F

    from zed_spark.lang.compiler import compile_where_column
    from zed_spark.sources.lake import Lake
    from zed_spark.sources.readers import read_table

    lake = Lake(spark, str(tmp_path / "lake"))
    pool = lake.create_pool("ev2", key="ts")
    pool.load(read_table(spark, SF_DIR, "events"))
    scan = pool.scan("main")
    pred = compile_where_column(spark, "event_type == 'click'", scan)
    plan = scan.filter(pred)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "event_type" in plan.split(
        "PushedFilters"
    )[1][:120], f"predicate not pushed to scan:\n{plan[:500]}"
    assert "isin" not in plan.lower()
    before = scan.count()
    clicks = scan.filter(pred).count()
    pool.delete_where(pred)
    assert pool.scan("main").count() == before - clicks
    assert pool.scan("main").filter(pred).count() == 0


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path):
    """A predicate that evaluates null on some rows must NOT delete
    them (zed: null ≡ no match; Spark: ~null is null → filter drops)."""
    from pyspark.sql import functions as F

    from zed_spark.sources.lake import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    pool = lake.create_pool("p", key="k")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "k int, v string"
    )
    pool.load(df)
    pool.delete_where(F.col("v") == "a")
    rows = {r["k"] for r in pool.scan("main").collect()}
    assert rows == {2, 3}, f"null-predicate row deleted: kept {rows}"


def test_query_describe_endpoint(svc, spark):
    """POST /query/describe mirrors the reference's describe analysis
    (compiler/describe/analyze.go; service/ztests/query-describe.yaml
    fixtures verbatim, ids masked like the ztest does): sources with
    inferred flags, channels with aggregation keys and sort order."""
    import tempfile

    from zed_spark.service import QueryService
    from zed_spark.sources.lake import Lake

    root = str(tempfile.mkdtemp()) + "/lake"
    lake = Lake(spark, root)
    lake.create_pool("test1", key="ts")
    lake.create_pool("test2", key="ts")
    s = QueryService(spark, lake_root=root)

    def describe(q, head=None):
        info = s._describe(q, head)

        def mask(src):
            if isinstance(src, list):
                for x in src:
                    mask(x)
            elif isinstance(src, dict) and "id" in src:
                src["id"] = "XXX"

        mask(info["sources"])
        return info

    p = {"kind": "Pool", "id": "XXX", "inferred": False}
    assert describe(
        'from (\n pool test1\n pool test2\n) | put foo := "bar"'
    ) == {
        "sources": [{**p, "name": "test1"}, {**p, "name": "test2"}],
        "channels": [
            {"name": "main", "aggregation_keys": None,
             "sort": [{"order": "desc", "key": ["ts"]}]}
        ],
    }
    assert describe("count() by key1:=v1, key2", "test1") == {
        "sources": {**p, "name": "test1", "inferred": True},
        "channels": [
            {"name": "main", "aggregation_keys": [["key1"], ["key2"]],
             "sort": None}
        ],
    }
    assert describe("sum(this)", "test1") == {
        "sources": {**p, "name": "test1", "inferred": True},
        "channels": [
            {"name": "main", "aggregation_keys": [], "sort": None}
        ],
    }
    assert describe(
        "fork (=> from test1 | sum(y) by key1 | output main"
        ' => from test2 | put x := "foo" | output secondary)',
        "test1",
    ) == {
        "sources": [{**p, "name": "test1"}, {**p, "name": "test2"}],
        "channels": [
            {"name": "main", "aggregation_keys": [["key1"]], "sort": None},
            {"name": "secondary", "aggregation_keys": None,
             "sort": [{"order": "desc", "key": ["ts"]}]},
        ],
    }
    assert describe("sum(this) by foo | sort x", "test1") == {
        "sources": {**p, "name": "test1", "inferred": True},
        "channels": [
            {"name": "main", "aggregation_keys": [["foo"]],
             "sort": [{"order": "asc", "key": ["x"]}]}
        ],
    }
    assert describe(
        'from test1 | fork (=> output main => yield "bar" | output secondary)'
    ) == {
        "sources": {**p, "name": "test1"},
        "channels": [
            {"name": "main", "aggregation_keys": None,
             "sort": [{"order": "desc", "key": ["ts"]}]},
            {"name": "secondary", "aggregation_keys": None, "sort": None},
        ],
    }
    assert describe("from test1 | fork (=> pass => pass)") == {
        "sources": {**p, "name": "test1"},
        "channels": [
            {"name": "main", "aggregation_keys": None, "sort": None}
        ],
    }


def test_truncated_response_signaled(spark):
    """A /query response capped at max_rows carries X-Zed-Truncated
    (round-7 ADVICE): clients can distinguish a complete result from
    a truncated one. Complete results carry no such header."""
    import tempfile
    import urllib.request

    from zed_spark.service import QueryService
    from zed_spark.sources.lake import Lake
    from zed_spark.sources.readers import read_table

    root = str(tempfile.mkdtemp()) + "/lake"
    Lake(spark, root).create_pool("events", key="ts").load(
        read_table(spark, SF_DIR, "events")
    )
    s = QueryService(spark, sf_dir=SF_DIR, lake_root=root, max_rows=5)
    port = s.start()
    try:
        url = f"http://127.0.0.1:{port}/query"

        def post(q):
            req = urllib.request.Request(
                url,
                data=json.dumps({"query": q}).encode(),
                method="POST",
                headers={"Accept": "application/x-ndjson"},
            )
            with urllib.request.urlopen(req) as resp:
                return resp.headers.get("X-Zed-Truncated"), resp.read().decode()

        # an Accept-bearing /query speaks the reference protocol over
        # the live socket (routed through handle_api since r9):
        # X-Zed-Truncated only when capped
        trunc, body = post("from events")
        assert trunc == "true"
        assert len([ln for ln in body.splitlines() if ln.strip()]) == 5
        trunc2, body2 = post("from events | head 3")
        assert trunc2 is None
        assert len([ln for ln in body2.splitlines() if ln.strip()]) == 3
    finally:
        s.stop()
    # reference REST route (handle_api): X-Zed-Truncated only when capped
    resp = s.handle_api(
        "POST", "/query", {}, {"accept": "application/x-ndjson"},
        json.dumps({"query": "from events"}).encode(),
    )
    assert resp[0] == 200 and len(resp) > 3 and (
        resp[3].get("X-Zed-Truncated") == "true"
    )
    # every /query response carries a request id (query-runtime-error
    # status tracking)
    assert "X-Request-Id" in resp[3]
    resp2 = s.handle_api(
        "POST", "/query", {}, {"accept": "application/x-ndjson"},
        json.dumps({"query": "from events | head 3"}).encode(),
    )
    assert resp2[0] == 200 and (
        len(resp2) < 4
        or resp2[3] is None
        or "X-Zed-Truncated" not in resp2[3]
    )


def test_describe_fork_per_leg_sort(spark):
    """Each fork leg's inherited sort comes from ITS OWN pool
    (round-7 ADVICE): legs scanning pools with different keys report
    different sorts."""
    import tempfile

    from zed_spark.service import QueryService
    from zed_spark.sources.lake import Lake

    root = str(tempfile.mkdtemp()) + "/lake"
    lake = Lake(spark, root)
    lake.create_pool("pa", key="ts")
    lake.create_pool("pb", key="uid", order="asc")
    s = QueryService(spark, lake_root=root)
    info = s._describe(
        "fork (=> from pa | output main => from pb | output other)", "pa"
    )
    by_name = {c["name"]: c for c in info["channels"]}
    assert by_name["main"]["sort"] == [{"order": "desc", "key": ["ts"]}]
    assert by_name["other"]["sort"] == [{"order": "asc", "key": ["uid"]}]


def test_zson_ingest_size_gate(spark, monkeypatch):
    """ZSON text parses on the driver — the gate keeps a bulk-sized
    POST from pinning it (mirrors the VNG read/write gates)."""
    import zed_spark.sources.ingest as ing

    monkeypatch.setattr(ing, "_ZSON_INGEST_MAX_BYTES", 64)
    with pytest.raises(ValueError, match="parses on the driver"):
        ing.zson_text_to_df(spark, "{a:1}\n" * 32)
    # under the gate still works
    df, wrapped = ing.zson_text_to_df(spark, "{a:1}")
    assert df.count() == 1 and not wrapped


def test_root_content_served_over_http(spark):
    """-rootcontentfile: GET / returns the static content through the
    live HTTP server (service/ztests/rootcontentfile exercises
    handle_api; this pins the server routing)."""
    s = QueryService(spark, sf_dir=SF_DIR, root_content="<html>zui</html>")
    port = s.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/", timeout=10
        ) as r:
            assert r.status == 200 and b"zui" in r.read()
    finally:
        s.stop()


def test_pool_stats_over_http(svc, spark):
    """GET /pool/<ref>/stats reaches handle_api through the live
    server (service/handlers.go handlePoolStats)."""
    req = urllib.request.Request(f"{svc}/pool/events/stats")
    with urllib.request.urlopen(req, timeout=10) as r:
        body = r.read().decode()
    assert r.status == 200 and body.startswith("{size:")


def test_service_on_file_uri_lake_root(spark, tmp_path_factory):
    """The service stack works when the lake root is a URI — pool
    create + load + query all route metadata through the Hadoop path
    (the s3a:// deployment shape, pinned with file://)."""
    root = f"file://{tmp_path_factory.mktemp('urisvc')}/lake"
    s = QueryService(spark, sf_dir=SF_DIR, lake_root=root)
    port = s.start()
    base = f"http://127.0.0.1:{port}"
    try:
        req = urllib.request.Request(
            f"{base}/pool",
            data=json.dumps({"name": "p1", "layout": {"keys": [["a"]], "order": "asc"}}).encode(),
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=10) as r:
            assert r.status == 200
        req = urllib.request.Request(
            f"{base}/pool/p1/branch/main",
            data=b'{a:1}\n{a:2}\n',
            headers={"Content-Type": "application/x-zson"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=30) as r:
            assert r.status == 200
        code, out = _post(base, "from p1 | sort a")
        assert code == 200
        rows = [json.loads(ln) for ln in out.splitlines() if ln]
        assert [r["a"] for r in rows] == [1, 2]
    finally:
        s.stop()


def test_requests_leave_no_temp_dirs(spark, tmp_path, monkeypatch):
    """Loads and arrows/parquet responses write their files under a
    temp dir that is gone once the commit or the response is done;
    a ZSON load writes no file at all."""
    import tempfile

    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setenv("TMPDIR", str(scratch))
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    s = QueryService(spark, lake_root=str(tmp_path / "lake"))

    def api(method, path, body, accept="application/json", ctype=""):
        return s.handle_api(
            method, path, {}, {"accept": accept, "content-type": ctype}, body
        )

    for name in ("p", "c"):
        api("POST", "/pool", json.dumps({"name": name}).encode())
    n = 2
    for i in range(n):
        api("POST", "/pool/p/branch/main", f"{{ts:{i},v:{i}}}".encode())
        api("POST", "/pool/c/branch/main", f"ts,v\n{i},{i}\n".encode(),
            ctype="text/csv")
        for accept in ("application/x-parquet",
                       "application/vnd.apache.arrow.stream"):
            code, _, payload, *_ = api(
                "POST", "/query",
                json.dumps({"query": "from p | count()"}).encode(), accept,
            )
            assert code == 200 and payload
    assert list(scratch.iterdir()) == []
    for name in ("p", "c"):
        code, _, payload, *_ = api(
            "POST", "/query",
            json.dumps({"query": f"from {name} | count()"}).encode(),
            "application/x-ndjson",
        )
        assert json.loads(payload) == n
