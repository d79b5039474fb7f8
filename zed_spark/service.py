"""Minimal query service — the reference's lake-service entry point
(reference: service/core.go:169-191 route table; POST /query runs a
compiled query and streams results).

stdlib-only (http.server): POST /query with a zed-language body (or
{"query": ..., "sf_dir": ...} JSON) → ndjson rows. GET /pools lists
lake pools when the server is given a lake root; branch endpoints
(GET /pools/<p>/branches, POST /pools/<p>/{branch,merge,revert})
mirror service/core.go's branch routes, and GET /events is the SSE
commit feed (service/core.go:173). This is a thin driver-side shim —
execution stays fully distributed in Spark; the HTTP layer only
streams the collected result, like the reference. Not a production
server — API-parity surface.
"""

from __future__ import annotations

import json
import os
import queue
import re
import shutil
import tempfile
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession


# Accept / Content-Type ↔ engine format (reference: api/queryio and
# service handlers' MIME table — zio/anyio MediaTypeToFormat)
_MIME_FMT = {
    "text/csv": "csv",
    "text/tab-separated-values": "tsv",
    "application/json": "json",
    "application/x-ndjson": "ndjson",
    "application/x-zeek": "zeek",
    "application/x-zjson": "zjson",
    "application/x-zson": "zson",
    "application/vnd.apache.arrow.stream": "arrows",
    "application/x-parquet": "parquet",
    "application/x-zng": "zng",
    "application/x-vng": "vng",
    "application/x-line": "line",
}


class ApiError(Exception):
    def __init__(self, msg: str, kind: str = "invalid operation", code: int = 400):
        super().__init__(msg)
        self.kind = kind
        self.code = code
        # compiler errors carry the parser ErrorList (Msg/Pos/End)
        # alongside the squiggle-rendered text (srverr.ErrInvalid)
        self.compilation_errors: list | None = None


def _detector_report(body: bytes) -> str:
    """The reference's per-format detection failure report
    (zio/anyio detector; service/ztests/curl-load-error): one line
    per format with that reader's rejection reason for undetectable
    text input."""
    try:
        text = body.decode("utf-8", errors="replace")
    except Exception:
        text = ""
    first_line = text.splitlines()[0] if text.strip() else ""
    c = next((ch for ch in text.lstrip()[:1]), "")
    jmsg = (
        "invalid character '%s' looking for beginning of value" % c
        if c
        else "unexpected end of JSON input"
    )
    parts = [
        "format detection error",
        "\tarrows: schema message length exceeds 1 MiB",
        "\tcsv: line 1: EOF",
        "\tjson: " + jmsg,
        "\tline: auto-detection not supported",
        "\tparquet: auto-detection requires seekable input",
        "\ttsv: line 1: EOF",
        "\tvng: auto-detection requires seekable input",
        "\tzeek: line 1: bad types/fields definition in zeek header",
        '\tzjson: line 1: malformed ZJSON: bad type object: "%s": '
        "unpacker error parsing JSON: %s" % (first_line, jmsg),
        "\tzng: malformed zng record",
        "\tzson: ZSON syntax error",
    ]
    return "\n".join(parts)


def _compile_error(msg: str, pos: int, end: int, text: str) -> ApiError:
    """The reference's compiler-error rendering: message, position
    (line/column), the source line, and a squiggle underlining
    [pos, end) (compiler/parser error list formatting)."""
    upto = text[:pos]
    line_no = upto.count("\n") + 1
    col = pos - (upto.rfind("\n") + 1)
    line_start = upto.rfind("\n") + 1
    line_end = text.find("\n", pos)
    if line_end < 0:
        line_end = len(text)
    src_line = text[line_start:line_end]
    n = max(1, min(end, line_end) - pos)
    rendered = "%s at line %d, column %d:\n%s\n%s%s" % (
        msg, line_no, col + 1, src_line, " " * col, "~" * n
    )
    err = ApiError(rendered)
    err.compilation_errors = [{"Msg": msg, "Pos": pos, "End": end}]
    return err


def _pick_accept(header: str, default: str) -> str:
    """First supported MIME type in the Accept list (the reference
    scans in order — service/ztests/accept-header.yaml); '' / */*
    pick the service default; none supported → error."""
    if not header or not header.strip():
        return default
    for part in header.split(","):
        mt = part.split(";")[0].strip()
        if mt in ("*/*", ""):
            return default
        if mt in _MIME_FMT:
            return _MIME_FMT[mt]
    raise ApiError("could not find supported MIME type in Accept header")


class _Scratch:
    """A request's temp dir: made when the first file goes in, and
    removed with everything in it when the `with` block ends."""

    def __init__(self, prefix: str):
        self.prefix = prefix
        self.path: str | None = None

    def file(self, name: str) -> str:
        if self.path is None:
            self.path = tempfile.mkdtemp(prefix=self.prefix)
        return os.path.join(self.path, name)

    def __enter__(self) -> "_Scratch":
        return self

    def __exit__(self, *exc) -> None:
        if self.path is not None:
            shutil.rmtree(self.path, ignore_errors=True)


class QueryService:
    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str | None = None,
        lake_root: str | None = None,
        tables: dict | None = None,
        max_rows: int = 10_000,
        default_fmt: str = "zson",
        root_content: str | None = None,
        auth: dict | None = None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.lake_root = lake_root
        self.tables = tables or {}
        # `-auth.enabled` + audience/clientid/domain/jwkspath flags
        # (service/auth.go AuthConfig): when enabled, every API route
        # except /auth/method requires a valid RS256 bearer token
        self.auth_config = auth
        self.auth_validator = None
        if auth and auth.get("enabled"):
            from zed_spark.auth import TokenValidator

            for k in ("audience", "clientid", "domain", "jwkspath"):
                if not auth.get(k):
                    raise ValueError(
                        "auth.audience, auth.clientid, auth.domain, and "
                        "auth.jwkspath must be set when auth enabled"
                    )
            self.auth_validator = TokenValidator(
                auth["audience"], auth["domain"], auth["jwkspath"]
            )
        # `-rootcontentfile` flag: static content served at GET /
        # (service/ztests/rootcontentfile — Zui hosting hook)
        self.root_content = root_content
        # per-request render errors, keyed by X-Request-Id (the
        # reference streams 200 then records mid-stream failures;
        # GET /query/status/<rid> reports them — service/ztests/
        # query-runtime-error)
        self.query_errors: dict[str, str] = {}
        # `-log.path` sink: a callable receiving JSON log lines
        self.log_write = None
        # result cap: an unbounded collect() would let one
        # `from lineitem` OOM the driver; clients page with
        # {"limit": N} up to this ceiling
        self.max_rows = max_rows
        # `-defaultfmt` service flag (service/ztests/default-format)
        self.default_fmt = default_fmt
        self._server: ThreadingHTTPServer | None = None

    # --- reference REST API (service/core.go route table) ------------

    def _lake(self):
        from zed_spark.sources.lake import Lake

        if not self.lake_root:
            raise ApiError("service has no lake root")
        return Lake(self.spark, self.lake_root)

    def _pool_by_ref(self, ref: str):
        """Pools are addressable by name or by ksuid id (the route
        params accept either; names arrive URL-encoded)."""
        from urllib.parse import unquote

        lake = self._lake()
        ref = unquote(ref)
        if ref.startswith("0x") and len(ref) == 42:
            # 0x-hex ksuid (the `-f text` rendering of ksuid bytes —
            # curl-add-gzip/curl-stats route idiom)
            from zed_spark.functions.misc import ksuid_encode_bytes

            try:
                ref = ksuid_encode_bytes(bytes.fromhex(ref[2:]))
            except ValueError:
                pass
        names = lake.pools()
        if ref in names:
            return lake.pool(ref)
        for n in names:
            if lake.pool(n).cfg.id == ref:
                return lake.pool(n)
        raise ApiError(f"{ref}: pool not found", kind="item does not exist", code=404)

    @staticmethod
    def _ksuid_hex(b62: str) -> str:
        from zed_spark.functions.misc import ksuid_decode_str

        return "0x" + ksuid_decode_str(b62).hex()

    def _commit_response(self, commit_b62: str, fmt: str, warnings) -> bytes:
        hexid = self._ksuid_hex(commit_b62)
        if fmt in ("json", "ndjson"):
            return (
                json.dumps({"commit": hexid, "warnings": warnings}, separators=(",", ":")) + "\n"
            ).encode()
        w = "null" if warnings is None else "[]"
        return (
            f"{{commit:{hexid}(=ksuid.KSUID),warnings:{w}([string])}}"
            "(=api.CommitResponse)\n"
        ).encode()

    def _describe(self, text: str, head_pool: str | None) -> dict:
        """POST /query/describe: static analysis of a query — its
        sources, output channels, per-channel aggregation keys and
        sort order (reference compiler/describe/analyze.go via
        service handleQueryDescribe). No data is read."""
        from zed_spark.lang.parser import parse

        ast = parse(text)
        body = [n for n in ast if n[0] != "decls"]

        def pool_src(name: str, inferred: bool) -> dict:
            pool = self._pool_by_ref(name)
            return {
                "kind": "Pool",
                "name": pool.cfg.name,
                "id": self._ksuid_hex(pool.cfg.id),
                "inferred": inferred,
            }

        sources: list = []
        rest = body
        first = body[0] if body else None
        if first is not None and first[0] == "from":
            sources = [pool_src(first[1], False)]
            rest = body[1:]
        elif first is not None and first[0] == "frommulti":
            sources = [pool_src(n, False) for n, _sub in first[1]]
            rest = body[1:]
        elif (
            first is not None
            and first[0] == "fork"
            and all(leg and leg[0][0] == "from" for leg in first[1])
        ):
            sources = [pool_src(leg[0][1], False) for leg in first[1]]
        else:
            if not head_pool:
                raise ApiError("no pool name given")
            sources = [pool_src(head_pool, True)]

        # channels: fork legs label outputs (`output <name>`);
        # everything else is the single `main` channel
        def leg_info(ops, name_default, inherited_keys, inherited_sort):
            name = name_default
            keys = inherited_keys
            sort = inherited_sort
            for op in ops:
                if op[0] == "outputop":
                    name = op[1]
                elif op[0] == "summarize":
                    keys = [[n] for n, _e in op[2]]
                    sort = None
                elif op[0] == "yield":
                    # yield replaces the value — inherited order is
                    # meaningless downstream (optimizer SortKeys)
                    sort = None
                elif op[0] == "sort" and op[1]:
                    k0, kdir = op[1][0]
                    if k0[0] == "field":
                        sort = [
                            {
                                "order": "desc"
                                if (kdir == "desc" if kdir else op[2])
                                else "asc",
                                "key": list(k0[1]),
                            }
                        ]
            return {"name": name, "aggregation_keys": keys, "sort": sort}

        # the pool's declared order is the inherited sort of a scan
        psort = None
        if sources and sources[0].get("kind") == "Pool":
            p0 = self._pool_by_ref(
                head_pool
                if head_pool and sources[0]["inferred"]
                else sources[0]["name"]
            )
            psort = [{"order": p0.cfg.order, "key": p0.cfg.key.split(".")}]

        channels: list = []
        fork = next((op for op in rest if op[0] == "fork"), None)
        pre = []
        for op in rest:
            if op[0] == "fork":
                break
            pre.append(op)
        base = leg_info(pre, "main", None, psort)
        if fork is None:
            channels = [base]
        else:
            seen: dict[str, int] = {}
            for i, leg in enumerate(fork[1]):
                leg_ops = list(leg)
                leg_sort = base["sort"]
                if leg_ops and leg_ops[0][0] == "from":
                    # a leg scanning its OWN pool inherits THAT
                    # pool's key/order, not the first source's
                    # (describe/analyze.go walks per-channel sources)
                    lp = self._pool_by_ref(leg_ops[0][1])
                    leg_sort = [
                        {"order": lp.cfg.order, "key": lp.cfg.key.split(".")}
                    ]
                info = leg_info(
                    leg_ops,
                    "main",
                    base["aggregation_keys"],
                    leg_sort,
                )
                if info["name"] in seen:
                    # duplicate output names combine: the merged
                    # channel loses per-leg keys/sort (analyze.go)
                    c = channels[seen[info["name"]]]
                    c["aggregation_keys"] = None
                    c["sort"] = None
                    continue
                seen[info["name"]] = len(channels)
                channels.append(info)
        out_sources = sources[0] if len(sources) == 1 else sources
        return {"sources": out_sources, "channels": channels}

    def _render(self, df, fmt: str, ctrl=False) -> bytes:
        """DataFrame → response payload, capped at max_rows."""
        return self._render_rows(self._capped_rows(df, fmt)[0], df, fmt, ctrl)

    def _capped_rows(self, df, fmt: str) -> tuple[list | None, bool]:
        """(rows, truncated): the result capped at max_rows BEFORE
        materializing.  The reference streams all formats
        (service/core.go:169-191 + api/queryio); this shim bounds
        driver memory instead, uniformly (a capped response carries
        the X-Zed-Truncated header).  A driver-rendered format runs
        ONE Spark execution: the capped result is collected once, and
        the truncation signal, the zjson QueryStats frame and the
        renderer all read that list.  arrows and parquet are written
        by Spark's own writers (rows None), after a capped count."""
        cap = self.max_rows
        if fmt in ("arrows", "parquet"):
            return None, df.limit(cap + 1).count() > cap
        rows = df.limit(cap + 1).collect()
        return rows[:cap], len(rows) > cap

    @staticmethod
    def _write_spark(df, fmt: str) -> bytes:
        with _Scratch("svc_out_") as tmp:
            if fmt == "arrows":
                from zed_spark.sources.arrow_io import write_arrows

                p = tmp.file("out.arrows")
                write_arrows(df, p, single_file=True)
            else:
                pq = tmp.file("pq")
                df.coalesce(1).write.mode("overwrite").parquet(pq)
                import glob as _g

                p = _g.glob(os.path.join(pq, "part-*.parquet"))[0]
            with open(p, "rb") as fh:
                return fh.read()

    def _render_rows(self, rows: list | None, df, fmt: str, ctrl=False) -> bytes:
        """`_capped_rows` output → payload in the negotiated format."""
        if rows is None:
            # Spark's writers see only the visible columns; the
            # driver-rendered formats drop the __zed_* sidecars too
            side = [c for c in df.columns if c.startswith("__zed_")]
            return self._write_spark(df.drop(*side).limit(self.max_rows), fmt)
        schema = df.schema
        if fmt == "vng":
            from zed_spark.sources.vng import encode_vng

            return encode_vng(rows, schema)
        if fmt == "zng":
            from zed_spark.sources.zng import encode_zng

            return encode_zng(rows, schema)
        if fmt in ("csv", "tsv"):
            from zed_spark.sources.csv_io import csv_text_rows

            return csv_text_rows(
                rows, schema, delim="," if fmt == "csv" else "\t"
            ).encode()
        if fmt in ("json", "ndjson"):
            from zed_spark.sources.jsonio import json_text_rows

            vis = [c for c in schema.fieldNames() if not c.startswith("__zed_")]
            txt = json_text_rows(rows, schema, wrapped=(vis == ["this"]))
            if fmt == "ndjson":
                return txt.encode()
            # the reference's json writer emits ONE array
            # (zio/jsonio/writer.go)
            lines = [ln for ln in txt.splitlines() if ln]
            return ("[" + ",".join(lines) + "]\n").encode()
        if fmt == "zeek":
            from zed_spark.sources.zeek import zeek_text_rows

            return zeek_text_rows(rows, schema).encode()
        if fmt == "zson":
            from zed_spark.sources.zson import zson_line_renderer

            render = zson_line_renderer(schema)
            return ("\n".join(render(r) for r in rows) + "\n").encode()
        if fmt != "zjson":
            raise ApiError(f"unsupported MIME type: {fmt}")
        from zed_spark.sources.zjson import zjson_text_rows

        lines = zjson_text_rows(rows, schema)
        if not ctrl:
            return ("\n".join(lines) + "\n").encode()
        import time as _t

        from pyspark.sql import types as T

        from zed_spark.sources.zng import _encode_body

        now = _t.time()
        # ns clamped to 3+ digits: the goldens mask only [0-9]{3,}
        # (curl-query-ctrl sed)
        ts = {"sec": int(now), "ns": max(100, int((now % 1) * 1e9))}
        # the reference reports scanner bytes = total ZNG record-body
        # length of the rows read ({ts:0} is the single tag byte ->
        # bytes_read:1)
        vis = T.StructType(
            [f for f in schema.fields if not f.name.startswith("__zed_")]
        )
        nbytes = sum(
            len(_encode_body({f.name: r[f.name] for f in vis.fields}, vis) or b"")
            for r in rows
        )

        def frame(t, v):
            return json.dumps({"type": t, "value": v}, separators=(",", ":"))

        chans = ctrl if isinstance(ctrl, list) else ["main"]
        # the single-channel record model attributes all values to the
        # FIRST channel; the remaining named outputs still get their
        # Set/End frames (the mux's channel-end contract —
        # curl-query-split)
        out = [frame("QueryChannelSet", {"channel": chans[0]})]
        out += lines
        out.append(frame("QueryChannelEnd", {"channel": chans[0]}))
        for ch in chans[1:]:
            out.append(frame("QueryChannelSet", {"channel": ch}))
            out.append(frame("QueryChannelEnd", {"channel": ch}))
        out.append(
            frame(
                "QueryStats",
                {
                    "start_time": ts,
                    "update_time": ts,
                    "bytes_read": nbytes,
                    "bytes_matched": nbytes,
                    "records_read": len(rows),
                    "records_matched": len(rows),
                },
            )
        )
        return ("\n".join(out) + "\n").encode()

    def _load_body(
        self, body: bytes, ctype: str, params: dict, tmp: "_Scratch"
    ) -> "object":
        """Request body → DataFrame per Content-Type (gzip sniffed
        like the reference's auto-uncompress — curl-add-gzip posts
        gzip bytes with no header).  A body a reader needs as a file
        is written under `tmp`, which must outlive the frame's use."""
        import gzip

        if body[:2] == b"\x1f\x8b":
            body = gzip.decompress(body)
        mt = ctype.split(";")[0].strip() if ctype else ""
        if mt and mt not in _MIME_FMT:
            raise ApiError(f"unsupported MIME type: {mt}")
        fmt = _MIME_FMT.get(mt)
        ext = {
            "csv": ".csv", "tsv": ".tsv", "json": ".json", "line": ".txt",
            "zeek": ".log", "zson": ".zson", "zjson": ".zjson",
            "arrows": ".arrows", "parquet": ".parquet", "zng": ".zng",
            "ndjson": ".json", "vng": ".vng",
        }
        if fmt == "vng" or (fmt is None and body[:2] != b"\x1f\x8b"):
            from zed_spark.sources.vng import is_vng, read_vng

            if fmt == "vng" or is_vng(body):
                p = tmp.file("body.vng")
                with open(p, "wb") as fh:
                    fh.write(body)
                return read_vng(self.spark, p)
        from zed_spark.sources.readers import read_any

        if fmt is None:
            # auto-detect: zson / zng / json (the reference's anyio
            # detector order, restricted to self-describing formats —
            # line/csv need an explicit Content-Type)
            try:
                btext = body.decode("utf-8")
            except UnicodeDecodeError:
                btext = None
            # ZSON keyword scalars are valid values, not prose
            # (anyio accepts `true`/`false`/`null`/NaN/Inf bodies)
            _zson_kw = {"true", "false", "null", "NaN", "Inf"}
            if (
                btext is not None
                and btext.strip()
                and not any(q in btext for q in "\"'{[|<:")
                and any(
                    w[:1].isalpha() and w not in _zson_kw
                    for w in btext.split()
                )
            ):
                # prose never detects: bare words are NOT a zson
                # stream of strings (anyio detector; curl-load-error)
                raise ApiError(_detector_report(body))
        if fmt in (None, "zson"):
            # full-fidelity driver-side ZSON ingest: per-row presence
            # (__zed_missing), precise type identity (__zed_types),
            # and ns-exact time shadows (__zed_ns_*) ride the frame so
            # mixed-shape loads round-trip per-record types through
            # the lake (zed missing semantics; nano.Ts).  A body that
            # is not ZSON text, or is past the size gate, takes the
            # distributed readers below; any other failure is a bug
            # and fails the load.
            from zed_spark.sources.ingest import NotIngested, zson_text_to_df
            from zed_spark.sources.zson import ZsonError

            try:
                return zson_text_to_df(self.spark, body.decode("utf-8"))[0]
            except (UnicodeDecodeError, ZsonError, NotIngested):
                pass
        if fmt is None:
            for trial in ("zson", "zng", "json"):
                p = tmp.file("body" + ext[trial])
                with open(p, "wb") as fh:
                    fh.write(body)
                try:
                    df = read_any(self.spark, p, trial)
                    if df.columns and df.count() > 0:
                        return df
                except Exception:
                    continue
            raise ApiError(_detector_report(body))
        p = tmp.file("body" + ext[fmt])
        with open(p, "wb") as fh:
            fh.write(body)
        opts = {}
        if fmt == "csv" and "csv.delim" in params:
            opts["sep"] = params["csv.delim"]
        df = read_any(self.spark, p, fmt, **opts)
        if fmt == "line":
            df = df.withColumnRenamed("value", "this") if df.columns == ["value"] else df
        return df

    def handle_api(self, method: str, path: str, params: dict, headers: dict, body: bytes):
        """Transport-agnostic REST dispatch. Returns (code, ctype,
        payload). Raises ApiError for client errors (rendered as the
        reference's {"type":"Error",...} envelope by the caller)."""
        from urllib.parse import unquote

        parts = [p for p in path.split("/") if p]
        accept = headers.get("accept", "")
        # /auth/method intentionally requires no authentication
        # (service/core.go:170-171)
        if path == "/auth/method" and method == "GET":
            if self.auth_validator is None:
                out = {"kind": ""}
            else:
                out = {
                    "kind": "auth0",
                    "auth0": {
                        "audience": self.auth_config["audience"],
                        "client_id": self.auth_config["clientid"],
                        "domain": self.auth_config["domain"],
                    },
                }
            return 200, "application/json", (
                json.dumps(out, separators=(",", ":")) + "\n"
            ).encode()
        ident = None
        if self.auth_validator is not None:
            from zed_spark.auth import AuthError

            try:
                ident = self.auth_validator.validate_request(headers)
            except AuthError as e:
                raise ApiError(str(e), kind="no credentials", code=401)
        if path == "/auth/identity" and method == "GET":
            from zed_spark.auth import Identity

            ident = ident or Identity()
            return 200, "application/json", (
                json.dumps(
                    {"tenant_id": ident.tenant_id, "user_id": ident.user_id},
                    separators=(",", ":"),
                )
                + "\n"
            ).encode()
        if path == "/pool" and method == "POST":
            spec = json.loads(body.decode() or "{}")
            name = spec.get("name")
            if not name:
                raise ApiError("no pool name given")
            layout = spec.get("layout") or {}
            keys = layout.get("keys") or [["ts"]]
            order = layout.get("order") or "desc"
            lake = self._lake()
            if name in lake.pools():
                raise ApiError(f"{name}: pool already exists", kind="item already exists", code=409)
            pool = lake.create_pool(name, ".".join(keys[0]), order)
            import time as _t

            ts = int(_t.time() * 1e9)
            out = {
                "pool": {
                    "ts": ts,
                    "name": name,
                    # ksuid marshals as base62 text in JSON (the
                    # segmentio MarshalText form the reference uses)
                    "id": pool.cfg.id,
                    "layout": {"order": order, "keys": keys},
                    "seek_stride": 65536,
                    "threshold": 524288000,
                },
                "branch": {
                    "ts": ts,
                    "name": "main",
                    "commit": "0x" + "0" * 40,
                },
            }
            return 200, "application/json", (json.dumps(out, separators=(",", ":")) + "\n").encode()
        if len(parts) == 2 and parts[0] == "pool" and method == "PUT":
            spec = json.loads(body.decode() or "{}")
            pool = self._pool_by_ref(parts[1])
            self._lake().rename_pool(pool.cfg.name, spec["name"])
            return 204, "application/json", b""
        if len(parts) == 2 and parts[0] == "pool" and method == "DELETE":
            pool = self._pool_by_ref(parts[1])
            self._lake().drop_pool(pool.cfg.name)
            return 204, "application/json", b""
        if (
            len(parts) == 4
            and parts[0] == "pool"
            and parts[2] == "branch"
            and method == "POST"
        ):
            fmt = _pick_accept(accept, self.default_fmt)
            pool = self._pool_by_ref(parts[1])
            with _Scratch("svc_load_") as tmp:
                df = self._load_body(
                    body, headers.get("content-type", ""), params, tmp
                )
                # presence (__zed_missing), per-row type identity
                # (__zed_types), and ns shadows are part of the data
                # — pools are heterogeneous in the reference; other
                # sidecars stay request-local
                df = df.drop(
                    *[
                        c
                        for c in df.columns
                        if c.startswith("__zed_")
                        and c not in ("__zed_missing", "__zed_types")
                        and not c.startswith("__zed_ns_")
                    ]
                )
                cid = pool.load(df, branch=unquote(parts[3]))
            return 200, "application/json", self._commit_response(cid, fmt, [])
        if (
            len(parts) == 5
            and parts[0] == "pool"
            and parts[2] == "branch"
            and parts[4] == "delete"
            and method == "POST"
        ):
            from zed_spark.sources.zson import parse_zson

            pool = self._pool_by_ref(parts[1])
            spec = parse_zson(body.decode())
            where = (spec[0] or {}).get("where") if spec else None
            if not where:
                raise ApiError("no delete predicate given")
            branch = unquote(parts[3])
            from zed_spark.lang.compiler import compile_where_column

            # compile the where text to a Column so the delete plans as
            # one pushed-down filter over the rewrite scan — never
            # collect matched keys to the driver (reference streams the
            # predicate to the Deleter, service/handlers.go)
            scan = pool.scan(branch)
            pred = compile_where_column(self.spark, where, scan)
            if scan.filter(pred).limit(1).count() == 0:
                raise ApiError("empty transaction")
            fmt = _pick_accept(accept, self.default_fmt)
            cid = pool.delete_where(pred, branch=branch)
            return 200, "application/json", self._commit_response(cid, fmt, None)
        if (
            len(parts) == 3
            and parts[0] == "pool"
            and parts[2] == "stats"
            and method == "GET"
        ):
            # exec.PoolStats (service/handlers.go handlePoolStats):
            # total object ZNG size + the key span at ns resolution
            pool = self._pool_by_ref(parts[1])
            st = pool.pool_stats()
            if st["min_ns"] is not None and st["max_ns"] is not None:
                from zed_spark.functions.ztime import format_time_ns

                span = (
                    "{ts:%s,dur:%d(=nano.Duration)}(=nano.Span)"
                    % (format_time_ns(st["min_ns"]),
                       st["max_ns"] - st["min_ns"] + 1)
                )
            else:
                span = "null(nano.Span)"
            payload = "{size:%d,span:%s}(=exec.PoolStats)\n" % (
                st["size"], span
            )
            return 200, "application/x-zson", payload.encode()
        if path in ("", "/") and method == "GET" and self.root_content:
            return 200, "text/html", self.root_content.encode()
        if path == "/compile" and method == "POST":
            # POST /compile (service/handlers.go:166 handleCompile):
            # parse the query with the same parser /query runs and
            # return its AST (tuples as JSON arrays); parse failures
            # respond with the parser ErrorList shape ({Msg,Pos,End} —
            # compiler/parser/api.go:58).
            spec = json.loads(body.decode() or "{}") if body.strip() else {}
            from zed_spark.lang.parser import parse

            try:
                ast = parse(spec.get("query") or "")
            except Exception as e:
                m = re.search(r"(?:at|pos)\s+(\d+)", str(e))
                pos = int(m.group(1)) if m else 0
                payload = {
                    "type": "Error",
                    "kind": "invalid operation",
                    "error": "error parsing SuperPipe",
                    "compilation_errors": [
                        {"Msg": "error parsing SuperPipe", "Pos": pos,
                         "End": -1}
                    ],
                }
                return 400, "application/json", (
                    json.dumps(payload) + "\n"
                ).encode()
            return 200, "application/json", (
                json.dumps(ast, default=str) + "\n"
            ).encode()
        if path == "/query/describe" and method == "POST":
            spec = json.loads(body.decode() or "{}") if body.strip() else {}
            text = (spec.get("query") or "").strip()
            head = (spec.get("head") or {}).get("pool")
            info = self._describe(text, head)
            return 200, "application/json", (
                json.dumps(info, indent=4) + "\n"
            ).encode()
        if path == "/query" and method == "POST":
            spec = json.loads(body.decode() or "{}") if body.strip() else {}
            text = (spec.get("query") or "").strip()
            if not text:
                raise ApiError("no pool name given")
            fmt = _pick_accept(accept, self.default_fmt)
            self._check_from(text)
            from zed_spark.session import ZedSession

            z = ZedSession(self.spark)
            df = z.query(text, allow_paths=False, lake=self.lake_root).df
            ctrlv = params.get("ctrl")
            ctrl = False
            if ctrlv is not None:
                # Go strconv.ParseBool's accepted spellings; the
                # reference surfaces its exact error otherwise
                _BOOLS = {"1": True, "t": True, "T": True, "true": True,
                          "TRUE": True, "True": True, "0": False,
                          "f": False, "F": False, "false": False,
                          "FALSE": False, "False": False}
                if ctrlv not in _BOOLS:
                    raise ApiError(
                        'invalid query param "%s": strconv.ParseBool: '
                        'parsing "%s": invalid syntax' % (ctrlv, ctrlv)
                    )
                ctrl = _BOOLS[ctrlv] and fmt == "zjson"
                if ctrl:
                    ctrl = self._channels(text)
            ctype = {
                "json": "application/json",
                "ndjson": "application/x-ndjson",
                "csv": "text/csv",
                "tsv": "text/tab-separated-values",
                "zson": "application/x-zson",
                "zjson": "application/x-zjson",
                "zeek": "application/x-zeek",
                "arrows": "application/vnd.apache.arrow.stream",
                "parquet": "application/x-parquet",
                "zng": "application/x-zng",
                "vng": "application/x-vng",
            }.get(fmt, "text/plain")
            from zed_spark.sources.lake import new_ksuid

            rid = new_ksuid()
            hdrs_out = {"X-Request-Id": rid}
            rows, truncated = self._capped_rows(df, fmt)
            try:
                payload = self._render_rows(rows, df, fmt, ctrl)
            except Exception as e:
                # mid-stream writer failure: the reference has already
                # sent 200; the error is recorded under the request id
                # and logged (queryio semantics). Only recognized
                # writer-parity failures take this path — anything
                # else is a real bug and must surface as an error
                # response, not a silent empty 200.
                msg = self._writer_error(e, fmt, df)
                if msg is None:
                    raise
                if len(self.query_errors) >= 256:
                    # bounded across the process lifetime: drop the
                    # oldest recorded ids (insertion-ordered dict)
                    for old in list(self.query_errors)[:128]:
                        del self.query_errors[old]
                self.query_errors[rid] = msg
                if self.log_write is not None:
                    self.log_write(
                        json.dumps(
                            {"level": "warn", "msg": "Error writing batch",
                             "error": msg}
                        )
                        + "\n"
                    )
                payload = b""
            if truncated:
                hdrs_out["X-Zed-Truncated"] = "true"
            return 200, ctype, payload, hdrs_out
        if path.startswith("/query/status/") and method == "GET":
            rid = path.rsplit("/", 1)[1]
            err = self.query_errors.get(rid)
            if err is None:
                raise ApiError("not found", kind="item does not exist",
                               code=404)
            return 200, "application/json", (
                json.dumps({"error": err}, separators=(",", ":")) + "\n"
            ).encode()
        raise ApiError("not found", kind="item does not exist", code=404)

    def _check_from(self, text: str) -> None:
        """Pre-flight `from` source resolution with the reference's
        squiggle-rendered compile errors (curl-query-error)."""
        m = re.match(r"\s*from\s+('[^']*'|\S+)", text)
        if not m:
            return
        tok = m.group(1)
        if tok.startswith("("):
            # compound source `from ( pool a pool b )`: each leg is
            # resolved by the real compiler, not this pre-flight
            return
        if not tok.startswith("'"):
            # `from pool1|head 1` (no spaces around the pipe): the
            # source token ends at the first operator punctuation
            cut = len(tok)
            for ch in "|;(":
                i = tok.find(ch)
                if i != -1:
                    cut = min(cut, i)
            tok = tok[:cut]
            if not tok:
                return
        if tok == "HEAD":
            raise _compile_error(
                "pool name missing", m.start(), m.end(), text
            )
        if tok.startswith(":"):
            meta = tok[1:]
            if meta not in ("pools", "branches", "objects", "log",
                            "vectors", "tags", "index_rules"):
                raise _compile_error(
                    'unknown lake metadata type "%s" in from operator'
                    % meta,
                    m.start(), m.end(), text,
                )
            return
        name = tok.strip("'").partition("@")[0]
        if "*" in name or name.startswith("/") or not self.lake_root:
            return
        from zed_spark.sources.lake import Lake

        if name not in Lake(self.spark, self.lake_root).pools():
            raise _compile_error(
                "%s: pool not found" % name,
                m.start(1), m.start(1) + len(tok), text,
            )

    @staticmethod
    def _channels(text: str) -> list[str]:
        """Output channel names of a query, in appearance order
        (`output NAME` ops; default channel is main) — the zjson
        mux's QueryChannelSet/End frames are per channel."""
        from zed_spark.lang.parser import parse

        names: list[str] = []

        def walk(node):
            if isinstance(node, tuple) and node[:1] == ("outputop",):
                if node[1] not in names:
                    names.append(node[1])
            elif isinstance(node, (tuple, list)):
                for x in node:
                    walk(x)

        walk(parse(text))
        return names or ["main"]

    @staticmethod
    def _writer_error(e: Exception, fmt: str, df) -> str | None:
        """Map a render failure to the reference writer's wording
        (zio/parquetio rejects empty record types). Returns None for
        failures with no reference-writer equivalent — the caller
        re-raises those."""

        def has_empty(dt) -> bool:
            from pyspark.sql.types import ArrayType, MapType, StructType

            if isinstance(dt, StructType):
                return not dt.fields or any(
                    has_empty(f.dataType) for f in dt.fields
                )
            if isinstance(dt, ArrayType):
                return has_empty(dt.elementType)
            if isinstance(dt, MapType):
                return has_empty(dt.valueType)
            return False

        if fmt == "parquet" and has_empty(df.schema):
            return "parquetio: unsupported type: empty record"
        return None

    def _run_query(
        self, text: str, sf_dir: str | None, limit: int | None = None
    ) -> tuple[list[dict], bool]:
        """Returns (rows, truncated). Source resolution is restricted
        to registered tables / sf_dir tables (allow_paths=False): a
        network client must never be able to read arbitrary host
        files via `from /some/path`."""
        from zed_spark.session import ZedSession

        cap = min(limit, self.max_rows) if limit else self.max_rows
        z = ZedSession(self.spark)
        df = z.query(
            text,
            sf_dir=sf_dir or self.sf_dir,
            tables=self.tables,
            allow_paths=False,
            lake=self.lake_root,
        ).df
        rows = [row.asDict(recursive=True) for row in df.limit(cap + 1).collect()]
        return rows[:cap], len(rows) > cap

    def _pools(self) -> list[str]:
        if not self.lake_root:
            return []
        from zed_spark.sources.lake import Lake

        return Lake(self.spark, self.lake_root).pools()

    def _pool(self, name: str):
        if not self.lake_root:
            raise ValueError("service has no lake root")
        from zed_spark.sources.lake import Lake

        return Lake(self.spark, self.lake_root).pool(name)

    def start(self, host: str = "127.0.0.1", port: int = 0) -> int:
        """Start serving in a daemon thread; returns the bound port."""
        svc = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def _send(
                self,
                code: int,
                payload: bytes,
                ctype: str = "application/json",
                extra: dict | None = None,
            ):
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(payload)))
                for k, v in (extra or {}).items():
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(payload)

            def _authorize(self) -> bool:
                """Auth gate for legacy (non-handle_api) routes. The
                reference wraps every route except /auth/method in auth
                middleware (service/core.go addAPIServerRoutes); routes
                dispatched through _api are validated inside handle_api,
                so this covers the rest. Returns False after sending a
                401 when credentials are missing/invalid."""
                if svc.auth_validator is None:
                    return True
                from zed_spark.auth import AuthError

                hdrs = {k.lower(): v for k, v in self.headers.items()}
                try:
                    svc.auth_validator.validate_request(hdrs)
                    return True
                except AuthError as exc:
                    env = {
                        "type": "Error",
                        "kind": "no credentials",
                        "error": str(exc),
                    }
                    self._send(401, json.dumps(env).encode())
                    return False

            def do_GET(self):
                if self.path.startswith(
                    ("/auth/", "/query/status/", "/pool/")
                ) or (self.path == "/" and svc.root_content):
                    self._api("GET")
                elif not self._authorize():
                    return
                elif self.path == "/pools":
                    self._send(200, json.dumps(svc._pools()).encode())
                elif self.path == "/status":
                    self._send(200, b'{"ok": true}')
                elif self.path == "/events":
                    self._serve_events()
                elif self.path.startswith("/pools/") and self.path.endswith("/branches"):
                    name = self.path[len("/pools/"):-len("/branches")]
                    try:
                        rows = [
                            r.asDict() for r in svc._pool(name).meta_branches().collect()
                        ]
                        self._send(200, json.dumps(rows).encode())
                    except Exception as exc:
                        self._send(400, json.dumps({"error": str(exc)[:300]}).encode())
                else:
                    self._send(404, b'{"error": "not found"}')

            def _serve_events(self):
                """SSE commit feed (service/core.go:173): every lake
                commit in this process streams as an event."""
                from zed_spark.sources import lake as lake_mod

                q: queue.Queue = queue.Queue()
                lake_mod.subscribe_commits(q.put)
                try:
                    self.send_response(200)
                    self.send_header("Content-Type", "text/event-stream")
                    self.send_header("Cache-Control", "no-cache")
                    self.end_headers()
                    while True:
                        try:
                            ev = q.get(timeout=0.5)
                        except queue.Empty:
                            self.wfile.write(b": keepalive\n\n")
                            self.wfile.flush()
                            continue
                        payload = (
                            f"event: {ev.get('type', 'commit')}\n"
                            f"data: {json.dumps(ev)}\n\n"
                        )
                        self.wfile.write(payload.encode())
                        self.wfile.flush()
                except (BrokenPipeError, ConnectionResetError, OSError):
                    pass
                finally:
                    lake_mod.unsubscribe_commits(q.put)

            def _branch_op(self, name: str, op: str, body: dict):
                pool = svc._pool(name)
                if op == "branch":
                    pool.create_branch(body["name"], body.get("from", "main"))
                    return {"ok": True}
                if op == "merge":
                    c = pool.merge(
                        body["source"],
                        body.get("into", "main"),
                        body.get("author", ""),
                        body.get("message", ""),
                    )
                    return {"commit": c}
                if op == "revert":
                    c = pool.revert(
                        body["commit"], body.get("branch", "main"), body.get("author", "")
                    )
                    return {"commit": c}
                raise ValueError(f"unknown pool op {op!r}")

            def _api(self, method):
                """Reference REST routes (/pool*, /query) via
                handle_api with the Error envelope on failure."""
                from urllib.parse import parse_qsl, urlsplit

                u = urlsplit(self.path)
                params = dict(parse_qsl(u.query))
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n) if n else b""
                hdrs = {k.lower(): v for k, v in self.headers.items()}
                try:
                    resp = svc.handle_api(method, u.path, params, hdrs, body)
                    code, ctype, payload = resp[:3]
                    extra = resp[3] if len(resp) > 3 else None
                    self._send(code, payload, ctype, extra)
                except ApiError as exc:
                    env = {"type": "Error", "kind": exc.kind, "error": str(exc)}
                    self._send(exc.code, json.dumps(env).encode())
                except Exception as exc:
                    env = {"type": "Error", "kind": "error", "error": str(exc)[:500]}
                    self._send(500, json.dumps(env).encode())

            def do_PUT(self):
                if self.path.startswith("/pool/"):
                    self._api("PUT")
                else:
                    self._send(404, b'{"error": "not found"}')

            def do_DELETE(self):
                if self.path.startswith("/pool/"):
                    self._api("DELETE")
                else:
                    self._send(404, b'{"error": "not found"}')

            def do_POST(self):
                # /pool (reference REST) vs /pools (legacy listing)
                if self.path == "/pool" or self.path.startswith("/pool/"):
                    self._api("POST")
                    return
                # a client that names an Accept type speaks the
                # reference protocol — route /query through the REST
                # layer (zjson control frames, auth, JSON envelope);
                # Accept-less posts keep the legacy ndjson contract
                if (
                    self.path.split("?")[0] == "/query"
                    and svc.lake_root
                    and self.headers.get("Accept")
                ):
                    self._api("POST")
                    return
                # everything below is a legacy route that skips
                # handle_api — enforce the same auth gate here
                if not self._authorize():
                    return
                if self.path.startswith("/pools/"):
                    parts = self.path[len("/pools/"):].split("/")
                    if len(parts) == 2 and parts[1] in ("branch", "merge", "revert"):
                        n = int(self.headers.get("Content-Length", 0))
                        try:
                            body = json.loads(self.rfile.read(n) or b"{}")
                            out = self._branch_op(parts[0], parts[1], body)
                            self._send(200, json.dumps(out).encode())
                        except Exception as exc:
                            self._send(
                                400, json.dumps({"error": str(exc)[:300]}).encode()
                            )
                        return
                if self.path != "/query":
                    self._send(404, b'{"error": "not found"}')
                    return
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n).decode("utf-8", errors="replace")
                try:
                    parsed = json.loads(body)
                    text = parsed["query"]
                    sf_dir = parsed.get("sf_dir")
                    limit = parsed.get("limit")
                except (json.JSONDecodeError, TypeError, KeyError):
                    text, sf_dir, limit = body, None, None
                try:
                    rows, truncated = svc._run_query(text, sf_dir, limit)
                except SyntaxError as exc:
                    self._send(400, json.dumps({"error": f"parse: {exc}"}).encode())
                    return
                except Exception as exc:  # compile/execute errors → 400
                    self._send(400, json.dumps({"error": str(exc)[:500]}).encode())
                    return
                out = "\n".join(json.dumps(r, default=str) for r in rows).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/x-ndjson")
                self.send_header("Content-Length", str(len(out)))
                self.send_header("X-Truncated", "true" if truncated else "false")
                self.end_headers()
                self.wfile.write(out)

        self._server = ThreadingHTTPServer((host, port), Handler)
        t = threading.Thread(target=self._server.serve_forever, daemon=True)
        t.start()
        return self._server.server_port

    def stop(self) -> None:
        if self._server:
            self._server.shutdown()
            self._server = None
