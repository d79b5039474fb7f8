"""ZSON text format: reader + writer.

The reference's human-readable serialization (docs/formats/zson.md;
reader entry zio/zsonio/reader.go, grammar per the spec — this is an
independent implementation from the published spec, not a port).
This is the round-1 verdict's top migration blocker: every existing
zed dataset can be dumped as ZSON (`zq -z`), so a ZSON on-ramp makes
the engine reachable from any zed deployment.

Supported subset (the zq `-z` output surface):
  - records, arrays, sets `|[..]|`, maps `|{k:v,..}|`, nested freely
  - primitives: int64, float64 (incl. `Inf`/`-Inf`/`NaN`), bool,
    string (double-quote JSON escapes + backtick), null, time
    (RFC 3339 → TimestampType, µs truncation documented), duration
    (→ ns int64), bytes `0x..` → BinaryType, ip/net → string
  - type decorators `(int32)` etc. (value cast; sized ints widen to
    int64 in the DataFrame — Spark has no unsigned types), named-type
    decorators `(=name)` (name recorded, value kept), unions (the
    decorated member value is used)
  - comments `//` and `/* .. */` as whitespace

Reading is distributed: one task per input split parses its lines
(zq's default output is one value per line). Values spanning lines
(pretty mode) fall back to a driver-side whole-text parse — that mode
is for small human-edited files by construction.

Shape model: like the ndjson reader (sources/shapes.py), a mixed
stream groups by shape = ordered top-level field names; `read_zson`
returns {shape: DataFrame} and `read_zson_fused` the fuse of all
shapes.
"""

from __future__ import annotations

import json
import math
import re
from datetime import date, datetime, timedelta, timezone
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from zed_spark.sources.ztypes import (
    canonical_type_string,
    classify_token,
    decorate,
    merge_elem_descs,
    parse_type_string,
)

# --- parser ----------------------------------------------------------------

_IDENT = re.compile(r"[^\W\d][\w$]*", re.UNICODE)
_TIME = re.compile(
    r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})$"
)
_DUR = re.compile(r"^[-+]?(\d+(\.\d+)?(ns|us|ms|s|m|h|d|w|y))+$")
_INT = re.compile(r"^[-+]?\d+$")
_HEX_BODY = re.compile(r"(?:[0-9a-fA-F]{2})*")
# ':' is NOT a terminator for ordinary bare values (times and IPv6
# contain colons); map KEYS parse with key_mode, where it is
_BARE_END = set(",}]|)( \t\r\n")
_BARE_END_KEY = _BARE_END | {":"}
_FLOATISH = re.compile(r"[-+]?(\d+\.\d*|\.\d+|\d+)([eE][-+]?\d+)?")

# descriptors of the bare-token primitives (ztypes.py forms)
_PRIM_DESCS = {
    n: ("prim", n)
    for n in (
        "null", "bool", "float64", "bytes", "int64", "time",
        "duration", "ip", "net", "string",
    )
}
_NULL_DESC = _PRIM_DESCS["null"]
_BOOL_DESC = _PRIM_DESCS["bool"]
_FLOAT_DESC = _PRIM_DESCS["float64"]
_BYTES_DESC = _PRIM_DESCS["bytes"]
_TIME_DESC = _PRIM_DESCS["time"]
_STRING_DESC = _PRIM_DESCS["string"]
# a top-level field whose value is not a time literal or null: its
# column carries no ns shadow
_NO_NS = object()

_DUR_NS = {
    "ns": 1,
    "us": 1_000,
    "ms": 1_000_000,
    "s": 1_000_000_000,
    "m": 60 * 1_000_000_000,
    "h": 3_600 * 1_000_000_000,
    "d": 86_400 * 1_000_000_000,
    "w": 7 * 86_400 * 1_000_000_000,
    "y": 365 * 86_400 * 1_000_000_000,
}


# a zed null map KEY cannot ride Spark's non-nullable MapType keys:
# it travels as this sentinel string and converts back at the
# boundaries (writer + harness compare) — zson/ztests/map
NULL_KEY = "\x00null\x00"
# a map key whose type identity matters (complex keys; same-value
# keys of distinct types) rides as its canonical ZSON text behind
# this sentinel prefix; writers unwrap it (jsonio mapKey semantics,
# zio/jsonio/writer.go:151)
TEXT_KEY = "\x00zk:"


def order_text_keys(raws: list) -> list:
    """ZNG normalized order for canonical-text map keys: ascending
    tag-counted encoded key bytes with the key type union-resolved
    per entry (the reference map normalization, zng.md §2.2).
    Returns the raw texts in stored order — reusable at render time
    because Spark's MapType does not preserve entry order."""
    from zed_spark.sources.zng import _append_tagged, encode_body_desc
    from zed_spark.sources.ztypes import canon_desc

    keyed = []
    descs = []
    for raw in raws:
        try:
            vals, _, kdescs, _ = parse_zson_full(raw)
            k, d = vals[0], canon_desc(kdescs[0])
        except Exception:
            d, k = ("prim", "string"), raw
        descs.append(d)
        keyed.append([raw, k, d, b""])
    uniq = []
    for d in descs:
        if d not in uniq:
            uniq.append(d)
    from zed_spark.sources.restore import ZUnion, convert

    if len(uniq) > 1:
        import functools

        from zed_spark.sources.ztypes import compare_descs

        uniq.sort(key=functools.cmp_to_key(compare_descs))
        udesc = ("union", tuple(uniq))
        for e in keyed:
            try:
                tag = uniq.index(e[2])
                b = bytearray()
                _append_tagged(
                    b,
                    encode_body_desc(
                        ZUnion(tag, convert(e[1], None, e[2])), udesc
                    ),
                )
                e[3] = bytes(b)
            except Exception:
                e[3] = b"\xff" + e[0].encode()
    else:
        for e in keyed:
            try:
                b = bytearray()
                _append_tagged(
                    b, encode_body_desc(convert(e[1], None, e[2]), e[2])
                )
                e[3] = bytes(b)
            except Exception:
                e[3] = b"\xff" + e[0].encode()
    keyed.sort(key=lambda e: e[3])
    return [e[0] for e in keyed]


def _is_typed_null_like(k) -> bool:
    return isinstance(k, TypedNull)


def _text_key_map(entries):
    """Rebuild a map with ALL keys as canonical-text sentinels, in
    ZNG normalized entry order."""
    by_raw = {raw: v for raw, _k, v in entries}
    out = ZMap()
    for raw in order_text_keys([raw for raw, _k, _v in entries]):
        out[TEXT_KEY + raw] = by_raw[raw]
    return out


class ZMap(dict):
    """Marker: a ZSON map value (vs a record, which is a plain dict)."""


class ZError:
    """A first-class zed error value: error("missing"), error({...})
    (complex.go:42-65; ZSON syntax docs/formats/zson.md). Wraps the
    inner value; compares by it."""

    __slots__ = ("value",)

    def __init__(self, value):
        self.value = value

    def __eq__(self, other):
        return isinstance(other, ZError) and self.value == other.value

    def __hash__(self):
        return hash(("ZError", repr(self.value)))

    def __repr__(self):
        return f"ZError({self.value!r})"


class TypedNull:
    """A null carrying its decorator's type (null(bytes),
    null([int32]), ...) so schema inference sees the intended column
    type instead of defaulting. Conforms to None in rows."""

    __slots__ = ("dtype",)

    def __init__(self, dtype):
        self.dtype = dtype

    def __repr__(self):
        return f"TypedNull({self.dtype})"


def _ztype_to_dtype(s: str, env: dict | None = None):
    """zed type syntax → widened Spark DataType (SURVEY §1.2), or
    None when the syntax isn't recognized. `env` carries inline
    named-type definitions (port=uint16) so later references within
    the same type string resolve."""
    s = s.strip()
    env = {} if env is None else env
    if "=" in s and not s.startswith(("{", "|", "[", "(")):
        name, rhs = s.split("=", 1)
        dt = _ztype_to_dtype(rhs, env)
        if dt is not None:
            env[name.strip()] = dt
        return dt
    if s in env:
        return env[s]
    prim = {
        "string": T.StringType(), "ip": T.StringType(), "net": T.StringType(),
        "bool": T.BooleanType(), "bytes": T.BinaryType(),
        "time": T.TimestampType(), "duration": T.LongType(),
        "null": T.NullType(), "type": T.StringType(),
    }
    if s in prim:
        return prim[s]
    if s.startswith(("int", "uint")) and s[-1].isdigit():
        return T.LongType()
    if s.startswith("float") or s.startswith("decimal"):
        return T.DoubleType()
    if s.startswith("|[") and s.endswith("]|"):
        inner = _ztype_to_dtype(s[2:-2], env)
        return T.ArrayType(inner) if inner is not None else None
    if s.startswith("[") and s.endswith("]"):
        inner = _ztype_to_dtype(s[1:-1], env)
        return T.ArrayType(inner) if inner is not None else None
    if s.startswith("{") and s.endswith("}"):
        # record type: null({a:[string],b:{c:int64}}) keeps its
        # structure so fuse/merge sees the full shape
        fields = []
        for part in _split_top(s[1:-1], ","):
            if not part.strip():
                continue
            name, _, typ = part.partition(":")
            name = name.strip()
            if name.startswith('"') and name.endswith('"'):
                name = json.loads(name)
            dt = _ztype_to_dtype(typ, env)
            if dt is None:
                return None
            fields.append(T.StructField(name, dt, True))
        return T.StructType(fields)
    return None


def _split_top(s: str, sep: str) -> list[str]:
    """Split on `sep` at nesting depth 0 ({[(|)]} aware)."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "{[(":
            depth += 1
        elif ch in "}])":
            depth -= 1
        if ch == sep and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out


class ZsonError(ValueError):
    pass


class _Parser:
    """One pass over ZSON text: each value comes back beside its zed
    type descriptor (ztypes.py forms), the per-value type identity the
    widened Spark value model erases (sized ints, ip/net, named types;
    values are (type, bytes) in the reference data model)."""

    def __init__(
        self,
        s: str,
        time_ns: bool = False,
        named_descs: dict | None = None,
        track_ns: bool = False,
    ):
        self.s = s
        self.i = 0
        self.n = len(s)
        # ns-opt-in: time values parse to exact int64 ns instead of
        # µs-truncated datetimes (writer goldens need full ns — the
        # reference is int64-ns end-to-end, SURVEY §1.2 / round-5
        # item 9); the __zed_types sidecar marks the columns `time`
        self.time_ns = time_ns
        # named-type definitions seen in decorators: name -> merged
        # inferred DataType ((=name) defines from the value's shape;
        # (name=prim) from the stated primitive — zson.md named types)
        self.named: dict = {}
        # the same definitions as descriptors (name -> descriptor); a
        # caller may share one across documents of a stream
        self.named_descs: dict = {} if named_descs is None else named_descs
        # False once a decorator's type did not parse as a descriptor:
        # the values stand, the descriptors are withheld
        self.descs_ok = True
        # exact ns of the top-level record's time fields, beside the
        # µs datetimes (nano.Ts): parse_value hands the dict to the
        # top-level record only
        self.track_ns = track_ns
        self.ns_row: dict | None = None
        self.last_time: tuple | None = None

    def _ws(self) -> None:
        s, n = self.s, self.n
        while self.i < n:
            c = s[self.i]
            if c in " \t\r\n,":
                self.i += 1
            elif s.startswith("//", self.i):
                j = s.find("\n", self.i)
                self.i = n if j < 0 else j + 1
            elif s.startswith("/*", self.i):
                j = s.find("*/", self.i + 2)
                if j < 0:
                    raise ZsonError("unterminated /* comment")
                self.i = j + 2
            else:
                return

    def at_end(self) -> bool:
        self._ws()
        return self.i >= self.n

    def parse_value(self, key_mode: bool = False) -> tuple:
        """The next value and its type descriptor."""
        ns_row, self.ns_row = self.ns_row, None
        self._ws()
        if self.i >= self.n:
            raise ZsonError("unexpected end of input")
        c = self.s[self.i]
        if c == "{":
            v, d = self._record(ns_row)
        elif c == "[":
            v, d = self._array()
        elif c == "|":
            v, d = self._set_or_map()
        elif c == '"' or c == "`":
            v, d = self._string(c), _STRING_DESC
        elif c == "<":
            v, d = self._type_value()
        elif self.s.startswith("error(", self.i):
            self.i += len("error(")
            inner, idesc = self.parse_value()
            self._ws()
            if self.i >= self.n or self.s[self.i] != ")":
                raise ZsonError(f"unterminated error(...) at {self.i}")
            self.i += 1
            v, d = ZError(inner), ("error", idesc)
        else:
            v, d = self._bare(key_mode)
        return self._decorators(v, d)

    def _record(self, ns_row: dict | None = None) -> tuple:
        self.i += 1  # {
        out: dict = {}
        fields: list = []
        self._ws()
        if self.i < self.n and self.s[self.i] == "}":
            self.i += 1
            return out, ("record", ())
        while True:
            self._ws()
            name = self._name()
            self._ws()
            if self.i >= self.n or self.s[self.i] != ":":
                raise ZsonError(f"expected ':' after field name at {self.i}")
            self.i += 1
            v, d = self.parse_value()
            if name not in out:
                # zed records are ordered field lists that CAN carry
                # duplicate names (compiler/ztests/from-pass fixture);
                # the dict model keeps the first occurrence
                out[name] = v
                fields.append((name, d))
                if ns_row is not None:
                    ns_row[name] = self._ns_of(v)
            self._ws()
            if self.i < self.n and self.s[self.i] == "}":
                self.i += 1
                return out, ("record", tuple(fields))
            if self.i >= self.n:
                raise ZsonError("unterminated record")

    def _ns_of(self, v):
        """Exact ns of a top-level field value: an int for a time
        literal, None for null, _NO_NS for anything else."""
        if v is None:
            return None
        if self.last_time is not None and self.last_time[0] is v:
            return self.last_time[1]
        return _NO_NS

    def _name(self) -> str:
        if self.s[self.i] == '"':
            return self._string('"')
        m = _IDENT.match(self.s, self.i)
        if not m:
            raise ZsonError(f"bad field name at {self.i}")
        self.i = m.end()
        return m.group(0)

    def _array(self, is_set: bool = False) -> tuple:
        self.i += 1  # [ (caller consumed any leading |)
        out = []
        descs = []
        quoted = []
        while True:
            self._ws()
            if self.i >= self.n:
                raise ZsonError("unterminated array/set")
            if self.s[self.i] == "]":
                self.i += 1
                if is_set:
                    if self.s[self.i : self.i + 1] != "|":
                        raise ZsonError("unterminated set (expected ']|')")
                    self.i += 1
                    return (
                        _normalize_set(out, quoted),
                        ("set", merge_elem_descs(descs)),
                    )
                return out, ("array", merge_elem_descs(descs))
            self._quoted = False
            v, d = self.parse_value()
            out.append(v)
            descs.append(d)
            quoted.append(getattr(self, "_quoted", False))

    def _set_or_map(self) -> tuple:
        if self.s.startswith("|[", self.i):
            self.i += 1
            return self._array(is_set=True)
        if self.s.startswith("|{", self.i):
            self.i += 2
            out = ZMap()
            entries: list = []  # (raw key text, key, value)
            kdescs: list = []
            vdescs: list = []
            text_keys = False
            while True:
                self._ws()
                if self.s.startswith("}|", self.i):
                    self.i += 2
                    break
                if self.i >= self.n:
                    raise ZsonError("unterminated map")
                k0 = self.i
                k, kd = self.parse_value(key_mode=True)
                raw = self.s[k0:self.i].strip()
                self._ws()
                if self.i >= self.n or self.s[self.i] != ":":
                    raise ZsonError(f"expected ':' in map at {self.i}")
                self.i += 1
                v, vd = self.parse_value()
                kdescs.append(kd)
                vdescs.append(vd)
                try:
                    hash(k)
                    collide = k in out or (
                        k is None and NULL_KEY in out
                    )
                    if isinstance(k, ZError) or _is_typed_null_like(k):
                        collide = True  # type-bearing key
                except TypeError:
                    collide = True  # complex key: no python hash
                if collide:
                    # map keys whose TYPE IDENTITY matters (complex
                    # keys, or same-value keys of different types:
                    # |{0:1,0(uint64):2}|) ride as canonical-text
                    # sentinels — the null-key pattern generalized
                    # (jsonio/ztests/map-output)
                    text_keys = True
                entries.append((raw, k, v))
                out[NULL_KEY if k is None else (k if not collide else TEXT_KEY + raw)] = v
            d = ("map", merge_elem_descs(kdescs), merge_elem_descs(vdescs))
            if not text_keys:
                return out, d
            return _text_key_map(entries), d
        raise ZsonError(f"unexpected '|' at {self.i}")

    def _string(self, quote: str) -> str:
        self._quoted = True  # set-normalization: quoted text is a
        # STRING even when it looks like an ip/net literal
        if quote == "`":
            j = self.s.find("`", self.i + 1)
            if j < 0:
                raise ZsonError("unterminated backtick string")
            raw = self.s[self.i + 1 : j]
            self.i = j + 1
            # spec: first newline deleted; newline+indent collapses
            raw = re.sub(r"\n[ \t]+", "\n", raw)
            return raw.removeprefix("\n")
        # double-quoted: JSON escapes — scan to the unescaped close
        j = self.i + 1
        s = self.s
        while j < self.n:
            if s[j] == "\\":
                j += 2
                continue
            if s[j] == '"':
                break
            j += 1
        if j >= self.n:
            raise ZsonError("unterminated string")
        raw = s[self.i : j + 1]
        self.i = j + 1
        return json.loads(raw)

    def _type_value(self) -> tuple:
        # <type> values kept as their canonical string; union member
        # order canonicalizes per CompareTypes (the reference's type
        # context normalizes unions — sort-types golden renders
        # ({x:string},{x:int64}) as ({x:int64},{x:string}))
        j = self.s.find(">", self.i)
        if j < 0:
            raise ZsonError("unterminated type value")
        v = self.s[self.i + 1 : j]
        self.i = j + 1
        # the descriptor keeps the denoted type so kind()/nameof() see
        # through the type value (kind.yaml: kind(<{s:string}>) is
        # "record"), and registers any name=def inside it — the type
        # context is shared (nameof.yaml <foo={x:int64}>)
        d = ("typeval", self._desc(parse_type_string, v, self.named_descs))
        if "(" in v and "," in v:
            try:
                v = canonical_type_string(v)
            except Exception:
                pass
        return v, d

    def _desc(self, fn, *args):
        """A descriptor-only step: a failure withholds the descriptors
        of this parse, never its values."""
        try:
            return fn(*args)
        except Exception:
            self.descs_ok = False
            return _NULL_DESC

    def _bare(self, key_mode: bool = False) -> tuple:
        self._quoted = False
        end = _BARE_END_KEY if key_mode else _BARE_END
        j = self.i
        s = self.s
        while j < self.n and s[j] not in end:
            j += 1
        tok = s[self.i : j]
        if key_mode and (not tok or (j < self.n and s[j] == ":")):
            # map KEYS may contain ':' (IPv6 addresses, times —
            # zson.md: whitespace separates such keys from the ':'
            # separator). Rescan to whitespace and split at the
            # longest prefix that is a complete primitive
            # (zson/ztests/map: `|{:: :::}|`, time keys).
            j2 = self.i
            while j2 < self.n and s[j2] not in _BARE_END:
                j2 += 1
            wide = s[self.i : j2]
            if j2 < self.n and s[j2] in " \t\n":
                # whitespace boundary: the run is the key ONLY when
                # the separator ':' follows the whitespace (IPv6
                # `:: :::` style); `1: "one"` keeps the narrow key
                k3 = j2
                while k3 < self.n and s[k3] in " \t\n":
                    k3 += 1
                if wide and k3 < self.n and s[k3] == ":":
                    self.i = j2
                    return self._token(wide)
            if ":" in wide:
                best = None
                for k2 in range(len(wide), 0, -1):
                    pre = wide[:k2]
                    if k2 < len(wide) and wide[k2] != ":":
                        continue
                    ok2 = (
                        _INT.fullmatch(pre)
                        or _TIME.fullmatch(pre)
                        or _DUR.fullmatch(pre)
                        or pre in ("true", "false", "null")
                        or (
                            pre.startswith("0x")
                            and _HEX_BODY.fullmatch(pre[2:])
                        )
                        or _FLOATISH.fullmatch(pre)
                    )
                    if not ok2 and (":" in pre or "/" in pre):
                        # ip / net keys (::1/128, 2::/16)
                        try:
                            import ipaddress

                            if "/" in pre:
                                ipaddress.ip_network(pre, strict=False)
                            else:
                                ipaddress.ip_address(pre)
                            ok2 = True
                        except ValueError:
                            ok2 = False
                    if ok2:
                        best = k2
                        break
                if best is not None:
                    self.i += best
                    return self._token(wide[:best])
        if not tok:
            raise ZsonError(f"empty value at {self.i}")
        self.i = j
        return self._token(tok)

    def _token(self, tok: str) -> tuple:
        """A bare primitive token → (value, descriptor)."""
        if self.time_ns and _TIME.match(tok):
            return _parse_time_ns(tok), _TIME_DESC
        v = _classify(tok)
        if v is None:
            return v, _NULL_DESC
        if isinstance(v, bool):
            return v, _BOOL_DESC
        if isinstance(v, datetime):
            if self.track_ns:
                self.last_time = (v, _parse_time_ns(tok))
            return v, _TIME_DESC
        if isinstance(v, float):
            return v, _FLOAT_DESC
        if isinstance(v, bytes):
            return v, _BYTES_DESC
        if tok.startswith("%"):
            return v, ("enum", (tok[1:],))
        # ints (int64 or duration) and strings (ip, net or string)
        return v, _PRIM_DESCS[classify_token(tok)]

    def _decorators(self, v, d) -> tuple:
        while True:
            self._ws()
            if self.i >= self.n or self.s[self.i] != "(":
                return v, d
            j = self._match_paren(self.i)
            typ = self.s[self.i + 1 : j].strip()
            if re.fullmatch(r"\d+", typ) and typ not in self.named:
                # integers are legal type names only once DEFINED via
                # (N=...) (zson/ztests/type-name `{x:4}(0)`); an
                # undefined bare-integer decorator is a syntax error
                # (query/ztests/stop-on-error-3 `{...} (1)`)
                raise ZsonError(f"bad type decorator ({typ})")
            self.i = j + 1
            v = self._apply_decorator(v, typ)
            d = self._desc(decorate, d, typ, self.named_descs)

    def _apply_decorator(self, v, typ: str):
        if typ.startswith("="):
            # (=name): define name as this value's inferred type
            name = typ[1:]
            if name:
                t = _infer_type(v)
                self.named[name] = (
                    _merge_type(self.named[name], t) if name in self.named else t
                )
            return v
        if "=" in typ and not typ.startswith(("(", "{", "[", "|")):
            # (name=type): define AND apply the stated type — but not
            # when the '=' is nested inside a record/array type
            # ({a:port=uint16}), which is a structural decorator
            name, rest = typ.split("=", 1)
            v = _apply_type(v, rest)
            t = _infer_type(v)
            self.named[name] = (
                _merge_type(self.named[name], t) if name in self.named else t
            )
            return v
        if v is None:
            if self.time_ns and typ == "time":
                return TypedNull(T.LongType())
            dt = _ztype_to_dtype(typ)
            if dt is None and typ in self.named:
                try:
                    dt = _finalize(self.named[typ])
                except Exception:
                    dt = None
            return TypedNull(dt) if dt is not None else None
        if typ in self.named:
            reg = self.named[typ]
            if (
                isinstance(v, dict)
                and not isinstance(v, ZMap)
                and isinstance(reg, T.StructType)
                and len(reg.fields) != len(v)
            ):
                # bare record decorator must match the value's arity
                # (reference zson reader; lake/ztests/import-check)
                raise ZsonError(
                    f"record decorator fields ({len(reg.fields)}) "
                    f"mismatched with value fields ({len(v)})"
                )
            # bare named ref (port): conform to the registered type
            return _apply_type(v, _prim_of(reg))
        return _apply_type(v, typ)

    def _match_paren(self, start: int) -> int:
        depth = 0
        for j in range(start, self.n):
            if self.s[j] == "(":
                depth += 1
            elif self.s[j] == ")":
                depth -= 1
                if depth == 0:
                    return j
        raise ZsonError("unterminated type decorator")


def _classify(tok: str):
    if tok == "null":
        return None
    if tok == "true":
        return True
    if tok == "false":
        return False
    if tok in ("Inf", "+Inf"):
        return math.inf
    if tok == "-Inf":
        return -math.inf
    if tok == "NaN":
        return math.nan
    if tok.startswith("0x") and len(tok) >= 2 and _HEX_BODY.fullmatch(tok[2:]):
        return bytes.fromhex(tok[2:])
    if _INT.match(tok):
        return int(tok)
    if _TIME.match(tok):
        return _parse_time(tok)
    if _DUR.match(tok):
        return _parse_duration(tok)
    try:
        return float(tok)
    except ValueError:
        if "/" in tok and ":" in tok or (
            "/" in tok and tok.count(".") == 3
        ):
            # net literal: the reference stores the MASKED network
            # (DecodeNet) — `1::/8` reads back as `::/8`
            # (expr/function/len ztest)
            try:
                import ipaddress

                n = ipaddress.ip_network(tok, strict=False)
                return f"{n.network_address}/{n.prefixlen}"
            except ValueError:
                pass
        # ip / net / enum symbols etc. ride as strings
        return tok


def _parse_time(tok: str) -> datetime:
    # RFC 3339, ns precision in the format; Spark timestamps are µs —
    # truncate (the same compromise as the parquet reader)
    m = re.match(r"(.*?)(\.\d+)?(Z|[+-]\d{2}:\d{2})$", tok)
    if m is None:
        raise ZsonError(f"bad time value {tok!r}")
    base, frac, tz = m.group(1), m.group(2) or "", m.group(3)
    # digit-string math, not float: int(float('.778549')*1e6) can be
    # off by one ulp; ns digits beyond µs truncate
    micros = int((frac[1:] + "000000")[:6]) if frac else 0
    dt = datetime.strptime(base, "%Y-%m-%dT%H:%M:%S")
    if tz != "Z":
        sign = 1 if tz[0] == "+" else -1
        off = int(tz[1:3]) * 3600 + int(tz[4:6]) * 60
        dt = dt - sign * timedelta(seconds=off)
    return dt.replace(microsecond=micros, tzinfo=timezone.utc)


def _parse_time_ns(tok: str) -> int:
    """RFC3339 → exact int64 ns since epoch (nano.Ts — no µs
    truncation; digit-string math for the fraction)."""
    from datetime import datetime as _dt

    m = re.match(r"(.*?)(\.\d+)?(Z|[+-]\d{2}:\d{2})$", tok)
    base, frac, tz = m.group(1), m.group(2) or "", m.group(3)
    nanos = int((frac[1:] + "000000000")[:9]) if frac else 0
    dt = _dt.strptime(base, "%Y-%m-%dT%H:%M:%S")
    if tz != "Z":
        sign = 1 if tz[0] == "+" else -1
        off = int(tz[1:3]) * 3600 + int(tz[4:6]) * 60
        dt = dt - sign * timedelta(seconds=off)
    secs = int(dt.replace(tzinfo=timezone.utc).timestamp())
    return secs * 1_000_000_000 + nanos


def _parse_duration(tok: str) -> int:
    sign = -1 if tok.startswith("-") else 1
    body = tok.lstrip("+-")
    total = 0
    for num, frac, unit in re.findall(r"(\d+(\.\d+)?)(ns|us|ms|s|m|h|d|w|y)", body):
        # exact integer ns throughout: float math loses ns precision
        # even BELOW 2^53 (0.125644711*1e9 -> ...710.9999), caught by
        # the round-11 encoder↔parser property test. The reference
        # keeps int64 ns end to end (pkg/nano).
        whole = int(num.split(".")[0]) * _DUR_NS[unit]
        if frac:
            digits = frac[1:]  # drop the dot
            whole += int(digits) * _DUR_NS[unit] // 10 ** len(digits)
        total += whole
    return sign * total


_INT_TYPES = {f"{s}{w}" for s in ("int", "uint") for w in (8, 16, 32, 64, 128, 256)}
_FLOAT_TYPES = {"float16", "float32", "float64", "float128", "float256"}


def _apply_type(v, typ: str):
    if typ.startswith("="):
        return v  # named-type definition: keep the value
    if typ in _INT_TYPES:
        return int(v) if v is not None else None
    if typ in _FLOAT_TYPES or typ.startswith("decimal"):
        if v is None:
            return None
        if typ == "float16":
            # round through half precision so 2.2(float16) carries
            # the reference's stored value (2.19921875)
            import numpy as np

            return float(np.float16(float(v)))
        return float(v)
    if typ == "time" and isinstance(v, str):
        return _parse_time(v)
    if typ == "bool":
        return bool(v) if v is not None else None
    if typ == "string":
        return str(v) if v is not None else None
    if typ.startswith("enum(") and typ.endswith(")") and isinstance(v, str):
        # enum symbols (%sym) ride as strings, but membership is
        # validated like the reference (zson/parser.go enum lookup)
        sym = v[1:] if v.startswith("%") else v
        members = [s.strip() for s in typ[5:-1].split(",")]
        if sym not in members:
            raise ZsonError(f'symbol "{sym}" not a member of type "{typ}"')
        return sym
    # unions / complex / unknown decorators: keep the parsed value
    return v


def parse_zson(text: str) -> list:
    """Parse a ZSON text into a list of Python values."""
    return parse_zson_typed(text)[0]


class ZsonParse(NamedTuple):
    """What one pass over a ZSON text yields."""

    values: list
    # decorator-defined type name → Spark DDL (types widen per SURVEY
    # §1.2), so a query can reference input-defined named types
    # (<person>, cast(x, <port>), ...)
    named: dict
    # one zed type descriptor per value (ztypes.py forms), or None
    # when a decorator's type did not parse
    descs: list | None
    # with track_ns: per value, {top-level field → exact int64 ns of
    # its time literal, None for null, _NO_NS otherwise}
    ns_rows: list | None


def parse_zson_full(
    text: str,
    time_ns: bool = False,
    named_descs: dict | None = None,
    track_ns: bool = False,
) -> ZsonParse:
    """Parse ZSON text once into values, named types, type descriptors
    and (track_ns) the exact ns of top-level time fields.  time_ns=True
    parses time values as exact int64 ns (writer-golden ns carry).
    `named_descs` (name → descriptor) persists definitions across
    calls — pass the same dict for a multi-document stream."""
    p = _Parser(text, time_ns=time_ns, named_descs=named_descs, track_ns=track_ns)
    out = []
    descs = []
    ns_rows = [] if track_ns else None
    while not p.at_end():
        if track_ns:
            p.ns_row = {}
            ns_rows.append(p.ns_row)
        v, d = p.parse_value()
        out.append(v)
        descs.append(d)
    ddl = {}
    for name, t in p.named.items():
        try:
            ddl[name] = _finalize(t).simpleString()
        except Exception:
            pass
    return ZsonParse(out, ddl, descs if p.descs_ok else None, ns_rows)


def parse_zson_typed(text: str, time_ns: bool = False) -> tuple[list, dict]:
    """Parse ZSON text → (values, named_types); see parse_zson_full."""
    return parse_zson_full(text, time_ns=time_ns)[:2]


def _prim_of(t) -> str:
    """Inferred DataType → the decorator-primitive name to re-apply
    for bare named refs."""
    s = t.simpleString() if hasattr(t, "simpleString") else str(t)
    return {
        "bigint": "int64", "int": "int32", "smallint": "int16",
        "tinyint": "int8", "double": "float64", "float": "float32",
        "boolean": "bool", "string": "string",
    }.get(s, s)


# --- schema inference ------------------------------------------------------


def _infer_type(v) -> T.DataType:
    if v is None:
        return T.NullType()
    if isinstance(v, TypedNull):
        return v.dtype
    if isinstance(v, ZError):
        # first-class error(T) values (complex.go:42-65): a union
        # carrier with ONLY an error alternative; merging with other
        # shapes adds value members alongside (schema.merge_types)
        inner = _finalize(_infer_type(v.value)) if v.value is not None else T.StringType()
        return T.StructType(
            [
                T.StructField("tag", T.IntegerType()),
                T.StructField("e0", inner),
            ]
        )
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        if not -(2**63) <= v < 2**63:
            # uint64 beyond int64: DecimalType(20,0) carries the full
            # range exactly (SURVEY §1.2 opt-in; csvio uint golden)
            return T.DecimalType(20, 0)
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, datetime):
        return T.TimestampType()
    if isinstance(v, date):
        return T.DateType()
    if isinstance(v, (bytes, bytearray)):
        return T.BinaryType()
    if isinstance(v, ZMap):
        kt = vt = T.NullType()
        for k, val in v.items():
            # Spark MapType keys are non-nullable; a zed null map KEY
            # (zson/ztests/map `|{null:null}|`) rides as the sentinel
            # string NULL_KEY and converts back at compare/render time
            kt = _merge_type(
                kt,
                T.StringType() if k is None else _infer_type(k),
            )
            vt = _merge_type(vt, _infer_type(val))
        return T.MapType(kt, vt)
    if isinstance(v, dict):
        return T.StructType(
            [T.StructField(k, _infer_type(val)) for k, val in v.items()]
        )
    if isinstance(v, list):
        et = T.NullType()
        for x in v:
            et = _merge_type(et, _infer_type(x))
        return T.ArrayType(et)
    return T.StringType()


def _finalize(t: T.DataType) -> T.DataType:
    """NullType is the merge wildcard; anything still untyped after
    all exemplars merged becomes string."""
    if isinstance(t, T.NullType):
        return T.StringType()
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _finalize(f.dataType)) for f in t.fields]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_finalize(t.elementType))
    if isinstance(t, T.MapType):
        return T.MapType(_finalize(t.keyType), _finalize(t.valueType))
    return t


def _merge_type(a: T.DataType, b: T.DataType) -> T.DataType:
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType) or a == b:
        return a
    if isinstance(a, T.DecimalType) and isinstance(b, T.LongType):
        return a  # uint64-range decimal absorbs int64 values
    if isinstance(b, T.DecimalType) and isinstance(a, T.LongType):
        return b
    num = (T.LongType, T.DoubleType)
    if isinstance(a, num) and isinstance(b, num):
        return T.DoubleType()
    from zed_spark.schema import is_union_type

    if is_union_type(a) or is_union_type(b):
        from zed_spark.schema import merge_types

        return merge_types(a, b, unions="tagged")
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        fields: dict[str, T.DataType] = {f.name: f.dataType for f in a.fields}
        for f in b.fields:
            fields[f.name] = (
                _merge_type(fields[f.name], f.dataType)
                if f.name in fields
                else f.dataType
            )
        return T.StructType([T.StructField(n, t) for n, t in fields.items()])
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_merge_type(a.elementType, b.elementType))
    # irreconcilable leaves form a first-class tagged union
    # (complex.go:290-330; union.py struct convention)
    from zed_spark.union import union_type

    return union_type(a, b)


def _zcode_key(v, quoted: bool = True):
    """Approximate zcode element order: (encoded byte length, body
    bytes) — NormalizeSet sorts encoded elements with bytes.Compare
    (complex.go:268; zcode tag is uvarint(len+1)). `quoted=False`
    marks a BARE token that rode through as str — ip/net literals
    there sort by their packed ZNG bodies (primitive.go EncodeIP
    AsSlice / DecodeNet), not their text (runtime sort-1 ztest:
    192.168.1.10 < 192.179.1.1 bytewise)."""
    import struct as _struct

    if v is None or isinstance(v, TypedNull):
        return (0, b"")
    if isinstance(v, bool):
        return (1, bytes([1 if v else 0]))
    if isinstance(v, int):
        z = v * 2 if v >= 0 else -v * 2 + 1
        b = bytearray()
        while z:
            b.append(z & 255)
            z >>= 8
        return (len(b), bytes(b))
    if isinstance(v, float):
        return (8, _struct.pack("<d", v))
    if isinstance(v, (bytes, bytearray)):
        return (len(v), bytes(v))
    if isinstance(v, str):
        if not quoted and (":" in v or v.count(".") == 3):
            import ipaddress

            try:
                if "/" in v:
                    n = ipaddress.ip_network(v, strict=False)
                    b = n.network_address.packed + n.netmask.packed
                else:
                    b = ipaddress.ip_address(v).packed
                return (len(b), b)
            except ValueError:
                pass
        enc = v.encode("utf-8")
        return (len(enc), enc)
    return None


def _normalize_set(vals: list, quoted: list | None = None) -> list:
    """Set bodies dedupe and sort into canonical zcode order at parse
    time (zson set.yaml: |[1,1,5]| reads as |[1,5]|). Elements whose
    encoding isn't replicated keep first-seen order after the
    sortable ones."""
    if quoted is None or len(quoted) != len(vals):
        quoted = [True] * len(vals)
    seen: dict = {}
    for i, v in enumerate(vals):
        k = repr(v)
        if k not in seen:
            seen[k] = (i, v, quoted[i])
    items = list(seen.values())
    keyed = [(_zcode_key(v, q), i, v) for i, v, q in items]
    sortable = all(k is not None for k, _i, _v in keyed)
    if sortable:
        keyed.sort(key=lambda t: t[0])
    return [v for _k, _i, v in keyed]


def _conform(v, t: T.DataType):
    """Coerce a parsed value to the merged schema type."""
    if isinstance(v, TypedNull):
        from zed_spark.schema import is_union_type

        if is_union_type(t):
            # a TYPED null keeps its union tag (zed: null(int64) is a
            # value OF int64 — count/dcount see it, groupby
            # null.yaml); member stays null. VALUE members only —
            # e-alternatives are error slots.
            alts = [
                (i, f.dataType)
                for i, f in enumerate(t.fields[1:])
                if f.name.startswith("v")
            ]
            nt = _finalize(v.dtype) if v.dtype is not None else None
            tag = next((i for i, alt in alts if alt == nt), None)
            if tag is None and nt is not None:
                # widening match (null(int64) into a double member)
                tag = next(
                    (i for i, alt in alts if _merge_type(alt, nt) == alt),
                    None,
                )
            if tag is not None:
                return tuple([tag] + [None] * len(t.fields[1:]))
        return None
    if v is None:
        return None
    if isinstance(v, ZError):
        from zed_spark.schema import is_union_type as _iu

        if _iu(t):
            # error values land in the carrier's e-alternative
            # (first-class error(T), complex.go:42-65)
            epos = [
                (i, f.dataType)
                for i, f in enumerate(t.fields[1:])
                if f.name.startswith("e")
            ]
            if epos:
                iv_t = (
                    _finalize(_infer_type(v.value))
                    if v.value is not None
                    else None
                )
                tag = None
                if iv_t is not None:
                    tag = next((i for i, et in epos if et == iv_t), None)
                    if tag is None:
                        tag = next(
                            (
                                i
                                for i, et in epos
                                if _merge_type(et, iv_t) == et
                            ),
                            None,
                        )
                if tag is None:
                    tag = epos[0][0]
                et = dict(epos)[tag]
                if v.value is None or isinstance(v.value, TypedNull):
                    # error(null): the reference renders this as a
                    # typed null OF the error type (ztest under) — a
                    # null carrier here
                    return tuple([None] + [None] * len(t.fields[1:]))
                row = [tag] + [None] * len(t.fields[1:])
                row[1 + tag] = _conform(v.value, et)
                return tuple(row)
        if v.value is None or isinstance(v.value, TypedNull):
            # error(null(...)): the inner value is null — render as a
            # null cell (csvio error ztest: blank, not 'error(null)')
            return None
        iv = _conform(v.value, _infer_type(v.value))
        if isinstance(iv, str):
            iv = json.dumps(iv)
        s = f"error({iv})"
        if isinstance(t, T.StringType):
            return s
        # non-string target (e.g. a union): conform the rendering
        return _conform(s, t)
    if isinstance(t, T.StringType) and not isinstance(v, str):
        return _dump_value(v, _infer_type(v))
    if isinstance(t, T.DoubleType) and isinstance(v, int) and not isinstance(v, bool):
        return float(v)
    if isinstance(t, T.DecimalType) and isinstance(v, int) and not isinstance(v, bool):
        from decimal import Decimal

        return Decimal(v)
    from zed_spark.schema import is_union_type

    if is_union_type(t):
        # VALUE members only — e-alternatives hold error values and
        # are filled by the ZError branch above
        alts = [
            (i, f.dataType)
            for i, f in enumerate(t.fields[1:])
            if f.name.startswith("v")
        ] or [(i, f.dataType) for i, f in enumerate(t.fields[1:])]
        iv = _infer_type(v)
        tag = next((i for i, alt in alts if alt == iv), None)
        if tag is None:  # widening match (e.g. long value, double alt)
            tag = next(
                (i for i, alt in alts if _merge_type(alt, iv) == alt), None
            )
        if tag is None:  # same KIND (record↔record, array↔array)
            tag = next(
                (i for i, alt in alts if alt.typeName() == iv.typeName()),
                None,
            )
        if tag is None:
            tag = next(
                (i for i, alt in alts if isinstance(alt, T.StringType)),
                alts[0][0],
            )
        amap = dict(alts)
        row = [tag]
        for i, f in enumerate(t.fields[1:]):
            row.append(_conform(v, amap[i]) if i == tag else None)
        return tuple(row)
    if isinstance(t, T.StructType) and isinstance(v, dict):
        return tuple(_conform(v.get(f.name), f.dataType) for f in t.fields)
    if isinstance(t, T.ArrayType) and isinstance(v, list):
        return [_conform(x, t.elementType) for x in v]
    if isinstance(t, T.MapType) and isinstance(v, dict):
        return {
            _conform(NULL_KEY if k is None else k, t.keyType): _conform(
                val, t.valueType
            )
            for k, val in v.items()
        }
    return v


# --- distributed reader ----------------------------------------------------


def _shape_of(v) -> str:
    if isinstance(v, dict) and not isinstance(v, ZMap):
        return ",".join(v.keys())
    return "<value>"


# cached artifacts per read path (the shape-tagged RDD + combined
# frame): re-reading a path unpersists the previous read's pins so
# repeated reads don't accumulate executor storage for the session's
# lifetime; clear_zson_cache() drops everything explicitly.
_ZSON_CACHE: dict[str, list] = {}


def clear_zson_cache(path: str | None = None) -> None:
    """Unpersist cached shape frames from read_zson (all paths, or
    one). Safe to call any time — downstream DataFrames recompute."""
    for k in [path] if path is not None else list(_ZSON_CACHE):
        for h in _ZSON_CACHE.pop(k, []):
            try:
                h.unpersist()
            except Exception:
                pass


def read_zson(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Read ZSON → {shape: DataFrame}.

    Line mode (zq -z output: one value per line) parses distributed —
    each input split is parsed by its own task. If any line is not a
    complete value (pretty-printed multi-line ZSON), falls back to a
    driver-side parse of the whole (small, human-edited) file.
    """
    clear_zson_cache(path)
    lines = spark.read.text(path).filter("trim(value) != ''")

    def parse_lines(it):
        for row in it:
            txt = row["value"].strip()
            if txt.startswith("//"):
                continue
            vals = parse_zson(txt)
            for v in vals:
                yield v

    try:
        parsed = lines.rdd.mapPartitions(parse_lines)
        shaped = parsed.map(lambda v: (_shape_of(v), v))
        shaped.cache()
        _ZSON_CACHE.setdefault(path, []).append(shaped)
        shapes = shaped.keys().distinct().collect()
    except Exception:
        # multi-line values: whole-text fallback on the driver
        from zed_spark.sources import fsio

        text = ""
        for f in fsio.expand(path):
            text += fsio.read_text(f) + "\n"
        values = parse_zson(text)
        sc = spark.sparkContext
        shaped = sc.parallelize([(_shape_of(v), v) for v in values]).cache()
        _ZSON_CACHE.setdefault(path, []).append(shaped)
        shapes = shaped.keys().distinct().collect()

    return _shape_frames(spark, shaped, shapes, path)


def _shape_frames(spark, shaped, shapes, cache_key: str):
    """Shared shape→DataFrame materialization for the ZSON and ZNG
    readers: merge each shape's type over ALL values in ONE
    aggregateByKey (no take(N) sampling), then conform each value
    once into a combined shape-tagged frame (one struct column per
    shape) and build every per-shape DataFrame as a filter+project
    over it — job count at read time is independent of how many
    shapes the stream holds, and the python-side _conform work runs
    once, not once per shape (round-3 VERDICT item 7; round-5 item 4
    extends it to ZNG)."""
    merged = dict(
        shaped.aggregateByKey(
            T.NullType(),
            lambda acc, v: _merge_type(acc, _infer_type(v)),
            _merge_type,
        ).collect()
    )

    from pyspark.sql import functions as F

    shape_list = sorted(shapes)
    structs: list[T.StructType] = []
    value_types: dict[int, T.DataType] = {}
    fields = [T.StructField("__shape", T.StringType())]
    for i, shape in enumerate(shape_list):
        t = _finalize(merged[shape])
        if shape == "<value>":
            st = T.StructType([T.StructField("this", t)])
            value_types[i] = t
        else:
            st = t if isinstance(t, T.StructType) else T.StructType()
        structs.append(st)
        fields.append(T.StructField(f"__s{i}", st))
    comb_schema = T.StructType(fields)
    idx = {s: i for i, s in enumerate(shape_list)}
    n = len(shape_list)

    def to_row(kv):
        s, v = kv
        i = idx[s]
        row = [None] * (n + 1)
        row[0] = s
        if i in value_types:
            row[i + 1] = (_conform(v, value_types[i]),)
        else:
            row[i + 1] = _conform(v, structs[i])
        return tuple(row)

    combined = spark.createDataFrame(shaped.map(to_row), comb_schema)
    if n > 1:
        combined = combined.cache()
        _ZSON_CACHE.setdefault(cache_key, []).append(combined)
    out: dict[str, DataFrame] = {}
    for i, shape in enumerate(shape_list):
        out[shape] = combined.filter(F.col("__shape") == shape).select(
            f"__s{i}.*"
        )
    return out


def read_zson_fused(spark: SparkSession, path: str) -> DataFrame:
    """All shapes fused to the superset schema (zed `fuse`)."""
    from zed_spark.sources.shapes import fuse_shape_groups

    return fuse_shape_groups(read_zson(spark, path))


# --- writer ----------------------------------------------------------------

_IMPLIED = (
    T.LongType,
    T.DoubleType,
    T.BooleanType,
    T.StringType,
    T.TimestampType,
    T.TimestampNTZType,  # session tz is UTC — NTZ ≡ zed time
)


def _quote_name(name: str) -> str:
    if _IDENT.fullmatch(name) and name not in ("true", "false", "null"):
        return name
    return json.dumps(name)


def _dump_value(v, t: T.DataType) -> str:
    if v is None:
        return "null"
    if isinstance(t, T.BooleanType):
        return "true" if v else "false"
    if isinstance(t, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return str(int(v))
    if isinstance(t, (T.DoubleType, T.FloatType)):
        from zed_spark.functions.zfloat import format_float32, format_float64

        # float32 columns print 32-bit shortest digits (0.1, not the
        # 17-digit double expansion) — zson/formatter.go:796-802
        if isinstance(t, T.FloatType):
            return format_float32(v)
        return format_float64(v)
    if isinstance(t, T.DecimalType):
        return f"{v} (decimal128)"
    if isinstance(t, T.StringType):
        return json.dumps(str(v))
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        us = v.microsecond
        frac = f".{us:06d}".rstrip("0") if us else ""
        return v.strftime("%Y-%m-%dT%H:%M:%S") + frac + "Z"
    if isinstance(t, T.DateType):
        return v.strftime("%Y-%m-%dT00:00:00Z")
    if isinstance(t, T.BinaryType):
        return "0x" + bytes(v).hex()
    if isinstance(t, T.StructType):
        from zed_spark.schema import is_union_type, union_alternatives

        if is_union_type(t):
            # union values render as their alternative (zson.md
            # unions); e-alternatives render as error(...) values
            get = (lambda k: v[k]) if isinstance(v, dict) else (
                lambda k: v[list(f.name for f in t.fields).index(k)]
            )
            tag = get("tag")
            if tag is None:
                return "null"
            mf = t.fields[1 + tag]
            body = _dump_value(get(mf.name), mf.dataType)
            return f"error({body})" if mf.name.startswith("e") else body
        inner = ",".join(
            f"{_quote_name(f.name)}:{_dump_value(v[f.name] if isinstance(v, dict) else v[i], f.dataType)}"
            for i, f in enumerate(t.fields)
        )
        return "{" + inner + "}"
    if isinstance(t, T.ArrayType):
        return "[" + ",".join(_dump_value(x, t.elementType) for x in v) + "]"
    if isinstance(t, T.MapType):
        inner = ",".join(
            "%s:%s" % (
                "null" if k == NULL_KEY else _dump_value(k, t.keyType),
                _dump_value(val, t.valueType),
            )
            for k, val in v.items()
        )
        return "|{" + inner + "}|"
    return json.dumps(str(v))


def _dump_pretty(v, t: T.DataType, level: int = 0, zdesc=None) -> str:
    """-Z / `-f zson` pretty form: containers break across lines at
    4-space indents, one field per line, decorators after the value
    (zio/zsonio formatter with pretty=4; goldens e.g.
    service/ztests/ls-pools.yaml). zdesc (a ztypes descriptor from
    the __zed_types sidecar) adds named-type decorations at every
    nesting level — `[...] (=field.Path)` inside `keys`
    (lake/ztests/meta)."""
    pad, pad1 = "    " * level, "    " * (level + 1)
    suffix = ""
    d = zdesc
    while d is not None and d[0] == "named":
        suffix = f" (={d[1]})" + suffix
        d = d[2]
    if v is None:
        return "null" + suffix
    if isinstance(t, T.StructType):
        from zed_spark.schema import is_union_type

        if is_union_type(t) or not t.fields:
            return _dump_value(v, t) + suffix
        fdescs = dict(d[1]) if d is not None and d[0] == "record" else {}
        parts = []
        for i, f in enumerate(t.fields):
            fv = v[f.name] if isinstance(v, dict) else v[i]
            body = _dump_pretty(
                fv, f.dataType, level + 1, fdescs.get(f.name)
            )
            deco = _DECORATE.get(f.dataType)
            if deco and fv is not None and not fdescs.get(f.name):
                body = f"{body} ({deco})"
            parts.append(f"{pad1}{_quote_name(f.name)}: {body}")
        return "{\n" + ",\n".join(parts) + "\n" + pad + "}" + suffix
    if isinstance(t, T.ArrayType):
        el = d[1] if d is not None and d[0] in ("array", "set") else None
        if not v:
            return "[]" + suffix
        parts = [
            f"{pad1}{_dump_pretty(x, t.elementType, level + 1, el)}"
            for x in v
        ]
        return "[\n" + ",\n".join(parts) + "\n" + pad + "]" + suffix
    if isinstance(t, T.MapType):
        kd = d[1] if d is not None and d[0] == "map" else None
        vd = d[2] if d is not None and d[0] == "map" else None
        if not v:
            return "|{}|" + suffix
        parts = [
            f"{pad1}{_dump_pretty(k, t.keyType, level + 1, kd)}: "
            f"{_dump_pretty(val, t.valueType, level + 1, vd)}"
            for k, val in v.items()
        ]
        return "|{\n" + ",\n".join(parts) + "\n" + pad + "}|" + suffix
    if (
        d is not None
        and d[0] == "prim"
        and isinstance(v, int)
        and not isinstance(v, bool)
    ):
        # ns-opt-in time/duration columns ride as int64 ns with the
        # sidecar naming the zed type; render full ns text (nano.Ts)
        if d[1] == "time":
            from zed_spark.functions.ztime import format_time_ns

            return format_time_ns(v) + suffix
        if d[1] == "duration":
            from zed_spark.functions.ztime import format_duration_ns

            return format_duration_ns(v) + suffix
    return _dump_value(v, t) + suffix


def df_to_zson_pretty(df: DataFrame) -> list[str]:
    """One pretty-printed (multi-line) ZSON value per row. Driver-side
    collect — this is a display format for small result sets, not a
    storage sink; honors the __zed_missing presence sidecar like the
    line writer. Gated like the other driver-side formatters."""
    from zed_spark.sources.gates import collect_driver_rows

    rows = collect_driver_rows(df, "pretty zson format")
    schema = df.schema
    vis = [f.name for f in schema.fields if not f.name.startswith("__zed_")]
    if vis == ["this"]:
        # bare-value stream: pretty-print the values themselves
        dt = schema["this"].dataType
        return [_dump_pretty(r["this"], dt, 0) for r in rows]
    miss_idx = None
    types_idx = None
    ns_shadow_idx: dict = {}
    for i, f in enumerate(schema.fields):
        if f.name == "__zed_missing":
            miss_idx = i
        if f.name == "__zed_types":
            types_idx = i
        if f.name.startswith("__zed_ns_"):
            ns_shadow_idx[f.name[len("__zed_ns_"):]] = i
    out = []
    for row in rows:
        missing = (
            {m for m in (row[miss_idx] or []) if "\x00" not in m}
            if miss_idx is not None
            else ()
        )
        tmap = (
            dict(row[types_idx] or {}) if types_idx is not None else {}
        )

        def fdesc(name):
            s = tmap.get(name)
            # named types decorate; bare time/duration marks an
            # ns-opt-in int64 column (rendered as full-ns text)
            if not s or ("=" not in s and s not in ("time", "duration")):
                return None
            try:
                from zed_spark.sources.ztypes import parse_type_string

                return parse_type_string(s)
            except Exception:
                return None

        parts = []
        for i, f in enumerate(schema.fields):
            if f.name.startswith("__zed_") or f.name in missing:
                continue
            d0 = fdesc(f.name)
            ns_i = ns_shadow_idx.get(f.name)
            if (
                ns_i is not None
                and row[i] is not None
                and row[ns_i] is not None
            ):
                # ns-exact shadow (lake :objects min/max): render the
                # full ns text instead of the µs-truncated timestamp
                from zed_spark.functions.ztime import format_time_ns

                body = format_time_ns(row[ns_i])
            else:
                body = _dump_pretty(row[i], f.dataType, 1, d0)
            deco = _DECORATE.get(f.dataType)
            if deco and row[i] is not None and d0 is None:
                body = f"{body} ({deco})"
            parts.append(f"    {_quote_name(f.name)}: {body}")
        out.append("{\n" + ",\n".join(parts) + "\n}")
    return out


# decorators for non-implied primitive column types
_DECORATE = {
    T.IntegerType(): "int32",
    T.ShortType(): "int16",
    T.ByteType(): "int8",
    T.FloatType(): "float32",
}


def df_to_zson_lines(df: DataFrame):
    """RDD[str]: one ZSON record per row (distributed; schema-driven)."""
    return df.rdd.map(zson_line_renderer(df.schema))


def zson_line_renderer(schema):
    """row → its ZSON record line, for rows of `schema`.

    Honors the per-row presence sidecar: fields whose dotted path
    appears in a row's `__zed_missing` list were ABSENT in the input
    record (vs present-but-null) and are omitted from the rendering,
    matching the reference zsonio writer on mixed-shape streams."""
    miss_idx = None
    fields = list(schema.fields)
    ns_shadow_idx: dict = {}
    for i, f in enumerate(fields):
        if f.name == "__zed_missing":
            miss_idx = i
        if f.name.startswith("__zed_ns_"):
            ns_shadow_idx[f.name[len("__zed_ns_"):]] = i
    render_fields = [
        (i, f)
        for i, f in enumerate(fields)
        if not f.name.startswith("__zed_")
    ]

    def render(row) -> str:
        missing = (
            {m for m in (row[miss_idx] or []) if "\x00" not in m}
            if miss_idx is not None
            else ()
        )
        parts = []
        for i, f in render_fields:
            if f.name in missing:
                continue
            ns_i = ns_shadow_idx.get(f.name)
            if (
                ns_i is not None
                and row[i] is not None
                and row[ns_i] is not None
            ):
                # ns-exact shadow column: full-ns time text
                from zed_spark.functions.ztime import format_time_ns

                val = format_time_ns(row[ns_i])
            else:
                val = _dump_value(row[i], f.dataType)
            deco = _DECORATE.get(f.dataType)
            if deco and row[i] is not None:
                val = f"{val} ({deco})"
            parts.append(f"{_quote_name(f.name)}:{val}")
        return "{" + ",".join(parts) + "}"

    return render


def write_zson(df: DataFrame, path: str, single_file: bool = False) -> None:
    """Write a DataFrame as ZSON text (one record per line).

    single_file=True coalesces to one task — only for small exports;
    the default writes one file per partition like any Spark sink.
    """
    lines = df_to_zson_lines(df).map(lambda s: (s,))
    out = df.sparkSession.createDataFrame(lines, "value string")
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").text(path)
