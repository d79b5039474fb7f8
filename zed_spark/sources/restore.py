"""Per-row zed (value, type) restoration from a fused DataFrame.

A mixed-shape stream widens into ONE Spark schema (fuse) with hidden
sidecars recording what widening erased: ``__zed_missing`` (per-row
absent fields), ``__zed_types`` (per-row precise type strings), and
``__zed_ns_*`` (ns-exact time shadows).  This module inverts that:
for each row it rebuilds the record's OWN zed type descriptor
(ztypes form) and a descriptor-shaped value — records as dicts of
only the present fields, unions as ``ZUnion(tag, value)`` carrying
the member index in the DECLARED union type, sets/enums/errors/named
types restored from the hints.

This is the zed data model's "every value is (type, bytes)"
(reference zed/value.go) recovered at the engine's edge; the exact
writers (zjson, json, zng body bytes for the lake's valueAsBytes
import tiebreak, zbuf/merger.go:30) consume these pairs.
"""

from __future__ import annotations

from zed_spark.sources.zson import NULL_KEY, ZError, ZMap


class ZUnion:
    """A union value: the member index within the DECLARED union
    descriptor plus the member's restored value."""

    __slots__ = ("tag", "value")

    def __init__(self, tag: int, value):
        self.tag = tag
        self.value = value

    def __repr__(self):
        return f"ZUnion({self.tag}, {self.value!r})"

    def __eq__(self, other):
        return (
            isinstance(other, ZUnion)
            and other.tag == self.tag
            and other.value == self.value
        )


class NsTime(int):
    """A time value carried as int64 ns (ns-exact shadow columns;
    nano.Ts, reference value.go:84)."""

    __slots__ = ()


class _Mismatch(Exception):
    """Value does not conform to the candidate descriptor (union
    member probing)."""


def desc_of_spark(dt) -> tuple:
    """Static zed descriptor for a Spark type (the no-hint fallback —
    the widened model's own view)."""
    from pyspark.sql import types as T

    from zed_spark.schema import is_union_type

    if isinstance(dt, T.StructType):
        if is_union_type(dt):
            members = []
            for f in dt.fields[1:]:
                if f.name.startswith("e"):
                    members.append(("error", desc_of_spark(f.dataType)))
                else:
                    members.append(desc_of_spark(f.dataType))
            return ("union", tuple(members))
        return (
            "record",
            tuple(
                (f.name, desc_of_spark(f.dataType))
                for f in dt.fields
                if not f.name.startswith("__zed_")
            ),
        )
    if isinstance(dt, T.ArrayType):
        return ("array", desc_of_spark(dt.elementType))
    if isinstance(dt, T.MapType):
        return ("map", desc_of_spark(dt.keyType), desc_of_spark(dt.valueType))
    name = {
        "long": "int64", "integer": "int64", "short": "int64",
        "byte": "int64", "double": "float64", "float": "float64",
        "string": "string", "boolean": "bool", "binary": "bytes",
        "timestamp": "time", "timestamp_ntz": "time", "date": "time",
        "null": "null", "void": "null",
    }.get(dt.typeName(), "string")
    return ("prim", name)


def _as_dict(v):
    return v.asDict() if hasattr(v, "asDict") else v


def _is_typed_null(v) -> bool:
    from zed_spark.sources.zson import TypedNull

    return isinstance(v, TypedNull)


def _widen_prim(name: str) -> str:
    """The engine's documented widening (SURVEY §1.2): how a precise
    primitive name stores in the Spark model."""
    if name.startswith(("int", "uint")) or name == "duration":
        return "int64"
    if name.startswith("float") or name.startswith("decimal"):
        return "float64"
    if name in ("ip", "net"):
        return "string"
    return name


def _matches_strict(v, d) -> bool:
    """Parse-domain value vs descriptor: EXACT type-of-value match —
    an untyped null only IS the null type, a typed null IS its own
    type (zed: the value's type is part of the value).  Used to pick
    the right union member before the lenient convert()."""
    if d[0] == "named":
        return _matches_strict(v, d[2])
    k = d[0]
    if v is None:
        return k == "prim" and d[1] == "null"
    if _is_typed_null(v):
        sd = desc_of_spark(v.dtype)
        if k == "prim" and sd[0] == "prim":
            return d[1] == sd[1] or _widen_prim(d[1]) == sd[1]
        return k == sd[0]
    if k == "union":
        return any(_matches_strict(v, m) for m in d[1])
    if k == "error":
        return isinstance(v, ZError) and _matches_strict(v.value, d[1])
    if isinstance(v, ZError):
        return False
    if k == "record":
        if not isinstance(v, dict) or isinstance(v, ZMap):
            return False
        names = [n for n, _ in d[1]]
        if list(v.keys()) != names:
            return False
        return all(_matches_strict(v[n], fd) for n, fd in d[1])
    if k in ("array", "set"):
        return isinstance(v, (list, tuple)) and all(
            _matches_strict(x, d[1]) for x in v
        )
    if k == "map":
        return isinstance(v, dict) and not (
            isinstance(v, dict) and not isinstance(v, ZMap) and v
        ) or isinstance(v, ZMap)
    if k == "enum":
        s = v[1:] if isinstance(v, str) and v.startswith("%") else v
        return isinstance(v, str) and s in d[1]
    if k == "typeval":
        return isinstance(v, str)
    # prim
    try:
        _convert_prim(v, d[1])
        return True
    except _Mismatch:
        return False


def pick_union_member(v, members):
    """The union member a parse-domain value instantiates: exact
    type-of-value first, lenient conformance second."""
    for m in members:
        if _matches_strict(v, m):
            return m
    for m in members:
        try:
            convert(v, None, m)
            return m
        except Exception:
            continue
    return None


def normalize_sets_in_place(v, desc) -> None:
    """ZNG set normalization at PARSE time (complex.go:263-288
    NormalizeSet): each set's elements sort ascending by their
    tag-counted encoded bytes under the set's element type — with
    union element types resolved per element (mixed record shapes in
    one set literal).  Mutates lists in place; duplicate encodings
    dedupe.  The ztest shape-cast-set-to-array depends on stored set
    order surviving an elementwise cast to array."""
    from zed_spark.sources.zng import _append_tagged, encode_body_desc

    if v is None or _is_typed_null(v):
        return
    k = desc[0]
    if k == "named":
        normalize_sets_in_place(v, desc[2])
        return
    if k == "record":
        d = _as_dict(v)
        if isinstance(d, dict):
            for name, fd in desc[1]:
                if name in d:
                    normalize_sets_in_place(d[name], fd)
        return
    if k == "array":
        if isinstance(v, list):
            for x in v:
                normalize_sets_in_place(x, desc[1])
        return
    if k == "map":
        if isinstance(v, dict):
            for mv in v.values():
                normalize_sets_in_place(mv, desc[2])
        return
    if k == "error":
        inner = v.value if isinstance(v, ZError) else v
        normalize_sets_in_place(inner, desc[1])
        return
    if k == "union":
        m = pick_union_member(v, desc[1])
        if m is not None:
            normalize_sets_in_place(v, m)
        return
    if k != "set" or not isinstance(v, list):
        return
    for x in v:
        normalize_sets_in_place(x, desc[1])
    keyed = []
    for x in v:
        try:
            b = bytearray()
            _append_tagged(
                b, encode_body_desc(convert(x, None, desc[1]), desc[1])
            )
            keyed.append((bytes(b), x))
        except Exception:
            return  # unencodable element: leave written order
    keyed.sort(key=lambda kx: kx[0])
    out = []
    seen = None
    for kb, x in keyed:
        if kb == seen:
            continue  # spec: duplicates dedupe
        seen = kb
        out.append(x)
    v[:] = out


def convert(v, dt, desc):
    """Storage value (Spark collect() shape, type dt) → the value the
    descriptor describes.  Raises _Mismatch when v cannot be that
    type (drives union member probing)."""
    from pyspark.sql import types as T

    k = desc[0]
    if k == "named":
        return convert(v, dt, desc[2])
    if _is_typed_null(v):
        if k == "union":
            # a TYPED null of a union member encodes as a [tag, null]
            # container, distinct from the bare untyped null
            # (zson/ztests/set.yaml: |[null,null(string),null(int64)]|
            # keeps three elements)
            for i, md in enumerate(desc[1]):
                if _matches_strict(v, md):
                    return ZUnion(i, None)
        return None
    if v is None:
        return None
    if k != "union":
        from zed_spark.schema import is_union_type as _iu

        if dt is not None and isinstance(dt, T.StructType) and _iu(dt) and k != "record":
            # storage widened this position into a tagged union but
            # the descriptor says one concrete type: unwrap the
            # active member and convert it
            d0 = _as_dict(v)
            tag = d0.get("tag")
            if tag is None:
                return None
            mf = dt.fields[1 + int(tag)]
            return convert(d0.get(mf.name), mf.dataType, desc)
    if k == "union":
        from zed_spark.schema import is_union_type

        if isinstance(dt, T.StructType) and is_union_type(dt):
            d = _as_dict(v)
            tag = d.get("tag")
            if tag is None:
                return None
            mf = dt.fields[1 + int(tag)]
            mv = d.get(mf.name)
            return _probe_union(mv, mf.dataType, desc)
        # single-member storage (the union collapsed in this frame)
        return _probe_union(v, dt, desc)
    if k == "error":
        if isinstance(v, ZError):
            return ZError(v.value)
        from pyspark.sql import types as T2

        if isinstance(dt, T.StructType):
            d = _as_dict(v)
            names = dt.fieldNames()
            if "tag" in names:
                # carrier struct: the e-named alternative holds the
                # error payload
                for f in dt.fields[1:]:
                    if f.name.startswith("e") and d.get(f.name) is not None:
                        return ZError(
                            convert(d[f.name], f.dataType, desc[1])
                        )
                for f in dt.fields[1:]:
                    if d.get(f.name) is not None:
                        return ZError(
                            convert(d[f.name], f.dataType, desc[1])
                        )
                return None
        _ = T2
        return ZError(convert(v, dt, desc[1]))
    if k == "enum":
        if not isinstance(v, str):
            raise _Mismatch("enum storage must be a symbol string")
        sym = v[1:] if v.startswith("%") else v
        if sym not in desc[1]:
            raise _Mismatch(f"{sym!r} not an enum symbol")
        return sym
    if k in ("array", "set"):
        if not isinstance(v, (list, tuple)):
            raise _Mismatch("not a sequence")
        et = dt.elementType if isinstance(dt, T.ArrayType) else None
        return [convert(x, et, desc[1]) for x in v]
    if k == "map":
        items = v.items() if isinstance(v, dict) else v
        kt = dt.keyType if isinstance(dt, T.MapType) else None
        vt = dt.valueType if isinstance(dt, T.MapType) else None
        out = ZMap()
        for mk, mv in items:
            rk = None if mk == NULL_KEY else convert(mk, kt, desc[1])
            out[rk] = convert(mv, vt, desc[2])
        return out
    if k == "record":
        d = _as_dict(v)
        if not isinstance(d, dict) or isinstance(d, ZMap):
            raise _Mismatch("not a record")
        if dt is None:
            # parse-domain value (no storage schema): fields come
            # straight from the dict
            out = {}
            for name, fd in desc[1]:
                if name not in d:
                    raise _Mismatch(f"no field {name}")
                out[name] = convert(d.get(name), None, fd)
            return out
        if not isinstance(dt, T.StructType):
            raise _Mismatch("not a record")
        sub = {f.name: f.dataType for f in dt.fields}
        out = {}
        for name, fd in desc[1]:
            if name not in sub:
                raise _Mismatch(f"no field {name}")
            out[name] = convert(d.get(name), sub[name], fd)
        return out
    # primitive
    return _convert_prim(v, desc[1])


def _convert_prim(v, name: str):
    import datetime

    if name in (
        "int8", "int16", "int32", "int64",
        "uint8", "uint16", "uint32", "uint64",
    ):
        if isinstance(v, bool) or not isinstance(v, int):
            raise _Mismatch("not an int")
        return v
    if name in ("float16", "float32", "float64", "decimal"):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise _Mismatch("not a float")
        return float(v)
    if name == "bool":
        if not isinstance(v, bool):
            raise _Mismatch("not a bool")
        return v
    if name == "string":
        if not isinstance(v, str):
            raise _Mismatch("not a string")
        return v
    if name == "bytes":
        if not isinstance(v, (bytes, bytearray)):
            raise _Mismatch("not bytes")
        return bytes(v)
    if name == "time":
        if not isinstance(v, datetime.datetime):
            raise _Mismatch("not a time")
        return v
    if name == "duration":
        # durations ride as int64 ns in the widened model
        if isinstance(v, bool) or not isinstance(v, int):
            raise _Mismatch("not a duration")
        return v
    if name in ("ip", "net"):
        if not isinstance(v, str):
            raise _Mismatch("not an ip/net")
        return v
    if name == "type":
        return str(v)
    if name == "null":
        return None
    return v


def _probe_union(mv, mdt, udesc) -> ZUnion | None:
    """Find which DECLARED union member this storage value conforms
    to: exact type-of-value first (parse domain), then first
    structural match."""
    if mv is None:
        return None
    if mdt is None:
        for i, md in enumerate(udesc[1]):
            if _matches_strict(mv, md):
                return ZUnion(i, convert(mv, None, md))
    last = None
    for i, md in enumerate(udesc[1]):
        try:
            return ZUnion(i, convert(mv, mdt, md))
        except (_Mismatch, KeyError, TypeError, ValueError) as e:
            last = e
            continue
    raise _Mismatch(f"no union member matches: {last}")


def restore_rows(schema, rows) -> list:
    """[(value, descriptor)] per row of `schema` — the record's own
    zed type."""
    from zed_spark.sources.ztypes import parse_type_string

    names = schema.fieldNames()
    fields = [f for f in schema.fields if not f.name.startswith("__zed_")]
    has_miss = "__zed_missing" in names
    has_types = "__zed_types" in names
    ns_cols = {
        c[len("__zed_ns_"):]: c
        for c in names
        if c.startswith("__zed_ns_")
    }
    desc_cache: dict = {}

    def hint_desc(h):
        d = desc_cache.get(h)
        if d is None:
            from zed_spark.sources.ztypes import canon_desc

            try:
                # union member order canonicalizes at type creation
                # (context.go LookupTypeUnion) — tags refer to it
                d = canon_desc(parse_type_string(h))
            except Exception:
                d = ("prim", "string")
            desc_cache[h] = d
        return d

    out = []
    for r in rows:
        get = r.__getitem__ if not isinstance(r, dict) else r.get
        missing = set()
        if has_miss:
            missing = {
                m for m in (get("__zed_missing") or []) if "\x00" not in m
            }
        hints = dict(get("__zed_types") or {}) if has_types else {}
        ns = {
            c: get(nc)
            for c, nc in ns_cols.items()
            if get(nc) is not None
        }
        out.append(restore_one(get, fields, hints, missing, ns, hint_desc))
    return out


def restore_one(get, fields, hints, missing, ns, hint_desc):
    """One row → (values dict, record descriptor).  `get` maps a
    column name to its storage value; `fields` are the visible Spark
    fields; `ns` maps column → int64 ns for ns-exact times."""
    fdescs = []
    fvals = {}
    for f in fields:
        if f.name in missing:
            continue
        h = hints.get(f.name)
        if h == "type":
            tv = hints.get("\x00tv:" + f.name)
            d = ("typeval", hint_desc(tv)) if tv else ("prim", "type")
            v = str(get(f.name)) if get(f.name) is not None else None
        elif h is not None and "\x00" not in h:
            d = hint_desc(h)
            v = convert(get(f.name), f.dataType, d)
        else:
            d = desc_of_spark(f.dataType)
            v = convert(get(f.name), f.dataType, d)
        if f.name in ns:
            v = NsTime(ns[f.name])  # ns-exact time
        fdescs.append((f.name, d))
        fvals[f.name] = v
    order = hints.get("\x00order")
    if order is not None:
        # per-row original field order (the fused schema's merge
        # order is not the record's own order)
        pos = {n: i for i, n in enumerate(order.split(","))}
        fdescs.sort(key=lambda nd: pos.get(nd[0], len(pos)))
    return (fvals, ("record", tuple(fdescs)))


def row_zcode(get, fields, hints, missing, ns, hint_desc) -> bytes:
    """The record's ZNG body bytes under its OWN restored type — the
    lake import tiebreak value (zbuf/merger.go valueAsBytes)."""
    from zed_spark.sources.zng import encode_body_desc

    v, d = restore_one(get, fields, hints, missing, ns, hint_desc)
    return encode_body_desc(v, d) or b""
