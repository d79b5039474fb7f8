"""ZJSON format: zed values over NDJSON with an embedded type layer.

Reference: docs/formats/zjson.md (spec; zio/zjsonio is the reference
implementation — this is an independent implementation from the
published spec). Each line is {"type": <tree|ref>, "value": <nested
string arrays>}; the first occurrence of a complex type defines a
small-integer id, later lines reference it with {"kind":"ref"}.
Primitive values are strings in their ZSON representation.

Reader strategy (type context is stream-global): one distributed
pass extracts the distinct type-defining lines (small), the registry
is built on the driver and broadcast, then a second distributed pass
decodes values per partition. Output is shape-grouped by outer type
id, like the ZSON and ndjson readers.

Representation compromises on read (same as the rest of the engine):
union values decode to their member value with the merged column
type (string when irreconcilable, surfaced by UnionTypeDowngrade);
enums and type values ride as strings.
"""

from __future__ import annotations

import json
import math
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from zed_spark.sources.zson import (
    ZMap,
    _classify,
    _conform,
    _finalize,
    _infer_type,
    _merge_type,
    _parse_time,
)

# --- type encoding ---------------------------------------------------------

_SPARK_TO_ZED = {
    T.LongType(): "int64",
    T.IntegerType(): "int32",
    T.ShortType(): "int16",
    T.ByteType(): "int8",
    T.DoubleType(): "float64",
    T.FloatType(): "float32",
    T.BooleanType(): "bool",
    T.StringType(): "string",
    T.TimestampType(): "time",
    T.TimestampNTZType(): "time",
    T.DateType(): "time",
    T.BinaryType(): "bytes",
    T.NullType(): "null",
}

_ZED_PRIM_PY = {
    **{f"int{w}": int for w in (8, 16, 32, 64)},
    **{f"uint{w}": int for w in (8, 16, 32, 64)},
    "float16": float,
    "float32": float,
    "float64": float,
    "bool": bool,
    "string": str,
    "time": "time",
    "duration": "duration",
    "bytes": "bytes",
    "ip": str,
    "net": str,
    "type": str,
    "null": None,
}


class _TypeEncoder:
    def __init__(self):
        self.next_id = 30  # the reference's first dynamic type id
        # structural memo: a complex type keeps ONE id per stream, so
        # a repeated type re-renders identically and the outer row
        # memo collapses it to {"kind":"ref"} (the reference context
        # never re-defines — curl-query zjson golden)
        self._memo: dict = {}

    def encode(self, dt: T.DataType) -> dict:
        if isinstance(
            dt, (T.StructType, T.ArrayType, T.MapType)
        ):
            key = dt.simpleString()
            hit = self._memo.get(key)
            if hit is not None:
                return hit
            out = self._encode_complex(dt)
            self._memo[key] = out
            return out
        return self._encode_complex(dt)

    def _encode_complex(self, dt: T.DataType) -> dict:
        if dt in _SPARK_TO_ZED:
            return {"kind": "primitive", "name": _SPARK_TO_ZED[dt]}
        if isinstance(dt, T.DecimalType):
            return {"kind": "primitive", "name": "float64"}
        if isinstance(dt, T.StructType):
            fields = [
                {"name": f.name, "type": self.encode(f.dataType)} for f in dt.fields
            ]
            tid = self.next_id
            self.next_id += 1
            return {"kind": "record", "id": tid, "fields": fields}
        if isinstance(dt, T.ArrayType):
            inner = self.encode(dt.elementType)
            tid = self.next_id
            self.next_id += 1
            return {"kind": "array", "id": tid, "type": inner}
        if isinstance(dt, T.MapType):
            kt, vt = self.encode(dt.keyType), self.encode(dt.valueType)
            tid = self.next_id
            self.next_id += 1
            return {"kind": "map", "id": tid, "key_type": kt, "val_type": vt}
        return {"kind": "primitive", "name": "string"}


def _prim_str(v, dt: T.DataType):
    """ZSON primitive representation as a plain JSON string."""
    if v is None:
        return None
    if isinstance(dt, T.BooleanType):
        return "true" if v else "false"
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return str(int(v))
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        from zed_spark.functions.zfloat import format_float32, format_float64

        if isinstance(dt, T.FloatType):
            return format_float32(v)
        return format_float64(v)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        us = v.microsecond
        frac = f".{us:06d}".rstrip("0") if us else ""
        return v.strftime("%Y-%m-%dT%H:%M:%S") + frac + "Z"
    if isinstance(dt, T.DateType):
        return v.strftime("%Y-%m-%dT00:00:00Z")
    if isinstance(dt, T.BinaryType):
        return "0x" + bytes(v).hex()
    return str(v)


def _encode_value(v, dt: T.DataType):
    if v is None:
        return None
    if isinstance(dt, T.StructType):
        return [
            _encode_value(v[f.name] if isinstance(v, dict) else v[i], f.dataType)
            for i, f in enumerate(dt.fields)
        ]
    if isinstance(dt, T.ArrayType):
        return [_encode_value(x, dt.elementType) for x in v]
    if isinstance(dt, T.MapType):
        return [
            [_encode_value(k, dt.keyType), _encode_value(val, dt.valueType)]
            for k, val in v.items()
        ]
    return _prim_str(v, dt)


def df_to_zjson_lines(df: DataFrame):
    """RDD[str] of ZJSON lines: first line per partition carries the
    full type tree, later lines use a ref (ids are deterministic per
    schema, so definitions repeated across partitions agree)."""
    schema = df.schema
    tree = _TypeEncoder().encode(schema)
    outer_id = tree["id"]

    def render(it):
        first = True
        for row in it:
            t = tree if first else {"kind": "ref", "id": outer_id}
            first = False
            yield json.dumps(
                {"type": t, "value": _encode_value(row, schema)},
                separators=(",", ":"),
            )

    return df.rdd.mapPartitions(render)


def _desc_tree(d, enc: "_TypeEncoder", memo: dict):
    """ztypes descriptor → zjson type tree, allocating ids from the
    shared per-stream encoder (depth-first post-order, like the
    reference type context). memo keys rendered type strings so a
    repeated complex type refs its first definition."""
    from zed_spark.sources.ztypes import render as _zr

    k = d[0]
    if k == "prim":
        return {"kind": "primitive", "name": d[1]}
    key = _zr(d)
    if key in memo:
        return {"kind": "ref", "id": memo[key]}
    if k == "named":
        inner = _desc_tree(d[2], enc, memo)
        tid = enc.next_id
        enc.next_id += 1
        memo[key] = tid
        return {
            "kind": "named",
            "id": tid,
            "name": d[1].strip('"'),
            "type": inner,
        }
    if k == "record":
        fields = [
            {"name": n, "type": _desc_tree(t, enc, memo)}
            for n, t in d[1]
        ]
        tid = enc.next_id
        enc.next_id += 1
        memo[key] = tid
        return {"kind": "record", "id": tid, "fields": fields}
    if k in ("array", "set", "error"):
        inner = _desc_tree(d[1], enc, memo)
        tid = enc.next_id
        enc.next_id += 1
        memo[key] = tid
        return {"kind": k, "id": tid, "type": inner}
    if k == "map":
        kt = _desc_tree(d[1], enc, memo)
        vt = _desc_tree(d[2], enc, memo)
        tid = enc.next_id
        enc.next_id += 1
        memo[key] = tid
        return {"kind": "map", "id": tid, "key_type": kt, "val_type": vt}
    if k == "union":
        ms = [_desc_tree(m, enc, memo) for m in d[1]]
        tid = enc.next_id
        enc.next_id += 1
        memo[key] = tid
        return {"kind": "union", "id": tid, "types": ms}
    if k == "enum":
        tid = enc.next_id
        enc.next_id += 1
        memo[key] = tid
        return {"kind": "enum", "id": tid, "symbols": list(d[1])}
    if k == "typeval":
        return {"kind": "primitive", "name": "type"}
    return {"kind": "primitive", "name": "string"}


def _desc_prim_str(v, name: str) -> str:
    """Primitive value → its ZSON text form (what zjson values carry,
    docs/formats/zjson.md §values)."""
    import datetime
    import math as _m

    if name == "bool":
        return "true" if v else "false"
    if name == "duration":
        from zed_spark.functions.ztime import format_duration_ns

        return format_duration_ns(int(v))
    if name == "time":
        if isinstance(v, int):  # NsTime shadow
            from zed_spark.functions.ztime import format_time_ns

            return format_time_ns(int(v))
        if isinstance(v, datetime.datetime):
            us = v.microsecond
            frac = f".{us:06d}".rstrip("0") if us else ""
            return v.strftime("%Y-%m-%dT%H:%M:%S") + frac + "Z"
        return str(v)
    if name == "bytes":
        return "0x" + bytes(v).hex()
    if name.startswith(("int", "uint")):
        return str(int(v))
    if name.startswith("float") or name == "decimal":
        from zed_spark.functions.zfloat import format_float32, format_float64

        if name in ("float16", "float32"):
            return format_float32(v)
        return format_float64(v)
    return str(v)


def _desc_value(v, d, enc, memo):
    """Restored value + descriptor → zjson value tree."""
    from zed_spark.sources.restore import ZUnion
    from zed_spark.sources.zson import ZError, ZMap

    if v is None:
        return None
    k = d[0]
    if k == "named":
        return _desc_value(v, d[2], enc, memo)
    if k == "prim":
        return _desc_prim_str(v, d[1])
    if k == "typeval":
        return _desc_tree(d[1], enc, memo)
    if k == "record":
        dd = v.asDict() if hasattr(v, "asDict") else v
        return [
            _desc_value(dd.get(n), fd, enc, memo) for n, fd in d[1]
        ]
    if k in ("array", "set"):
        return [_desc_value(x, d[1], enc, memo) for x in v]
    if k == "map":
        items = v.items() if isinstance(v, (dict, ZMap)) else v
        return [
            [
                _desc_value(mk, d[1], enc, memo),
                _desc_value(mv, d[2], enc, memo),
            ]
            for mk, mv in items
        ]
    if k == "union":
        if isinstance(v, ZUnion):
            return [
                str(v.tag),
                _desc_value(v.value, d[1][v.tag], enc, memo),
            ]
        return None
    if k == "enum":
        sym = v[1:] if isinstance(v, str) and v.startswith("%") else v
        try:
            return str(list(d[1]).index(sym))
        except ValueError:
            return "0"
    if k == "error":
        inner = v.value if isinstance(v, ZError) else v
        return _desc_value(inner, d[1], enc, memo)
    return str(v)


def zjson_lines_restored(pairs) -> list[str]:
    """ZJSON lines from restored (value, descriptor) pairs
    (zed_spark.sources.restore.restore_rows): each row carries its
    OWN record type — per-row presence and precise types survive the
    fused frame."""
    enc = _TypeEncoder()
    memo: dict = {}
    lines: list[str] = []
    for v, d in pairs:
        tree = _desc_tree(d, enc, memo)
        val = _desc_value(v, d, enc, memo)
        lines.append(
            json.dumps({"type": tree, "value": val}, separators=(",", ":"))
        )
    return lines


def to_zjson_text(df: DataFrame) -> list[str]:
    """Driver-side ZJSON line renderer for golden compares (the
    distributed sink is write_zjson). Consults the __zed_types
    sidecar: precise primitive names (int32 over the widened int64)
    and type-VALUED columns, whose values render as type trees in
    the shared type context (zjsonio/ztests/empty-records,
    type-value)."""
    return zjson_text_rows(df.collect(), df.schema)


def zjson_text_rows(rows, schema: T.StructType) -> list[str]:
    """to_zjson_text over already-collected rows of `schema`."""
    from zed_spark.sources.ztypes import parse_type_string

    names = schema.fieldNames()
    if "__zed_missing" in names:
        # mixed-shape frame: restore each row's own record type
        # (presence + precise types) and render from descriptors
        from zed_spark.sources.restore import restore_rows

        return zjson_lines_restored(restore_rows(schema, rows))
    has_t = "__zed_types" in names
    schema = T.StructType(
        [f for f in schema.fields if not f.name.startswith("__zed_")]
    )
    enc = _TypeEncoder()
    memo: dict = {}
    outer_ids: dict = {}
    lines: list[str] = []
    for r in rows:
        hints = dict(r["__zed_types"] or {}) if has_t else {}

        def ftree(f):
            h = hints.get(f.name)
            if h == "type":
                return {"kind": "primitive", "name": "type"}
            if h is not None and "\x00" not in h:
                try:
                    d = parse_type_string(h)
                except Exception:
                    d = None
                if d is not None and d[0] == "prim":
                    return {"kind": "primitive", "name": d[1]}
            return enc.encode(f.dataType)

        fields = [
            {"name": f.name, "type": ftree(f)} for f in schema.fields
        ]
        key = json.dumps(fields, sort_keys=True)
        if key in outer_ids:
            t = {"kind": "ref", "id": outer_ids[key]}
        else:
            tid = enc.next_id
            enc.next_id += 1
            outer_ids[key] = tid
            t = {"kind": "record", "id": tid, "fields": fields}
        vals = []
        for f in schema.fields:
            v = r[f.name]
            if hints.get(f.name) == "type":
                tvs = hints.get("\x00tv:" + f.name)
                if tvs is None and v is not None:
                    tvs = str(v)
                if tvs is None:
                    vals.append(None)
                else:
                    try:
                        vals.append(
                            _desc_tree(
                                parse_type_string(tvs), enc, memo
                            )
                        )
                    except Exception:
                        vals.append(str(v))
            else:
                vals.append(_encode_value(v, f.dataType))
        lines.append(
            json.dumps(
                {"type": t, "value": vals}, separators=(",", ":")
            )
        )
    return lines


def write_zjson(df: DataFrame, path: str, single_file: bool = False) -> None:
    lines = df_to_zjson_lines(df).map(lambda s: (s,))
    out = df.sparkSession.createDataFrame(lines, "value string")
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").text(path)


# --- reader ----------------------------------------------------------------


def _resolve_type(t: dict, registry: dict[int, dict]) -> dict:
    """Expand refs against the registry."""
    if t.get("kind") == "ref":
        return registry[t["id"]]
    return t


def _decode_prim(s, name: str):
    if s is None:
        return None
    if name == "time":
        return _parse_time(s)
    if name in ("string", "ip", "net", "type", "enum"):
        return s
    # reuse the ZSON literal classifier for the rest (ints, floats,
    # bool, bytes, duration)
    return _classify(s)


def _decode_value(v, t: dict, registry: dict[int, dict]):
    t = _resolve_type(t, registry)
    kind = t.get("kind")
    if v is None:
        return None
    if kind == "record":
        return {
            f["name"]: _decode_value(x, f["type"], registry)
            for f, x in zip(t["fields"], v)
        }
    if kind in ("array", "set"):
        return [_decode_value(x, t["type"], registry) for x in v]
    if kind == "map":
        out = ZMap()
        for k, val in v:
            out[_decode_value(k, t["key_type"], registry)] = _decode_value(
                val, t["val_type"], registry
            )
        return out
    if kind == "union":
        # Reference encoding is a two-element array [tag-string, value]
        # (zio/zjsonio/writer.go:178; reader.go:170 accepts only that
        # form). The "tag:value" string form from an older spec draft
        # is kept as a legacy fallback. Tags index the union's
        # CANONICAL member order (LookupTypeUnion sorts members with
        # CompareTypes, context.go:200), not the listing order.
        members = sorted(
            t["types"], key=lambda m: _type_key(m, registry)
        )
        if isinstance(v, list) and len(v) == 2 and isinstance(v[0], str):
            tag, inner = v
            if tag.lstrip("-").isdigit():
                return _decode_value(inner, members[int(tag)], registry)
        if isinstance(v, str):
            tag, _, inner = v.partition(":")
            if tag.lstrip("-").isdigit():
                return _decode_value(inner, members[int(tag)], registry)
        return v
    if kind == "enum":
        return t["symbols"][int(v)] if isinstance(v, str) and v.isdigit() else v
    if kind == "error":
        return _decode_value(v, t["type"], registry)
    if kind == "named":
        return _decode_value(v, t["type"], registry)
    return _decode_prim(v, t.get("name", "string"))


# zed primary type ids (reference type.go:106-138) and kind ranks
# (type.go:46-55) — the sort key behind CompareTypes (type.go:396)
_PRIM_IDS = {
    "uint8": 0, "uint16": 1, "uint32": 2, "uint64": 3, "uint128": 4,
    "uint256": 5, "int8": 6, "int16": 7, "int32": 8, "int64": 9,
    "int128": 10, "int256": 11, "duration": 12, "time": 13,
    "float16": 14, "float32": 15, "float64": 16, "float128": 17,
    "float256": 18, "decimal32": 19, "decimal64": 20, "decimal128": 21,
    "decimal256": 22, "bool": 23, "bytes": 24, "string": 25, "ip": 26,
    "net": 27, "type": 28, "null": 29,
}
_KIND_RANK = {
    "primitive": 0, "record": 1, "array": 2, "set": 3, "map": 4,
    "union": 5, "enum": 6, "error": 7,
}


def _type_key(t: dict, registry: dict[int, dict]):
    """Comparable key replicating CompareTypes (type.go:396): kind
    rank first, then primitive id / structural recursion."""
    r = _resolve_type(t, registry)
    if r.get("kind") == "named":
        # named types order after their underlying type, by name
        return _type_key(r["type"], registry) + ((r.get("name", ""),))
    k = _KIND_RANK.get(r.get("kind"), 9)
    if k == 0:
        return (0, _PRIM_IDS.get(r.get("name"), 29))
    if k == 1:
        fs = r.get("fields", [])
        return (
            1,
            len(fs),
            tuple(f["name"] for f in fs),
            tuple(_type_key(f["type"], registry) for f in fs),
        )
    if k in (2, 3):
        return (k, _type_key(r["type"], registry))
    if k == 4:
        return (
            4,
            _type_key(r["key_type"], registry),
            _type_key(r["val_type"], registry),
        )
    if k == 5:
        ms = r.get("types", [])
        return (5, len(ms), tuple(_type_key(m, registry) for m in ms))
    if k == 6:
        return (6, tuple(r.get("symbols", [])))
    if k == 7:
        return (7, _type_key(r["type"], registry))
    return (9,)


def _collect_defs(t: dict, registry: dict[int, dict]) -> None:
    if not isinstance(t, dict) or t.get("kind") == "ref":
        return
    if "id" in t:
        registry[t["id"]] = t
    for sub in ("type", "key_type", "val_type"):
        if sub in t:
            _collect_defs(t[sub], registry)
    for f in t.get("fields", []):
        _collect_defs(f["type"], registry)
    for m in t.get("types", []):
        _collect_defs(m, registry)


def parse_zjson_values(text: str) -> list:
    """Driver-side ZJSON decode: each line is a {"type","value"}
    frame; typedefs register by id and refs resolve within the
    stream (one type context — single-stream text)."""
    import json as _json

    registry: dict[int, dict] = {}
    out = []
    for line in text.splitlines():
        line = line.strip()
        if not line:
            continue
        frame = _json.loads(line)
        t = frame["type"]
        _collect_defs(t, registry)
        out.append(_decode_value(frame["value"], t, registry))
    return out


def read_zjson(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Read ZJSON NDJSON → {shape: DataFrame}, shape-grouped by the
    outer type. Pass 1 (distributed) collects the distinct type
    definitions; pass 2 decodes values with the broadcast registries.

    Type-context ids are PER FILE (each reference writer allocates
    from 30 upward — zio/zjsonio/writer.go), so the registry is keyed
    by input file: independent streams reusing the same id never
    cross-resolve. Shape grouping is by the resolved type tree, not
    the id, so identical types from different files still fuse.

    Per-shape schemas are merged over ALL values in one aggregateByKey
    job (not a take(1000) sample), so a widening value at any row
    position is seen.
    """
    from pyspark.sql import functions as F

    lines = (
        spark.read.text(path)
        .select(F.input_file_name().alias("src"), "value")
        .filter("trim(value) != ''")
    )

    defs = (
        lines.rdd.map(lambda r: (r["src"], json.loads(r["value"])["type"]))
        .filter(lambda ft: ft[1].get("kind") != "ref")
        .map(lambda ft: (ft[0], json.dumps(ft[1], sort_keys=True)))
        .distinct()
        .collect()
    )
    registries: dict[str, dict[int, dict]] = {}
    for src, d in defs:
        _collect_defs(json.loads(d), registries.setdefault(src, {}))

    def decode_partition(it):
        key_memo: dict[tuple, str] = {}
        for row in it:
            obj = json.loads(row["value"])
            registry = registries.get(row["src"], {})
            t = _resolve_type(obj["type"], registry)
            mk = (row["src"], t.get("id", -1), t.get("name"))
            key = key_memo.get(mk)
            if key is None:
                key = json.dumps(_inline_refs(t, registry), sort_keys=True)
                key_memo[mk] = key
            yield (key, _decode_value(obj["value"], t, registry))

    decoded = lines.rdd.mapPartitions(decode_partition).cache()
    merged = dict(
        decoded.aggregateByKey(
            T.NullType(),
            lambda acc, v: _merge_type(acc, _infer_type(v)),
            _merge_type,
        ).collect()
    )

    out: dict[str, DataFrame] = {}
    for key in sorted(merged):
        vals = decoded.filter(lambda kv, s=key: kv[0] == s).values()
        t = _finalize(merged[key])
        if isinstance(t, T.StructType):
            schema = t
            rows = vals.map(lambda v, tt=schema: _conform(v, tt))
            shape = ",".join(f.name for f in schema.fields)
        else:
            schema = T.StructType([T.StructField("this", t)])
            rows = vals.map(lambda v, tt=t: (_conform(v, tt),))
            shape = "<value>"
        out[shape] = spark.createDataFrame(rows, schema)
    return out


def _inline_refs(t: dict, registry: dict[int, dict]) -> dict:
    """Canonical id-free type tree (refs expanded, ids dropped) so
    shapes compare equal across files with different id allocations."""
    if not isinstance(t, dict):
        return t
    if t.get("kind") == "ref":
        t = registry.get(t["id"], {"kind": "primitive", "name": "string"})
    out = {}
    for k, v in t.items():
        if k == "id":
            continue
        if k in ("type", "key_type", "val_type"):
            out[k] = _inline_refs(v, registry)
        elif k == "fields":
            out[k] = [
                {"name": f["name"], "type": _inline_refs(f["type"], registry)}
                for f in v
            ]
        elif k == "types":
            out[k] = [_inline_refs(m, registry) for m in v]
        else:
            out[k] = v
    return out


def read_zjson_fused(spark: SparkSession, path: str) -> DataFrame:
    from zed_spark.sources.shapes import fuse_shape_groups

    return fuse_shape_groups(read_zjson(spark, path))
