"""JSON writer (`-f json` — reference zio/jsonio/writer.go).

The reference serializes each value as one JSON object per line with
zed-typed rendering: times as RFC3339 strings (ns precision), durations
in zed duration text ("1m", "10ns"), type values as "<...>", ip/net as
their strings. The widened Spark schema can't distinguish several of
those from plain int64/string columns, so the renderer consults the
per-row `__zed_types` sidecar (ztypes.py) when present — the same
convention as the zeek/csv writers.

Driver-side text formatter (preview/test scale); bulk JSON output goes
through sinks.write_output(fmt="json").
"""

from __future__ import annotations

import json
import re as _re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from zed_spark.functions.ztime import format_duration_ns, format_time_ns


def _base_type(zt: str | None) -> str | None:
    if zt is None:
        return None
    return _re.sub(r"^([^\W\d][\w$]*=)+", "", zt.strip())


_UNION_KEY = _re.compile(r"[ve]\d+")


def _dumps_compact(obj, pretty: int | None = None) -> str:
    """JSON text with Go encoding/json float text (ES6 form:
    positional within [1e-6, 1e21), trimmed exponents outside —
    zio/jsonio/writer.go:234 marshals every primitive, compact or
    pretty, through encoding/json, whose float form differs from
    Python repr at the magnitude extremes). `pretty` indents by that
    many spaces exactly like the reference's tab-driven writer
    (zio/jsonio/writer.go:91-129,192-201: trailing commas, a space
    after the colon, empty containers on one line) — which is also
    Python json.dumps(indent=N) shape, so only the float text
    needed the shared path. Compact matches
    json.dumps(separators=(',', ':'), ensure_ascii=False) byte for
    byte aside from floats."""
    from zed_spark.functions.zfloat import format_float_json

    tab = pretty or 0
    colon = ": " if tab else ":"

    def ser(o, ind: int):
        if o is None:
            return "null"
        if o is True:
            return "true"
        if o is False:
            return "false"
        if isinstance(o, str):
            return json.dumps(o, ensure_ascii=False)
        if isinstance(o, float):
            return format_float_json(o)
        if isinstance(o, int):
            return str(o)
        if isinstance(o, (list, tuple)):
            if not o:
                return "[]"
            if not tab:
                return "[" + ",".join(ser(x, ind) for x in o) + "]"
            pad = " " * (ind + tab)
            body = (",\n" + pad).join(ser(x, ind + tab) for x in o)
            return "[\n" + pad + body + "\n" + " " * ind + "]"
        if isinstance(o, dict):
            if not o:
                return "{}"
            items = (
                f"{json.dumps(str(k), ensure_ascii=False)}{colon}"
                f"{ser(v, ind + tab)}"
                for k, v in o.items()
            )
            if not tab:
                return "{" + ",".join(items) + "}"
            pad = " " * (ind + tab)
            return "{\n" + pad + (",\n" + pad).join(items) + "\n" + " " * ind + "}"
        return json.dumps(o, ensure_ascii=False)

    return ser(obj, 0)


def _is_union(dt) -> bool:
    return (
        isinstance(dt, T.StructType)
        and len(dt.fields) > 1
        and dt.fields[0].name == "tag"
        and all(_UNION_KEY.fullmatch(f.name) for f in dt.fields[1:])
    )


def _jval(v, dt: T.DataType, zt: str | None, hints: dict, path: str):
    if v is None:
        return None
    if _is_union(dt):
        # tagged-union carrier: emit the selected member (jsonio
        # renders union values transparently — union-output.yaml)
        d = v if isinstance(v, dict) else v.asDict()
        tag = d.get("tag")
        names = [f.name for f in dt.fields if f.name != "tag"]
        if tag is None or not 0 <= tag < len(names):
            return None
        sel = names[tag]
        # the zt hint describes the VALUE itself; the active member
        # IS the value (map-key hints must survive the unwrap)
        mv = _jval(d.get(sel), dt[sel].dataType, zt, hints, path)
        if sel.startswith("e"):
            # error member: the json writer wraps error values as
            # {"error": ...} (zio/jsonio/ztests/error.yaml)
            return {"error": mv}
        return mv
    base = _base_type(zt)
    if isinstance(dt, (T.LongType, T.IntegerType)):
        if base == "time":
            return format_time_ns(int(v))
        if base == "duration":
            return format_duration_ns(int(v))
        return int(v)
    if isinstance(dt, T.StringType):
        if base == "type":
            return f"<{v}>"
        return v
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        from datetime import timezone

        ref = v if v.tzinfo else v.replace(tzinfo=timezone.utc)
        s = ref.strftime("%Y-%m-%dT%H:%M:%S")
        frac = f"{ref.microsecond:06d}".rstrip("0")
        return s + (f".{frac}" if frac else "") + "Z"
    if isinstance(dt, T.BooleanType):
        return bool(v)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        # Go's json marshaller renders integral floats without the
        # trailing .0 (pretty.yaml: 1. -> 1); the full ES6 form
        # (positional to 1e21/1e-6, trimmed exponents) is applied by
        # _dumps_compact at serialization time
        f = float(v)
        return int(f) if f.is_integer() and abs(f) < 2**53 else f
    if isinstance(dt, T.BinaryType):
        return "0x" + bytes(v).hex()
    if isinstance(dt, T.StructType):
        d = v if isinstance(v, dict) else v.asDict()
        return {
            f.name: _jval(
                d.get(f.name),
                f.dataType,
                hints.get(f"{path}.{f.name}" if path else f.name),
                hints,
                f"{path}.{f.name}" if path else f.name,
            )
            for f in dt.fields
        }
    if isinstance(dt, T.ArrayType):
        inner = None
        if base and base.startswith("[") and base.endswith("]"):
            inner = base[1:-1]
        elif base and base.startswith("|[") and base.endswith("]|"):
            inner = base[2:-2]
        return [_jval(e, dt.elementType, inner, hints, path) for e in v]
    if isinstance(dt, T.MapType):
        kd = vd = None
        if base and base.startswith("|{"):
            from zed_spark.sources.ztypes import parse_type_string, render

            try:
                md = parse_type_string(base)
                if md[0] == "map":
                    kd = md[1]
                    vd = render(md[2])
            except Exception:
                pass
        from zed_spark.sources.zson import order_text_keys

        rendered = []  # (raw-or-None, key string, value)
        for k, x in v.items():
            ks, raw = _json_map_key(k, dt.keyType, kd, hints, path)
            rendered.append(
                (raw, ks, _jval(x, dt.valueType, vd, hints, path))
            )
        if any(raw is not None for raw, _k, _x in rendered):
            # Spark MapType does not preserve entry order: recompute
            # the ZNG normalized order from the canonical key texts
            by_raw = {raw: (ks, x) for raw, ks, x in rendered}
            return {
                by_raw[raw][0]: by_raw[raw][1]
                for raw in order_text_keys(list(by_raw))
            }
        return {ks: x for _raw, ks, x in rendered}
    return v


def _json_map_key(k, kdt, kd, hints, path):
    """Map key → (JSON object key, canonical-text-or-None) — the
    reference's mapKey semantics (zio/jsonio/writer.go:151): strings
    raw, other primitives in their ZSON primitive form (no
    decorator), union keys as DECORATED ZSON text (unique keys for
    |{0:1,0(uint64):2,...}|), enums as the symbol, complex keys as
    ZSON text.  The second element is the key's canonical ZSON text
    when it rode a sentinel (order recomputation)."""
    from zed_spark.sources.zson import NULL_KEY, TEXT_KEY

    # unwrap storage first: merged maps widen the key position into
    # a tagged union; the sentinel/text checks need the member value
    plain = _jval(k, kdt, None, hints, path)
    if plain == NULL_KEY:
        return "null", None
    if isinstance(plain, str) and plain.startswith(TEXT_KEY):
        raw = plain[len(TEXT_KEY):]
        d = kd
        while d is not None and d[0] == "named":
            d = d[2]
        if d is None or d[0] == "union":
            return raw, raw  # decorated ZSON text, unique per type
        if d[0] == "enum":
            s = raw[1:] if raw.startswith("%") else raw
            return s.split("(", 1)[0], raw
        if d[0] == "prim":
            if d[1] == "string":
                import json as _j

                # the quoted literal itself may contain '(' (e.g.
                # "a(b") — parse the full text first and only then
                # try stripping a trailing (type) decorator that
                # sits OUTSIDE the closing quote
                try:
                    return _j.loads(raw.strip()), raw
                except Exception:
                    pass
                import re as _r

                stripped = _r.sub(r"\s*\([^()]*\)\s*$", "", raw.strip())
                try:
                    return _j.loads(stripped), raw
                except Exception:
                    return raw, raw
            # strip a trailing (type) decorator off the literal
            import re as _r

            return _r.sub(r"\s*\([^()]*\)\s*$", "", raw), raw
        return raw, raw  # complex key: ZSON text
    # plain key rendered per the key descriptor
    d = kd
    while d is not None and d[0] == "named":
        d = d[2]
    if d is not None and d[0] == "prim":
        name = d[1]
        if name == "duration" and isinstance(plain, int):
            return format_duration_ns(int(plain)), None
        if name == "type":
            return f"<{plain}>", None
        if name.startswith("float") and isinstance(plain, (int, float)):
            from zed_spark.functions.zfloat import format_float64

            return format_float64(plain), None
    if d is not None and d[0] == "enum" and isinstance(plain, str):
        return (
            plain[1:] if plain.startswith("%") else plain
        ), None
    if isinstance(plain, bool):
        return ("true" if plain else "false"), None
    return str(plain), None


def to_json_text(
    df: DataFrame, wrapped: bool = False, pretty: int | None = None
) -> str:
    """Render a DataFrame as reference-style NDJSON text (or
    indented with `pretty`). `wrapped`: the single `this` column
    holds bare values — emit the value, not {"this": ...}. Per-row
    ABSENT fields (the __zed_missing sidecar, no \\x00null marker)
    are omitted, matching the reference's per-row record shapes.
    Driver-side (gated): a display/export format for bounded
    results; the distributed JSON sink handles data at scale."""
    from zed_spark.sources.gates import collect_driver_rows

    rows = collect_driver_rows(df, "json text format")
    return json_text_rows(rows, df.schema, wrapped, pretty)


def json_text_rows(
    rows, schema, wrapped: bool = False, pretty: int | None = None
) -> str:
    """to_json_text over already-collected rows of `schema`."""
    names = schema.fieldNames()
    has_hints = "__zed_types" in names
    has_miss = "__zed_missing" in names
    vis = [c for c in names if not c.startswith("__zed_")]
    schema = {f.name: f.dataType for f in schema.fields}
    lines = []
    for row in rows:
        d = row.asDict(recursive=True)
        # hints are PER ROW: each value carries its own precise type
        hints = (
            dict(d.get("__zed_types") or {}) if has_hints else {}
        )
        missing = {
            m for m in (d.get("__zed_missing") or []) if "\x00" not in m
        } if has_miss else set()
        cols = vis
        order = hints.get("\x00order")
        if order is not None:
            # the record's own field order, not the fused merge order
            pos = {n: i for i, n in enumerate(order.split(","))}
            cols = sorted(vis, key=lambda c: pos.get(c, len(pos)))
        if wrapped and vis == ["this"]:
            obj = _jval(d.get("this"), schema["this"], hints.get(""), hints, "")
        else:
            obj = _strip_missing(
                {
                    c: _jval(d.get(c), schema[c], hints.get(c), hints, c)
                    for c in cols
                },
                missing,
                "",
            )
        lines.append(_dumps_compact(obj, pretty=pretty))
    return "\n".join(lines) + ("\n" if lines else "")


def _strip_missing(obj, missing: set, prefix: str):
    """Drop per-row absent fields (dotted paths) from a rendered
    object tree."""
    if not missing or not isinstance(obj, dict):
        return obj
    out = {}
    for k, v in obj.items():
        p = f"{prefix}{k}"
        if p in missing:
            continue
        out[k] = (
            _strip_missing(v, missing, p + ".")
            if isinstance(v, dict)
            else v
        )
    return out
