"""`-f text` writer (reference zio/textio/writer.go): one line per
value — records render their LEAF values tab-separated, arrays/sets
comma-join their elements, booleans render T/F, nulls render '-',
times render ISO-8601. Driver-side formatter (preview/test scale,
like to_csv_text); data-sized output belongs in a structured sink.
"""

from __future__ import annotations

import math
import re as _re
from datetime import timezone

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_UNION_KEY = _re.compile(r"[ve]\d+")


def _resolve_union(v, t):
    """Collapse a tagged-union carrier to (member value, member
    type); e-alternatives render as error(...) text upstream."""
    names = [f.name for f in t.fields[1:]]
    tag = v.get("tag") if isinstance(v, dict) else None
    if tag is None or not 0 <= tag < len(names):
        return None, T.NullType()
    f = t.fields[1 + tag]
    return v[f.name], f.dataType


def _is_union(t) -> bool:
    return (
        isinstance(t, T.StructType)
        and len(t.fields) > 1
        and t.fields[0].name == "tag"
        and all(_UNION_KEY.fullmatch(f.name) for f in t.fields[1:])
    )


def _render(v, t, missing: set = frozenset()) -> str:
    if _is_union(t):
        mv, mt = _resolve_union(v, t)
        if isinstance(mt, T.NullType):
            return "-"
        body = _render(mv, mt, missing)
        name = t.fields[1 + v["tag"]].name
        return f'error("{body}")' if name.startswith("e") else body
    if v is None:
        return "-"
    if isinstance(t, T.BinaryType):
        # bytes render in the zson 0x form (curl-add-gzip captures a
        # ksuid's bytes via `-f text` and routes on the 0x string)
        return "0x" + bytes(v).hex()
    if isinstance(t, T.BooleanType):
        return "T" if v else "F"
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        ref = v if v.tzinfo else v.replace(tzinfo=timezone.utc)
        s = ref.strftime("%Y-%m-%dT%H:%M:%S")
        frac = f"{ref.microsecond:06d}".rstrip("0")
        return s + (f".{frac}" if frac else "") + "Z"
    if isinstance(t, T.ArrayType):
        return ",".join(_render(x, t.elementType) for x in v)
    if isinstance(t, T.MapType):
        return ",".join(
            f"{_render(k, t.keyType)}:{_render(x, t.valueType)}"
            for k, x in v.items()
        )
    if isinstance(t, T.StructType):
        return "\t".join(_leaves(v, t, missing, ""))
    if isinstance(t, (T.FloatType, T.DoubleType)):
        # textio/tableio render through zeekio.FormatValue → Go
        # 'f' -1: shortest digits, always positional
        # (zio/textio/writer.go:34,54; zio/zeekio/format.go:35-38)
        from zed_spark.functions.zfloat import format_float_positional

        bits = 32 if isinstance(t, T.FloatType) else 64
        return format_float_positional(float(v), bits=bits)
    return str(v)


def _leaves(v, t: T.StructType, missing: set, prefix: str) -> list[str]:
    out = []
    for f in t.fields:
        p = f"{prefix}{f.name}"
        if p in missing:
            continue  # per-row absent field: no cell at all
        fv = None if v is None else v.get(f.name)
        if isinstance(f.dataType, T.StructType) and not _is_union(
            f.dataType
        ):
            out.extend(_leaves(fv, f.dataType, missing, p + "."))
        else:
            out.append(_render(fv, f.dataType))
    return out


def to_text_text(df: DataFrame) -> str:
    """Render a DataFrame as reference-style text lines. Driver-side
    (gated): a display format, not a storage sink."""
    from zed_spark.sources.gates import collect_driver_rows

    schema = df.schema
    vis = [f for f in schema.fields if not f.name.startswith("__zed_")]
    lines = []
    for row in collect_driver_rows(df, "text format"):
        d = row.asDict(recursive=True)
        missing = set(d.get("__zed_missing") or [])
        missing = {m.split("\x00")[0] for m in missing if "\x00" not in m}
        if len(vis) == 1 and vis[0].name == "this":
            lines.append(_render(d["this"], vis[0].dataType, missing))
        else:
            cells = []
            for f in vis:
                p = f.name
                if p in missing:
                    continue
                if isinstance(f.dataType, T.StructType) and not _is_union(
                    f.dataType
                ):
                    cells.extend(
                        _leaves(d.get(p), f.dataType, missing, p + ".")
                    )
                else:
                    cells.append(_render(d.get(p), f.dataType))
            lines.append("\t".join(cells))
    return "\n".join(lines) + "\n"


def _flat_names(t: T.StructType, prefix: str = "") -> list[str]:
    out = []
    for f in t.fields:
        if f.name.startswith("__zed_"):
            continue
        if isinstance(f.dataType, T.StructType) and not _is_union(f.dataType):
            out.extend(_flat_names(f.dataType, f"{prefix}{f.name}."))
        else:
            out.append(f"{prefix}{f.name}")
    return out


def to_table_text(df: DataFrame) -> str:
    """The reference's `table` output format (zio/tableio/writer.go):
    flattened records, a header line of field names, cells aligned
    with Go's tabwriter(minwidth 0, tabwidth 8, padding 1) — every
    column padded to its max cell width plus one space, the last
    column unpadded. Driver-side (gated): a display format."""
    from zed_spark.sources.gates import collect_driver_rows

    schema = df.schema
    vis = [f for f in schema.fields if not f.name.startswith("__zed_")]
    header = _flat_names(T.StructType(vis))
    rows: list[list[str]] = []
    for row in collect_driver_rows(df, "table format"):
        d = row.asDict(recursive=True)
        cells: list[str] = []
        for f in vis:
            if isinstance(f.dataType, T.StructType) and not _is_union(
                f.dataType
            ):
                cells.extend(_leaves(d.get(f.name), f.dataType, set(), f.name + "."))
            else:
                cells.append(_render(d.get(f.name), f.dataType))
        rows.append(cells)
    tbl = [header] + rows
    widths = [
        max(len(r[i]) for r in tbl if i < len(r))
        for i in range(max(len(r) for r in tbl))
    ]
    out_lines = []
    for r in tbl:
        cells = [
            c if i == len(r) - 1 else c.ljust(widths[i] + 1)
            for i, c in enumerate(r)
        ]
        out_lines.append("".join(cells).rstrip())
    return "\n".join(out_lines) + "\n"
