"""CSV reader/writer with the reference's semantics (zio/csvio).

Reader (reader.go): header row names the (flat) fields; every value
is independently typed — `true`/`false` -> bool, anything parseable
as a number -> float64, else string (so `1` reads as 1.0, matching
the reference's inference). Empty field -> null.

Writer (writer.go): nested records flatten to dotted headers; one
header row, no type row. Values: null -> empty, bool ->
`true`/`false`, floats in Go shortest-`%g` form, bytes as `0x` hex,
timestamps RFC3339, strings minimally quoted (Go encoding/csv
rules). Union-carrier structs render their selected member.
"""

from __future__ import annotations

import io

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from zed_spark.sources.zeek import _go_float


def _typed(tok: str):
    if tok == "":
        return None
    if tok == "true":
        return True
    if tok == "false":
        return False
    try:
        return float(tok)
    except ValueError:
        return tok


def _preprocess(text: str, delim: str) -> str:
    """Normalize fields where quotes don't span the whole field
    (reference zio/csvio/preprocess.go): quoted segments lose their
    quotes ('\"\"' survives as an escape), and any field that
    contained one is re-wrapped whole after trimming — so
    `value\"3\" my friend` reads as `value3 my friend`."""
    out: list[str] = []
    field: list[str] = []
    hasstr = False
    i, n = 0, len(text)
    while True:
        c = text[i] if i < n else None
        if c == '"':
            hasstr = True
            i += 1
            while i < n:
                ch = text[i]
                if ch == '"':
                    if i + 1 < n and text[i + 1] == '"':
                        field.append('""')
                        i += 2
                        continue
                    i += 1
                    break
                field.append(ch)
                i += 1
            continue
        if c is None or c == delim or c == "\n":
            s = "".join(field)
            if hasstr:
                s = '"' + s.strip() + '"'
            out.append(s)
            field, hasstr = [], False
            if c is None:
                break
            out.append(c)
            i += 1
            continue
        field.append(c)
        i += 1
    return "".join(out)


def parse_csv_values(
    text: str, delim: str = ",", typed: bool = True
) -> list[dict]:
    """Reference-typed CSV decode to python values (per-value types,
    like the reference's per-field inference)."""
    import csv as _csv

    rows = list(
        _csv.reader(
            io.StringIO(_preprocess(text, delim)),
            delimiter=delim,
            skipinitialspace=delim != " ",
        )
    )
    if not rows:
        return []
    hdr = rows[0]
    out = []
    for r in rows[1:]:
        if not r:
            continue
        out.append(
            {
                h: (_typed(v) if typed else (v if v != "" else None))
                for h, v in zip(hdr, r + [""] * (len(hdr) - len(r)))
            }
        )
    return out


def _is_union_carrier(dt: T.DataType) -> bool:
    import re

    return isinstance(dt, T.StructType) and "tag" in dt.fieldNames() and all(
        f.name == "tag" or re.fullmatch(r"[ve]\d+", f.name) for f in dt.fields
    )


def _flat_leaves(schema: T.StructType):
    out = []

    def walk(prefix, fields):
        for f in fields:
            if not prefix and f.name.startswith("__zed_"):
                continue  # hidden presence/error bookkeeping columns
            name = f"{prefix}{f.name}"
            if isinstance(f.dataType, T.StructType) and not _is_union_carrier(
                f.dataType
            ):
                walk(f"{name}.", f.dataType.fields)
            else:
                out.append((name, f.dataType))

    walk("", schema.fields)
    return out


def _render(v, dt: T.DataType, zt: str | None = None) -> str:
    import json as _json

    if v is None:
        return ""
    if zt is not None and isinstance(dt, (T.LongType, T.IntegerType)):
        # per-row type identity (__zed_types): int64 columns that are
        # really ns times / durations render in their zed text forms
        # (csvio time/duration goldens)
        import re as _re3

        base = _re3.sub(r"^([^\W\d][\w$]*=)+", "", zt)
        if base == "time":
            from zed_spark.functions.ztime import format_time_ns

            return format_time_ns(int(v))
        if base == "duration":
            from zed_spark.functions.ztime import format_duration_ns

            return format_duration_ns(int(v))
    if zt is not None and isinstance(dt, T.StringType):
        import re as _re3

        base = _re3.sub(r"^([^\W\d][\w$]*=)+", "", zt)
        if base == "type":
            # type VALUES render in their <...> form (csvio type.yaml)
            return f"<{v}>"
    if _is_union_carrier(dt):
        tag = v.get("tag")
        names = [f.name for f in dt.fields if f.name != "tag"]
        if tag is None or not 0 <= tag < len(names):
            return ""
        sel = names[tag]
        member, mdt = v.get(sel), dt[sel].dataType
        if sel.startswith("e"):
            # error alternative: csvio renders error values in ZSON
            # text (writer.go formatValue for complex types)
            if member is None:
                return ""
            return f"error({_json.dumps(member, ensure_ascii=False)})"
        return _render(member, mdt)
    if isinstance(dt, T.BooleanType):
        return "true" if v else "false"
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return _go_float(float(v))
    if isinstance(dt, T.BinaryType):
        # "" (not "0x") for a zero-length value, like the reference
        return "0x" + bytes(v).hex() if len(v) else ""
    if isinstance(dt, T.TimestampType):
        from datetime import timezone

        ref = v if v.tzinfo else v.replace(tzinfo=timezone.utc)
        s = ref.strftime("%Y-%m-%dT%H:%M:%S")
        frac = f"{ref.microsecond:06d}".rstrip("0")
        return s + (f".{frac}" if frac else "") + "Z"
    if isinstance(dt, (T.ArrayType, T.MapType)):
        # the reference csv writer rejects container values
        # (writer.go 'CSV output encountered non-record value')
        raise ValueError("CSV output encountered non-record value")
    return str(v)


def _quote_min(s: str, delim: str) -> str:
    """Go encoding/csv minimal quoting: a lone empty field stays
    empty (csv.writer would emit "")."""
    if any(c in s for c in (delim, '"', "\n", "\r")) or s[:1] == " ":
        return '"' + s.replace('"', '""') + '"'
    return s


class CsvShapeError(ValueError):
    """Raised when a multi-shape stream reaches the CSV writer
    (zio/csvio/writer.go: 'CSV output requires uniform records').
    `partial` carries the text written before the offending record —
    the reference writer emits then fails, and the ztest goldens pin
    that partial output."""

    def __init__(self, partial: str):
        super().__init__(
            "CSV output requires uniform records but multiple types "
            "encountered (consider 'fuse')"
        )
        self.partial = partial


def to_csv_text(df: DataFrame, delim: str = ",") -> str:
    """Render a DataFrame as reference-style CSV text (driver-side
    formatter, like to_table_string — preview/test scale). A
    __zed_types sidecar provides per-path zed types for columns the
    widened schema can't distinguish (ns times, durations).

    Mixed-shape streams (per the __zed_missing presence sidecar)
    reject like the reference csvio writer: the first row's shape
    defines the header and rows stream until a different shape
    appears, then CsvShapeError carries the partial text."""
    from zed_spark.sources.gates import collect_driver_rows

    rows = collect_driver_rows(df, "csv text format")
    return csv_text_rows(rows, df.schema, delim)


def csv_text_rows(rows, schema: T.StructType, delim: str = ",") -> str:
    """to_csv_text over already-collected rows of `schema`."""
    names = schema.fieldNames()
    hints = {}
    if "__zed_types" in names and rows and rows[0]["__zed_types"]:
        hints = dict(rows[0]["__zed_types"])
    shapes = None
    absent = ()
    if "__zed_missing" in names:
        shapes = [
            tuple(sorted(m for m in (r["__zed_missing"] or []) if "\x00" not in m))
            for r in rows
        ]
        if any(m != shapes[0] for m in shapes):
            # mixed shapes: the first row's shape defines the header
            absent = shapes[0]
        else:
            shapes = None
    vis = [
        f
        for f in schema.fields
        if not f.name.startswith("__zed_") and f.name not in absent
    ]
    leaves = _flat_leaves(T.StructType(vis))
    lines = [delim.join(_quote_min(n, delim) for n, _ in leaves)]
    for i, row in enumerate(rows):
        if shapes is not None and shapes[i] != absent:
            # csvio writer semantics: reject a mixed-shape stream
            # after emitting the leading run of first-shape rows
            raise CsvShapeError("\n".join(lines) + "\n")
        d = row.asDict(recursive=True)

        def get(dotted):
            cur = d
            for p in dotted.split("."):
                if not isinstance(cur, dict):
                    return None
                cur = cur.get(p)
            return cur

        lines.append(
            delim.join(
                _quote_min(_render(get(n), dt, hints.get(n)), delim)
                for n, dt in leaves
            )
        )
    return "\n".join(lines) + "\n"
