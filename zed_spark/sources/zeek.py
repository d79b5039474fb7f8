"""Zeek TSV reader + writer (reference: zio/zeekio).

Reader semantics (zio/zeekio/parser.go):
  - '#separator'/'#set_separator'/'#empty_field'/'#unset_field'
    directives; '#path' injects a leading _path column ('-' = unset).
  - '#fields'/'#types' declare the schema; dotted names nest into
    records (a.b -> a:{b}).
  - typed columns: time (epoch seconds -> timestamp), interval
    (seconds -> int64 ns duration, zeek-compat.md), count/int ->
    int64, port -> uint16-ish int, bool T/F, addr/subnet/enum ->
    string.
  - containers: set[t]/vector[t] split on set_separator; '-' is a
    null ELEMENT, the whole-field '-' is a null container, the
    empty_field marker is an EMPTY container; sets dedupe and sort
    into canonical zcode order (complex.go NormalizeSet).
  - '\\xNN' byte escapes and '\\\\' decode in string values
    (zeekio escaper).
  - blank lines are skipped; later '#' header blocks restate the
    schema mid-stream (log concatenations) — handled by a per-file
    parser fallback.

Scale: the common single-header-block layout (how zeek writes logs)
reads through Spark's vectorized text+from_csv path — fully
distributed and codegen'd. Files with multiple header blocks fall
back to a per-file parser (one task per file, the same parallel unit
the reference uses) after a distributed header-line pre-scan; only
header metadata is collected to the driver.

Each output column carries its original zeek type in StructField
metadata ({"zeek": ...}) so the writer can round-trip '#types'.

Writer semantics (zio/zeekio/writer.go): a full header block before
the first record, '#path' restated on change ('-' when empty),
values escaped ('\\' -> '\\\\', separators/control bytes -> \\xNN),
null -> unset marker, empty string/container -> empty marker,
time/interval as fixed-point seconds, bool as T/F.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SCALAR_TYPES: dict[str, T.DataType] = {
    "time": T.TimestampType(),
    "interval": T.LongType(),   # int64 ns duration
    "count": T.LongType(),
    "int": T.LongType(),
    "double": T.DoubleType(),
    "bool": T.BooleanType(),
    "string": T.StringType(),
    "addr": T.StringType(),
    "subnet": T.StringType(),
    "port": T.IntegerType(),
    "enum": T.StringType(),
    "func": T.StringType(),
}


def zeek_spark_type(ztype: str) -> T.DataType:
    if ztype.startswith(("set[", "vector[")) and ztype.endswith("]"):
        inner = ztype[ztype.index("[") + 1 : -1]
        return T.ArrayType(zeek_spark_type(inner), True)
    return _SCALAR_TYPES.get(ztype, T.StringType())


_C_ESCAPES = {"b": 8, "f": 12, "n": 10, "r": 13, "t": 9, "\\": 0x5C}


def _unescape(v: str | None) -> str | None:
    """Decode zeek's ascii-writer escapes: '\\xNN' byte escapes, C
    escapes (\\b \\f \\n \\r \\t), and '\\\\'. Escaped bytes join the
    surrounding text; byte runs that are NOT valid UTF-8 re-escape
    as literal '\\xNN' text (the reference's behavior on invalid
    sequences — ztest zeek-utf8-json, matching Go's rune-at-a-time
    validation incl. surrogate/overlong rejection)."""
    if v is None or "\\" not in v:
        return v
    b = bytearray()
    i, n = 0, len(v)
    while i < n:
        if v[i] == "\\" and i + 1 < n:
            nxt = v[i + 1]
            if nxt == "x" and i + 3 < n:
                try:
                    b.append(int(v[i + 2 : i + 4], 16))
                    i += 4
                    continue
                except ValueError:
                    pass
            elif nxt in _C_ESCAPES:
                b.append(_C_ESCAPES[nxt])
                i += 2
                continue
        b += v[i].encode("utf-8")
        i += 1
    return _decode_lossy(bytes(b))


def _decode_lossy(b: bytes) -> str:
    """UTF-8 decode where invalid bytes become literal '\\xNN' text
    (Go utf8.DecodeRune walk: rejects overlong forms, surrogates,
    and > U+10FFFF, one byte at a time)."""
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        pass
    out = []
    i, n = 0, len(b)
    while i < n:
        c = b[i]
        if c < 0x80:
            out.append(chr(c))
            i += 1
            continue
        ln = 2 if 0xC0 <= c < 0xE0 else 3 if 0xE0 <= c < 0xF0 else 4 if 0xF0 <= c < 0xF8 else 1
        seg = b[i : i + ln]
        if ln > 1 and len(seg) == ln:
            try:
                out.append(seg.decode("utf-8"))
                i += ln
                continue
            except UnicodeDecodeError:
                pass
        out.append(f"\\x{c:02x}")
        i += 1
    return "".join(out)


def _unescape_col(c):
    """Escape decode as a Column. Spark extracts Python UDFs out of
    CASE WHEN into an unconditional ArrowEvalPython node, so a JVM
    guard would NOT skip the UDF — instead the batch itself fast-
    paths: a vectorized (C-speed) backslash scan, python-level
    decode only for the dirty rows."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _un(s):
        mask = s.str.contains("\\", regex=False).fillna(False)
        if not mask.any():
            return s
        out = s.copy()
        out[mask] = s[mask].map(_unescape)
        return out

    return _un(c)


class _Header:
    """Mutable zeek header state (one block)."""

    def __init__(self):
        self.sep = "\t"
        self.set_sep = ","
        self.empty = "(empty)"
        self.unset = "-"
        self.path: str | None = None
        self.fields: list[str] = []
        self.types: list[str] = []

    def directive(self, line: str) -> None:
        raw = line[1:].rstrip("\n")
        if raw.startswith("separator"):
            rest = raw[len("separator") :].lstrip(" \t")
            if rest:
                self.sep = (
                    rest.encode().decode("unicode_escape")
                    if rest.startswith("\\")
                    else rest
                )
            return
        key, _, rest = raw.partition(self.sep)
        if self.sep != " " and _ == "" and " " in raw:
            # tolerate space-separated directives in tab-separated
            # logs (hand-written fixtures)
            key, _, rest = raw.partition(" ")
        if key == "set_separator":
            self.set_sep = rest
        elif key == "empty_field":
            self.empty = rest
        elif key == "unset_field":
            self.unset = rest
        elif key == "path":
            self.path = None if rest == self.unset else rest
        elif key == "fields":
            self.fields = rest.split(self.sep)
            self.types = []  # a new '#fields' invalidates prior types
        elif key == "types":
            self.types = rest.split(self.sep)


def _parse_scalar(tok: str | None, zt: str, h: _Header):
    if tok is None or tok == h.unset:
        return None
    if zt == "string" and tok == h.empty:
        return ""
    if zt in ("string", "addr", "subnet", "enum", "func"):
        return _unescape(tok)
    if zt == "bool":
        return tok == "T"
    if zt in ("count", "int", "port"):
        try:
            return int(tok)
        except ValueError:
            return None
    if zt == "double":
        try:
            return float(tok)
        except ValueError:
            return None
    if zt == "time":
        from datetime import datetime, timezone

        try:
            return datetime.fromtimestamp(float(tok), tz=timezone.utc).replace(
                tzinfo=None
            )
        except (ValueError, OverflowError):
            return None
    if zt == "interval":
        try:
            return int(round(float(tok) * 1e9))
        except ValueError:
            return None
    return _unescape(tok)


def _zcode_key(v):
    from zed_spark.sources.zson import _zcode_key as zk

    return zk(v)


def _parse_container(tok: str | None, zt: str, h: _Header):
    if tok is None or tok == h.unset:
        return None
    if tok == h.empty or tok == "":
        return []
    inner = zt[zt.index("[") + 1 : -1]
    is_str = isinstance(_SCALAR_TYPES.get(inner, T.StringType()), T.StringType)
    elems = []
    for e in tok.split(h.set_sep):
        if e == h.unset:
            elems.append(None)
        elif e == "":
            elems.append("" if is_str else None)
        else:
            elems.append(_parse_scalar(e, inner, h))
    if zt.startswith("set["):
        seen, out = set(), []
        for e in elems:
            k = repr(e)
            if k not in seen:
                seen.add(k)
                out.append(e)
        out.sort(key=lambda x: (x is not None, _zcode_key(x) if x is not None else 0))
        return out
    return elems


def _merge_block_type(a: str, b: str) -> str:
    if a == b:
        return a
    num = {"count", "int", "port"}
    if a in num and b in num:
        return "int"
    if {a, b} <= num | {"double"}:
        return "double"
    return "string"


def read_zeek_tsv(spark: SparkSession, path: str) -> DataFrame:
    """Read zeek TSV logs (glob ok) into one typed DataFrame."""
    from zed_spark.sources import fsio

    files = [
        f
        for f in fsio.expand(path)
        if not fsio.basename(f).startswith(("_", "."))
        and not f.endswith(".crc")
    ] or [path]

    # sniff the first file's head: single header block (the layout
    # zeek itself writes) takes the vectorized path; anything else
    # (mid-file '#' blocks, headerless '#fields') parses per file
    head = fsio.read_head(files[0], 1 << 20).decode(errors="replace")
    lines = head.splitlines()
    saw_data = multi = False
    h = _Header()
    for ln in lines:
        if ln.startswith("#"):
            if ln.startswith("#close"):
                continue
            if saw_data:
                multi = True
                break
            h.directive(ln)
        elif ln.strip():
            saw_data = True
    if not h.fields and not multi:
        raise ValueError(f"{files[0]}: no '#fields' header — not a zeek log")
    if multi or len(files) > 1 and _heads_differ(files, h):
        if any(fsio.is_uri(f) for f in files):
            # the multi-block parser opens files inside executor
            # Python (one task per file) where no JVM gateway exists
            # to route object-store URIs; zeek's own writer emits
            # single-header files, which stream fine from any URI
            raise ValueError(
                f"{path}: multi-header-block zeek logs are not "
                f"readable from object-store URIs — localize the "
                f"files first or re-emit them as single-block logs"
            )
        return _read_blocks(spark, files)
    return _read_vectorized(spark, path, h)


def _heads_differ(files: list[str], h: _Header) -> bool:
    from zed_spark.sources import fsio

    for f in files[1:]:
        h2 = _Header()
        for ln in fsio.read_head(f, 1 << 20).decode(errors="replace").splitlines(
            keepends=True
        ):
            if not ln.startswith("#"):
                break
            h2.directive(ln)
        if h2.fields != h.fields or h2.types != h.types or h2.path != h.path:
            return True
    return False


def _read_vectorized(spark: SparkSession, path: str, h: _Header) -> DataFrame:
    """Single-header-block files: distributed text read + from_csv
    (whole-stage codegen; no Python on the clean path)."""
    txt = spark.read.text(path)
    rows = txt.filter(
        (~F.col("value").startswith("#")) & (F.length(F.col("value")) > 0)
    )
    ddl = ", ".join(f"`{n}` STRING" for n in h.fields)
    parsed = rows.select(
        F.from_csv(
            F.col("value"),
            ddl,
            {"sep": h.sep, "nullValue": h.unset, "quote": ""},
        ).alias("r")
    ).select("r.*")
    cols = []
    if h.path is not None and "_path" not in h.fields:
        cols.append(F.lit(h.path).alias("_path", metadata={"zeek": "string"}))
    types = h.types or ["string"] * len(h.fields)
    for name, zt in zip(h.fields, types):
        c = F.col(f"`{name}`")
        cols.append(_typed_col(c, zt, h).alias(name, metadata={"zeek": zt}))
    df = parsed.select(*cols)
    from zed_spark.functions.flatten import nest_dotted

    return nest_dotted(df)


def _typed_col(c, zt: str, h: _Header):
    """Typed expression for one zeek column (vectorized path)."""
    from zed_spark.functions.zorder import zset_sort

    if zt.startswith(("set[", "vector[")):
        inner = zt[zt.index("[") + 1 : -1]
        idt = _SCALAR_TYPES.get(inner, T.StringType())
        elems = F.split(c, _re_escape(h.set_sep))
        is_str = isinstance(idt, T.StringType)

        def conv(x):
            x = F.when(x == h.unset, F.lit(None)).otherwise(x)
            if is_str:
                return x  # unescape happens array-wise below (no
                # Python UDF allowed inside a lambda)
            if isinstance(idt, T.TimestampType):
                return x.cast("double").cast("timestamp")
            if inner == "interval":
                return (x.cast("double") * F.lit(1e9)).cast("long")
            if inner == "bool":
                return x == "T"
            return x.cast(idt)

        arr = F.transform(elems, conv)
        if is_str:
            arr = _unescape_arr(arr, c)
        arr = (
            F.when(c.isNull(), F.lit(None).cast(T.ArrayType(idt)))
            .when((c == h.empty) | (c == ""), F.array().cast(T.ArrayType(idt)))
            .otherwise(arr)
        )
        if zt.startswith("set["):
            arr = zset_sort(F.array_distinct(arr), idt)
        return arr
    if zt == "time":
        return c.cast("double").cast("timestamp")
    if zt == "interval":
        # zeek interval (seconds) -> int64 ns duration
        # (zeek-compat.md interval row); round, not truncate — the
        # fixed-point text is exact at µs
        return F.round(c.cast("double") * F.lit(1e9)).cast("long")
    if zt == "bool":
        return c == "T"
    if zt in ("string",):
        return _unescape_col_opt(F.when(c == h.empty, "").otherwise(c))
    if zt in ("addr", "subnet", "enum", "func"):
        return _unescape_col_opt(c)
    return c.cast(_SCALAR_TYPES.get(zt, T.StringType()))


def _unescape_col_opt(c):
    return _unescape_col(c)


def _unescape_arr(arr, raw):
    """Element-wise escape decode for a string-array column: one
    Arrow-batched UDF; rows whose RAW text has no backslash pass
    through untouched (vectorized scan, python only on dirty
    rows — see _unescape_col on why a JVM CASE guard can't skip
    the UDF)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.StringType()))
    def _un(s, rawcol):
        mask = rawcol.str.contains("\\", regex=False).fillna(False)
        if not mask.any():
            return s
        out = s.copy()
        out[mask] = s[mask].map(
            lambda xs: None if xs is None else [_unescape(x) for x in xs]
        )
        return out

    return _un(arr, raw)


def _re_escape(s: str) -> str:
    import re

    return re.escape(s)


def _read_blocks(spark: SparkSession, files: list[str]) -> DataFrame:
    """Multi-header-block fallback: pass 1 collects '#' header lines
    per file (distributed scan, metadata-sized collect); pass 2
    parses each file with running block state (one task per file —
    the reference's own parallel unit)."""
    import pandas as pd

    sc = spark.sparkContext
    # pass 1: per-file ordered header lines (+ whether data precedes)
    def _headers(f: str) -> list[str]:
        out = []
        with open(f, "r", errors="replace") as fh:
            for ln in fh:
                if ln.startswith("#"):
                    out.append(ln.rstrip("\n"))
        return out

    hdr_lines = dict(
        sc.parallelize(files, len(files)).map(lambda f: (f, _headers(f))).collect()
    )
    # driver: walk each file's header blocks to the union of columns
    # (a block registers only once its '#types' — or next block —
    # arrives, so fields never pre-register as strings)
    col_types: dict[str, str] = {}
    order: list[str] = []
    saw_path = False
    for f in files:
        h = _Header()
        pend: tuple[list[str], list[str]] | None = None

        def flush():
            nonlocal pend
            if pend is None:
                return
            flds, ts = pend
            pend = None
            for name, zt in zip(flds, ts or ["string"] * len(flds)):
                if name not in col_types:
                    col_types[name] = zt
                    order.append(name)
                else:
                    col_types[name] = _merge_block_type(col_types[name], zt)

        for ln in hdr_lines[f]:
            h.directive(ln)
            if ln.startswith("#path"):
                saw_path = True
            if ln.startswith("#fields"):
                flush()
                pend = (h.fields, [])
            elif ln.startswith("#types") and pend is not None:
                pend = (pend[0], h.types)
        flush()
    names = (["_path"] if saw_path and "_path" not in order else []) + order
    fused = T.StructType(
        [
            T.StructField(
                n,
                T.StringType()
                if n == "_path" and "_path" not in col_types
                else zeek_spark_type(col_types.get(n, "string")),
                True,
                metadata={"zeek": col_types.get(n, "string")},
            )
            for n in names
        ]
    )

    paths_df = spark.createDataFrame([(f,) for f in files], "f string").repartition(
        len(files), "f"
    )

    def parse_files(iterator):
        for pdf in iterator:
            for f in pdf["f"]:
                rows = []
                h = _Header()
                with open(f, "r", errors="replace") as fh:
                    for ln in fh:
                        ln = ln.rstrip("\n")
                        if ln.startswith("#"):
                            h.directive(ln)
                            continue
                        if not ln.strip():
                            continue
                        toks = ln.split(h.sep)
                        rec = {}
                        if saw_path and "_path" not in h.fields:
                            rec["_path"] = h.path
                        ts = h.types or ["string"] * len(h.fields)
                        for name, zt, tok in zip(h.fields, ts, toks):
                            if zt.startswith(("set[", "vector[")):
                                rec[name] = _parse_container(tok, zt, h)
                            else:
                                rec[name] = _parse_scalar(tok, zt, h)
                        rows.append([rec.get(n) for n in names])
                yield pd.DataFrame(rows, columns=names)

    df = paths_df.mapInPandas(parse_files, fused)
    from zed_spark.functions.flatten import nest_dotted

    return nest_dotted(df)


# --- writer ----------------------------------------------------------------


def _go_float(x: float) -> str:
    """Go strconv.FormatFloat(f,'g',-1) — shortest repr, switching to
    exponent form outside [1e-4, 1e21). Values that round-trip
    exactly through float32 use the 32-bit shortest repr (how the
    reference renders float16/float32 columns; our widened model
    keeps only float64, and real float64 data essentially never
    lands on a 32-exact value whose 32-bit shortest differs)."""
    import math

    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "+Inf" if x > 0 else "-Inf"
    if x == 0:
        return "0"
    s = repr(float(x))
    if len(s.replace("-", "").replace(".", "").split("e")[0].lstrip("0")) > 8:
        try:
            import numpy as np

            if float(np.float32(x)) == x:
                s = repr(np.float32(x))  # numpy shortest-f32 digits
                if "." not in s and "e" not in s:
                    s += ".0"
        except ImportError:
            pass
    if "e" in s or "E" in s:
        m, _, e = s.partition("e")
        exp = int(e)
        if -4 <= exp < 21:
            return _go_float_fixed(x)
        if m.endswith(".0"):
            m = m[:-2]
        return f"{m}e{exp:+03d}"
    if s.endswith(".0"):
        return s[:-2]
    return s


def _go_float_fixed(x: float) -> str:
    s = f"{x:.17g}"
    # shortest fixed repr that round-trips
    for p in range(1, 18):
        t = f"{x:.{p}g}"
        if float(t) == x:
            s = t
            break
    if "e" in s:
        from decimal import Decimal

        s = format(Decimal(s), "f")
    if s.endswith(".0"):
        s = s[:-2]
    return s


def _fixed_seconds(micros: int) -> str:
    sign = "-" if micros < 0 else ""
    a = abs(micros)
    return f"{sign}{a // 1_000_000}.{a % 1_000_000:06d}"


def _zeek_escape(s: str, seps: str) -> str:
    """Escape one value: backslash doubles, separators and control
    bytes become \\xNN, and a value that IS a marker ('-' unset,
    '(empty)') escapes its first byte so the reader keeps it literal
    (writer.go; ztest zeek-format-test)."""
    out = []
    first_forced = s in ("-", "(empty)")
    for j, ch in enumerate(s):
        if ch == "\\":
            out.append("\\\\")
        elif ch in seps or ch in ("\n", "\r") or ord(ch) < 0x20 or (
            j == 0 and first_forced
        ):
            for b in ch.encode("utf-8"):
                out.append(f"\\x{b:02x}")
        else:
            out.append(ch)
    return "".join(out)


def _zeek_type_name(dt: T.DataType, meta: str | None) -> str:
    if meta:
        return meta
    if isinstance(dt, T.TimestampType):
        return "time"
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return "double"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.ArrayType):
        return f"vector[{_zeek_type_name(dt.elementType, None)}]"
    return "string"


def _zeek_from_zed(zt: str) -> str | None:
    """zed type string (__zed_types sidecar) → zeek TSV type
    (zio/zeekio writer type mapping; zng-types.yaml)."""
    import re as _re

    zt = zt.strip()
    if zt == "port" or zt.startswith("port="):
        # the zed named type `port=uint16` is zeek's port type
        # (zeek-compat.md)
        return "port"
    if zt == "zenum" or zt.startswith("zenum="):
        # zeek enum round-trips as the named string type `zenum`
        # (zio/zeekio/parser.go:123 reader; types.go:39 writer)
        return "enum"
    zt = _re.sub(r"^([^\W\d][\w$.]*=)+", "", zt)
    if zt.startswith("enum(") or zt == "enum":
        # zed enum → zeek enum (zeek-compat.md type table)
        return "enum"
    if zt == "uint64":
        return "count"
    if zt.startswith(("int", "uint")) and zt[-1:].isdigit():
        return "int"
    if zt.startswith("float"):
        return "double"
    prim = {
        "ip": "addr", "net": "subnet", "duration": "interval",
        "time": "time", "bool": "bool", "string": "string",
    }
    if zt in prim:
        return prim[zt]
    if zt.startswith("[") and zt.endswith("]"):
        inner = _zeek_from_zed(zt[1:-1])
        return f"vector[{inner}]" if inner else None
    if zt.startswith("|[") and zt.endswith("]|"):
        inner = _zeek_from_zed(zt[2:-2])
        return f"set[{inner}]" if inner else None
    return None


def _flatten_fields(schema: T.StructType, hints: dict | None = None):
    """(dotted-name, DataType, zeek-type-or-None) per leaf; nested
    struct leaves inherit their top column's metadata subtree.
    Raises on types zeek TSV cannot carry (unions, nested
    containers) — zio/zeekio/writer.go's 'type cannot be
    represented' errors."""
    import re as _re2

    hints = hints or {}
    out = []

    def unrepresentable(dt: T.DataType) -> bool:
        if isinstance(dt, T.StructType):
            if "tag" in dt.fieldNames() and all(
                f.name == "tag" or _re2.fullmatch(r"[ve]\d+", f.name)
                for f in dt.fields
            ):
                return True  # per-row union — zeek has no union type
            return False
        if isinstance(dt, T.ArrayType):
            return isinstance(
                dt.elementType, (T.StructType, T.ArrayType, T.MapType)
            )
        return isinstance(dt, T.MapType)

    def walk(prefix, fields, meta):
        for f in fields:
            m = None
            if isinstance(meta, dict):
                m = meta.get(f.name)
            elif meta is None and f.metadata:
                m = f.metadata.get("zeek")
            if f.metadata and "zeek" in f.metadata:
                m = f.metadata["zeek"]
            name = f"{prefix}{f.name}"
            if unrepresentable(f.dataType):
                h0 = hints.get(name)
                if (
                    isinstance(h0, str)
                    and not (h0.startswith("(") and h0.endswith(")"))
                ):
                    # a union COLUMN whose per-row type is concrete
                    # (mixed string|set|vector stream): this block's
                    # rows carry one member — representable
                    # (zeekio/ztests/zeek-format-test)
                    out.append((name, f.dataType, _zeek_from_zed(h0)))
                    continue
                raise ValueError(
                    f"{name}: type cannot be represented in zeek format"
                )
            if isinstance(f.dataType, T.StructType):
                walk(f"{name}.", f.dataType.fields, m)
            else:
                zt = m if isinstance(m, str) else None
                if zt is None and name in hints:
                    h = hints[name]
                    if (
                        isinstance(h, str)
                        and h.startswith("(")
                        and h.endswith(")")
                        and "," in h
                    ):
                        # precise-type sidecar says UNION — zeek has
                        # no union type even when only one member is
                        # observed (zeekio/ztests/union-incompat)
                        raise ValueError(
                            f"{name}: type cannot be represented in "
                            "zeek format"
                        )
                    zt = _zeek_from_zed(h)
                out.append((name, f.dataType, zt))

    walk("", schema.fields, None)
    return out


def _render_value(v, dt: T.DataType, zt: str, sep: str, set_sep: str) -> str:
    if v is None:
        return "-"
    if isinstance(v, dict) and "tag" in v and all(
        k == "tag" or (k[:1] in "ve" and k[1:].isdigit()) for k in v
    ):
        # tagged-union cell (mixed-type column): render the active
        # member under the block's concrete zeek type
        # (zeekio/ztests/zeek-format-test)
        mv = next(
            (
                x
                for k, x in v.items()
                if k != "tag" and x is not None
            ),
            None,
        )
        if mv is None:
            return "-"
        if isinstance(mv, (list, tuple)):
            if len(mv) == 0:
                return "(empty)"
            inner = (
                zt[zt.index("[") + 1 : -1] if zt and "[" in zt else ""
            )
            return set_sep.join(
                _render_value(
                    e, T.StringType(), inner, sep + set_sep, set_sep
                )
                for e in mv
            )
        return _render_value(mv, T.StringType(), zt, sep, set_sep)
    if zt == "time" or isinstance(dt, T.TimestampType):
        from datetime import datetime, timezone

        if isinstance(v, datetime):
            from datetime import timedelta

            ref = v if v.tzinfo else v.replace(tzinfo=timezone.utc)
            epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
            micros = (ref - epoch) // timedelta(microseconds=1)
        elif isinstance(dt, T.LongType):
            # ns-opt-in time column (int64 ns, __zed_types hint)
            from zed_spark.functions.ztime import zeek_seconds_ns

            return zeek_seconds_ns(int(v))
        else:
            micros = int(v)
        return _fixed_seconds(micros)
    if zt == "interval":
        from zed_spark.functions.ztime import zeek_seconds_ns

        return zeek_seconds_ns(int(v))
    if isinstance(dt, T.BooleanType):
        return "T" if v else "F"
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        # zeekio renders floats with Go 'f' -1 (always positional,
        # format.go:35-38; 32-bit shortest for float columns), unlike
        # csvio's 'g'-derived form
        from zed_spark.functions.zfloat import format_float_positional

        bits = 32 if isinstance(dt, T.FloatType) else 64
        return format_float_positional(float(v), bits=bits)
    if isinstance(dt, T.ArrayType):
        if len(v) == 0:
            return "(empty)"
        inner = zt[zt.index("[") + 1 : -1] if zt and "[" in zt else ""
        return set_sep.join(
            _render_value(e, dt.elementType, inner, sep + set_sep, set_sep)
            for e in v
        )
    if isinstance(dt, T.StringType):
        return _zeek_escape(v, sep)
    return str(v)


def _render_rows(rows, fields):
    """Generator of zeek TSV lines for an iterable of Rows — a full
    header block first, '#path' restated on change. Used by both the
    driver-side text formatter and the distributed per-partition
    writer (each output part-file is a standalone zeek log)."""
    has_path = any(n == "_path" for n, _, _ in fields)
    body = [(n, dt, zt) for n, dt, zt in fields if n != "_path"]
    sep = "\t"
    cur_path: str | None = None
    wrote_header = False
    for row in rows:
        d = row.asDict(recursive=True)

        def get(dotted, d=d):
            cur = d
            for p in dotted.split("."):
                if not isinstance(cur, dict):
                    return None
                cur = cur.get(p)
            return cur

        p = get("_path") if has_path else None
        if not wrote_header:
            yield "#separator \\x09"
            yield f"#set_separator{sep},"
            yield f"#empty_field{sep}(empty)"
            yield f"#unset_field{sep}-"
            if p:
                yield f"#path{sep}{p}"
            yield f"#fields{sep}" + sep.join(n for n, _, _ in body)
            yield (
                f"#types{sep}"
                + sep.join(_zeek_type_name(dt, zt) for _, dt, zt in body)
            )
            cur_path = p
            wrote_header = True
        elif p != cur_path:
            yield f"#path{sep}{p if p else '-'}"
            cur_path = p
        yield sep.join(
            _render_value(get(n), dt, zt or "", sep, ",")
            for n, dt, zt in body
        )


def to_zeek_text(df: DataFrame) -> str:
    """Render a DataFrame as zeek TSV (zio/zeekio/writer.go). A text
    formatter like to_table_string — collects to the driver; use for
    test/preview-scale output, write_zeek for bulk sinks.

    If the frame carries per-row type identity (__zed_types), the
    first row's path→zed-type map overrides the widened static
    column types — uint64 renders as count, duration as interval
    seconds, ip/net as addr/subnet (zng-types.yaml)."""
    return zeek_text_rows(df.collect(), df.schema)


def zeek_text_rows(rows, schema: T.StructType) -> str:
    """to_zeek_text over already-collected rows of `schema`."""
    from pyspark.sql import Row

    from zed_spark.schema import is_union_type

    # value|error CARRIERS (struct<tag, v0, e1...>) unwrap to their
    # single value member before rendering: `cut my_record` plans a
    # carrier for missing-field semantics, but a zeek golden only
    # sees the value side (zson/ztests/cut-record). A row actually
    # holding the error alternative is unrepresentable, like the
    # reference writer's error.
    unwraps = {}
    for f in schema.fields:
        if (
            isinstance(f.dataType, T.StructType)
            and is_union_type(f.dataType)
            and [g.name for g in f.dataType.fields if g.name.startswith("v")]
            == ["v0"]
        ):
            unwraps[f.name] = f.dataType["v0"].dataType
    if unwraps:
        if any(
            r[c] is not None and r[c]["tag"] not in (0, None)
            for r in rows
            for c in unwraps
        ):
            raise ValueError(
                "error value: type cannot be represented in zeek format"
            )

        def unwrap(r):
            d = r.asDict()
            for c in unwraps:
                d[c] = None if d[c] is None else d[c]["v0"]
            return Row(**d)

        rows = [unwrap(r) for r in rows]
        schema = T.StructType([
            T.StructField(f.name, unwraps[f.name], True)
            if f.name in unwraps else f
            for f in schema.fields
        ])
    hints = {}
    sidecar = "__zed_types" in schema.fieldNames()
    if sidecar and rows and rows[0]["__zed_types"]:
        hints = dict(rows[0]["__zed_types"])
    vis = T.StructType(
        [f for f in schema.fields if not f.name.startswith("__zed_")]
    )
    if sidecar:
        sigs = {
            tuple(sorted((r["__zed_types"] or {}).items())) for r in rows
        }
        if len(sigs) > 1:
            # per-row record types differ: the reference re-emits
            # #path/#fields/#types on every type change
            # (zeekio/ztests/multizng) — render block-by-block with
            # each block's own type hints
            out: list[str] = []
            started = False
            cur_sig = object()
            for r in rows:
                h = dict(r["__zed_types"] or {})
                sig = tuple(sorted(h.items()))
                if sig != cur_sig:
                    fields = _flatten_fields(vis, h)
                    # restrict to the row-type's own fields when the
                    # root descriptor is known (mixed field sets)
                    if "" in h:
                        fields = [
                            f
                            for f in fields
                            if f[0] in h or f[0] == "_path"
                        ]
                    blk = list(
                        _render_rows([r], fields)
                    )
                    if started:
                        # drop the per-block preamble except
                        # #path/#fields/#types (writer.go re-emits
                        # only those on a type change)
                        blk = [
                            ln
                            for ln in blk
                            if not ln.startswith(
                                (
                                    "#separator",
                                    "#set_separator",
                                    "#empty_field",
                                    "#unset_field",
                                )
                            )
                        ]
                    out.extend(blk)
                    cur_sig = sig
                    started = True
                else:
                    body = [
                        (n, dt, zt) for n, dt, zt in fields if n != "_path"
                    ]
                    d = r.asDict(recursive=True)

                    def get(dotted, d=d):
                        cur = d
                        for p in dotted.split("."):
                            if not isinstance(cur, dict):
                                return None
                            cur = cur.get(p)
                        return cur

                    out.append(
                        "\t".join(
                            _render_value(get(n), dt, zt or "", "\t", ",")
                            for n, dt, zt in body
                        )
                    )
            return "\n".join(out) + ("\n" if out else "")
    fields = _flatten_fields(vis, hints)
    lines = list(_render_rows(rows, fields))
    return "\n".join(lines) + ("\n" if lines else "")


def write_zeek(df: DataFrame, path: str) -> None:
    """Distributed zeek TSV sink: each partition renders its own
    standalone log (header + rows) — no collect, no shuffle."""
    fields = _flatten_fields(df.schema)

    def part(rows):
        return _render_rows(rows, fields)

    df.rdd.mapPartitions(part).saveAsTextFile(path)
