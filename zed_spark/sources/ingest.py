"""Driver-side ZSON/value ingestion with full zed data-model fidelity.

Builds a DataFrame from parsed zed values carrying the hidden sidecar
columns the rest of the engine consults:

- ``__zed_missing``  — per-row dotted paths that were ABSENT in the
  input record (vs present-but-null), zed missing semantics
  (reference context.go:494); writers drop these fields per row.
- ``__zed_types``    — per-row {dotted path -> zed type string} for
  identity a single widened Spark schema erases (named types, sized
  ints, ip/net/duration, unions, sets, enums); typeof/is/nameof and
  the exact-format writers consult it.
- ``__zed_ns_<col>`` — int64 ns shadows for time columns with sub-us
  precision (nano.Ts, reference value.go:84) so lake objects keep the
  reference's exact bytes.

The text is parsed once (values, type descriptors and ns times in one
pass, zson.parse_zson_full) and handed to Spark as an Arrow table, so
the frame is a local relation: the lake write and its key stats read
columns instead of re-running Python rows.

Shared by the service load path and the ztest harness."""

from __future__ import annotations

import re

# ZSON text parses on the driver (the reference parses it
# single-goroutine too, zson/parser.go) — fine for request-bounded
# HTTP loads, wrong for bulk data.  Past this gate (mirroring the VNG
# gates) the parquet/CSV/JSON readers stay fully distributed.
_ZSON_INGEST_MAX_BYTES = 32 << 20
# a time literal with sub-µs digits: only such inputs carry ns shadows
_SUB_US = re.compile(r"\d{2}:\d{2}:\d{2}\.\d{7,}")


class NotIngested(ValueError):
    """A body the driver-side ingest leaves to the distributed
    readers: past the size gate, or holding no values."""


def missing_paths(v, t, prefix="") -> list[str]:
    """Dotted paths the merged schema has but THIS value lacks — the
    per-row absent-vs-null distinction the widened model otherwise
    erases (zed missing semantics, context.go:494). Only the topmost
    absent segment is recorded; access checks walk the prefix
    chain."""
    from pyspark.sql import types as T

    from zed_spark.sources.zson import ZMap

    out: list[str] = []
    if (
        isinstance(t, T.StructType)
        and isinstance(v, dict)
        and not isinstance(v, ZMap)
    ):
        for f in t.fields:
            p = f"{prefix}{f.name}"
            if f.name not in v:
                out.append(p)
            elif v[f.name] is None:
                # UNTYPED null (`null`, not null(string)): its type
                # is unknown, so typed functions reject it while a
                # typed null passes (ztest levenshtein)
                out.append(p + "\x00null")
            else:
                out.extend(missing_paths(v[f.name], f.dataType, p + "."))
    return out


def to_df(spark, values, tdescs=None, ns_shadows=None):
    from pyspark.sql import types as T

    from zed_spark.sources.zson import ZMap, _conform, _finalize, _infer_type, _merge_type

    if tdescs is not None and len(tdescs) == len(values):
        # ZNG set normalization happens at value-creation time in the
        # reference (complex.go NormalizeSet): stored set order is
        # the element encoding order, union-resolved per element
        from zed_spark.sources.restore import normalize_sets_in_place

        for v, d in zip(values, tdescs):
            try:
                normalize_sets_in_place(v, d)
            except Exception:
                pass
    records = all(isinstance(v, dict) and not isinstance(v, ZMap) for v in values)
    if not records:
        values = [{"this": v} for v in values]
    row_types = [_infer_type(v) for v in values]
    t = T.NullType()
    for rt in row_types:
        t = _merge_type(t, rt)
    t = _finalize(t)
    rows = [_conform(v, t) for v in values]
    miss = None
    if records and isinstance(t, T.StructType):
        miss = [missing_paths(v, t) for v in values]
    elif isinstance(t, T.StructType) and len(t.fields) == 1:
        # wrapped mixed stream ({this: v}): record VALUES inside the
        # this-union still have per-row presence against the union's
        # record member type
        from zed_spark.schema import is_union_type as _iu

        this_t = t.fields[0].dataType
        if isinstance(this_t, T.StructType) and _iu(this_t):
            rec_members = [
                f.dataType
                for f in this_t.fields[1:]
                if f.name.startswith("v")
                and isinstance(f.dataType, T.StructType)
            ]
            if len(rec_members) == 1:
                miss = [
                    missing_paths(v["this"], rec_members[0])
                    if isinstance(v["this"], dict)
                    and not isinstance(v["this"], ZMap)
                    else []
                    for v in values
                ]
    if miss is not None and any(miss):
        # mixed-shape stream: carry per-row presence in a hidden
        # column so absent fields can yield error("missing")
        # while present-but-null fields stay null
        t = T.StructType(
            list(t.fields)
            + [T.StructField("__zed_missing", T.ArrayType(T.StringType()))]
        )
        rows = [r + (m,) for r, m in zip(rows, miss)]
    tmaps = type_maps(values, tdescs, records, row_types)
    if records and isinstance(t, T.StructType):
        # per-row FIELD ORDER: distinct orders are distinct zed record
        # types; the fused schema's merge order erases them.  Recorded
        # under an aux key in the type sidecar when any row's own
        # order differs from the schema-filtered order.
        merged_names = [f.name for f in t.fields]
        orders = [list(v.keys()) for v in values]
        if any(
            o != [n for n in merged_names if n in set(o)] for o in orders
        ):
            if tmaps is None:
                tmaps = [{} for _ in values]
            for m, o in zip(tmaps, orders):
                m["\x00order"] = ",".join(o)
    if tmaps is not None:
        # per-row TYPE IDENTITY sidecar (ztypes.py): attached only
        # when some row's precise type (named types, sized ints,
        # ip/net/duration identity) differs from what static
        # inference would say — typeof/is/nameof consult it per row
        t = T.StructType(
            list(t.fields)
            + [
                T.StructField(
                    "__zed_types", T.MapType(T.StringType(), T.StringType())
                )
            ]
        )
        rows = [r + (m,) for r, m in zip(rows, tmaps)]
    if ns_shadows:
        # ns-exact int64 time shadows for the lake load path: object
        # size/stat goldens are ns-resolution (nano.Ts, value.go:84)
        # while Spark timestamps truncate to µs
        for col, ns_vals in ns_shadows.items():
            t = T.StructType(
                list(t.fields)
                + [T.StructField(f"__zed_ns_{col}", T.LongType())]
            )
            rows = [r + (nv,) for r, nv in zip(rows, ns_vals)]
    return _arrow_frame(spark, rows, t), (not records)


def _arrow_frame(spark, rows: list, t):
    """Rows conformed to the Spark schema `t` → a DataFrame over an
    Arrow table (a local relation: one columnar transfer, no Python
    RDD for later actions to re-run)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(t)
    cols = list(zip(*rows)) or [()] * len(schema)
    for i, f in enumerate(t.fields):
        if "map<" in f.dataType.simpleString():
            cols[i] = [_pickled_order(v, f.dataType) for v in cols[i]]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )
    return spark.createDataFrame(table, t)


def _pickled_order(v, t):
    """`v`, conformed to `t`, with each string-keyed map's entries in
    the order Spark stores a map it gets as a Python row, so a load
    through the Arrow frame writes the bytes that path wrote (the
    arrows/parquet renderings of a pool show its stored map order)."""
    from pyspark.sql import types as T

    if v is None:
        return v
    if isinstance(t, T.MapType):
        if isinstance(t.keyType, T.StringType):
            v = _java_map_order(v)
        return {k: _pickled_order(x, t.valueType) for k, x in v.items()}
    if isinstance(t, T.ArrayType):
        return [_pickled_order(x, t.elementType) for x in v]
    if isinstance(t, T.StructType) and isinstance(v, tuple):
        return tuple(_pickled_order(x, f.dataType) for x, f in zip(v, t.fields))
    return v


def _java_map_order(d: dict) -> dict:
    """A pickled dict of 2..1000 entries (one SETITEMS batch) is read
    into a default java.util.HashMap in reverse, which is copied into
    a HashMap sized for it (net.razorvine.pickle.Unpickler); Spark
    keeps that map's iteration order (ArrayBasedMapData).  A HashMap
    iterates by bucket, and within a bucket in insertion order."""
    n = len(d)
    if not 2 <= n <= 1000:
        return d
    keys = list(d)[::-1]
    cap = 16
    while n > cap * 3 // 4:
        cap *= 2
    keys.sort(key=lambda k: _java_hash(k) & (cap - 1))
    cap = 1 << (int(n / 0.75 + 1.0) - 1).bit_length()
    keys.sort(key=lambda k: _java_hash(k) & (cap - 1))
    return {k: d[k] for k in keys}


def _java_hash(s: str) -> int:
    """java.util.HashMap's spread of java.lang.String.hashCode."""
    b = s.encode("utf-16-be")
    h = 0
    for i in range(0, len(b), 2):
        h = (31 * h + (b[i] << 8 | b[i + 1])) & 0xFFFFFFFF
    return h ^ (h >> 16)


def ns_shadows(vals, ns_rows) -> dict | None:
    """{top-level time field → [int64 ns per row]} for a record
    stream parsed with track_ns, so a lake object keeps the exact ns
    values the reference stores (nano.Ts).  A field gets a shadow when
    it holds a time in some row and every row's value is a time
    literal or null."""
    from datetime import datetime as _dt

    if ns_rows is None or not all(isinstance(v, dict) for v in vals):
        return None
    cols: dict = {}
    names = {k for v in vals for k in v}
    for c in sorted(names):
        has_time = any(isinstance(v.get(c), _dt) for v in vals)
        clean = all(
            v.get(c) is None or isinstance(v.get(c), _dt) for v in vals
        )
        if not (has_time and clean):
            continue
        nsv = [r.get(c) for r in ns_rows]
        if all(x is None or isinstance(x, int) for x in nsv):
            cols[c] = nsv
    return cols or None


def type_maps(values, tdescs, records: bool, row_types=None):
    """Per-row {dotted path → zed type string} maps, or None when the
    descriptors add nothing beyond widened static inference.
    `row_types` are the rows' own inferred Spark types, if known."""
    if tdescs is None or len(tdescs) != len(values):
        return None
    from zed_spark.functions.introspect import zed_type_name
    from zed_spark.sources.zson import _finalize, _infer_type
    from zed_spark.sources.ztypes import path_descs, render

    precise = [render(d) for d in tdescs]
    # rows that differ from each other carry per-row identity a single
    # merged schema erases (const-type-is); otherwise the descriptors
    # inform only where a row's precise type differs from its own
    # widened static inference (named/sized/ip identity)
    need = len(set(precise)) > 1
    if not need:
        if row_types is None:
            row_types = [_infer_type(v) for v in values]
        static: dict = {}
        for p, rt in zip(precise, row_types):
            key = rt.simpleString()
            if key not in static:
                try:
                    static[key] = zed_type_name(_finalize(rt))
                except Exception:
                    static[key] = None
            if p != static[key]:
                need = True
                break
    if not need:
        return None
    maps: list[dict] = []
    for d, p in zip(tdescs, precise):
        if records:
            m = {}
            for path, dd in path_descs(d).items():
                m[path] = render(dd)
                if dd[0] == "typeval":
                    # type VALUES carry their denoted type under an
                    # aux key so kind()/nameof() see through them
                    m["\x00tv:" + path] = render(dd[1])
        else:
            m = {"": p}
            if d[0] == "typeval":
                m["\x00tv:"] = render(d[1])
        maps.append(m)
    return maps


def zson_text_to_df(spark, text: str):
    """One-stop driver-side ZSON ingest: one parse, sidecars, and an
    Arrow-backed local frame.

    Returns (DataFrame, wrapped) where wrapped is True when the input
    was a non-record value stream carried in a ``this`` column.
    Raises ZsonError when the text is not ZSON, and NotIngested past
    the size gate or when it holds no values; callers hand those
    bodies to the distributed readers."""
    from zed_spark.sources.zson import ZsonError, parse_zson_full

    if len(text) > _ZSON_INGEST_MAX_BYTES:
        raise NotIngested(
            f"zson ingest: input exceeds {_ZSON_INGEST_MAX_BYTES} bytes "
            f"— ZSON text parses on the driver; load parquet/csv/json "
            f"for data at scale"
        )
    try:
        p = parse_zson_full(text, track_ns=bool(_SUB_US.search(text)))
    except ZsonError:
        raise
    except ValueError as e:
        # a malformed literal (string escape, date, sized int) is a
        # ZSON syntax error too
        raise ZsonError(str(e)) from e
    if not p.values:
        raise NotIngested("no records found")
    return to_df(
        spark, p.values, p.descs, ns_shadows=ns_shadows(p.values, p.ns_rows)
    )
