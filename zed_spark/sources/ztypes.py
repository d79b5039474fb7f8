"""Zed TYPE DESCRIPTORS: the per-value type identity of ZSON values.

The value model widens types (SURVEY §1.2): sized ints ride as int64,
ip/net as strings, named types dissolve. That widening erases the
per-row type identity the reference carries on every value (zed/super
data model: values are (type, bytes)) — which `typeof`/`is`/`nameof`/
`kind` and several writers observe.

The ZSON parser (zson.py) returns a small descriptor tree beside each
value it parses, built with this module's grammar: the lexical type of
a bare token (`classify_token`), decorators `(int32)`, `(=name)`,
`(name)`, `(name=type)` (`decorate`) and type syntax
(`parse_type_string`). Descriptors render to canonical zed type syntax
with the first-occurrence convention for named types (`name=def` at
the first DFS occurrence, bare `name` afterwards — zson.md §2.3),
which is exactly what `typeof(this)` prints in the reference
(runtime/ztests/expr/function/typeof.yaml).

Per-row type tracking stays an opt-in sidecar: ingest attaches a
`__zed_types` map column only when some row's precise type differs
from what static inference would say (zed_spark/lang/compiler.py
consults it in typeof/is/nameof/kind/typeunder). This module also
holds the reference's type order (`compare_descs`, `type_sort_key`).

Reference parity: zson/parser.go (type decorators), zed.TypeRecord/
TypeNamed rendering in zson/formatter.go:Typedef.
"""

from __future__ import annotations

import re

# descriptor forms (plain tuples so they hash/compare):
#   ("prim", name)
#   ("record", ((field, desc), ...))
#   ("array", elem) / ("set", elem)
#   ("map", key, val)
#   ("union", (desc, ...))
#   ("named", name, inner)
#   ("typeval", denoted)   — a value of type `type`
#   ("error", inner)
#   ("enum", (sym, ...))

# dots allowed: the reference's zson marshaler decorates Go types in
# package style (zson/marshal.go StylePackage → `order.Which`,
# `data.Object`, `lake.BranchTip` — lake/ztests/meta.yaml)
_IDENT = re.compile(r"[^\W\d][\w$.]*", re.UNICODE)
_INT = re.compile(r"[+-]?\d+$")
_HEX = re.compile(r"0x(?:[0-9a-fA-F]{2})*$")
_TIME = re.compile(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}")
_DUR = re.compile(r"[+-]?(\d+(\.\d+)?(ns|us|ms|s|m|h|d|w|y))+$")
_IP4 = re.compile(r"(\d{1,3}\.){3}\d{1,3}$")
_IP6 = re.compile(r"[0-9a-fA-F:]*:[0-9a-fA-F:.]*$")
_NET = re.compile(r".+/\d{1,3}$")

_PRIMS = {
    "uint8", "uint16", "uint32", "uint64", "uint128", "uint256",
    "int8", "int16", "int32", "int64", "int128", "int256",
    "float16", "float32", "float64", "float128", "float256",
    "bool", "string", "bytes", "time", "duration", "ip", "net",
    "type", "null", "decimal32", "decimal64", "decimal128",
    "decimal256",
}


def classify_token(tok: str) -> str:
    """zed primitive implied by a bare token's lexical form
    (zson.md §3.4 type syntax / implied values)."""
    if tok == "null":
        return "null"
    if tok in ("true", "false"):
        return "bool"
    if tok in ("Inf", "+Inf", "-Inf", "NaN"):
        return "float64"
    if _HEX.match(tok):
        return "bytes"
    if _INT.match(tok):
        return "int64"
    if _TIME.match(tok):
        return "time"
    if _DUR.match(tok) and not _INT.match(tok):
        return "duration"
    if _NET.match(tok):
        head = tok.rsplit("/", 1)[0]
        if _IP4.match(head) or (":" in head and _IP6.match(head)):
            return "net"
    if _IP4.match(tok):
        return "ip"
    if ":" in tok and _IP6.match(tok) and tok.count(":") >= 2:
        return "ip"
    try:
        float(tok)
        return "float64"
    except ValueError:
        pass
    return "string"


def parse_type_string(s: str, named: dict | None = None):
    """zed type syntax → descriptor (`named` resolves bare refs and
    receives inline `name=def` definitions)."""
    named = {} if named is None else named
    s = s.strip()
    if not s:
        return ("prim", "null")
    m = _IDENT.match(s)
    if m and m.end() < len(s) and s[m.end()] == "=" and not s.startswith(
        ("{", "[", "(", "|")
    ):
        name = m.group(0)
        inner = parse_type_string(s[m.end() + 1 :], named)
        named[name] = inner
        return ("named", name, inner)
    if s in _PRIMS:
        return ("prim", s)
    if s in named:
        return ("named", s, named[s])
    if s.startswith("{") and s.endswith("}"):
        fields = []
        for part in _split_top(s[1:-1], ","):
            if not part.strip():
                continue
            fname, _, ftyp = _partition_top(part)
            fname = fname.strip()
            if fname.startswith('"') and fname.endswith('"'):
                import json

                fname = json.loads(fname)
            fields.append((fname, parse_type_string(ftyp, named)))
        return ("record", tuple(fields))
    if s.startswith("|[") and s.endswith("]|"):
        return ("set", parse_type_string(s[2:-2], named))
    if s.startswith("[") and s.endswith("]"):
        return ("array", parse_type_string(s[1:-1], named))
    if s.startswith("|{") and s.endswith("}|"):
        k, _, v = _partition_top(s[2:-2])
        return ("map", parse_type_string(k, named), parse_type_string(v, named))
    if s.startswith("(") and s.endswith(")"):
        return (
            "union",
            tuple(parse_type_string(p, named) for p in _split_top(s[1:-1], ",")),
        )
    if s.startswith("enum(") and s.endswith(")"):
        return ("enum", tuple(p.strip() for p in s[5:-1].split(",")))
    if s.startswith("error(") and s.endswith(")"):
        return ("error", parse_type_string(s[6:-1], named))
    # unknown name: keep as opaque named ref
    return ("prim", s)


def _split_top(s: str, sep: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "{[(<":
            depth += 1
        elif ch in "}])>":
            depth -= 1
        if ch == sep and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out


def _partition_top(s: str) -> tuple[str, str, str]:
    """Split name:type at the first depth-0 colon."""
    depth = 0
    for i, ch in enumerate(s):
        if ch in "{[(<":
            depth += 1
        elif ch in "}])>":
            depth -= 1
        elif ch == ":" and depth == 0:
            return s[:i], ":", s[i + 1 :]
    return s, "", ""


def render(desc, defined: set | None = None) -> str:
    """Descriptor → canonical zed type syntax. Named types expand at
    their first occurrence in this render, bare name afterwards."""
    if defined is None:
        defined = set()
    k = desc[0]
    if k == "prim":
        return desc[1]
    if k == "named":
        name, inner = desc[1], desc[2]
        if name in defined:
            return name
        defined.add(name)
        return f"{name}={render(inner, defined)}"
    if k == "record":
        return (
            "{"
            + ",".join(f"{n}:{render(t, defined)}" for n, t in desc[1])
            + "}"
        )
    if k == "array":
        return f"[{render(desc[1], defined)}]"
    if k == "set":
        return f"|[{render(desc[1], defined)}]|"
    if k == "map":
        return f"|{{{render(desc[1], defined)}:{render(desc[2], defined)}}}|"
    if k == "union":
        return "(" + ",".join(render(m, defined) for m in desc[1]) + ")"
    if k == "typeval":
        return "type"
    if k == "error":
        return f"error({render(desc[1], defined)})"
    if k == "enum":
        return "enum(" + ",".join(desc[1]) + ")"
    raise ValueError(f"bad descriptor {desc!r}")


# zed primitive type IDs (reference type.go:107-138) — the CompareTypes
# tiebreak for primitives
_PRIM_ID = {
    "uint8": 0, "uint16": 1, "uint32": 2, "uint64": 3, "uint128": 4,
    "uint256": 5, "int8": 6, "int16": 7, "int32": 8, "int64": 9,
    "int128": 10, "int256": 11, "duration": 12, "time": 13,
    "float16": 14, "float32": 15, "float64": 16, "float128": 17,
    "float256": 18, "decimal32": 19, "decimal64": 20, "decimal128": 21,
    "decimal256": 22, "bool": 23, "bytes": 24, "string": 25, "ip": 26,
    "net": 27, "type": 28, "null": 29,
}
# Kind ordering (reference type.go:46-55)
_KIND_RANK = {
    "prim": 0, "typeval": 0, "record": 1, "array": 2, "set": 3,
    "map": 4, "union": 5, "enum": 6, "error": 7,
}


def compare_descs(a, b) -> int:
    """Port of the reference's CompareTypes (type.go:396-470): total
    order over types — kind rank first, then per-kind details; a
    named type orders after its underlying type, two named types
    sharing an underlying order by name."""
    if a == b:
        return 0
    au = a[2] if a[0] == "named" else a
    bu = b[2] if b[0] == "named" else b
    if render(au) == render(bu):
        # same underlying type id (type.go:398-413)
        if a[0] == "named" and b[0] == "named":
            return (a[1] > b[1]) - (a[1] < b[1])
        if a[0] == "named":
            return 1
        if b[0] == "named":
            return -1
        return 0
    ra, rb = _KIND_RANK.get(au[0], 0), _KIND_RANK.get(bu[0], 0)
    if ra != rb:
        return (ra > rb) - (ra < rb)
    k = au[0]
    if k in ("prim", "typeval"):
        ia = _PRIM_ID.get(au[1] if k == "prim" else "type", 30)
        ib = _PRIM_ID.get(bu[1] if bu[0] == "prim" else "type", 30)
        return (ia > ib) - (ia < ib)
    if k == "record":
        fa, fb = au[1], bu[1]
        if len(fa) != len(fb):
            return (len(fa) > len(fb)) - (len(fa) < len(fb))
        for (na, _), (nb, _) in zip(fa, fb):
            if na != nb:
                return (na > nb) - (na < nb)
        for (_, ta), (_, tb) in zip(fa, fb):
            c = compare_descs(ta, tb)
            if c:
                return c
        return 0
    if k in ("array", "set", "error"):
        return compare_descs(au[1], bu[1])
    if k == "map":
        c = compare_descs(au[1], bu[1])
        return c or compare_descs(au[2], bu[2])
    if k == "union":
        ma, mb = au[1], bu[1]
        if len(ma) != len(mb):
            return (len(ma) > len(mb)) - (len(ma) < len(mb))
        for ta, tb in zip(ma, mb):
            c = compare_descs(ta, tb)
            if c:
                return c
        return 0
    if k == "enum":
        sa, sb = au[1], bu[1]
        if len(sa) != len(sb):
            return (len(sa) > len(sb)) - (len(sa) < len(sb))
        for x, y in zip(sa, sb):
            if x != y:
                return (x > y) - (x < y)
        return 0
    return 0


def canon_desc(d):
    """Canonicalize a descriptor the way the reference type context
    does: union members sort by CompareTypes at type-creation time
    (context.go:200-203 LookupTypeUnion) — union value tags refer to
    the CANONICAL member order."""
    import functools

    k = d[0]
    if k in ("prim", "enum"):
        return d
    if k == "named":
        return ("named", d[1], canon_desc(d[2]))
    if k == "record":
        return (
            "record",
            tuple((n, canon_desc(t)) for n, t in d[1]),
        )
    if k in ("array", "set", "error"):
        return (k, canon_desc(d[1]))
    if k == "map":
        return ("map", canon_desc(d[1]), canon_desc(d[2]))
    if k == "union":
        members = [canon_desc(m) for m in d[1]]
        members.sort(key=functools.cmp_to_key(compare_descs))
        return ("union", tuple(members))
    if k == "typeval":
        return ("typeval", canon_desc(d[1]))
    return d


def path_descs(desc, prefix: str = "") -> dict[str, object]:
    """Dotted path → descriptor for the value and every record
    subfield (named wrappers are kept at the path where they apply
    but traversal continues through them)."""
    out = {prefix or "": desc}
    inner = desc
    while inner[0] == "named":
        inner = inner[2]
    if inner[0] == "record":
        for n, t in inner[1]:
            p = f"{prefix}.{n}" if prefix else n
            out.update(path_descs(t, p))
    return out


def merge_elem_descs(descs: list):
    """Element type of a heterogeneous container: the single type if
    uniform, else a union in first-seen order (zson reader
    inference)."""
    seen: list = []
    for d in descs:
        if d not in seen:
            seen.append(d)
    if not seen:
        return ("prim", "null")
    # a sole null element list types as [null]; null + T types as T
    # (null is a member of every type)
    nonnull = [d for d in seen if d != ("prim", "null")]
    if not nonnull:
        return ("prim", "null")
    if len(nonnull) == 1:
        return nonnull[0]
    # the reference's type context canonicalizes union member order
    # (CompareTypes — type.go LookupTypeUnion); redefined named types
    # keep distinct members (zson/ztests/redefined-named-types)
    return (
        "union",
        tuple(sorted(nonnull, key=lambda d: type_sort_key(render(d)))),
    )


def decorate(d, typ: str, named: dict):
    """The descriptor of a value of descriptor `d` decorated `(typ)`:
    `(=name)` names it, `(name=type)` defines and applies a type, a
    defined name or primitive applies it, and any other type
    ascription (`({a:int32})`, `((int64,string))`) parses whole.
    `named` (name → descriptor) receives the definitions."""
    if typ.startswith("="):
        name = typ[1:]
        if not name:
            return d
        if d[0] == "typeval":
            # (=name) on a type VALUE names the DENOTED type
            # (nameof.yaml: <{x:int64}>(=bar) counts as bar)
            named[name] = d[1]
            return ("typeval", ("named", name, d[1]))
        inner = d[2] if d[0] == "named" and d[1] == name else d
        named[name] = inner
        return ("named", name, inner)
    m = _IDENT.match(typ)
    if (
        m
        and m.end() < len(typ)
        and typ[m.end()] == "="
        and not typ.startswith(("{", "[", "(", "|"))
    ):
        # (name=type): define AND apply
        name = m.group(0)
        inner = parse_type_string(typ[m.end() + 1 :], named)
        named[name] = inner
        return ("named", name, inner)
    if typ in named:
        return ("named", typ, named[typ])
    if typ in _PRIMS:
        return ("prim", typ)
    try:
        return parse_type_string(typ, named)
    except Exception:
        return d


# zed type IDs (reference type.go:105-137) — CompareTypes orders
# primitives by ID, complex types by Kind then structure
_TYPE_IDS = {
    "uint8": 0, "uint16": 1, "uint32": 2, "uint64": 3,
    "uint128": 4, "uint256": 5,
    "int8": 6, "int16": 7, "int32": 8, "int64": 9,
    "int128": 10, "int256": 11,
    "duration": 12, "time": 13,
    "float16": 14, "float32": 15, "float64": 16,
    "float128": 17, "float256": 18,
    "decimal32": 19, "decimal64": 20, "decimal128": 21,
    "decimal256": 22,
    "bool": 23, "bytes": 24, "string": 25, "ip": 26, "net": 27,
    "type": 28, "null": 29,
}
_KIND = {
    "prim": 0, "record": 1, "array": 2, "set": 3, "map": 4,
    "union": 5, "enum": 6, "error": 7,
}


def type_sort_key(s: str) -> str:
    """A string whose lexicographic order reproduces the reference's
    CompareTypes total order over type VALUES (type.go:396 — kind
    first, primitives by ID, records by arity/names/field-types,
    named types after their underlying type then by name). Drives
    `sort` over type values (runtime/ztests/op/sort/sort-types)."""

    def key(d) -> str:
        k = d[0]
        if k == "named":
            # same ID as the underlying: underlying key, then a
            # marker that sorts after the plain form, then the name
            return key(d[2]) + "~" + d[1]
        if k == "prim":
            return f"0.{_TYPE_IDS.get(d[1], 99):02d}"
        if k == "record":
            names = ".".join(n for n, _t in d[1])
            types = "".join("(" + key(t) + ")" for _n, t in d[1])
            return f"1.{len(d[1]):04d}.{names}.{types}"
        if k == "array":
            return "2(" + key(d[1]) + ")"
        if k == "set":
            return "3(" + key(d[1]) + ")"
        if k == "map":
            return "4(" + key(d[1]) + ")(" + key(d[2]) + ")"
        if k == "union":
            return f"5.{len(d[1]):04d}" + "".join(
                "(" + key(m) + ")" for m in d[1]
            )
        if k == "enum":
            return f"6.{len(d[1]):04d}." + ".".join(d[1])
        if k == "error":
            return "7(" + key(d[1]) + ")"
        return "9" + repr(d)

    try:
        return key(parse_type_string(s))
    except Exception:
        return "9" + s


def type_value_len(s: str | None) -> int | None:
    """len(<type>) — the reference's len over type values
    (function/len.go TypeOfType case): records count fields, unions
    count members, arrays/sets recurse into the element, named types
    defer to the underlying, primitives are 1
    (runtime/ztests/expr/function/len)."""
    if not s:
        return None
    try:
        d = parse_type_string(s)
    except Exception:
        return None

    def n(d) -> int:
        while d[0] == "named":
            d = d[2]
        if d[0] == "record":
            return len(d[1])
        if d[0] == "union":
            return len(d[1])
        if d[0] in ("array", "set", "error"):
            return n(d[1])
        if d[0] == "map":
            return n(d[1]) + n(d[2])
        if d[0] == "enum":
            return len(d[1])
        return 1

    return n(d)


def value_kind_rank(s: str | None) -> int | None:
    """Cross-type VALUE ordering rank (reference sort.go
    compareValues): all numbers — type ID ≤ decimal256, which
    includes duration and time (type.go:162 IsNumber) — compare
    numerically, so they share rank 0; any other pair of differing
    types orders by CompareTypes (primitive ID, then complex kind).
    Drives the per-row pre-key for `sort` over mixed-type streams
    (groupby/ztests/different-key-types)."""
    if not s:
        return None
    try:
        d = parse_type_string(s)
    except Exception:
        return None
    while d[0] == "named":
        d = d[2]
    if d[0] == "prim":
        i = _TYPE_IDS.get(d[1], 29)
        return 0 if i <= 22 else i
    if d[0] == "typeval":
        return 28
    return 30 + _KIND.get(d[0], 9)


def canonical_type_string(s: str) -> str:
    """Canonicalize a type string: union members sort into
    CompareTypes order (the reference's type context normalizes
    union member order — type.go LookupTypeUnion)."""

    def canon(d):
        k = d[0]
        if k == "union":
            ms = tuple(sorted((canon(m) for m in d[1]), key=_desc_key))
            return ("union", ms)
        if k == "record":
            return ("record", tuple((n, canon(t)) for n, t in d[1]))
        if k in ("array", "set", "error"):
            return (k, canon(d[1]))
        if k == "map":
            return ("map", canon(d[1]), canon(d[2]))
        if k == "named":
            return ("named", d[1], canon(d[2]))
        return d

    def _desc_key(d):
        return type_sort_key(render(d))

    return render(canon(parse_type_string(s)))


def fuse_descs(a, b):
    """Fuse two type descriptors the way the fuse AGGREGATE merges
    value types across a group (agg/schema.go merge()): records merge
    field-wise, arrays/sets merge element-wise (mixed array+set →
    array), maps merge key- and value-wise, and ANY two distinct
    primitives form a union — merge() never widens numerics (int32 +
    int64 is int32|int64, not int64; time/duration never reclassify).
    Records inside a union fold into one (mergeAllRecords)."""
    if a == b:
        return a
    if a == ("prim", "null"):
        return b
    if b == ("prim", "null"):
        return a
    while a[0] == "named":
        a = a[2]
    while b[0] == "named":
        b = b[2]
    if a == b:
        return a
    if a[0] == "record" and b[0] == "record":
        fields = list(a[1])
        names = {n for n, _ in fields}
        bmap = dict(b[1])
        out = []
        for n, d in fields:
            out.append((n, fuse_descs(d, bmap[n]) if n in bmap else d))
        for n, d in b[1]:
            if n not in names:
                out.append((n, d))
        return ("record", tuple(out))
    if a[0] in ("array", "set") and b[0] in ("array", "set"):
        # set+set stays a set; any array in the pair → array
        # (agg/schema.go merge() array/set cross cases)
        kind = "set" if a[0] == "set" and b[0] == "set" else "array"
        return (kind, fuse_descs(a[1], b[1]))
    if a[0] == "map" and b[0] == "map":
        return ("map", fuse_descs(a[1], b[1]), fuse_descs(a[2], b[2]))
    # irreconcilable → union, flattening nested unions; records inside
    # the union merge into ONE record member (mergeAllRecords), then
    # canonical member order
    members: list = []
    for d in (a, b):
        for m in d[1] if d[0] == "union" else (d,):
            if m not in members:
                members.append(m)
    recs = [m for m in members if m[0] == "record"]
    if len(recs) > 1:
        folded = recs[0]
        for r in recs[1:]:
            folded = fuse_descs(folded, r)
        members = [m for m in members if m[0] != "record"]
        if folded not in members:
            members.append(folded)
    if len(members) == 1:
        return members[0]
    return (
        "union",
        tuple(sorted(members, key=lambda d: type_sort_key(render(d)))),
    )


def fuse_type_strings(strings) -> str | None:
    """Fold fuse_descs over rendered type strings (the __zed_types
    per-row identities collected in a fuse() aggregate group)."""
    acc = None
    for s in strings or []:
        if not s:
            continue
        try:
            d = parse_type_string(s)
        except Exception:
            continue
        acc = d if acc is None else fuse_descs(acc, d)
    return render(acc) if acc is not None else None
