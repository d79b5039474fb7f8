"""Order requirement of a pipeline's leading scan.

The reference tracks sort keys through the DAG (`SortKeys`,
`propagateSortKey`, compiler/optimizer/optimizer.go) and runs
`summarize` as parallel partials over an unordered scan
(parallelize.go), so its float sums are not sequential either.
`scan_needs_order` is the same decision for the one scan that can
skip its sort: the leading top-level `from`.  It reads the unordered
pool scan when no operator consumes row order before a `summarize`
whose aggregates are order-free resets it.  Every other pipeline
keeps the ordered scan; when in doubt, so does this pass.
"""

from __future__ import annotations

from zed_spark.lang.parser import AGG_FNS

# aggregates whose value does not depend on input order (a float sum
# or avg differs only by rounding, as in the reference's partials)
_ORDER_FREE_AGGS = frozenset(
    {"count", "sum", "avg", "min", "max", "dcount", "and", "or"}
)
# ops that pass rows through without looking at their order, as long
# as none of their expressions is a running aggregate
_NEUTRAL = frozenset({"where", "put", "cut", "drop", "rename", "pass"})
_ORDERED_AGGS = AGG_FNS | {"first", "last"}


def _holds_agg(x, user_funcs) -> bool:
    """True when the AST fragment calls an aggregate (a running
    aggregate in expression position consumes arrival order) or a
    user function, whose body this pass does not look into."""
    if isinstance(x, list):
        return any(_holds_agg(y, user_funcs) for y in x)
    if not isinstance(x, tuple):
        return False
    if x and x[0] == "call" and (x[1] in _ORDERED_AGGS or x[1] in user_funcs):
        return True
    return any(_holds_agg(y, user_funcs) for y in x)


def scan_needs_order(pipeline: list[tuple]) -> bool:
    """Whether the pipeline's leading `from` must scan in pool-key
    order.  False only when it starts with `from` and reaches an
    order-free `summarize` through neutral ops."""
    user_funcs = {f for n in pipeline if n[0] == "decls" for f in n[1]}
    ops = [n for n in pipeline if n[0] != "decls"]
    if not ops or ops[0][0] != "from":
        return True
    for node in ops[1:]:
        kind = node[0]
        if kind in _NEUTRAL:
            if _holds_agg(node[1:], user_funcs):
                return True
            continue
        if kind != "summarize":
            return True
        aggs, keys = node[1], node[2]
        return any(
            fn not in _ORDER_FREE_AGGS or _holds_agg([arg, where], user_funcs)
            for _alias, fn, arg, where in aggs
        ) or _holds_agg(keys, user_funcs)
    return True
