"""Reference-exact float64 text form.

The reference renders every float64 through one function
(zson/formatter.go:803-809 formatPrimitive):

    if f == float64(int64(f)) { fmt.Sprintf("%d.", int64(f)) }
    else                      { strconv.FormatFloat(f, 'g', -1, 64) }

so integer-valued floats print with a trailing dot ("3.",
"10000000000000000."), non-integers print Go's shortest round-trip
'g' form ("1.5", "1e-05", "1.2345678901234568e+20"), and the
non-finite values fall to the 'g' branch ("+Inf", "-Inf", "NaN" —
int64(Inf/NaN) never equals the input). The int64 conversion bounds
the dot form to [-2^63, 2^63): above it Go's float→int64 overflow
makes the equality fail (all float64 ≥ 2^53 are integral, so the 'g'
branch there is still exact).

Python's repr() is also shortest-round-trip with the same
exponent-form thresholds ('e' when exp < -4; magnitudes ≥ 1e16 are
always integral so the dot branch absorbs the upper range up to
2^63), and formats exponents as e±NN like Go — so repr matches
strconv 'g' on the non-integer branch.

This was a round-11 catch of the round-10 zigzag class: the ZSON and
ZJSON writers each had their own float rendering ("3.0", "3") that
round-tripped against our own parser while diverging byte-wise from
reference output. One shared function now feeds zson/_dump_value
and zjson; vectors pinned in tests/test_codec_vectors.py.
"""

from __future__ import annotations

import math

_INT64_MIN = -(2**63)
_INT64_MAX = 2**63  # exclusive


def format_float64(f: float) -> str:
    f = float(f)
    if math.isnan(f):
        return "NaN"
    if math.isinf(f):
        return "+Inf" if f > 0 else "-Inf"
    if f == int(f) and _INT64_MIN <= f < _INT64_MAX:
        return f"{int(f)}."
    return repr(f)


def format_float32(f: float) -> str:
    """float32 (and float16 — the reference formats both with 32-bit
    shortest, zson/formatter.go:789-802): '%d.' when the value equals
    an int64, else Go strconv 'g' -1 32 — the shortest digits that
    round-trip through FLOAT32, so 0.1f prints "0.1", not the
    17-digit double expansion. numpy repr is the 32-bit shortest
    analog."""
    f = float(f)
    if math.isnan(f):
        return "NaN"
    if math.isinf(f):
        return "+Inf" if f > 0 else "-Inf"
    if f == int(f) and _INT64_MIN <= f < _INT64_MAX:
        return f"{int(f)}."
    import numpy as np

    return repr(np.float32(f))


def format_float_json(f: float) -> str:
    """Go encoding/json float64 text (the reference's `-f json`
    writer marshals floats through it, zio/jsonio/writer.go:215,234):
    shortest positional form for |f| in [1e-6, 1e21) (ES6-style —
    0.00001, not 1e-05), else shortest 'e' form with the exponent's
    leading zero trimmed (1e-7, not 1e-07). NaN/Inf keep Python
    json's spellings (Go json refuses them outright; errors are
    values in this engine)."""
    f = float(f)
    if math.isnan(f):
        return "NaN"
    if math.isinf(f):
        return "Infinity" if f > 0 else "-Infinity"
    a = abs(f)
    if a == 0.0 or 1e-6 <= a < 1e21:
        return format_float_positional(f)
    s = repr(f)  # always exponent form out here; e±NN like Go 'e'
    return s.replace("e-0", "e-", 1)


def format_float_positional(f: float, bits: int = 64) -> str:
    """Go strconv.FormatFloat(f, 'f', -1, bits): shortest round-trip
    digits rendered POSITIONALLY, never exponent form — what the
    reference's zeekio writer (and through it textio/tableio) emits
    for floats (zio/zeekio/format.go:35-38). numpy's
    format_float_positional is the exact analog (unique shortest
    digits, Dragon4)."""
    f = float(f)
    if math.isnan(f):
        return "NaN"
    if math.isinf(f):
        return "+Inf" if f > 0 else "-Inf"
    import numpy as np

    v = np.float32(f) if bits == 32 else np.float64(f)
    return np.format_float_positional(v, trim="-")
