"""Property-based check of the textual RoundingMode.UNNECESSARY predicate
(`decimal_roundtrip_ok(from_string=True)`) against Python's ``decimal``
module as an independent BigDecimal-semantics oracle.

Ground truth: a string fits decimal(p, s) exactly iff it parses as a
finite decimal, has no surrounding whitespace (BigDecimal(String)
rejects it), its normalized fraction needs at most ``s`` digits, and its
integer part needs at most ``p - s`` digits.
"""

from __future__ import annotations

from decimal import MAX_EMAX, MIN_EMIN, Decimal, InvalidOperation, localcontext

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def py_fits(v: str, p: int, s: int) -> bool:
    if v != v.strip() or not v:
        return False
    if "_" in v:  # Decimal tolerates none, but guard explicitly
        return False
    try:
        d = Decimal(v)
    except InvalidOperation:
        return False
    if not d.is_finite():
        return False
    # normalize() rounds at context precision (default 28) — a
    # 29-significant-digit value would silently round and read as exact.
    # Use a context wide enough for any generated mantissa+exponent.
    with localcontext() as ctx:
        ctx.prec = 500
        ctx.Emax, ctx.Emin = MAX_EMAX, MIN_EMIN  # '1E1000000' must not overflow
        t = d.normalize()
    digits, exp = t.as_tuple().digits, t.as_tuple().exponent
    frac_digits = max(0, -exp)
    if frac_digits > s:
        return False
    int_digits = 0 if t == 0 else max(0, len(digits) + exp)
    return int_digits <= p - s


_digits = st.text("0123456789", min_size=1, max_size=25)
_maybe_digits = st.text("0123456789", min_size=0, max_size=25)


@st.composite
def dec_strings(draw) -> str:
    sign = draw(st.sampled_from(["", "+", "-"]))
    intp = draw(_maybe_digits)
    frac = draw(st.one_of(st.none(), _maybe_digits))
    out = sign + intp
    if frac is not None:
        out += "." + frac
    if draw(st.booleans()):
        out += (
            draw(st.sampled_from(["e", "E"]))
            + draw(st.sampled_from(["", "+", "-"]))
            + draw(st.text("0123456789", min_size=1, max_size=3))
        )
    return out


_garbage = st.text(
    "0123456789.eE+- _x", min_size=0, max_size=12
)  # malformed shapes, whitespace, underscores


@pytest.mark.parametrize("p,s", [(5, 2), (2, 2), (38, 10), (38, 0), (30, 5), (38, 12)])
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(vals=st.lists(st.one_of(dec_strings(), _garbage), min_size=1, max_size=150))
# pinned corner cases (VERDICT r4 #8 — randomized examples once shipped a
# red test as green): zero-with-exponent, trailing-zero fractions at the
# scale boundary, whitespace/underscore rejects, bare signs and dots
@example(vals=["0e10", "0E-10", "-0.00e5", "0.000"])
@example(vals=["12.30", "12.300", "1e2", "0.1e1", "99999999999999999999.999"])
@example(vals=[" 1.0", "1.0 ", "1_0", "+", "-", ".", "e5", "1.2.3", ""])
@example(vals=["1E1000000", "1E-1000000", "0E1000000"])
def test_textual_decimal_matches_python_decimal(spark, p, s, vals):
    from avro_conversions_spark.schema.resolution import decimal_roundtrip_ok

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = df.select(
        "v", decimal_roundtrip_ok(F.col("v"), p, s, from_string=True).alias("ok")
    ).collect()
    for r in got:
        assert r.ok == py_fits(r.v, p, s), (r.v, p, s, r.ok)
