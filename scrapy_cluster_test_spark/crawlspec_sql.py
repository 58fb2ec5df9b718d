"""Spark-native forms of crawlspec's 64-bit integer functions.

The fetch simulation (sources/fetchsim.py: status codes and the child
fan-out) must equal the oracle simulator, so it evaluates crawlspec's
splitmix64 (``crawlspec.mix64``) and unsigned remainders inside the JVM,
as plain Column arithmetic. Spark runs with ANSI arithmetic on, so a
64-bit product that wraps raises ARITHMETIC_OVERFLOW; every product here
is therefore built from 16- and 32-bit limbs whose partial sums stay
below 2^63, and only bitwise operations (which never check overflow)
touch the sign bit. A column holds the unsigned 64-bit value's bits as a
signed ``bigint``, exactly as the numpy forms view ``uint64`` as
``int64``. (The Bloom filter's bit positions need no such parity and use
Spark's native ``xxhash64`` — operators/seen.py.)

Plan size: every limb product references its operand several times, so a
mix64 written as one nested expression re-inlines its input at each
reference and grows exponentially. ``with_mix64`` instead binds each
multiply step as columns of its own one-row generator (``_bind``), and
mixes several inputs side by side in the same three steps; within a step,
codegen's subexpression elimination evaluates the repeated limbs once per
row.

Parity with ``crawlspec.mix64_np`` and the unsigned remainder at the int64
edges is pinned in tests/test_native_kernels.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import crawlspec as spec

_M32 = 0xFFFFFFFF
_M16 = 0xFFFF


def s64(v: int) -> int:
    """An unsigned 64-bit constant as the signed long with the same bits."""
    v &= spec.MASK
    return v - (1 << 64) if v >= 1 << 63 else v


def _lo32(x: Column) -> Column:
    return x.bitwiseAND(F.lit(_M32))


def _hi32(x: Column) -> Column:
    return F.shiftrightunsigned(x, 32)


def _pack(hi: Column, lo: Column) -> Column:
    """(hi·2^32 + lo) mod 2^64 from limbs < 2^34 (carries above bit 31 of
    ``hi`` drop out)."""
    return F.shiftleft(hi, 32).bitwiseOR(_lo32(lo))


def _mul32(a: Column, c: int) -> Column:
    """(a·c) mod 2^32 for 0 ≤ a, c < 2^32, as a value < 2^49 whose low 32
    bits are the result (the caller masks)."""
    a0 = a.bitwiseAND(F.lit(_M16))
    a1 = F.shiftrightunsigned(a, 16)
    return a0 * F.lit(c) + F.shiftleft((a1 * F.lit(c)).bitwiseAND(F.lit(_M16)), 16)


def _add64(x: Column, c: int) -> Column:
    """(x + c) mod 2^64."""
    c &= spec.MASK
    lo = _lo32(x) + F.lit(c & _M32)
    hi = _hi32(x) + F.lit(c >> 32) + F.shiftrightunsigned(lo, 32)
    return _pack(hi, lo)


def _mul64(x: Column, c: int) -> Column:
    """(x · c) mod 2^64 for a constant c."""
    c &= spec.MASK
    cl, ch = c & _M32, c >> 32
    xl, xh = _lo32(x), _hi32(x)
    # xl·cl exactly, in two 48-bit partial products
    p0 = xl * F.lit(cl & _M16)
    p1 = xl * F.lit(cl >> 16)
    t = _lo32(p0) + F.shiftleft(p1.bitwiseAND(F.lit(_M16)), 16)
    carry = (
        F.shiftrightunsigned(p0, 32)
        + F.shiftrightunsigned(p1, 16)
        + F.shiftrightunsigned(t, 32)
    )
    hi = carry + _mul32(xl, ch) + _mul32(xh, cl)
    return _pack(hi, t)


def _xorshift(z: Column, s: int) -> Column:
    return z.bitwiseXOR(F.shiftrightunsigned(z, s))


def _bind(df: DataFrame, exprs: dict[str, Column]) -> DataFrame:
    """``df`` with ``exprs`` computed as columns behind an optimizer
    barrier: a one-row generator (inline of a one-element array). The
    optimizer neither collapses projections across a Generate nor pushes
    a filter on its outputs below it — a Project would be merged or have
    each reference of its outputs substituted by their defining
    expression, which for stacked limb products grows exponentially."""
    keep = [c for c in df.columns if c not in exprs]
    row = F.struct(*[e.alias(n) for n, e in exprs.items()])
    return df.select(*keep, F.inline(F.array(row)))


def with_mix64(df: DataFrame, inputs: dict[str, Column]) -> DataFrame:
    """``df`` plus one column per entry of ``inputs``: ``crawlspec.mix64``
    of the entry's bigint column. All entries share three bound steps, one
    per step of the finalizer."""
    df = _bind(
        df,
        {
            n: _xorshift(_add64(c.cast("long"), spec._SM_GAMMA), 30)
            for n, c in inputs.items()
        },
    )
    df = _bind(df, {n: _xorshift(_mul64(F.col(n), spec._SM_M1), 27) for n in inputs})
    return _bind(df, {n: _xorshift(_mul64(F.col(n), spec._SM_M2), 31) for n in inputs})


def umod(x: Column, m: int) -> Column:
    """x, read as an unsigned 64-bit value, mod m (0 < m < 2^31): the
    limbs hi·2^32 + lo reduced separately, so no product overflows."""
    assert 0 < m < 1 << 31, m
    return F.pmod(
        F.pmod(_hi32(x), F.lit(m)) * F.lit((1 << 32) % m) + F.pmod(_lo32(x), F.lit(m)),
        F.lit(m),
    )


def domain_id(h: Column, n_domains: int = spec.N_DOMAINS) -> Column:
    """``crawlspec.domain_id`` from h = mix64(i): the u³ law in doubles, with
    the same operation order as the numpy form."""
    u = h.bitwiseAND(F.lit(0xFFFFF)).cast("double") / F.lit(float(1 << 20))
    return (F.lit(float(n_domains)) * u * u * u).cast("int")
