"""Portable sin/cos: identical doubles in NumPy, Spark SQL, and DuckDB.

libm trig differs ACROSS ENGINES in the last ulp (measured here: ~20%
of random inputs disagree between CPython's libm and DuckDB's sin/cos,
~10% for atan2), so any bit-hashed oracle column downstream of a trig
call would go red on value-identical geometry.  Following the
operators/sketch.ln_portable_sql recipe, these evaluate a fixed
pinned-order polynomial using only +,-,*,/ and floor — operations every
engine rounds identically under IEEE-754.

Domain: |x| <= pi (+ a small slack); every call site in this repo is a
latitude, a longitude difference, or an S1-interval distance.  Quadrant
reduction k = floor(x * (2/pi) + 0.5) in {-2..2}, r = x - k*(pi/2) via
two-term Cody-Waite so |r| <= pi/4 + ulp; then odd/even Taylor in
Horner order (sin to r^15, cos to r^16; truncation < 5e-17 relative —
below double resolution on the reduced range).  The floor boundary
(odd multiples of pi/4) needs no separation argument: unlike
ln_portable's inputs, both engines evaluate floor on the IDENTICAL
double (all upstream arithmetic is pinned), so the branch can never
disagree.

The NumPy forms use only IEEE-exact vector ops (+,*,floor,where) and
are therefore bit-identical to the scalar SQL evaluation.
"""

from __future__ import annotations

import numpy as np

# exponent-notation literals parse as DOUBLE on both engines (a bare
# decimal literal parses as DECIMAL — see operators/sketch.py)
_TWO_OVER_PI = 6.36619772367581382e-01
_PI2_HI = 1.57079632679489656e00
_PI2_LO = 6.12323399573676604e-17
_SIN_C = [  # 1/15!..1/3! with alternating signs, Horner order (r^15 tail)
    -7.64716373181981641e-13,
    1.60590438368216146e-10,
    -2.50521083854417188e-08,
    2.75573192239858883e-06,
    -1.98412698412698413e-04,
    8.33333333333333322e-03,
    -1.66666666666666666e-01,
]
_COS_C = [  # 1/16!..1/2! with alternating signs, Horner order (r^16 tail)
    4.77947733238738525e-14,
    -1.14707455977297245e-11,
    2.08767569878680990e-09,
    -2.75573192239858883e-07,
    2.48015873015873016e-05,
    -1.38888888888888894e-03,
    4.16666666666666644e-02,
    -5.00000000000000000e-01,
]


def _reduce(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    x = np.asarray(x, np.float64)
    k = np.floor(x * _TWO_OVER_PI + 0.5)
    r = (x - k * _PI2_HI) - k * _PI2_LO
    return k, r


def _sin_poly(r: np.ndarray) -> np.ndarray:
    r2 = r * r
    p = np.full_like(r, _SIN_C[0])
    for c in _SIN_C[1:]:
        p = p * r2 + c
    return r + r * (r2 * p)


def _cos_poly(r: np.ndarray) -> np.ndarray:
    r2 = r * r
    p = np.full_like(r, _COS_C[0])
    for c in _COS_C[1:]:
        p = p * r2 + c
    return 1.0 + r2 * p


def sin_portable(x: np.ndarray) -> np.ndarray:
    """Pinned portable sin for |x| <= pi (vectorized)."""
    k, r = _reduce(x)
    s, c = _sin_poly(r), _cos_poly(r)
    m = np.mod(k, 4.0)  # k in {-2..2} -> m in {0,1,2,3}
    return np.where(
        m == 0.0, s, np.where(m == 1.0, c, np.where(m == 2.0, -s, -c))
    )


def cos_portable(x: np.ndarray) -> np.ndarray:
    """Pinned portable cos for |x| <= pi (vectorized)."""
    k, r = _reduce(x)
    s, c = _sin_poly(r), _cos_poly(r)
    m = np.mod(k, 4.0)
    return np.where(
        m == 0.0, c, np.where(m == 1.0, -s, np.where(m == 2.0, -c, s))
    )


def _poly_sql(r2: str, coeffs: list[float]) -> str:
    p = "%.17e" % coeffs[0]
    for c in coeffs[1:]:
        p = f"({p} * {r2} + {'%.17e' % c})"
    return p


def _reduce_sql(x: str) -> tuple[str, str]:
    k = f"floor(({x}) * {'%.17e' % _TWO_OVER_PI} + 0.5)"
    r = f"((({x}) - {k} * {'%.17e' % _PI2_HI}) - {k} * {'%.17e' % _PI2_LO})"
    return k, r


def sin_portable_sql(x: str) -> str:
    """SQL text mirroring sin_portable bit-for-bit (Spark and DuckDB)."""
    k, r = _reduce_sql(x)
    r2 = f"({r} * {r})"
    s = f"({r} + {r} * ({r2} * {_poly_sql(r2, _SIN_C)}))"
    c = f"(1.0 + {r2} * {_poly_sql(r2, _COS_C)})"
    m = f"(CAST({k} AS BIGINT) % 4 + 4) % 4"
    return (
        f"(CASE ({m}) WHEN 0 THEN {s} WHEN 1 THEN {c}"
        f" WHEN 2 THEN (0.0 - {s}) ELSE (0.0 - {c}) END)"
    )


def cos_portable_sql(x: str) -> str:
    """SQL text mirroring cos_portable bit-for-bit (Spark and DuckDB)."""
    k, r = _reduce_sql(x)
    r2 = f"({r} * {r})"
    s = f"({r} + {r} * ({r2} * {_poly_sql(r2, _SIN_C)}))"
    c = f"(1.0 + {r2} * {_poly_sql(r2, _COS_C)})"
    m = f"(CAST({k} AS BIGINT) % 4 + 4) % 4"
    return (
        f"(CASE ({m}) WHEN 0 THEN {c} WHEN 1 THEN (0.0 - {s})"
        f" WHEN 2 THEN (0.0 - {c}) ELSE {s} END)"
    )
