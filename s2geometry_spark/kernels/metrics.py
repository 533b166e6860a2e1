"""Cell metrics for the quadratic projection (reference: s2metrics.{h,cc}).

Used for choosing levels: radius -> covering level (kMinWidth), kNN ring
stopping bounds (kMaxDiag / kMinWidth), Hilbert-continuity tests (kMaxEdge).
"""

from __future__ import annotations

import math

MAX_LEVEL = 30


class Metric:
    """Metric<dim> (s2metrics.h:42-80)."""

    def __init__(self, dim: int, deriv: float):
        self.dim = dim
        self.deriv = deriv

    def get_value(self, level: int) -> float:
        return math.ldexp(self.deriv, -self.dim * level)

    def get_level_for_max_value(self, value: float) -> int:
        """Min level such that GetValue(level) <= value (s2metrics.h:168-183)."""
        if not value > 0:
            return MAX_LEVEL
        level = math.frexp(value / self.deriv)[1] - 1  # ilogb
        return max(0, min(MAX_LEVEL, -(level >> (self.dim - 1))))

    def get_level_for_min_value(self, value: float) -> int:
        """Max level such that GetValue(level) >= value (s2metrics.h:185-200)."""
        if not value > 0:
            return MAX_LEVEL
        level = math.frexp(self.deriv / value)[1] - 1
        return max(0, min(MAX_LEVEL, level >> (self.dim - 1)))

    def get_closest_level(self, value: float) -> int:
        return self.get_level_for_max_value((math.sqrt(2) if self.dim == 1 else 2) * value)

    def get_level_for_min_value_vec(self, values) -> "np.ndarray":
        """Vectorized get_level_for_min_value (same ilogb arithmetic —
        np.frexp's exponent equals math.frexp's; scalar-per-row calls
        cost seconds per million edges in the covering kernels)."""
        import numpy as np

        v = np.asarray(values, np.float64)
        out = np.full(v.shape, MAX_LEVEL, dtype=np.int64)
        pos = v > 0
        with np.errstate(divide="ignore", over="ignore", invalid="ignore"):
            _, exp = np.frexp(self.deriv / v[pos])
        level = (exp.astype(np.int64) - 1) >> (self.dim - 1) if self.dim > 1 else (
            exp.astype(np.int64) - 1
        )
        out[pos] = np.clip(level, 0, MAX_LEVEL)
        return out


# quadratic-projection constants (s2metrics.cc:36-123)
MIN_ANGLE_SPAN = Metric(1, 4.0 / 3)
MAX_ANGLE_SPAN = Metric(1, 1.704897179199218452)
AVG_ANGLE_SPAN = Metric(1, math.pi / 2)
MIN_WIDTH = Metric(1, 2 * math.sqrt(2) / 3)
MAX_WIDTH = Metric(1, MAX_ANGLE_SPAN.deriv)
AVG_WIDTH = Metric(1, 1.434523672886099389)
MIN_EDGE = Metric(1, 2 * math.sqrt(2) / 3)
MAX_EDGE = Metric(1, MAX_ANGLE_SPAN.deriv)
AVG_EDGE = Metric(1, 1.459213746386106062)
MIN_DIAG = Metric(1, 8 * math.sqrt(2) / 9)
MAX_DIAG = Metric(1, 2.438654594434021032)
AVG_DIAG = Metric(1, 2.060422738998471683)
MIN_AREA = Metric(2, 8 * math.sqrt(2) / 9)
MAX_AREA = Metric(2, 2.635799256963161491)
AVG_AREA = Metric(2, 4 * math.pi / 6)
MAX_EDGE_ASPECT = 1.442615274452682920
MAX_DIAG_ASPECT = math.sqrt(3)
