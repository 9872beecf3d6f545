"""Percentiles that carry their sample count."""

from __future__ import annotations

from typing import NamedTuple

import numpy as np


class Pct(NamedTuple):
    value: float
    n: int


def percentile(values, q: float) -> Pct:
    """The q-th percentile (linear interpolation between closest
    ranks) of ``values`` and the number of samples it was taken from.
    An empty sample gives NaN with n = 0."""
    v = np.asarray(list(values), dtype=np.float64)
    if v.size == 0:
        return Pct(float("nan"), 0)
    return Pct(float(np.percentile(v, q)), int(v.size))


def ratio(num: float, den: float) -> float:
    return float(num) / float(den) if den else 0.0
