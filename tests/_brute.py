"""Brute-force reference helpers shared by the pure-Python replay tests."""

from __future__ import annotations

import math


def dot(x, y):
    """Dot product with each term floored at 1e-10, as the vector
    queries quantize it."""
    return sum(math.floor(p * q * 1e10) for p, q in zip(x, y)) / 1e10


def gcos(a, b):
    """Cosine similarity over :func:`dot`, floored to a 1e-9 grid."""
    return math.floor(
        dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1e9
    )
