"""Extremal Feature Selection (Carvalho & Cohen — 2006) on a Modified
Balanced Winnow classifier.

Semantics matched to the reference harness kernel
(/root/reference/pystreamfs/algorithms/efs.py:5-52) for allclose parity:

per instance, in stream order:
  1. remap label y ∈ {0,1} → {−1,+1}
  2. min-max normalize the instance against itself: the reference applies
     sklearn's MinMaxScaler to the single row, i.e.
     ``x ← x·(1/range) − min(x)·(1/range)`` with range := max(x)−min(x),
     and range := 1 when the row is constant (sklearn's zero-range guard).
     We reproduce sklearn's scale-then-shift evaluation order exactly so the
     float arithmetic is bit-identical.
  3. score = ⟨x, u⟩ − ⟨x, v⟩ − θ
  4. on margin mistake (score·y ≤ M): multiplicative promote/demote of every
     coordinate — for y > 0: u ← u·α·(1+x), v ← v·β·(1−x); mirrored otherwise
  5. importance weights w = |u − v|

Defaults from the reference example (examples/example_efs.py:24-29):
u = 2·1, v = 1, α = 1.5, β = 0.5, θ = 1, M = 1.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass
class EFSState:
    u: np.ndarray  # positive model, float64[m]
    v: np.ndarray  # negative model, float64[m]
    alpha: float = 1.5
    beta: float = 0.5
    threshold: float = 1.0
    M: float = 1.0

    @classmethod
    def init(cls, m: int, num_features: int = 5) -> "EFSState":
        del num_features
        return cls(u=np.ones(m, dtype=np.float64) * 2, v=np.ones(m, dtype=np.float64))


def _minmax_rows(X: np.ndarray) -> np.ndarray:
    """sklearn's MinMaxScaler applied to each row on its own, vectorized:
    ``x*scale_ + min_`` with scale_ = 1/range (range 0 → 1) and
    min_ = -min(x)*scale_. min/max are exact and the scale/shift are the
    same elementwise IEEE ops, so each row is bit-identical to scaling it
    alone."""
    mn = X.min(axis=1)
    rng = X.max(axis=1) - mn
    scale = 1.0 / np.where(rng != 0, rng, 1.0)
    return X * scale[:, None] + (0.0 - mn * scale)[:, None]


def efs_update(state: EFSState, X: np.ndarray, y: np.ndarray) -> tuple[EFSState, np.ndarray]:
    """Fold one window (rows in order) through the Modified Balanced Winnow.

    The body is the reference's per-row loop: scalar score
    ``np.dot(x, u) - np.dot(x, v) - threshold`` on the min-max normalized
    row, and a multiplicative promote/demote on each margin mistake. The
    row-wise normalization is precomputed for the whole window
    (bit-identical elementwise ops — see :func:`_minmax_rows`).

    Note: on adversarial (~1e308) inputs the multiplicative update itself
    overflows to ±inf — value-faithful to the reference's sklearn-style
    arithmetic, NaN-free on real data; warnings are suppressed here.
    """
    u = state.u.astype(np.float64, copy=True)
    v = state.v.astype(np.float64, copy=True)
    n = X.shape[0]
    with np.errstate(over="ignore", invalid="ignore"):
        Xn = _minmax_rows(X) if n else X
        for r in range(n):
            x = Xn[r]
            yy = -1.0 if y[r] == 0 else 1.0
            score = np.dot(x, u) - np.dot(x, v) - state.threshold
            if score * yy <= state.M:
                if yy > 0:
                    u = u * state.alpha * (1 + x)
                    v = v * state.beta * (1 - x)
                else:
                    u = u * state.beta * (1 - x)
                    v = v * state.alpha * (1 + x)
    w = np.abs(u - v)
    return EFSState(u=u, v=v, alpha=state.alpha, beta=state.beta, threshold=state.threshold, M=state.M), w
