"""Online Feature Selection (Wang, Zhao, Hoi, Jin — TKDE 2014), sparse-λ variant.

Semantics matched to the reference harness kernel
(/root/reference/pystreamfs/algorithms/ofs.py:5-52) for allclose parity:

per instance, in stream order:
  1. remap label y ∈ {0,1} → {−1,+1}
  2. margin test: update only when ``y · ⟨w, x⟩ ≤ 1``
  3. perceptron step ``w ← w + η·y·x`` (η = 0.2)
  4. L2-ball projection ``w ← w · min(1, 1/(√λ·‖w‖₂))`` (λ = 0.01)
  5. truncation: keep only the ``num_features`` largest |w|, zero the rest
     (skipped when nnz(w) ≤ num_features)

The reference initializes w as integer zeros (pystreamfs.py:47); NumPy upcasts
to float64 on the first update, so float64 zeros are value-identical.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

ETA = 0.2
LAMB = 0.01


@dataclass
class OFSState:
    """Cross-window state: just the weight vector."""

    w: np.ndarray  # float64[m]
    num_features: int = 5

    @classmethod
    def init(cls, m: int, num_features: int = 5) -> "OFSState":
        return cls(w=np.zeros(m, dtype=np.float64), num_features=num_features)


def _truncate_top(w: np.ndarray, keep: int) -> np.ndarray:
    # only truncate when more than `keep` nonzeros exist (reference ofs.py:48)
    if np.count_nonzero(w) > keep:
        keep_idx = np.argsort(np.abs(w))[-keep:]
        mask = np.zeros(w.shape[0], dtype=bool)
        mask[keep_idx] = True
        w = np.where(mask, w, 0.0)
    return w


def ofs_update(state: OFSState, X: np.ndarray, y: np.ndarray) -> tuple[OFSState, np.ndarray]:
    """Fold one window (rows of X in order) through the OFS update.

    Returns (new_state, w) where w is the post-window weight vector. The
    body is the reference's per-row loop: margin test with a scalar
    ``np.dot(w, x)``, then step, projection and truncation on each margin
    violation.
    """
    w = state.w.astype(np.float64, copy=True)
    keep = state.num_features
    sqrt_lamb = math.sqrt(LAMB)
    # nrm == 0 → 1/0 → inf → min picks 1.0 (matches reference, which relies
    # on NumPy scalar division returning inf, warnings off); over/invalid
    # stay silent on adversarial (±1e308) property-test rows.
    with np.errstate(divide="ignore", over="ignore", invalid="ignore"):
        for r in range(X.shape[0]):
            x = X[r]
            yy = -1.0 if y[r] == 0 else 1.0
            if yy * np.dot(w, x) <= 1.0:
                w = w + ETA * yy * x
                nrm = np.linalg.norm(w)
                scale = min(1.0, 1.0 / (sqrt_lamb * nrm))
                w = w * scale
                w = _truncate_top(w, keep)
    return OFSState(w=w, num_features=keep), w.copy()
