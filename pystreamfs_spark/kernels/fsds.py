"""Feature Selection on Data Streams (Huang, Yoo, Kasiviswanathan — CIKM 2015)
via Frequent Directions matrix sketching (Liberty 2013).

Semantics matched to the reference harness kernel
(/root/reference/pystreamfs/algorithms/fsds.py:5-74) for allclose parity:

per window (batch of n rows × m features):
  1. work on the transpose Yt (features as rows)
  2. sketch size ℓ defaults to ⌈√m⌉ (int(√m)) when unset
  3. first window: C := Yt; subsequent windows: C := [B | Yt]  (m × (ℓ+n))
  4. thin SVD of C; retain top-ℓ singular triplets
  5. Frequent-Directions shrink: s ← √(s² − s_ℓ²)  (NaNs → 0, a deliberate
     small-batch guard the reference added, fsds.py:50-52)
  6. B ← U·diag(s)
  7. ridge regularizer α = 2³·s_k (paper §5.1 pre-experiment setting)
  8. D = diag(s_k / (s_k² + α)) over the top-k values (NaNs → 0 guard);
     when C has fewer than k singular values (e.g. a one-row first window)
     the missing ones count as 0 (the reference raises IndexError there)
  9. feature weights w = rowmax |U[:, :k] · D|

w is sign-invariant by construction (|·| of U columns), so SVD sign ambiguity
does not affect selections; parity tests compare w directly (same BLAS).
State carried across windows: the m×ℓ sketch B (and resolved ℓ). Steps 3-6
are :func:`fd_step`, which ``fsds_merge`` also uses to sketch and merge
chunks.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass
class FSDSState:
    """Cross-window state: the Frequent-Directions sketch."""

    B: np.ndarray | None  # float64[m, ell] or None before first window
    ell: int
    k: int
    m: int

    @classmethod
    def init(cls, m: int, k: int = 2, ell: int = 0, num_features: int = 5) -> "FSDSState":
        del num_features  # selection count applies downstream, not in-kernel
        resolved_ell = ell if ell >= 1 else int(np.sqrt(m))
        if resolved_ell < k:
            # the reference crashes with an opaque IndexError here
            # (fsds.py:60 s[k-1] after truncation to ell values); make the
            # configuration contract explicit instead
            raise ValueError(
                f"FSDS needs sketch size ell >= k: got ell={resolved_ell} "
                f"(from m={m}) and k={k}; pass a larger ell or smaller k"
            )
        return cls(B=None, ell=ell, k=k, m=m)


def fd_step(B: np.ndarray | None, C_new: np.ndarray, ell: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One Frequent-Directions step (Liberty 2013): append the columns
    ``C_new`` to sketch ``B`` (none before the first window), thin SVD, keep
    the top ℓ, shrink. Returns ``(U, s, B')`` with ``B' = U·diag(s)``; ``s``
    holds min(ℓ, *C.shape) values."""
    C = C_new if B is None or B.size == 0 else np.hstack((B, C_new))
    U, s, _ = np.linalg.svd(C, full_matrices=False)
    U = U[:, :ell]
    s = s[:ell]
    with np.errstate(invalid="ignore"):
        s = np.sqrt(s**2 - s[-1] ** 2)
    s = np.nan_to_num(s)
    return U, s, np.dot(U, np.diag(s))


def fsds_update(state: FSDSState, X: np.ndarray, y: np.ndarray | None = None) -> tuple[FSDSState, np.ndarray]:
    """Fold one window through the FSDS sketch update; returns (state, w)."""
    del y  # unsupervised
    Yt = X.T.astype(np.float64, copy=False)
    ell = state.ell if state.ell >= 1 else int(np.sqrt(state.m))
    k = state.k
    U, s, B = fd_step(state.B, Yt, ell)

    if s.size < k:
        # the reference raises IndexError here; the missing values are 0
        pad = k - s.size
        s = np.pad(s, (0, pad))
        U = np.pad(U, ((0, 0), (0, pad)))
    alpha = (2**3) * s[k - 1]
    with np.errstate(divide="ignore", invalid="ignore"):
        D = np.diag(s[:k] / (s[:k] ** 2 + alpha))
    D = np.nan_to_num(D)

    w = np.amax(np.abs(np.dot(U[:, :k], D)), axis=1)
    return FSDSState(B=B, ell=ell, k=k, m=state.m), w
