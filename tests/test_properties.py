"""Property-based tests (hypothesis) over the pure-NumPy kernels and the
oracle — fast, Spark-free, and they pin the invariants the reference's
semantics imply for ANY input."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from pystreamfs_spark.kernels import init_state, select_top_m, update
from pystreamfs_spark.kernels.efs import EFSState, efs_update
from pystreamfs_spark.kernels.fsds import FSDSState, fsds_update
from pystreamfs_spark.kernels.ofs import OFSState, ofs_update

from oracle_ref import fscr, simulate

MAT = arrays(
    np.float64,
    shape=st.tuples(st.integers(2, 40), st.integers(2, 12)),
    elements=st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False),
)


def _labels(n, seed):
    return (np.arange(n) * seed % 2).astype(np.float64)


@settings(max_examples=25, deadline=None)
@given(MAT, st.integers(1, 5), st.integers(1, 3))
def test_ofs_truncation_invariant(X, keep, seed):
    """After any OFS stream, nnz(w) ≤ num_features whenever an update fired
    (the truncation rule, ofs.py:48), and w is always finite."""
    y = _labels(len(X), seed)
    st_, w = ofs_update(OFSState.init(X.shape[1], keep), X, y)
    assert np.all(np.isfinite(w))
    assert np.count_nonzero(w) <= max(keep, 0) or np.count_nonzero(w) == 0


@settings(max_examples=25, deadline=None)
@given(MAT, st.integers(1, 3))
def test_efs_weights_nonnegative_finite(X, seed):
    y = _labels(len(X), seed)
    _, w = efs_update(EFSState.init(X.shape[1]), X, y)
    assert np.all(w >= 0)
    assert np.all(np.isfinite(w))


@settings(max_examples=25, deadline=None)
@given(MAT)
def test_fsds_weights_nonnegative_finite(X):
    m = X.shape[1]
    k = 2 if int(np.sqrt(m)) >= 2 else 1  # FSDS contract: ell=⌈√m⌉ ≥ k
    _, w = fsds_update(FSDSState.init(m, k=k), X, None)
    assert w.shape == (X.shape[1],)
    assert np.all(w >= 0)
    assert np.all(np.isfinite(w))


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(0, 9), min_size=1, max_size=5, unique=True),
    st.lists(st.integers(0, 9), min_size=1, max_size=5, unique=True),
)
def test_fscr_bounds_and_identity(prev, cur):
    n = max(len(prev), len(cur))
    v = fscr(prev, cur, n)
    assert 0.0 <= v <= 1.0
    assert fscr(prev, prev, max(len(prev), 1)) == 0.0


@settings(max_examples=15, deadline=None)
@given(MAT, st.integers(2, 17), st.integers(1, 3))
def test_oracle_windows_cover_stream(X, batch, seed):
    """The oracle emits ceil(n/B) windows and selections of exactly m unique
    indices — the shape contract every engine output is compared against."""
    y = _labels(len(X), seed)
    m_sel = min(3, X.shape[1])
    out = simulate(X, y, kernel="ofs", batch_size=batch, num_features=m_sel)
    assert len(out["w"]) == (len(X) + batch - 1) // batch
    for sel in out["selected"]:
        assert len(sel) == m_sel == len(set(sel))


@settings(max_examples=25, deadline=None)
@given(arrays(np.float64, st.integers(1, 30), elements=st.floats(-1e6, 1e6, allow_nan=False)), st.integers(1, 6))
def test_select_top_m_is_topk_by_abs(w, m):
    sel = select_top_m(w, m)
    k = min(m, len(w))
    assert len(sel) == k
    chosen = sorted(np.abs(w)[sel], reverse=True)
    rest = np.delete(np.abs(w), sel)
    if len(rest):
        assert chosen[-1] >= rest.max() - 0.0  # every chosen ≥ every unchosen


def test_fsds_rejects_ell_below_k():
    import pytest

    with pytest.raises(ValueError, match="ell >= k"):
        FSDSState.init(2, k=2)  # sqrt(2) → ell=1 < k


def test_fsds_first_window_below_k_rows():
    """A one-row first window has one singular value (k=2 needs two): the
    missing one counts as 0, so w is 0 and the sketch keeps one column; the
    next window chains off it."""
    st_, w = fsds_update(FSDSState.init(16, k=2), np.arange(16.0)[None, :])
    assert np.array_equal(w, np.zeros(16))
    assert st_.B.shape == (16, 1)
    st_, w = fsds_update(st_, np.arange(16.0)[None, :] * 2)
    assert st_.B.shape == (16, 2)
    assert np.all(np.isfinite(w)) and np.all(w >= 0)


@settings(max_examples=10, deadline=None)
@given(st.integers(0, 3))
def test_kernel_registry_roundtrip(seed):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(20, 6))
    y = (rng.random(20) > 0.5).astype(float)
    for name in ("ofs", "efs", "fsds", "mcnn", "cancelout"):
        s = init_state(name, 6, num_features=3, **({"k": 2} if name == "fsds" else {}))
        s, w = update(name, s, X, y)
        assert w.shape == (6,)
        assert np.all(np.isfinite(w))
