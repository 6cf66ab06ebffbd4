"""MCNN kernel: MI estimator sanity + engine-fold vs independent replay.

The reference MCNN calls sklearn's mutual_info_classif (absent here); our
NumPy estimator is validated behaviorally (informative feature ≫ noise
feature, invariances), and the Spark fold is validated against a direct
sequential replay of the kernel on the same matrices.
"""

import numpy as np
import pytest

from pystreamfs_spark.kernels.mcnn import MCNNState, mcnn_update
from pystreamfs_spark.kernels.mi import digamma, mutual_info_classif_np


def test_digamma_known_values():
    # psi(1) = -gamma, psi(2) = 1 - gamma, psi(0.5) = -gamma - 2 ln 2
    gamma = 0.5772156649015329
    got = digamma(np.array([1.0, 2.0, 0.5, 10.0]))
    assert got[0] == pytest.approx(-gamma, abs=1e-10)
    assert got[1] == pytest.approx(1 - gamma, abs=1e-10)
    assert got[2] == pytest.approx(-gamma - 2 * np.log(2), abs=1e-10)
    assert got[3] == pytest.approx(2.251752589066721, abs=1e-10)


def test_mi_informative_vs_noise():
    rng = np.random.default_rng(0)
    n = 400
    y = (rng.random(n) > 0.5).astype(int)
    informative = y * 2.0 + rng.normal(0, 0.3, n)
    noise = rng.normal(0, 1, n)
    mi = mutual_info_classif_np(np.column_stack([informative, noise]), y)
    assert mi[0] > 0.3
    assert mi[1] < 0.1
    assert mi[0] > 5 * max(mi[1], 1e-6)


def test_mi_deterministic():
    rng = np.random.default_rng(1)
    X = rng.normal(size=(100, 3))
    y = (X[:, 0] > 0).astype(int)
    a = mutual_info_classif_np(X, y, random_state=0)
    b = mutual_info_classif_np(X, y, random_state=0)
    np.testing.assert_array_equal(a, b)


def _replay(X, y, batch_size, m):
    state = MCNNState.init(m)
    out = []
    for s in range(0, len(X), batch_size):
        state, w = mcnn_update(state, X[s : s + batch_size], y[s : s + batch_size])
        out.append(w)
    return out


def test_mcnn_fold_matches_replay(spark):
    from pystreamfs_spark.fold import fold_weights
    from pystreamfs_spark.functions.features import featurize_turns
    from pystreamfs_spark.sources.transcripts import synthesize_transcripts

    f = featurize_turns(synthesize_transcripts(spark, n_convs=4, seed=23)).cache()
    pdf = f.select("conv_id", "turn_idx", "features", "label").toPandas()
    mats = {}
    for conv_id, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        mats[conv_id] = (
            np.stack(g["features"].to_numpy()).astype(np.float64),
            g["label"].to_numpy(dtype=np.float64),
        )
    eng = {}
    for r in fold_weights(f, kernel="mcnn", batch_size=10, num_features=5).collect():
        eng.setdefault(r.conv_id, {})[r.window_id] = r
    for conv_id, (X, y) in mats.items():
        expect = _replay(X, y, 10, X.shape[1])
        assert len(eng[conv_id]) == len(expect)
        for wid, w in enumerate(expect):
            np.testing.assert_allclose(np.array(eng[conv_id][wid].w), w, rtol=1e-9, atol=1e-12)


def test_mcnn_drift_and_relevancy_mechanics():
    # two clearly separated clusters per class; then a drift burst
    rng = np.random.default_rng(3)
    m = 6
    X1 = np.column_stack([rng.normal(0, 0.1, 60), *(rng.normal(0, 0.1, (m - 1, 60)))]).astype(float)
    y1 = np.zeros(60)
    X2 = X1 + 5.0
    y2 = np.ones(60)
    X = np.concatenate([np.concatenate([X1, X2]), rng.normal(10, 3, (40, m))])
    y = np.concatenate([y1, y2, (rng.random(40) > 0.5).astype(float)])
    state = MCNNState.init(m)
    ws = []
    for s in range(0, len(X), 20):
        state, w = mcnn_update(state, X[s : s + 20], y[s : s + 20])
        ws.append(w.copy())
    assert all(len(w) == m for w in ws)
    assert state.window.t == len(ws)
    assert len(state.clusters) >= 1
    # weights reflect IG-through-relevancy: non-negative, some zeros possible
    assert all((w >= 0).all() for w in ws)


def test_mi_vectorized_radius_equals_loop_reference():
    """The r06 vectorized k-NN radius (k-th order statistic of the 2k
    sorted-neighbor candidates) must reproduce the greedy two-pointer loop
    bit for bit — including duplicate values (0-distance neighbors) and
    tiny classes (k capped at count-1)."""

    def mi_cd_1d_loop(c, d, n_neighbors=3):
        n = len(c)
        radius = np.zeros(n)
        label_counts = np.zeros(n)
        k_all = np.zeros(n)
        for label in np.unique(d):
            mask = d == label
            count = int(mask.sum())
            if count > 1:
                k = min(n_neighbors, count - 1)
                vals = np.sort(c[mask])
                pos = np.searchsorted(vals, c[mask])
                r = np.empty(count)
                for i, (v, p) in enumerate(zip(c[mask], pos)):
                    lo, hi = p, p + 1
                    dist = 0.0
                    for _ in range(k):
                        left = v - vals[lo - 1] if lo > 0 else np.inf
                        right = vals[hi] - v if hi < count else np.inf
                        if left <= right:
                            dist = left
                            lo -= 1
                        else:
                            dist = right
                            hi += 1
                    r[i] = dist
                radius[mask] = np.nextafter(r, 0)
                k_all[mask] = k
            label_counts[mask] = count
        keep = label_counts > 1
        n_eff = int(keep.sum())
        if n_eff == 0:
            return 0.0
        cs = np.sort(c[keep])
        lo = np.searchsorted(cs, c[keep] - radius[keep], side="left")
        hi = np.searchsorted(cs, c[keep] + radius[keep], side="right")
        m_all = hi - lo
        mi = (
            digamma(np.array([n_eff]))[0]
            + np.mean(digamma(k_all[keep]))
            - np.mean(digamma(label_counts[keep]))
            - np.mean(digamma(m_all.astype(np.float64)))
        )
        return max(0.0, float(mi))

    from pystreamfs_spark.kernels.mi import _mi_cd_1d

    rng = np.random.default_rng(11)
    cases = []
    for n in (2, 3, 5, 30, 200):
        cases.append((rng.normal(size=n), (rng.random(n) > 0.5).astype(int)))
    # heavy duplicates: 0-distance neighbors everywhere
    cases.append((np.repeat([1.0, 2.0, 2.0, 3.0], 10), np.tile([0, 1], 20)))
    # one class with a single member (skipped), one constant class
    cases.append((np.array([0.0, 5.0, 5.0, 5.0]), np.array([0, 1, 1, 1])))
    # three classes
    cases.append((rng.normal(size=60), rng.integers(0, 3, 60)))
    for c, d in cases:
        got = _mi_cd_1d(c.astype(float), d)
        want = mi_cd_1d_loop(c.astype(float), d)
        assert got == want, (c[:8], d[:8], got, want)


def test_index_buffers_mirror_clusters_exactly():
    """After a long churning stream (creates, splits, evictions), the r06
    capacity-buffered index saved into the state must mirror the clusters
    dict exactly: ascending keys, and per-row centroid/variance/avg_t/fpr/
    label equal to the owning cluster's fields."""
    rng = np.random.default_rng(5)
    m = 8
    X = np.concatenate([
        rng.normal(0, 0.5, (150, m)),
        rng.normal(6, 0.5, (150, m)),
        rng.normal(0, 4.0, (200, m)),  # churn burst: many creations/splits
    ])
    y = (rng.random(500) > 0.5).astype(float)
    state = MCNNState.init(m, max_n=20, e_threshold=2)
    for s in range(0, len(X), 25):
        state, _ = mcnn_update(state, X[s : s + 25], y[s : s + 25])
    assert len(state.clusters) >= 2
    keys = state.keys
    assert list(keys) == sorted(state.clusters.keys())
    for i, k in enumerate(keys):
        c = state.clusters[int(k)]
        np.testing.assert_array_equal(state.cent[i], c.centroid)
        np.testing.assert_array_equal(state.var[i], c.variance)
        assert state.avg_t[i] == np.sum(c.t) / c.n
        assert state.fpr_arr[i] == c.fpr
        assert state.label_arr[i] == float(c.label)
