"""MCNN state ownership: an update must not change the arrays an earlier
MCNNState snapshot holds."""

import copy

import numpy as np

from pystreamfs_spark.kernels.mcnn import MCNNState, mcnn_update


def test_snapshot_keeps_its_index_arrays_across_an_update():
    rng = np.random.default_rng(5)
    m = 4
    X = rng.normal(size=(60, m))
    y = (X[:, 0] > 0).astype(np.float64)
    state, _ = mcnn_update(MCNNState.init(m), X[:30], y[:30])
    snap = copy.copy(state)
    keys, cent = snap.keys.copy(), snap.cent.copy()
    # lead with a row next to cluster 0's centroid, carrying its label: the
    # update's first step refreshes that cluster in place
    X2 = np.vstack([cent[:1] + 1e-3, X[30:]])
    y2 = np.concatenate([snap.label_arr[:1], y[30:]])
    state, _ = mcnn_update(state, X2, y2)
    # the update refreshed or removed clusters the snapshot knows about
    kept = np.isin(keys, state.keys)
    assert not kept.all() or not np.array_equal(
        cent[kept], state.cent[np.searchsorted(state.keys, keys[kept])]
    )
    np.testing.assert_array_equal(snap.keys, keys)
    np.testing.assert_array_equal(snap.cent, cent)
