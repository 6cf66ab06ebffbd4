"""CancelOut (NumPy re-expression): determinism, signal detection, fold
integration. No allclose target exists (the torch reference is unseeded by
construction) — behavioral checks instead."""

import numpy as np

from pystreamfs_spark.kernels.cancelout import train_cancelout


def test_informative_feature_gets_largest_gate():
    rng = np.random.default_rng(0)
    n, m = 300, 8
    y = (rng.random(n) > 0.5).astype(float)
    X = np.column_stack([y * 3 + rng.normal(0, 0.3, n), *[rng.normal(0, 1, n) for _ in range(m - 1)]])
    w = train_cancelout(X, y, seed=0)
    assert np.argmax(np.abs(w)) == 0


def test_deterministic_given_seed():
    rng = np.random.default_rng(1)
    X = rng.normal(size=(128, 6))
    y = (X[:, 2] > 0).astype(float)
    a = train_cancelout(X, y, seed=7)
    b = train_cancelout(X, y, seed=7)
    np.testing.assert_array_equal(a, b)
    c = train_cancelout(X, y, seed=8)
    assert not np.array_equal(a, c)


def test_cancelout_fold_runs(spark):
    from pystreamfs_spark.fold import fold_weights_stream
    from pystreamfs_spark.functions.features import featurize_turns
    from pystreamfs_spark.sources.transcripts import synthesize_transcripts

    f = featurize_turns(synthesize_transcripts(spark, n_convs=4, seed=31))
    out = fold_weights_stream(f, kernel="cancelout", batch_size=25, num_features=5).collect()
    assert out
    assert all(len(r.w) == 16 and len(r.selected) == 5 for r in out)

