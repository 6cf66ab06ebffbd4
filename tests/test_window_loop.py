"""WindowLoop — the one window loop under every fold driver.

Without Spark: any split of an entity's rows into feeds emits the same
windows as one ``final=True`` feed; ``final=False`` keeps the short tail in
the carry; prequential accuracy equals ``classify.prequential_accuracy`` on
the full arrays. With Spark: the fold rejects ragged and null ``features``
with the same error as the conversion, and reports a real memory figure.
"""

import re
from datetime import datetime, timedelta

import numpy as np
import pytest

from pystreamfs_spark.classify import prequential_accuracy
from pystreamfs_spark.fold import WindowLoop, feature_matrix

BS = 7
KERNELS = [("ofs", {}), ("efs", {}), ("fsds", {"k": 2, "ell": 0}), ("mcnn", {})]


def _data(n=45, m=6, seed=0):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, m))
    y = (X[:, 0] + 0.5 * rng.normal(size=n) > 0).astype(np.float64)
    return X, y, np.arange(n, dtype=np.int64) * 1_000_000


def _fold(kernel, kw, X, y, ts, cuts=None, **loop_kw):
    """Windows of one entity fed in the segments ``cuts`` delimits, then
    closed; ``cuts=None`` is the single ``final=True`` feed."""
    loop = WindowLoop(kernel, BS, 3, kw, **loop_kw)
    loop.start("e")
    if cuts is None:
        loop.feed(X, y, ts, final=True)
    else:
        edges = [0, *cuts, len(X)]
        for a, b in zip(edges, edges[1:]):
            loop.feed(X[a:b], y[a:b], ts[a:b], final=False)
        loop.feed(X[:0], y[:0], ts[:0], final=True)
    return [
        {k: v for k, v in r.items() if k not in ("elapsed_sec", "mem_bytes")}
        for r in loop.batch().to_pylist()
    ]


@pytest.mark.parametrize("kernel,kw", KERNELS)
def test_split_feeds_bit_identical_to_one_final_feed(kernel, kw):
    X, y, ts = _data()
    whole = _fold(kernel, kw, X, y, ts)
    assert [r["win_rows"] for r in whole] == [BS] * 6 + [3]
    assert [r["window_id"] for r in whole] == list(range(7))
    rng = np.random.default_rng(1)
    splits = {
        "random, with empty segments": sorted([0, 20, 20, len(X), *rng.integers(0, len(X) + 1, size=12).tolist()]),
        "size-1 segments": list(range(1, len(X))),
        "at multiples of batch_size": list(range(BS, len(X), BS)),
        "one row short of each window": list(range(BS - 1, len(X), BS)),
    }
    for name, cuts in splits.items():
        assert _fold(kernel, kw, X, y, ts, cuts) == whole, name


def test_final_false_leaves_tail_in_carry():
    X, y, ts = _data()
    loop = WindowLoop("ofs", BS, 3, {})
    loop.start("e")
    loop.feed(X[:42], y[:42], ts[:42], final=False)
    # a completed window is emitted at once, not held back in the carry
    assert [r["win_rows"] for r in loop.batch().to_pylist()] == [BS] * 6
    assert loop.carry is None
    loop.feed(X[42:], y[42:], ts[42:], final=False)
    assert not loop.windows
    cX, cy, cts = loop.carry
    np.testing.assert_array_equal(cX, X[42:])
    np.testing.assert_array_equal(cy, y[42:])
    np.testing.assert_array_equal(cts, ts[42:])
    assert loop.wid == 6
    loop.feed(X[:0], y[:0], ts[:0], final=True)
    (last,) = loop.batch().to_pylist()
    assert (last["window_id"], last["win_rows"], loop.carry) == (6, 3, None)


@pytest.mark.parametrize("cap", [None, 10])
def test_accuracy_equals_prequential_accuracy(cap):
    X, y, ts = _data(n=60)
    cuts = [3, 3, 11, 30, 31, 50]
    rows = _fold("ofs", {}, X, y, ts, cuts, with_accuracy=True, max_train_rows=cap)
    assert len(rows) == 9
    for r in rows:
        start = r["window_id"] * BS
        stop = start + r["win_rows"]
        expect = prequential_accuracy(X, y, start, stop, np.array(r["selected"]), max_train_rows=cap)
        assert r["acc"] == expect, r["window_id"]
        assert r["train_rows"] == (stop - start if start == 0 else start)


def test_malformed_features_raise_in_conversion():
    import pyarrow as pa

    col = pa.array([[1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 3.0], [1.0] * 5], type=pa.list_(pa.float64()))
    with pytest.raises(ValueError, match="'features' holds rows of 4 and 3 values"):
        feature_matrix(col, "features")
    with pytest.raises(ValueError, match="'features' has 1 null row"):
        feature_matrix(pa.array([[1.0, 2.0], None], type=pa.list_(pa.float64())), "features")
    np.testing.assert_array_equal(feature_matrix(col.slice(2), "features"), np.ones((1, 5)))
    # a width change across feeds of one entity is caught by the loop
    loop = WindowLoop("ofs", BS, 3, {})
    loop.start("e")
    loop.feed(np.ones((2, 4)), np.ones(2), None, final=False)
    with pytest.raises(ValueError, match="'features' holds rows of 4 and 3 values"):
        loop.feed(np.ones((2, 3)), np.ones(2), None, final=False)


def _turns(spark, feats):
    t0 = datetime(2024, 1, 1)
    rows = [("c", i, t0 + timedelta(seconds=i), f, float(i % 2)) for i, f in enumerate(feats)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, features array<double>, label double"
    )


@pytest.mark.parametrize(
    "feats,message",
    [
        ([[1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 3.0], [1.0, 2.0, 3.0, 4.0, 5.0]], "'features' holds rows of 4 and 3 values"),
        ([[1.0, 2.0, 3.0, 4.0], None, [1.0, 2.0, 3.0, 4.0]], "'features' has 1 null row(s)"),
    ],
)
def test_malformed_features_same_error_on_both_strategies(spark, feats, message):
    from pystreamfs_spark.fold import fold_weights

    with pytest.raises(Exception, match=re.escape(message)):
        fold_weights(_turns(spark, feats), kernel="ofs", batch_size=2, num_features=2).collect()


def test_mem_bytes_is_a_real_figure(spark):
    from pystreamfs_spark.fold import fold_weights

    df = _turns(spark, [[float(i), 1.0, 0.5] for i in range(5)])
    rows = fold_weights(df, kernel="ofs", batch_size=2, num_features=2).collect()
    assert len(rows) == 3
    assert all(r.mem_bytes > 0 for r in rows)
