"""Golden-fixture parity on the one dataset the reference ships
(/root/reference/datasets/credit.csv — 965×24, col 0 = binary target;
FIXTURES.md §F3): replay it as a single-entity stream through the engine and
require allclose weights vs the oracle for every kernel, with the reference
example parameters batch_size=50, num_features=5."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from pystreamfs_spark.fold import fold_weights

CSV = "/root/reference/datasets/credit.csv"

pytestmark = pytest.mark.skipif(
    not __import__("os").path.exists(CSV),
    reason="reference credit.csv fixture not present (standalone checkout)",
)


@pytest.fixture(scope="module")
def credit():
    data = pd.read_csv(CSV)
    arr = data.to_numpy(dtype=np.float64)
    y = arr[:, 0]
    X = np.delete(arr, 0, axis=1)
    return X, y


@pytest.fixture(scope="module")
def credit_df(spark, credit):
    X, y = credit
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("credit", i, t0 + dt.timedelta(seconds=i), X[i].tolist(), float(y[i]))
        for i in range(len(y))
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, features array<double>, label double"
    ).cache()


@pytest.mark.parametrize("kernel,kw", [("ofs", {}), ("efs", {}), ("fsds", {"k": 2, "ell": 0})])
def test_credit_golden(credit, credit_df, kernel, kw):
    from oracle_ref import simulate

    X, y = credit
    ora = simulate(X, y, kernel=kernel, batch_size=50, num_features=5, **kw)
    eng = {r.window_id: r for r in fold_weights(credit_df, kernel=kernel, batch_size=50, num_features=5, kernel_kwargs=kw).collect()}
    assert len(eng) == len(ora["w"]) == 20  # ceil(965/50)
    for wid in range(len(ora["w"])):
        np.testing.assert_allclose(np.array(eng[wid].w), ora["w"][wid], rtol=1e-9, atol=1e-12)
        assert list(eng[wid].selected) == ora["selected"][wid]
    assert eng[19].win_rows == 965 - 19 * 50  # partial last window
