"""Parity: the engine fold vs the NumPy oracle.

For every synthetic conversation the engine's per-window weight vectors,
top-m selections and window row-counts must match an independent eager
replay of the reference loop (tests/oracle_ref.py) — OFS/EFS allclose at
rtol 1e-9/atol 1e-12 (pure arithmetic), FSDS compared on w (already
sign-invariant, same LAPACK on both sides).
"""

import numpy as np
import pytest

from pystreamfs_spark.classify import prequential_accuracy
from pystreamfs_spark import fold
from pystreamfs_spark.fold import fold_weights, fold_weights_stream
from pystreamfs_spark.functions.features import featurize_turns
from pystreamfs_spark.sources.transcripts import synthesize_transcripts

from oracle_ref import simulate

BATCH = 13  # deliberately does not divide most conversation lengths
NUM_FEATURES = 5


@pytest.fixture(scope="module")
def featurized(spark):
    df = featurize_turns(synthesize_transcripts(spark, n_convs=12, seed=7)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def per_conv_matrices(featurized):
    pdf = featurized.select("conv_id", "turn_idx", "ts", "features", "label").toPandas()
    out = {}
    for conv_id, g in pdf.groupby("conv_id"):
        g = g.sort_values(["turn_idx", "ts"])
        out[conv_id] = (
            np.stack(g["features"].to_numpy()).astype(np.float64),
            g["label"].to_numpy(dtype=np.float64),
        )
    return out


def _collect_engine(df):
    rows = df.collect()
    out = {}
    for r in rows:
        out.setdefault(r.conv_id, {})[r.window_id] = r
    return out


@pytest.mark.parametrize("kernel,kw", [("ofs", {}), ("efs", {}), ("fsds", {"k": 2, "ell": 0})])
@pytest.mark.parametrize("entry", ["fold_weights", "fold_weights_stream"])
def test_fold_matches_oracle(featurized, per_conv_matrices, kernel, kw, entry):
    # both public names of the fold must match the oracle
    eng = _collect_engine(
        getattr(fold, entry)(featurized, kernel=kernel, batch_size=BATCH, num_features=NUM_FEATURES, kernel_kwargs=kw)
    )
    assert set(eng) == set(per_conv_matrices)
    for conv_id, (X, y) in per_conv_matrices.items():
        ora = simulate(X, y, kernel=kernel, batch_size=BATCH, num_features=NUM_FEATURES, **kw)
        n_windows = (len(X) + BATCH - 1) // BATCH
        assert len(eng[conv_id]) == n_windows == len(ora["w"])
        for wid in range(n_windows):
            row = eng[conv_id][wid]
            np.testing.assert_allclose(
                np.array(row.w), ora["w"][wid], rtol=1e-9, atol=1e-12,
                err_msg=f"{kernel} conv={conv_id} window={wid}",
            )
            assert list(row.selected) == ora["selected"][wid], f"{kernel} conv={conv_id} window={wid}"
            expected_rows = min(BATCH, len(X) - wid * BATCH)
            assert row.win_rows == expected_rows


def test_partial_last_window_and_tiny_convs(spark):
    # conversations shorter than the batch produce exactly one partial window
    df = featurize_turns(synthesize_transcripts(spark, n_convs=6, seed=11))
    out = fold_weights(df, kernel="ofs", batch_size=10_000, num_features=NUM_FEATURES)
    pdf = out.toPandas()
    assert (pdf["window_id"] == 0).all()
    sizes = df.groupBy("conv_id").count().toPandas().set_index("conv_id")["count"]
    got = pdf.set_index("conv_id")["win_rows"]
    assert got.sort_index().tolist() == sizes.sort_index().tolist()


@pytest.fixture
def tiny_arrow_batches(spark):
    """Arrow batches of 7 rows: the prefix buffer, the carry and the entity
    boundaries must all survive batch cuts."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_accuracy_parity_ofs(featurized, per_conv_matrices, tiny_arrow_batches):
    # the uncapped prefix, carried across Arrow batches
    eng = _collect_engine(
        fold_weights(featurized, kernel="ofs", batch_size=BATCH, num_features=NUM_FEATURES, with_accuracy=True)
    )
    for conv_id, (X, y) in per_conv_matrices.items():
        ora = simulate(X, y, kernel="ofs", batch_size=BATCH, num_features=NUM_FEATURES, with_accuracy=True)
        for wid, acc in enumerate(ora["acc"]):
            assert eng[conv_id][wid].acc == pytest.approx(acc, abs=1e-12)


def test_knn_argpartition_matches_full_stable_argsort():
    """knn_accuracy selects neighbors via argpartition + radius gather; on
    tie-heavy integer data it must equal the naive full stable argsort rule
    (equal distances -> smallest train index) exactly."""
    import numpy as np

    from pystreamfs_spark.classify import knn_accuracy

    def naive(x_train, y_train, x_test, y_test, k=5):
        kk = min(k, x_train.shape[0])
        d2 = (
            np.sum(x_test**2, axis=1)[:, None]
            - 2.0 * (x_test @ x_train.T)
            + np.sum(x_train**2, axis=1)[None, :]
        )
        idx = np.argsort(d2, axis=1, kind="stable")[:, :kk]
        votes = y_train[idx]
        correct = 0
        for r in range(votes.shape[0]):
            labels, counts = np.unique(votes[r], return_counts=True)
            if labels[np.argmax(counts)] == y_test[r]:
                correct += 1
        return correct / max(1, x_test.shape[0])

    rng = np.random.default_rng(0)
    for trial in range(30):
        n_tr = int(rng.integers(1, 40))
        n_te = int(rng.integers(1, 15))
        m = int(rng.integers(1, 5))
        # small-integer coordinates -> many exact distance ties
        x_train = rng.integers(0, 3, size=(n_tr, m)).astype(np.float64)
        y_train = rng.integers(0, 3, size=n_tr).astype(np.float64)
        x_test = rng.integers(0, 3, size=(n_te, m)).astype(np.float64)
        y_test = rng.integers(0, 3, size=n_te).astype(np.float64)
        a = knn_accuracy(x_train, y_train, x_test, y_test, k=5)
        b = naive(x_train, y_train, x_test, y_test, k=5)
        assert a == b, (trial, a, b)


def test_accuracy_matches_prequential_reference(spark, tiny_arrow_batches):
    """Prequential accuracy, capped and uncapped, equals
    classify.prequential_accuracy on each conversation's full arrays —
    including the t=0 train==test quirk, the capped-prefix training set and
    the reported full-prefix train_rows. Both public names are one fold,
    so the uncapped prefix runs on the partition scan too."""
    assert fold_weights is fold_weights_stream
    bs, M = 12, 30  # M is smaller than long conversations -> the cap bites
    f = featurize_turns(synthesize_transcripts(spark, n_convs=12, seed=11)).cache()
    pdf = f.select("conv_id", "turn_idx", "ts", "features", "label").toPandas()
    for cap in (M, None):
        eng = _collect_engine(
            fold_weights_stream(f, kernel="ofs", batch_size=bs, with_accuracy=True, max_train_rows=cap)
        )
        assert set(eng) == set(pdf["conv_id"])
        for conv_id, g in pdf.groupby("conv_id"):
            g = g.sort_values(["turn_idx", "ts"])
            X = np.stack(g["features"].to_numpy()).astype(np.float64)
            y = g["label"].to_numpy(dtype=np.float64)
            assert len(eng[conv_id]) == (len(X) + bs - 1) // bs
            for wid, r in eng[conv_id].items():
                start, stop = wid * bs, min(wid * bs + bs, len(X))
                sel = np.array(r.selected)
                assert r.acc == prequential_accuracy(X, y, start, stop, sel, max_train_rows=cap), (cap, conv_id, wid)
                assert r.train_rows == (stop - start if start == 0 else start)
    assert any(r.train_rows > M for v in eng.values() for r in v.values())  # cap exercised


def test_null_entity_is_its_own_entity(spark):
    """A NULL entity id sorted next to a real id in one Arrow batch is a
    boundary, although NULL != 'a' is NULL in Arrow."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (c, i, t0 + dt.timedelta(seconds=i), [float(i), 1.0, float(i % 3)], float(i % 2))
        for c in (None, "a")
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, features array<double>, label double"
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")  # both entities in one scan
    try:
        got = fold_weights_stream(df, kernel="ofs", batch_size=4, num_features=2).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert sorted(((r.conv_id, r.window_id, r.win_rows) for r in got), key=str) == [
        ("a", 0, 4),
        ("a", 1, 2),
        (None, 0, 4),
        (None, 1, 2),
    ]


def test_fsds_one_turn_conversation(featurized, per_conv_matrices):
    """A one-turn conversation has fewer rows than k in its only window; it
    must fold to w = 0 without failing the job, and every other
    conversation must still match the oracle."""
    short = sorted(per_conv_matrices)[0]
    first = featurized.where(featurized.conv_id == short).agg({"turn_idx": "min"}).first()[0]
    df = featurized.where((featurized.conv_id != short) | (featurized.turn_idx == first))
    eng = _collect_engine(
        fold_weights(df, kernel="fsds", batch_size=BATCH, num_features=NUM_FEATURES, kernel_kwargs={"k": 2})
    )
    assert set(eng) == set(per_conv_matrices)
    assert list(eng[short]) == [0] and eng[short][0].win_rows == 1
    assert np.array_equal(np.array(eng[short][0].w), np.zeros(len(eng[short][0].w)))
    for conv_id, (X, y) in per_conv_matrices.items():
        if conv_id == short:
            continue
        ora = simulate(X, y, kernel="fsds", batch_size=BATCH, num_features=NUM_FEATURES, k=2)
        assert len(eng[conv_id]) == len(ora["w"])
        for wid, w in enumerate(ora["w"]):
            np.testing.assert_allclose(np.array(eng[conv_id][wid].w), w, rtol=1e-9, atol=1e-12)


def test_large_window_scan_path_bit_identical():
    """One 4 000-row window through the per-row OFS/EFS loops must give the
    EXACT reference weight trajectory — sparse (separable) and dense (noisy)
    violation regimes."""
    import numpy as np

    from oracle_ref import efs_window, ofs_window
    from pystreamfs_spark.kernels.efs import EFSState, efs_update
    from pystreamfs_spark.kernels.ofs import OFSState, ofs_update

    rng = np.random.default_rng(123)
    m, n = 16, 4000
    tw = np.zeros(m)
    tw[:5] = 8.0
    scenarios = {
        "sparse": (lambda X: (X @ tw > 0).astype(float)),
        "dense": (lambda X: rng.integers(0, 2, size=n).astype(float)),
    }
    for name, label_fn in scenarios.items():
        X = rng.normal(size=(n, m)) * 3.0
        y = label_fn(X)
        # one giant window: the scan path runs end-to-end with chunk growth
        st, w_eng = ofs_update(OFSState.init(m, 5), X, y)
        w_ref = ofs_window(X, y, np.zeros(m), 5)
        assert np.array_equal(w_eng, w_ref), f"ofs {name}"

        est, w_eefs = efs_update(EFSState.init(m), X, y)
        w_refe, u_ref, v_ref = efs_window(
            X, y, np.ones(m) * 2, np.ones(m), 1.5, 0.5, 1.0, 1.0
        )
        assert np.array_equal(w_eefs, w_refe), f"efs {name}"
        assert np.array_equal(est.u, u_ref) and np.array_equal(est.v, v_ref)


def test_scan_path_bit_identical_under_cancellation():
    """Huge feature magnitudes where <w,x> suffers catastrophic
    cancellation, so the margin decisions sit near the float noise: the
    per-row OFS/EFS loops must still follow the reference bit for bit over
    one 3 000-row window."""
    import numpy as np

    from oracle_ref import efs_window, ofs_window
    from pystreamfs_spark.kernels.efs import EFSState, efs_update
    from pystreamfs_spark.kernels.ofs import OFSState, ofs_update

    rng = np.random.default_rng(77)
    m, n = 16, 3000
    # paired ±huge columns: products ~1e8 cancel to O(1..1e3) margins
    base = rng.normal(size=(n, m // 2)) * 1e4
    X = np.concatenate([base, -base + rng.normal(size=(n, m // 2))], axis=1)
    y = rng.integers(0, 2, size=n).astype(float)

    _, w_eng = ofs_update(OFSState.init(m, 5), X, y)
    w_ref = ofs_window(X, y, np.zeros(m), 5)
    assert np.array_equal(w_eng, w_ref), "ofs cancellation"

    est, w_eefs = efs_update(EFSState.init(m), X, y)
    w_refe, u_ref, v_ref = efs_window(X, y, np.ones(m) * 2, np.ones(m), 1.5, 0.5, 1.0, 1.0)
    assert np.array_equal(w_eefs, w_refe), "efs cancellation"
    assert np.array_equal(est.u, u_ref) and np.array_equal(est.v, v_ref)
