"""Per-entity ordered stateful fold — the engine's one custom operator.

The reference threads one weight vector through a strictly ordered window
loop: update, then top-m, then evaluate (reference pystreamfs.py:59-69). The
engine's state scope is the entity (``conv_id``): parallel across
conversations, strictly ordered within one — the faithful transcript
semantics AND the scalability unlock (SURVEY.md §7).

:class:`WindowLoop` is that loop, written once. It owns the kernel state, the
window id, the partial-window carry and the prequential prefix buffer. Rows
go in through :meth:`WindowLoop.feed`, split at any points; the windows it
emits come out as one Arrow batch. Three callers drive it, with identical
results:

- :func:`fold_weights` (also named ``fold_weights_stream``) — the one batch
  driver: ``repartition(conv_id) + sortWithinPartitions + mapInArrow``, a
  partition-local scan that feeds each entity segment of each Arrow batch
  and closes the entity at its boundary. Memory is O(arrow batch + kernel
  state + current window), not O(conversation) — a 10⁹-turn conversation
  streams through one task. Prequential accuracy adds the prefix buffer:
  O(max_train_rows) when capped, O(conversation) for the uncapped prefix.
- ``streaming.stream_fold`` — ``applyInPandasWithState``: one
  ``feed(final=False)`` per micro-batch, with the loop's kernel state, carry
  and window id kept in GroupState.
- ``fsds_merge.fold_fsds_fast`` — the FSDS re-fold: its loop starts from a
  merged prefix sketch and the chunk's first window id.

The batch fold does at most one shuffle (hash partition on conv_id), and
none when the input is already partitioned that way; everything upstream
(featurization) and downstream (stability, joins) stays in whole-stage
codegen.
"""

from __future__ import annotations

import resource
import time
from typing import Any, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pa_compute
from pyspark.sql import DataFrame

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pystreamfs_spark.classify import knn_accuracy
from pystreamfs_spark.kernels import KERNELS, init_state, select_top_m, update

WEIGHTS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("window_id", LongType()),
        StructField("win_rows", LongType()),
        StructField("ts_end", TimestampType()),
        StructField("w", ArrayType(DoubleType())),
        StructField("selected", ArrayType(IntegerType())),
        StructField("acc", DoubleType()),
        StructField("train_rows", LongType()),
        # kernel time of the window: update + top-m, not the evaluation
        StructField("elapsed_sec", DoubleType()),
        # the worker process's peak RSS (getrusage ru_maxrss) when the output
        # batch was built — not the reference's USS (pystreamfs.py:74)
        StructField("mem_bytes", LongType()),
    ]
)

_TS_NULL = -(2**63)  # int64 min == Arrow NaT
_NO_ROWS = (np.empty((0, 0)), np.empty(0), np.empty(0, dtype=np.int64))


def _width_error(name: str, a: int, b: int) -> ValueError:
    return ValueError(
        f"fold: column {name!r} holds rows of {a} and {b} values; "
        "every row of an entity needs the same number of features"
    )


def feature_matrix(col: pa.Array | pa.ChunkedArray, name: str) -> np.ndarray:
    """Arrow ``list<double>`` column → (rows, m) float64 matrix. Every row
    must be non-null and hold the same number of values; the offsets are
    checked once here, so every fold driver rejects malformed input alike."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        raise ValueError(f"fold: column {name!r} has {col.null_count} null row(s); every row needs a feature vector")
    offs = col.offsets.to_numpy(zero_copy_only=False)
    widths = np.diff(offs)
    m = int(widths[0]) if len(widths) else 0
    bad = np.flatnonzero(widths != m)
    if len(bad):
        raise _width_error(name, m, int(widths[bad[0]]))
    vals = col.values.to_numpy(zero_copy_only=False)[offs[0] : offs[-1]]
    return vals.astype(np.float64, copy=False).reshape(len(col), m)


def _arrow_rows(data: pa.RecordBatch | pa.Table, features_col: str, label_col: str, ts_col: str):
    """(X, y, ts) of an Arrow batch or table; ts as int64 µs, nulls → _TS_NULL."""
    X = feature_matrix(data.column(features_col), features_col)
    y = data.column(label_col).to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    ts = data.column(ts_col).cast(pa.int64())
    if ts.null_count:
        ts = ts.fill_null(_TS_NULL)
    return X, y, ts.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


class _Prefix:
    """The entity's rows that completed a window — the prequential training
    set, capped to the most recent ``cap`` rows (None: all of them). Rows are
    appended into amortized-doubling storage, so no window copies the whole
    prefix; the capped case drops its stale head when it reallocates."""

    def __init__(self, cap: int | None):
        self.cap = cap
        self.X: np.ndarray | None = None
        self.y: np.ndarray | None = None
        self.lo = self.hi = 0  # the training rows are X[lo:hi]
        self.seen = 0  # all rows appended, cap or not

    def accuracy(self, Xw: np.ndarray, yw: np.ndarray, sel: np.ndarray) -> tuple[float, int]:
        """k-NN accuracy of window (Xw, yw) on the selected features, trained
        on the strict prefix; then the window joins the prefix."""
        x_test = Xw[:, sel]
        if self.seen == 0:  # t=0 quirk: train = test (reference utils.py:39-42)
            out = knn_accuracy(x_test, yw, x_test, yw), len(Xw)
        else:
            x_train = self.X[self.lo : self.hi][:, sel]
            out = knn_accuracy(x_train, self.y[self.lo : self.hi], x_test, yw), self.seen
        self._append(Xw, yw)
        return out

    def _append(self, Xw: np.ndarray, yw: np.ndarray) -> None:
        k = len(Xw)
        if self.X is None or self.hi + k > len(self.X):
            live = self.hi - self.lo
            size = max(64, 2 * (live + k))
            X, y = np.empty((size, Xw.shape[1])), np.empty(size)
            if live:
                X[:live], y[:live] = self.X[self.lo : self.hi], self.y[self.lo : self.hi]
            self.X, self.y, self.lo, self.hi = X, y, 0, live
        self.X[self.hi : self.hi + k], self.y[self.hi : self.hi + k] = Xw, yw
        self.hi += k
        self.seen += k
        if self.cap is not None:
            self.lo = max(self.lo, self.hi - self.cap)


class WindowLoop:
    """The strictly ordered window loop of one entity at a time.

    :meth:`start` begins an entity (fresh, or resumed from a saved kernel
    state, window id and carry). :meth:`feed` takes the entity's next rows
    in order and runs every complete window of ``batch_size`` rows:
    ``update`` → ``select_top_m`` → optional prequential k-NN accuracy →
    emit. A short tail stays in ``carry`` for the next feed unless
    ``final=True`` closes the entity, when it becomes the last, partial
    window. Any split of an entity's rows into feeds emits the same windows.
    :meth:`batch` hands the windows emitted so far over as one
    ``WEIGHTS_SCHEMA`` Arrow batch."""

    def __init__(
        self,
        kernel: str,
        batch_size: int,
        num_features: int,
        kernel_kwargs: dict[str, Any],
        features_col: str = "features",
        with_accuracy: bool = False,
        max_train_rows: int | None = None,
    ):
        self.kernel, self.batch_size, self.num_features = kernel, batch_size, num_features
        self.kernel_kwargs, self.features_col = kernel_kwargs, features_col
        self.with_accuracy, self.max_train_rows = with_accuracy, max_train_rows
        self.ts_type = pa.timestamp("us", tz="UTC")  # drivers set the input's type
        self.windows: list[tuple] = []
        self.start(None)

    def start(self, entity: Any, state: Any = None, wid: int = 0, carry: tuple | None = None) -> None:
        """Begin ``entity``; ``state``, ``wid`` and ``carry`` = (X, y) resume
        a saved loop (carried rows have no timestamp)."""
        self.entity, self.state, self.wid = entity, state, wid
        self.carry, self.m = None, None
        if carry is not None and len(carry[0]):
            self.carry = (carry[0], carry[1], np.full(len(carry[0]), _TS_NULL, dtype=np.int64))
            self.m = carry[0].shape[1]
        self.prefix = _Prefix(self.max_train_rows) if self.with_accuracy else None

    def feed(self, X: np.ndarray, y: np.ndarray, ts: np.ndarray | None, final: bool) -> None:
        """Fold the entity's next rows (``ts`` None: no timestamps)."""
        if len(X):
            if self.m is None:
                self.m = X.shape[1]
            elif X.shape[1] != self.m:
                raise _width_error(self.features_col, self.m, X.shape[1])
        if ts is None:
            ts = np.full(len(X), _TS_NULL, dtype=np.int64)
        if self.carry is not None:
            if len(X):
                X, y, ts = (np.concatenate([c, v]) for c, v in zip(self.carry, (X, y, ts)))
            else:
                X, y, ts = self.carry
            self.carry = None
        n = len(X)
        if n and self.state is None:
            self.state = init_state(self.kernel, X.shape[1], num_features=self.num_features, **self.kernel_kwargs)
        start, bs = 0, self.batch_size
        while n - start >= bs or (final and start < n):
            stop = min(start + bs, n)
            self._step(X[start:stop], y[start:stop], int(ts[stop - 1]))
            start = stop
        if start < n:
            self.carry = (X[start:].copy(), y[start:].copy(), ts[start:].copy())

    def _step(self, Xw: np.ndarray, yw: np.ndarray, ts_end: int) -> None:
        t0 = time.perf_counter()
        self.state, w = update(self.kernel, self.state, Xw, yw)
        sel = select_top_m(w, self.num_features)
        elapsed = time.perf_counter() - t0
        acc, train_rows = self.prefix.accuracy(Xw, yw, sel) if self.prefix is not None else (None, 0)
        self.windows.append((self.entity, self.wid, len(Xw), ts_end, w, sel, acc, train_rows, elapsed))
        self.wid += 1

    def batch(self) -> pa.RecordBatch:
        """The windows emitted since the last call, as one Arrow batch."""
        k = len(self.windows)
        conv, wid, rows, ts, w, sel, acc, train, elapsed = (
            zip(*self.windows) if k else ([] for _ in range(9))
        )
        self.windows = []
        # list offsets from the ACTUAL lengths: a selection holds
        # min(num_features, m) entries and m may differ across entities
        w_off = np.zeros(k + 1, dtype=np.int32)
        np.cumsum([len(v) for v in w], out=w_off[1:])
        sel_off = np.zeros(k + 1, dtype=np.int32)
        np.cumsum([len(v) for v in sel], out=sel_off[1:])
        w_flat = np.concatenate(w) if k else np.empty(0)
        sel_flat = np.concatenate(sel).astype(np.int32) if k else np.empty(0, np.int32)
        mem = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024  # kB on Linux
        return pa.RecordBatch.from_arrays(
            [
                pa.array(conv).cast(pa.string()),  # non-string entity ids as text
                pa.array(wid, type=pa.int64()),
                pa.array(rows, type=pa.int64()),
                pa.array([None if v == _TS_NULL else v for v in ts], type=pa.int64()).cast(self.ts_type),
                pa.ListArray.from_arrays(pa.array(w_off), pa.array(w_flat, type=pa.float64())),
                pa.ListArray.from_arrays(pa.array(sel_off), pa.array(sel_flat, type=pa.int32())),
                pa.array(acc, type=pa.float64()),
                pa.array(train, type=pa.int64()),
                pa.array(elapsed, type=pa.float64()),
                pa.array(np.full(k, mem, dtype=np.int64)),
            ],
            names=[f.name for f in WEIGHTS_SCHEMA.fields],
        )


def fold_weights(
    df: DataFrame,
    kernel: str = "ofs",
    batch_size: int = 50,
    num_features: int = 5,
    kernel_kwargs: dict[str, Any] | None = None,
    *,
    entity_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx", "ts"),
    features_col: str = "features",
    label_col: str = "label",
    ts_col: str = "ts",
    assume_partitioned: bool = False,
    with_accuracy: bool = False,
    max_train_rows: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """The batch fold: hash-partition by entity, sort within partitions,
    then scan Arrow batches carrying the window loop across batch
    boundaries.

    Input must have (entity_col, *order_cols, features array<double>,
    label double, ts timestamp). Output: one row per (entity, window_id)
    with the post-window weight vector, top-m selection and metrics.

    ``with_accuracy=True`` adds prequential k-NN evaluation trained on the
    entity's strict prefix: all of it (the reference's semantics), or its
    most recent ``max_train_rows`` rows when that is set. Memory per task is
    O(arrow batch + kernel state + current window), plus the prefix buffer
    when ``with_accuracy`` is set: O(max_train_rows·m) capped, O(entity)
    uncapped.

    ``materialize`` (default True) lazily ``localCheckpoint``s the weights
    output so multi-consumer pipelines (FSCR ⋈ Nogueira) execute the fold
    once — see the return-site note. Pass False to get the raw plan (plan
    inspection, or a caller managing its own persistence).

    ``assume_partitioned=True`` skips the repartition+sort when the caller
    guarantees the input is already partitioned by ``entity_col`` and sorted
    by (entity, *order) within partitions — true for the direct output (or
    cache) of ``featurize_turns``'s window stage, or a bucketed/sorted table.
    The fold then runs as a pure map stage: zero shuffles.
    """
    if kernel not in KERNELS:
        raise ValueError(f"unknown kernel {kernel!r}; available: {sorted(KERNELS)}")
    kk = dict(kernel_kwargs or {})
    order = list(order_cols)
    cols = list(dict.fromkeys([entity_col, *order, features_col, label_col, ts_col]))

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        loop = WindowLoop(kernel, batch_size, num_features, kk, features_col, with_accuracy, max_train_rows)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            loop.ts_type = rb.schema.field(ts_col).type
            X, y, ts = _arrow_rows(rb, features_col, label_col, ts_col)
            # entity boundaries computed IN Arrow (pc.not_equal on shifted
            # slices): a to_numpy on a string column materializes one Python
            # object per row — measured ~15% of the whole scan; only one
            # .as_py() per contiguous entity segment is needed instead
            conv_col = rb.column(entity_col)
            bounds = [0, rb.num_rows]
            if rb.num_rows > 1:
                cur, prev = conv_col.slice(1), conv_col.slice(0, rb.num_rows - 1)
                neq = pa_compute.not_equal(cur, prev)
                if conv_col.null_count:  # NULL vs id is a boundary, NULL vs NULL is not
                    null_flip = pa_compute.xor(pa_compute.is_null(cur), pa_compute.is_null(prev))
                    neq = pa_compute.fill_null(pa_compute.or_kleene(neq, null_flip), False)
                bounds[1:1] = (np.flatnonzero(neq.to_numpy(zero_copy_only=False)) + 1).tolist()
            for lo, hi in zip(bounds, bounds[1:]):
                conv = conv_col[lo].as_py()
                if conv != loop.entity:
                    loop.feed(*_NO_ROWS, final=True)  # close the previous entity
                    loop.start(conv)
                loop.feed(X[lo:hi], y[lo:hi], ts[lo:hi], final=False)
            if loop.windows:
                yield loop.batch()
        loop.feed(*_NO_ROWS, final=True)
        if loop.windows:
            yield loop.batch()

    # Hash-partition on the entity (NOT range): no sampling pass, better
    # balance across many entities, and — crucially — the exchange is
    # eliminated by Catalyst when the upstream featurization window already
    # hash-partitioned by the same key into the same number of partitions.
    # The explicit count (REPARTITION_BY_NUM) also keeps AQE from coalescing
    # the fold's tasks. Skewed giant entities are bounded by the scan's
    # O(batch) memory either way.
    if assume_partitioned:
        prepared = df.select(*cols)
    else:
        parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        prepared = (
            df.select(*cols)
            .repartition(int(parts), entity_col)
            .sortWithinPartitions(entity_col, *order)
        )
    # Lazy localCheckpoint on the weights output (r06, measured): the fold
    # is the expensive stage and its output is windows-table-sized (orders
    # smaller than the input — one row per entity×window), while stability
    # pipelines consume it several times (FSCR's window + Nogueira's two
    # aggregation branches = three executions of the whole Arrow fold
    # without this). First action materializes and caches; single-consumer
    # callers measured ZERO overhead (fold count 1.45 s with or without),
    # the fscr⋈nogueira pipeline drops 2.9 → 1.66 s. Nothing pushes
    # through the Python boundary anyway, so no pushdown is lost. Swap for
    # checkpoint() with a durable dir on a real cluster (the graph.py
    # note) if executor loss must be recoverable mid-query.
    out = prepared.mapInArrow(scan, WEIGHTS_SCHEMA)
    return out.localCheckpoint(eager=False) if materialize else out


fold_weights_stream = fold_weights
