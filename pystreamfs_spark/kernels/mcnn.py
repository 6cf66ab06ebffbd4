"""Micro-Cluster Nearest Neighbor feature selection (Hammoodi, Stahl,
Badii — 2018), re-implemented from the paper's mechanics as realized by the
reference harness (/root/reference/pystreamfs/algorithms/mcnn.py:5-473; the
reference itself disclaims exactness vs the paper, mcnn.py:8-9).

Per instance, in stream order:
  1. nearest micro-cluster by L1 centroid distance
  2. if > ``max_out_of_var_bound`` fraction of dims fall outside the
     cluster's variance boundary → create a new cluster seeded at x
  3. else add the instance: error bookkeeping (error count of the target
     cluster and of the nearest cluster sharing the true label), FIFO
     eviction to ``max_n``, error-threshold split seeding children at the
     parent's Q1/Q3 centroids
  4. evict the stalest cluster when its false-positive count > 0
Per window:
  5. per-cluster feature velocity |mean_t − mean_{t−1}|
  6. drift detection on split/death-rate percentage differences (> 50%)
  7. information gain via a NumPy MI estimator (kernels/mi.py — the
     reference calls sklearn's mutual_info_classif(random_state=0))
  8. IG refresh rule: > 50% IG change makes an irrelevant feature relevant
  9. on drift: the max-IQR-scoring feature is declared irrelevant
  w = IG where relevant else 0.

State = (TimeWindowState, {cluster_id: MicroClusterState}) — plain
picklable objects, folded per entity like every other kernel.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import numpy as np

from pystreamfs_spark.kernels.mi import mutual_info_classif_np


class MicroClusterState:
    def __init__(self, t: int, x: np.ndarray, y: float, max_n: int, e_threshold: int):
        self.f_val = np.array(x)
        self.f_val2 = np.array(x**2)
        self.t = np.array(t, ndmin=1)
        self.n = 1
        self.max_n = max_n
        self.label = y
        self.e = 0
        self.e_threshold = e_threshold
        self.fpr = 0
        self.max_iqr = np.zeros(x.shape)
        self.instances = np.array(x, ndmin=2)
        self.instance_labels = np.array([int(y)])
        self.centroid = self.f_val / self.n
        self.variance = np.ones(x.shape)
        self.velocity = np.zeros(x.shape)
        self.q1 = self.f_val
        self.q3 = self.f_val
        self.iqr = self.q3 - self.q1
        self.f_val_h = np.zeros(x.shape)
        self.n_h = 0

    def refresh_stats(self) -> None:
        if self.n > self.max_n:  # FIFO eviction
            # one slice == the reference's repeated np.delete(arr, 0, 0)
            # loop (identical arrays, O(n) instead of O(evicted·n) copies)
            k = self.n - self.max_n
            self.instances = self.instances[k:]
            self.t = self.t[k:]
            self.instance_labels = self.instance_labels[k:]
            self.n = self.max_n
        self.f_val = np.sum(self.instances, axis=0)
        self.n = self.instances.shape[0]
        self.f_val2 = np.sum(self.instances**2, axis=0)
        self.label = np.argmax(np.bincount(self.instance_labels))
        self.variance = np.sqrt((self.f_val2 / self.n) - (self.f_val / self.n) ** 2)
        self.centroid = self.f_val / self.n
        # one percentile call for both quartiles: same partition +
        # interpolation per axis as two separate calls — identical values,
        # one sort of the instance block instead of two (r06)
        self.q1, self.q3 = np.percentile(self.instances, [25, 75], axis=0)
        self.iqr = self.q3 - self.q1


@dataclass
class MCNNState:
    m: int
    max_n: int = 50
    e_threshold: int = 3
    max_out_of_var_bound: float = 0.3
    p_diff_threshold: float = 50.0
    window: Any = None
    clusters: dict = field(default_factory=dict)
    # vectorized mirrors of the per-cluster fields the inner loop reads —
    # row i corresponds to keys[i]; rows stay ordered by creation (ascending
    # key), so argmin/argmax tie-breaks equal the reference's dict-iteration
    # ("first created wins") semantics
    keys: Any = None  # int64[K]
    cent: Any = None  # float64[K, m]
    var: Any = None  # float64[K, m]
    avg_t: Any = None  # float64[K]
    fpr_arr: Any = None  # int64[K]
    label_arr: Any = None  # float64[K]

    @classmethod
    def init(
        cls,
        m: int,
        num_features: int = 5,
        max_n: int = 50,
        e_threshold: int = 3,
        max_out_of_var_bound: float = 0.3,
        p_diff_threshold: float = 50.0,
    ) -> "MCNNState":
        del num_features
        return cls(
            m=m,
            max_n=max_n,
            e_threshold=e_threshold,
            max_out_of_var_bound=max_out_of_var_bound,
            p_diff_threshold=p_diff_threshold,
        )


class _TimeWindow:
    def __init__(self, m: int):
        self.t = 0
        self.n = 0
        self.cluster_idx = 0
        self.drift = False
        self.splits = 0
        self.deaths = 0
        self.split_rate = 0.0
        self.split_rate_h = 0.0
        self.death_rate = 0.0
        self.death_rate_h = 0.0
        self.ftr_relevancy = np.ones(m)
        self.ftr_ig = np.ones(m)
        self.selected_ftr = np.ones(m)


class _Index:
    """Vectorized mirror of per-cluster scan fields (see MCNNState docs).

    Buffers carry slack capacity with amortized-doubling growth (r06):
    the previous ``np.append``/``vstack`` per new cluster copied the whole
    index each time — O(K²) element copies over a stream that creates
    thousands of clusters (measured 1.7 s of a 7.8 s MCNN replay over the
    bench corpus, 16.5k cluster creations). Values stored and read are
    identical — readers go through properties slicing the valid prefix,
    and removal is the same compaction ``np.delete`` produced, done in
    place. Bookkeeping only; no kernel arithmetic changes."""

    def __init__(self, m: int, state: MCNNState):
        if state.keys is None:
            cap = 64
            self._keys = np.empty(cap, dtype=np.int64)
            self._cent = np.empty((cap, m))
            self._var = np.empty((cap, m))
            self._avg_t = np.empty(cap)
            self._fpr = np.empty(cap, dtype=np.int64)
            self._label = np.empty(cap)
            self.size = 0
        else:
            # copy the saved compact arrays into buffers with headroom (one
            # O(K) copy per update call): refresh()/remove() write in place,
            # and must not reach arrays a caller's earlier state still holds
            self._keys = state.keys
            self._cent = state.cent
            self._var = state.var
            self._avg_t = state.avg_t
            self._fpr = state.fpr_arr
            self._label = state.label_arr
            self.size = len(state.keys)
            self._grow()

    # valid-prefix views — what every scan in mcnn_update reads
    @property
    def keys(self):
        return self._keys[: self.size]

    @property
    def cent(self):
        return self._cent[: self.size]

    @property
    def var(self):
        return self._var[: self.size]

    @property
    def avg_t(self):
        return self._avg_t[: self.size]

    @property
    def fpr(self):
        return self._fpr[: self.size]

    @property
    def label(self):
        return self._label[: self.size]

    def _grow(self) -> None:
        cap = max(64, 2 * len(self._keys))
        for name in ("_keys", "_cent", "_var", "_avg_t", "_fpr", "_label"):
            old = getattr(self, name)
            shape = (cap, old.shape[1]) if old.ndim == 2 else (cap,)
            buf = np.empty(shape, dtype=old.dtype)
            buf[: self.size] = old[: self.size]
            setattr(self, name, buf)

    def add(self, key: int, c: MicroClusterState) -> None:
        if self.size == len(self._keys):
            self._grow()
        i = self.size
        self._keys[i] = key
        self._cent[i] = c.centroid
        self._var[i] = c.variance
        self._avg_t[i] = np.sum(c.t) / c.n
        self._fpr[i] = c.fpr
        self._label[i] = float(c.label)
        self.size += 1

    def row_of(self, key: int) -> int:
        return int(np.searchsorted(self.keys, key))  # keys stay sorted asc

    def refresh(self, key: int, c: MicroClusterState) -> None:
        i = self.row_of(key)
        self._cent[i] = c.centroid
        self._var[i] = c.variance
        self._avg_t[i] = np.sum(c.t) / c.n
        self._fpr[i] = c.fpr
        self._label[i] = float(c.label)

    def remove(self, key: int) -> None:
        i = self.row_of(key)
        s = self.size
        for name in ("_keys", "_cent", "_var", "_avg_t", "_fpr", "_label"):
            buf = getattr(self, name)
            buf[i : s - 1] = buf[i + 1 : s]
        self.size -= 1

    def save(self, state: MCNNState) -> None:
        # compact copies, not views into the slack-capacity buffers
        state.keys = self.keys.copy()
        state.cent = self.cent.copy()
        state.var = self.var.copy()
        state.avg_t = self.avg_t.copy()
        state.fpr_arr = self.fpr.copy()
        state.label_arr = self.label.copy()


def _add_instance(c, c_key, x, y, window, dists, idx, clusters):
    """dists: L1 distance of x to every cluster row (idx order)."""
    c.instances = np.append(c.instances, [x], axis=0)
    c.t = np.append(c.t, window.t)
    c.instance_labels = np.append(c.instance_labels, int(y))
    c.n += 1
    if y == c.label:
        if c.e > 0:
            c.e -= 1
    else:
        c.e += 1
        if y == 1:
            c.fpr += 1
        # propagate the error to the nearest cluster whose label == y
        # (reference: sorted(dist_sums) scan, mcnn.py:298-301) — vectorized:
        # masked argmin; ties resolve to the lowest row = earliest created,
        # matching the stable sort + insertion-order dict iteration
        mask = (idx.label == y) & (idx.keys != c_key)
        if mask.any():
            masked = np.where(mask, dists, np.inf)
            idx_other = int(np.argmin(masked))
            clusters[idx.keys[idx_other]].e += 1
    if c.e > c.e_threshold:
        # split: children seeded at the parent's quartile centroids
        new_c1 = MicroClusterState(window.t, c.q1, c.label, c.max_n, c.e_threshold)
        new_c2 = MicroClusterState(window.t, c.q3, c.label, c.max_n, c.e_threshold)
        window.splits += 1
        clusters[window.cluster_idx] = new_c1
        idx.add(window.cluster_idx, new_c1)
        window.cluster_idx += 1
        clusters[window.cluster_idx] = new_c2
        idx.add(window.cluster_idx, new_c2)
        window.cluster_idx += 1
        clusters.pop(c_key, None)
        idx.remove(c_key)
    else:
        c.refresh_stats()
        clusters[c_key] = c
        idx.refresh(c_key, c)
    return clusters


def _remove_stalest(clusters, window, idx):
    # stalest = max(window.t - avg_t) = min(avg_t); ties → lowest row,
    # matching the reference's max() first-encountered semantics
    i = int(np.argmin(idx.avg_t))
    if idx.fpr[i]:
        key = int(idx.keys[i])
        clusters.pop(key, None)
        idx.remove(key)
        window.deaths += 1
    return clusters, window


def _percent_diff(cur: float, hist: float) -> float:
    mean = (cur + hist) / 2
    if mean == 0:
        return 0.0
    return (abs(cur - hist) / mean) * 100


def mcnn_update(state: MCNNState, X: np.ndarray, y: np.ndarray) -> tuple[MCNNState, np.ndarray]:
    window = state.window if state.window is not None else _TimeWindow(state.m)
    clusters = state.clusters

    window.t += 1
    window.n = X.shape[0]
    window.split_rate_h = window.split_rate
    window.death_rate_h = window.death_rate
    window.splits = 0
    window.deaths = 0
    window.split_rate = 0.0
    window.death_rate = 0.0

    idx = _Index(state.m, state)

    def new_cluster(xi, yi):
        c = MicroClusterState(window.t, xi, yi, state.max_n, state.e_threshold)
        clusters[window.cluster_idx] = c
        idx.add(window.cluster_idx, c)
        window.cluster_idx += 1

    for xi, yi in zip(X, y):
        if clusters:
            # one vectorized L1 scan over all centroids (reference does a
            # per-cluster python loop, mcnn.py:52-56); argmin tie-break =
            # lowest row = earliest created, as in the reference's dict min
            dists = np.abs(idx.cent - xi).sum(axis=1)
            i_min = int(np.argmin(dists))
            min_key = int(idx.keys[i_min])
            min_c = clusters[min_key]
            min_dist = np.abs(min_c.centroid - xi)
            out_of_boundary = np.sum(min_dist > min_c.variance) / len(min_dist)
            if out_of_boundary > state.max_out_of_var_bound:
                new_cluster(xi, yi)
            else:
                clusters = _add_instance(min_c, min_key, xi, yi, window, dists, idx, clusters)
        else:
            new_cluster(xi, yi)
        if len(clusters) > 1:
            clusters, window = _remove_stalest(clusters, window, idx)

    for c in clusters.values():
        c.velocity = np.abs(c.f_val / c.n - (c.f_val_h / c.n_h if c.n_h else np.zeros(state.m)))
        c.f_val_h = c.f_val
        c.n_h = c.n

    # drift detection on split/death-rate percentage differences
    window.split_rate = window.splits / window.n
    window.death_rate = window.deaths / window.n
    mean_split = (window.split_rate + window.split_rate_h) / 2
    mean_death = (window.death_rate + window.death_rate_h) / 2
    p_split = _percent_diff(window.split_rate, window.split_rate_h)
    p_death = _percent_diff(window.death_rate, window.death_rate_h)
    window.drift = (
        window.split_rate > mean_split
        and window.death_rate > mean_death
        and p_split > state.p_diff_threshold
        and p_death > state.p_diff_threshold
    )

    # information-gain refresh (all features at t=1; irrelevant ones later)
    if window.t == 1:
        ftr_idx = np.where(window.ftr_relevancy == 1)[0]
    else:
        ftr_idx = np.where(window.ftr_relevancy == 0)[0]
    if ftr_idx.size:
        data = np.concatenate([c.instances for c in clusters.values()], axis=0)
        labels = np.concatenate([c.instance_labels for c in clusters.values()])
        ig = mutual_info_classif_np(data, labels, random_state=0)
        for ftr in ftr_idx:
            if _percent_diff(window.ftr_ig[ftr], ig[ftr]) > 50:
                window.ftr_relevancy[ftr] = 1
            window.ftr_ig[ftr] = ig[ftr]
        window.selected_ftr[:] = 0
        window.selected_ftr[window.ftr_relevancy == 1] = window.ftr_ig[window.ftr_relevancy == 1]

    if window.drift:
        max_iqr_scores = np.zeros(state.m)
        for c in clusters.values():
            c.max_iqr[np.argmax(c.iqr)] += 1
            max_iqr_scores += c.max_iqr
        window.ftr_relevancy[np.argmax(max_iqr_scores)] = 0
        window.selected_ftr[:] = 0
        window.selected_ftr[window.ftr_relevancy == 1] = window.ftr_ig[window.ftr_relevancy == 1]

    state.window = window
    state.clusters = clusters
    idx.save(state)
    return state, window.selected_ftr.copy()
