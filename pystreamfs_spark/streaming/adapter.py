"""Structured Streaming adapter.

The reference's stream is *simulated* (ordered replay of a static matrix,
pystreamfs.py:59), so bulk/backfill batch execution is the faithful mode
(SURVEY.md §2.3). This adapter runs the SAME kernels over a live stream:

- :func:`stream_fold` — per-entity ordered kernel fold as a custom stateful
  operator (``applyInPandasWithState``) that drives the batch fold's
  ``fold.WindowLoop`` with ``final=False``; GroupState keeps the loop's
  pickled kernel state, carried partial-window rows and next window id.
  Exact batch parity holds when rows arrive in turn order (monotone
  ``turn_idx`` per conversation) — rows older than the fold frontier are
  counted in ``n_late`` and skipped, mirroring a watermark-dropped late
  event.
- :func:`stream_session_stats` — event-time sessionization via
  ``F.session_window`` + watermark (the streaming twin of
  operators.sessionize).
"""

from __future__ import annotations

import pickle
from typing import Any, Iterable, Iterator, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pystreamfs_spark.fold import WindowLoop, feature_matrix
from pystreamfs_spark.kernels import KERNELS

STREAM_WEIGHTS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("window_id", LongType()),
        StructField("win_rows", LongType()),
        StructField("w", ArrayType(DoubleType())),
        StructField("selected", ArrayType(IntegerType())),
        StructField("fscr", DoubleType()),
        StructField("stability", DoubleType()),
        StructField("n_late", LongType()),
    ]
)

# Bump on ANY change to _STATE_SCHEMA or to the layout of its pickled
# blobs. v3 = r04 layout (version field + the r02 sel_counts/n_late_acc
# additions). A resumed checkpoint whose stored version differs fails fast
# with a clear error instead of silently misaligning unpickled state.
_STATE_VERSION = 3

_STATE_SCHEMA = StructType(
    [
        StructField("state_version", LongType()),
        StructField("kernel_state", BinaryType()),
        StructField("carry_x", BinaryType()),
        StructField("carry_y", BinaryType()),
        StructField("prev_sel", BinaryType()),
        # per-feature selection counts over this entity's completed windows —
        # the sufficient statistic for a RUNNING Nogueira stability
        StructField("sel_counts", BinaryType()),
        StructField("next_turn", LongType()),
        StructField("wid", LongType()),
        # late rows seen since the last completed window — accumulated across
        # micro-batches so a batch that completes no window doesn't lose them
        StructField("n_late_acc", LongType()),
    ]
)


def _running_nogueira(counts, k: int, num_features: int) -> float | None:
    """Nogueira stability (JMLR 2018 eq. 2) from selection counts over k
    windows — identical closed form to operators.stability.nogueira_stability
    with constant selection size d̄ = num_features."""
    import numpy as np

    m = counts.shape[0]
    qbar = num_features / m
    if k < 2 or qbar <= 0 or qbar >= 1:
        return None
    p = counts / k
    s2_sum = float(np.sum((k / (k - 1)) * p * (1.0 - p)))
    return 1.0 - (s2_sum / m) / (qbar * (1.0 - qbar))


def stream_fold(
    stream_df: DataFrame,
    kernel: str = "ofs",
    batch_size: int = 50,
    num_features: int = 5,
    kernel_kwargs: dict[str, Any] | None = None,
    entity_col: str = "conv_id",
    turn_col: str = "turn_idx",
    features_col: str = "features",
    label_col: str = "label",
) -> DataFrame:
    """Streaming per-entity kernel fold. Input: a streaming DataFrame with
    (entity, turn_idx, features array<double>, label). Output: one row per
    *completed* window (partial tails stay in state until more rows arrive —
    a stream has no "end of conversation"), with in-stream FSCR (vs the
    previous window) and a RUNNING Nogueira stability over all completed
    windows so far — the per-feature selection counts are the sufficient
    statistic and live in GroupState, so window t's stability equals the
    batch ``nogueira_stability`` computed over windows 0..t.

    CHECKPOINT COMPATIBILITY: ``applyInPandasWithState`` state schemas are
    not evolvable — any change to ``_STATE_SCHEMA`` or its pickled-blob
    layout invalidates pre-existing streaming checkpoints. The state tuple
    therefore carries ``_STATE_VERSION`` as its first field and a resumed
    checkpoint with a different stored version FAILS FAST with a clear
    error instead of silently misaligning unpickled state. Start the query
    with a NEW checkpointLocation whenever the engine bumps
    ``_STATE_VERSION``."""
    if kernel not in KERNELS:
        raise ValueError(f"unknown kernel {kernel!r}; available: {sorted(KERNELS)}")
    kk = dict(kernel_kwargs or {})

    def fn(
        key: Tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        loop = WindowLoop(kernel, batch_size, num_features, kk, features_col)
        prev_sel = sel_counts = None
        next_turn = n_late_acc = 0
        if state.exists:
            stored = state.get
            if stored[0] != _STATE_VERSION:
                raise ValueError(
                    f"stream_fold checkpoint state version mismatch: stored "
                    f"v{stored[0]}, engine expects v{_STATE_VERSION}. "
                    "applyInPandasWithState state is not schema-evolvable - "
                    "restart the query with a NEW checkpointLocation after "
                    "upgrading the engine."
                )
            _, ks_b, cx_b, cy_b, ps_b, sc_b, next_turn, wid, n_late_acc = stored
            carry_X = pickle.loads(cx_b)
            carry = None if carry_X is None else (carry_X, pickle.loads(cy_b))
            loop.start(key[0], pickle.loads(ks_b), wid, carry)
            prev_sel = pickle.loads(ps_b)
            sel_counts = pickle.loads(sc_b)
        else:
            loop.start(key[0])

        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(turn_col, kind="mergesort")
        fresh = rows[rows[turn_col] >= next_turn]
        n_late = n_late_acc + (len(rows) - len(fresh))
        if len(fresh):
            X = feature_matrix(pa.array(fresh[features_col], type=pa.list_(pa.float64())), features_col)
            loop.feed(X, fresh[label_col].to_numpy(dtype=np.float64), None, final=False)
            next_turn = int(fresh[turn_col].iloc[-1]) + 1
        out = None
        if loop.windows:
            out = loop.batch().select(["conv_id", "window_id", "win_rows", "w", "selected"]).to_pandas()
            fscr_vals, stab = [], []
            for wid, sel in zip(out["window_id"], out["selected"]):
                # FSCR vs the previous window of this entity, carried in
                # state across micro-batches (reference utils.py:4-18)
                fscr_vals.append(
                    None if prev_sel is None else len(set(prev_sel).difference(set(sel))) / num_features
                )
                if sel_counts is None:
                    sel_counts = np.zeros(loop.m, dtype=np.int64)
                sel_counts[sel] += 1
                stab.append(_running_nogueira(sel_counts, wid + 1, len(sel)))
                prev_sel = [int(j) for j in sel]
            out["fscr"], out["stability"] = fscr_vals, stab
            out["n_late"] = [n_late] + [0] * (len(out) - 1)
            n_late = 0

        carry_X, carry_y = loop.carry[:2] if loop.carry is not None else (None, None)
        state.update(
            (
                _STATE_VERSION,
                pickle.dumps(loop.state),
                pickle.dumps(carry_X),
                pickle.dumps(carry_y),
                pickle.dumps(prev_sel),
                pickle.dumps(sel_counts),
                next_turn,
                loop.wid,
                n_late,  # 0 if a window was emitted this batch; else carried
            )
        )
        if out is not None:
            yield out[[f.name for f in STREAM_WEIGHTS_SCHEMA.fields]]

    cols = [entity_col, turn_col, features_col, label_col]
    return (
        stream_df.select(*cols)
        .groupBy(entity_col)
        .applyInPandasWithState(
            fn,
            outputStructType=STREAM_WEIGHTS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_session_stats(
    stream_df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Event-time sessionization with late-data handling: the streaming twin
    of operators.sessionize (session_window merges on the gap rule;
    watermark bounds state)."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"), F.col(entity_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("v_sum"),
        )
        .select(
            entity_col,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
            "v_sum",
        )
    )


def stream_quality_signals(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Ingest-time Gopher repetition-quality gate — the streaming twin of
    ``operators.quality.repetition_signals``. All four fractions are
    within-document, so the streaming form is completely STATELESS: one
    map-only pass of array expressions per arriving document, no watermark,
    no GroupState, no shuffle — per-document output is bit-identical to the
    batch grouped operator (parity asserted in tests). Filter on the
    emitted fractions (e.g. ``top_kgram_frac <= 0.2``) to drop low-quality
    documents before they ever land."""
    from pystreamfs_spark.operators.quality import repetition_signals_rowwise

    return repetition_signals_rowwise(stream_df, text_col=text_col, id_col=id_col, k=k)


def stream_decontaminate(
    stream_df: DataFrame,
    bloom: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_overlap: int = 1,
    k_hashes: int = 5,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Ingest-time benchmark decontamination — the streaming twin of
    ``operators.quality.decontaminate_bloom``: probe each arriving
    document's distinct n-grams against a PREBUILT Bloom filter of the
    eval suite's grams (``operators.sketches.bloom_build``, one static
    row, built once and reused by every pipeline). The stream-static
    cross join of the single filter row broadcasts with the plan and the
    probe is a pure per-row array expression, so the pass is completely
    STATELESS — no watermark, no GroupState, no shuffle; per-document
    output is bit-identical to the batch operator (parity asserted in
    tests). Filter ``NOT contaminated`` to stop eval leakage before it
    ever lands in a training shard."""
    from pystreamfs_spark.operators.quality import decontaminate_bloom_rowwise

    return decontaminate_bloom_rowwise(
        stream_df,
        bloom,
        text_col=text_col,
        id_col=id_col,
        n=n,
        min_overlap=min_overlap,
        k_hashes=k_hashes,
        m_bits=m_bits,
    )


def stream_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Ingest-time exact dedup with BOUNDED state — the streaming twin of
    ``operators.dedup.exact_dedup``: fingerprint the normalized text (md5,
    same key as the batch operator) and keep the first arrival per
    fingerprint within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` retains a fingerprint's state only
    until the event-time watermark passes it, so state is O(unique docs per
    horizon), not O(corpus) — the property that makes continuous 100 TB/day
    ingest feasible. The documented trade: a duplicate arriving later than
    the horizon is re-admitted (run the batch ``exact_dedup`` downstream for
    the exact global pass; this operator is the cheap streaming pre-filter
    that cuts the bulk of duplicate volume before it ever lands)."""
    from pystreamfs_spark.functions.text import fingerprint

    fp = stream_df.withColumn("__fp", fingerprint(F.col(text_col)))
    out = fp.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(["__fp"])
    return out.select(id_col, ts_col, F.col("__fp").alias("fp"), text_col)


def stream_clean_lines(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_words: int = 3,
    banned_terms: list[str] | None = None,
    require_terminal: bool = False,
) -> DataFrame:
    """Ingest-time C4 line gate — the streaming twin of
    ``operators.lines.filter_lines``. Line filtering is within-document, so
    the streaming form is completely STATELESS: one map-only pass of
    higher-order-function array expressions per arriving document — no
    watermark, no GroupState, no shuffle — and per-document output is
    bit-identical to the batch operator (parity asserted in tests).
    Compose with ``WHERE n_kept > 0`` to drop documents whose every line
    failed the gate before they land. (The cross-document
    ``dedup_lines_corpus`` pass has no streaming twin by design: its
    frequency table is a corpus-wide aggregate — run it in the batch
    compaction tier.)"""
    from pystreamfs_spark.operators.lines import filter_lines

    return filter_lines(
        stream_df,
        text_col=text_col,
        id_col=id_col,
        sep=sep,
        min_words=min_words,
        banned_terms=banned_terms,
        require_terminal=require_terminal,
    )
