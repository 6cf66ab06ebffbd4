"""FSDS mergeable fast path — ``--fast-sketch`` (SURVEY.md §7, opt-in).

The exact FSDS fold is strictly ordered per entity: window t's sketch chains
off window t−1's (reference fsds.py:37). Frequent-Directions sketches are
*mergeable* (Ghashami et al.: shrink(svd([B₁|B₂])) approximates the sketch
of the concatenated data with additive error ‖A‖²_F/ℓ), which unlocks
parallelism INSIDE one giant conversation at the cost of exactness:

  Phase A (parallel over (entity, chunk)):  sketch each chunk of
      ``chunk_windows`` windows independently (ordered within the chunk).
  Phase B (per entity, cheap):  ordered prefix-merge of the chunk sketches —
      state is m×ℓ matrices, not rows, so this sequential pass is O(chunks)
      tiny SVDs.
  Phase C (parallel over (entity, chunk)):  re-fold each chunk's windows
      through the fold's ``WindowLoop``, seeded with the merged prefix
      sketch of all PRIOR chunks and the chunk's first window id →
      per-window weight vectors at full granularity.

  Phases A and B both run the kernel's Frequent-Directions step
  (``kernels.fsds.fd_step``): A feeds it a window's transposed rows, B a
  chunk's sketch. Neither needs the kernel's ridge/weights tail.

Exactness: with a single chunk the prefix is empty and the result is
bit-identical to the exact fold (tested); with multiple chunks, per-window
weights are approximate because the prefix is a merged sketch rather than
the reference's raw hstack chain. Use the exact fold when allclose parity
matters; use this when one conversation holds a cluster's worth of turns.
"""

from __future__ import annotations

import pickle
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
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
from pystreamfs_spark.kernels.fsds import FSDSState, fd_step
from pystreamfs_spark.operators.windows import assign_count_windows

_SKETCH_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("chunk", LongType()),
        StructField("sketch", BinaryType()),
    ]
)

_PREFIX_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("chunk", LongType()),
        StructField("prefix", BinaryType()),
    ]
)

_OUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("window_id", LongType()),
        StructField("win_rows", LongType()),
        StructField("w", ArrayType(DoubleType())),
        StructField("selected", ArrayType(IntegerType())),
    ]
)


def fold_fsds_fast(
    df: DataFrame,
    batch_size: int = 50,
    num_features: int = 5,
    k: int = 2,
    ell: int = 0,
    chunk_windows: int = 8,
    entity_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx", "ts"),
    features_col: str = "features",
    label_col: str = "label",
) -> DataFrame:
    """Approximate FSDS per-window weights with intra-entity parallelism.
    Output: (conv_id, window_id, win_rows, w, selected)."""
    order = list(order_cols)
    win = assign_count_windows(
        df.select(entity_col, *order, features_col), entity_col=entity_col,
        order_cols=order_cols, batch_size=batch_size,
    ).withColumn("chunk", F.floor(F.col("window_id") / chunk_windows))

    # NOTE: eager action at plan-build time — one head(1) job to learn the
    # feature width m (the array length is not in the schema). Cost: one
    # tiny job before the transformation is assembled.
    head = df.select(features_col).head(1)
    if not head or head[0][0] is None:
        raise ValueError(
            f"fold_fsds_fast: input has no rows (or null {features_col!r}) — "
            "cannot infer the feature width m"
        )
    sample_m = len(head[0][0])
    resolved_ell = ell if ell >= 1 else int(np.sqrt(sample_m))
    FSDSState.init(sample_m, k=k, ell=ell)  # surface the ell>=k contract early

    def sketch_chunk(tbl: pa.Table) -> pa.Table:
        tbl = tbl.sort_by([(c, "ascending") for c in order])
        X = feature_matrix(tbl.column(features_col), features_col)
        B = None
        for s in range(0, len(X), batch_size):
            _, _, B = fd_step(B, X[s : s + batch_size].T, resolved_ell)
        return pa.table(
            {
                "conv_id": [str(tbl.column(entity_col)[0].as_py())],
                "chunk": [tbl.column("chunk")[0].as_py()],
                "sketch": [pickle.dumps(B)],
            }
        )

    sketches = win.groupBy(entity_col, "chunk").applyInArrow(sketch_chunk, _SKETCH_SCHEMA)

    def prefix_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("chunk")
        out = []
        prefix: np.ndarray | None = None
        for _, row in pdf.iterrows():
            out.append((row["conv_id"], int(row["chunk"]), pickle.dumps(prefix)))
            B = pickle.loads(row["sketch"])
            _, _, prefix = fd_step(prefix, B, resolved_ell)
        return pd.DataFrame(out, columns=["conv_id", "chunk", "prefix"])

    prefixes = sketches.groupBy("conv_id").applyInPandas(prefix_scan, _PREFIX_SCHEMA)

    joined = win.join(
        F.broadcast(prefixes.withColumnRenamed("conv_id", entity_col)), [entity_col, "chunk"]
    )

    def refold_chunk(tbl: pa.Table) -> pa.Table:
        tbl = tbl.sort_by([(c, "ascending") for c in order])
        X = feature_matrix(tbl.column(features_col), features_col)
        state = FSDSState.init(X.shape[1], k=k, ell=ell)
        prefix = pickle.loads(tbl.column("prefix")[0].as_py())
        if prefix is not None:
            state.B, state.ell = prefix, resolved_ell
        loop = WindowLoop("fsds", batch_size, num_features, {}, features_col)
        loop.start(tbl.column(entity_col)[0].as_py(), state, tbl.column("window_id")[0].as_py())
        loop.feed(X, np.zeros(len(X)), None, final=True)
        return pa.Table.from_batches([loop.batch().select([f.name for f in _OUT_SCHEMA.fields])])

    return joined.groupBy(entity_col, "chunk").applyInArrow(refold_chunk, _OUT_SCHEMA)
