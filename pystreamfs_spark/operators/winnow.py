"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
2003 — "Winnowing: Local Algorithms for Document Fingerprinting"): the
classic robust fingerprint-selection scheme behind MOSS-style duplicate and
near-duplicate detection. From each document's k-gram hash sequence, every
window of ``w`` consecutive hashes contributes its MINIMUM (rightmost on
ties), giving a position-robust fingerprint set with guaranteed detection of
any shared substring of length >= k + w - 1 and expected density 2/(w+1) —
a deterministic, alignment-free alternative to MinHash for exact-ish overlap
mining.

No reference counterpart (north-rule superset, like operators/substr.py —
winnowing trades substr.py's exact span extents for an index ~w× smaller).

Scale notes (100 TB):
- Fingerprint selection is MAP-ONLY in both strategies: k-gram hashing is
  one JVM-side ``transform`` (evaluated once per row — it feeds a physical
  operator, not an inlinable Project), and the sliding-window scan never
  shuffles. The default ``strategy="arrow"`` hands the per-document hash
  arrays to ONE ``mapInArrow`` stage that computes every window's
  rightmost-minimum as a single vectorized NumPy sliding-window argmin per
  Arrow batch — measured 14.7 s → 0.9 s at sf0.1 (5k docs, 1 partition)
  over the pure-expression fold, because Catalyst's ``aggregate`` HOF is
  interpreted per element with per-step array allocation (~3 ms/doc) while
  the NumPy path is a handful of O(total_windows × w) array ops per batch.
- ``strategy="fold"`` keeps the pure-SQL twin: ONE left-to-right
  ``aggregate`` fold over the hash array carrying a ring buffer of the
  last ``w`` hashes — no Python anywhere, exact same output (parity
  tested). Use it where Python workers are unavailable; per-document cost
  is O(n_grams × w) interpreted compares.
- CRITICAL plan-shape constraint (measured, not theoretical): Spark's
  optimizer inlines the Projects below a Generate (explode) into the
  generator expression EVEN when they hold non-cheap expressions referenced
  many times — the CollapseProject used-once guard does not protect across
  Generate. A per-window formulation (``transform(sequence(0, n_win-1),
  window_sel)`` with ``element_at(__h, …)`` inside) therefore re-evaluates
  the full md5 k-gram hash transform once per element access after the
  explode: 533 s vs ~1 s at sf0.001 (5k docs). The single-fold form
  references ``__h`` exactly ONCE, so inlining is harmless. Keep it that
  way: any future edit must not add a second reference to ``__h`` (or
  ``__t``) inside an expression that feeds ``explode``.
- The emitted (doc, pos, fp) table is ~2/(w+1) the size of the full k-gram
  postings list — joins on ``fp`` downstream (shared-fingerprint pair
  mining, composed exactly like dedup.ngram_jaccard_pairs' inverted index)
  shuffle proportionally less than gram-level indexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pystreamfs_spark.functions.text import shingles_from_tokens, tokens
from pystreamfs_spark.operators.dedup import _bucket_pairs, _cut_oversized


def _winnow_arrow(w: int):
    """mapInArrow batch fn: vectorized rightmost-min window selection over
    per-document hash arrays. Input batches: (id, __h list<int64>); output
    batches: (id, pos int64, fp int64), distinct per (id, pos, fp)."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            ids = batch.column(0)
            la = batch.column(1)
            lens = pc.list_value_length(la).to_numpy(zero_copy_only=False)
            lens = np.asarray(lens, dtype=np.int64)
            flat = pc.list_flatten(la).to_numpy(zero_copy_only=False)
            flat = np.asarray(flat, dtype=np.int64)
            offs = np.concatenate([np.zeros(1, np.int64), np.cumsum(lens)])

            # full windows: docs with L >= w contribute L - w + 1 windows
            m = np.maximum(lens - w + 1, 0)
            tot = int(m.sum())
            doc_full = np.repeat(np.arange(len(lens)), m)
            if tot:
                excl = np.concatenate([np.zeros(1, np.int64), np.cumsum(m)])[:-1]
                local = np.arange(tot) - np.repeat(excl, m)
                win = flat[(offs[doc_full] + local)[:, None] + np.arange(w)[None, :]]
                rpos = (w - 1) - win[:, ::-1].argmin(axis=1)
                fp_f = win[np.arange(tot), rpos]
                pos_f = local + rpos
            else:
                pos_f = fp_f = np.empty(0, np.int64)

            # truncated: 1 <= L < w -> one window over the whole doc
            ti = np.nonzero((lens >= 1) & (lens < w))[0]
            pos_t = np.empty(len(ti), np.int64)
            fp_t = np.empty(len(ti), np.int64)
            for j, d in enumerate(ti):
                seg = flat[offs[d] : offs[d + 1]][::-1]
                a = int(seg.argmin())
                pos_t[j] = lens[d] - 1 - a
                fp_t[j] = seg[a]

            # L == 0 -> the fold's sentinel (never reached for real text:
            # shingles_from_tokens emits >= 1 gram, but keep twin parity)
            zi = np.nonzero(lens == 0)[0]

            doc = np.concatenate([doc_full, ti, zi])
            pos = np.concatenate([pos_f, pos_t, np.full(len(zi), -1, np.int64)])
            fp = np.concatenate([fp_f, fp_t, np.full(len(zi), 2**63 - 1, np.int64)])

            order = np.lexsort((fp, pos, doc))
            doc, pos, fp = doc[order], pos[order], fp[order]
            keep = np.ones(len(doc), bool)
            keep[1:] = (doc[1:] != doc[:-1]) | (pos[1:] != pos[:-1]) | (fp[1:] != fp[:-1])
            doc, pos, fp = doc[keep], pos[keep], fp[keep]

            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(doc)),
                    pa.array(pos, type=pa.int64()),
                    pa.array(fp, type=pa.int64()),
                ],
                names=[batch.schema.names[0], "pos", "fp"],
            )

    return fn


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    strategy: str = "arrow",
) -> DataFrame:
    """Distinct winnowed fingerprints per document: (id, pos, fp) where
    ``pos`` is the 0-based k-gram position whose hash was selected and
    ``fp`` the 32-bit md5-prefix hash value (the same portable token-hash
    the SimHash operator uses, exact in any engine).

    Window semantics: hash sequence H of length L (documents shorter than
    k tokens contribute their single whole-text shingle — the
    shingles_from_tokens rule); windows are H[i..i+w-1] for
    i in [0, max(L-w, 0)] (one truncated window when L < w); each window
    selects its minimum, RIGHTMOST position on ties (the paper's robust
    tie-break, computable per-window because equal hash values make the
    choice independent of neighboring windows); selections are emitted
    once (DISTINCT on (pos, fp)).

    ``strategy="arrow"`` (default) selects window minima in ONE vectorized
    mapInArrow stage; ``strategy="fold"`` is the pure-expression twin — a
    SINGLE aggregate fold over the hash array (ring buffer of the last
    ``w`` (pos, fp) pairs, emitting each full window's rightmost minimum
    as it slides) so the hash array is referenced exactly once — the
    module-docstring Generate-inlining constraint. Outputs are identical
    (parity tested)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if w < 1:
        raise ValueError("w must be >= 1")
    if strategy not in ("arrow", "fold"):
        raise ValueError(f"unknown strategy {strategy!r} (use 'arrow' or 'fold')")

    # NULL text coalesces to '' (the substr.py precedent): one empty token
    # < k -> the single whole-text shingle, so __h is non-null by
    # construction and both strategies see the same arrays
    t = tokens(F.coalesce(F.col(text_col), F.lit("")))
    bound = df.select(F.col(id_col), t.alias("__t"))
    grams = shingles_from_tokens(F.col("__t"), k)
    hashed = bound.select(
        F.col(id_col),
        F.transform(
            grams,
            lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
        ).alias("__h"),
    )

    if strategy == "arrow":
        out_schema = T.StructType(
            [
                df.schema[id_col],
                T.StructField("pos", T.LongType()),
                T.StructField("fp", T.LongType()),
            ]
        )
        return hashed.mapInArrow(_winnow_arrow(w), out_schema)

    # the ONLY reference to __h anywhere downstream (see module docstring)
    zipped = F.transform(
        F.col("__h"),
        lambda h, i: F.struct(i.cast("long").alias("pos"), h.alias("fp")),
    )
    sel_t = "array<struct<pos:bigint,fp:bigint>>"

    def rightmost_min(buf):
        # left-to-right fold; `<=` makes later equal hashes win -> the
        # paper's rightmost tie-break
        return F.aggregate(
            buf,
            F.struct(
                F.lit(-1).cast("long").alias("pos"),
                F.lit(2**63 - 1).cast("long").alias("fp"),
            ),
            lambda a, s: F.when(s["fp"] <= a["fp"], s).otherwise(a),
        )

    def step(a, s):
        grown = F.concat(a["buf"], F.array(s))
        buf = F.when(F.size(grown) > w, F.slice(grown, 2, w)).otherwise(grown)
        return F.struct(
            buf.alias("buf"),
            F.when(
                F.size(buf) == w,
                F.concat(a["out"], F.array(rightmost_min(buf))),
            )
            .otherwise(a["out"])
            .alias("out"),
        )

    fold = F.aggregate(
        zipped,
        F.struct(
            F.array().cast(sel_t).alias("buf"), F.array().cast(sel_t).alias("out")
        ),
        step,
        # L < w: no full window ever formed -> one truncated window [0, L-1]
        lambda a: F.array_distinct(
            F.when(
                F.size(a["out"]) == 0, F.array(rightmost_min(a["buf"]))
            ).otherwise(a["out"])
        ),
    )
    sels = hashed.select(F.col(id_col), fold.alias("__s"))
    ex = sels.select(F.col(id_col), F.explode("__s").alias("__e"))
    return ex.select(
        F.col(id_col),
        F.col("__e.pos").cast("long").alias("pos"),
        F.col("__e.fp").alias("fp"),
    )


def winnow_shared_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate duplicate pairs sharing >= ``min_shared`` winnowed
    fingerprints — the MOSS matching step as an inverted-index equi-join
    (the dedup.ngram_jaccard_pairs shape, over an index ~2/(w+1) the
    size). Output: (id_a, id_b, n_shared) with id_a < id_b, each pair once.

    ``max_df`` drops fingerprints present in more than that many documents
    before pairing — the stop-shingle cut. The capped path is the dedup
    enumerator (:func:`dedup._cut_oversized` then :func:`dedup._bucket_pairs`):
    a broadcastable anti-join cut and bounded buckets, no self-join. Without
    a cut the self-join on ``fp`` stays (equi, AQE-skew-splittable); a
    boilerplate-heavy corpus then concentrates pairs under few fps exactly
    like stop-shingles do in the jaccard index (same remedy, same audit
    reasoning)."""
    if min_shared < 1:
        raise ValueError("min_shared must be >= 1")
    fps = winnow_fingerprints(df, text_col, id_col, k, w).select(id_col, "fp").distinct()
    if max_df is not None:
        pairs = _bucket_pairs(_cut_oversized(fps, ["fp"], max_df), ["fp"], F.col(id_col), max_df)
    else:
        a = fps.select(F.col(id_col).alias("id_a"), "fp")
        b = fps.select(F.col(id_col).alias("id_b"), "fp")
        pairs = a.join(b, "fp").where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
