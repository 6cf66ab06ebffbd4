"""Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster-scoped
embedding dedup with canonical selection.

The LLM-curation recipe: embed every document, k-means the embeddings,
and compare pairs ONLY within a cluster — a document pair in different
clusters is by construction not a semantic duplicate candidate. Inside a
cluster, pairs with cosine ≥ threshold form duplicate groups (transitive
closure, same semantics as :func:`pystreamfs_spark.operators.dedup.
near_dedup`), and one representative per group survives.

This composes three existing engine pieces rather than inventing new
machinery:

- cell assignment reuses the IVF broadcast-codebook ranking
  (:mod:`pystreamfs_spark.operators.ann`) — a pure map stage;
- grouping reuses :func:`pystreamfs_spark.operators.graph.
  connected_components` — min-label + pointer jumping, O(log d) rounds;
- the codebook is caller-supplied (:func:`ann.kmeans_centroids` for real
  recall) or the deterministic md5-min surrogate (oracle-reproducible).

Plan shape at 100 TB: the codebook is broadcast (tiny by definition), so
assignment never shuffles the corpus; the pair join shuffles on the cell
id only — n_cells bounds the bucket count and AQE splits skewed cells —
and is never all-pairs (the whole point of clustering first: O(Σ n_c²)
with n_c ≪ N, exactly the bucketed shape of the MinHash band join); CC
runs over the above-threshold edge set, which is duplicate-sized, not
corpus-sized. The accepted recall trade, as in the paper: a duplicate
pair straddling a cluster boundary is missed — more cells = cheaper
pairs, lower recall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pystreamfs_spark.functions.vectors import cosine_with_norms, norm
from pystreamfs_spark.operators.ann import _cells_row, _ranked_cells, _surrogate_centroids
from pystreamfs_spark.operators.graph import connected_components


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "min_id",
    priority_col: str | None = None,
) -> DataFrame:
    """Label every row with its semantic-duplicate group and whether it is
    the group's kept representative. Output: one row per input row —
    (id, cell, component, is_kept), where ``component`` is the MIN id of
    the row's duplicate group (its own id for singletons).

    ``keep="min_id"`` keeps the smallest id per group — deterministic and
    exactly SQL-expressible. ``keep="best"`` keeps the row with the
    highest ``priority_col`` (quality score, recency), ties to the
    smaller id — the real-pipeline policy ("keep the best-quality copy").

    ``centroids``: a (cell:int, __cv array<double>) codebook, e.g. from
    :func:`pystreamfs_spark.operators.ann.kmeans_centroids`; defaults to
    the deterministic md5-min surrogate with ``n_cells`` cells.

    NULL vectors raise at execution time (a NULL embedding has no cell;
    filter upstream — same ANSI-style contract as ``hash_split``)."""
    if not 0.0 <= threshold <= 1.0 + 1e-12:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    if keep not in ("min_id", "best"):
        raise ValueError(f"keep must be 'min_id' or 'best', got {keep!r}")
    if keep == "best" and priority_col is None:
        raise ValueError("keep='best' requires priority_col")

    cent = (
        centroids.select(F.col("cell").cast("int"), F.col("__cv").cast("array<double>"))
        if centroids is not None
        else _surrogate_centroids(df, n_cells, id_col, vec_col)
    )
    cent_row = _cells_row(cent, with_norms=True)

    # top-1 cell via the norm-hoisted ranking (ann._ranked_cells with
    # nv_col — dot/(__nv·__cn)): the row norm is folded once into ``__nv``
    # and reused by the assignment AND both sides of the pair join below;
    # per-cell norms ride the broadcast row. Value-identical (r06).
    cell = F.when(
        F.col(vec_col).isNull(),
        F.raise_error(
            F.lit(
                "semantic_dedup: NULL embedding - rows without a vector have "
                "no cell; filter or impute upstream"
            )
        ).cast("int"),
    ).otherwise(
        (-F.try_element_at(_ranked_cells(vec_col, "__nv"), F.lit(1))["negcell"]).cast("int")
    )
    keep_cols = [F.col(id_col), F.col(vec_col)] + (
        [F.col(priority_col)] if priority_col is not None else []
    )
    assigned = (
        df.select(*keep_cols)
        .crossJoin(F.broadcast(cent_row))
        .withColumn("__nv", norm(vec_col))
        .select(*keep_cols, F.col("__nv"), cell.alias("cell"))
    )

    # norm folded ONCE per vector pre-join (cosine_with_norms is
    # bit-identical to cosine); per-pair work is a single dot
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.col("__nv").alias("__na"),
        "cell",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        F.col("__nv").alias("__nb"),
        "cell",
    )
    edges = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_with_norms("__va", "__vb", F.col("__na"), F.col("__nb")).alias("__cos"),
        )
        .where(F.col("__cos") >= F.lit(float(threshold)))
        .select("id_a", "id_b")
    )
    comp = connected_components(edges, src="id_a", dst="id_b")

    out = assigned.join(
        comp.select(F.col("id").alias(id_col), "component"), id_col, "left"
    ).withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
    if keep == "min_id":
        return out.select(
            id_col, "cell", "component", (F.col(id_col) == F.col("component")).alias("is_kept")
        )
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.col(priority_col).desc(), F.col(id_col)
    )
    return out.withColumn("__rk", F.row_number().over(w)).select(
        id_col, "cell", "component", (F.col("__rk") == 1).alias("is_kept")
    )
