"""Similarity search over an embedding column (array<float>).

- :func:`cosine_topk` — exact brute-force top-k: broadcast the (small)
  query set against the corpus, score with JVM higher-order functions,
  grouped top-k. The corpus is never shuffled; cost is one scan.
- :func:`lsh_cosine_topk` — the scale path: random-hyperplane (sign) LSH.
  Hyperplane coefficients are a *deterministic* ±1 pattern derived from
  md5(plane:dim) — reproducible anywhere, including the SQL oracle. Docs
  are bucketed by their sign pattern; each query probes only its bucket
  (multi-probe: optionally also Hamming-1 neighbors). Turns O(N·Q) into
  O(N/2^p · Q) per probe at recall < 1 — the standard ANN trade.
- :func:`ivf_cosine_topk` — IVF: deterministic coarse centroids, map-only
  cell assignment, n_probe nearest cells per query — the codebook-style ANN
  scale path (swap in trained centroids for real recall tuning).
- :func:`cosine_self_similar` — near-duplicate pairs by embedding cosine
  within LSH buckets (never all-pairs).
- :func:`pq_codebooks` / :func:`pq_encode` / :func:`pq_topk` — product
  quantization (Jégou et al. 2011): per-subspace L2 codebooks, byte-sized
  code arrays, asymmetric-distance search with optional exact re-rank —
  the ANN *memory* scale path (the corpus scan shrinks ~dims·4/m ×).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pystreamfs_spark.functions.vectors import cosine, cosine_with_norms, dot, norm
from pystreamfs_spark.operators.topk import top_k_per_group


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (broadcast the queries).
    Output: (query_id, vec_id, cos, rk). Self-matches excluded when ids
    collide."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qv"),
        norm(vec_col).alias("__nq"),
    )
    c = corpus.select(F.col(id_col), F.col(vec_col), norm(vec_col).alias("__nv"))
    scored = c.join(F.broadcast(q), c[id_col] != q[query_id_col]).select(
        query_id_col,
        id_col,
        # norms folded once per vector pre-join; bit-identical to cosine()
        cosine_with_norms(
            vec_col, "__qv", F.col("__nv"), F.col("__nq")
        ).alias("cos"),
    )
    return top_k_per_group(scored, [query_id_col], "cos", k, tie_breakers=[id_col])


def _plane_coefs(plane: int, dims: int) -> list[float]:
    """±1 coefficients of hyperplane ``plane``: parity of the first 4 hex
    chars of md5('p:d'). Computed driver-side (hashlib) — identical to the
    SQL expression md5(...) % 2, but constant-folded before codegen so the
    executor sees a flat literal array instead of a 64×4-term tree."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:4], 16) % 2 == 0 else -1.0
        for d in range(dims)
    ]


def hyperplane_sign(vec_col, plane: int, dims: int):
    """Sign bit of ⟨v, h_plane⟩ via one zip_with + fold (flat codegen).
    Accepts a Column or a column name. (An unrolled-chain variant was
    measured in r06 and REJECTED at this scale: the 64-term expression
    costs more in driver plan machinery than it saves in the executor for
    2k-vector inputs — see functions.vectors for the unroll that callers
    with genuinely pair-heavy inputs can opt into.)"""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    coefs = F.array(*[F.lit(c) for c in _plane_coefs(plane, dims)])
    proj = F.aggregate(
        F.zip_with(v, coefs, lambda x, c: x.cast("double") * c),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))


def lsh_bucket(vec_col, n_planes: int, dims: int):
    """Integer bucket id = concatenated sign bits of n_planes projections."""
    b = None
    for p in range(n_planes):
        term = hyperplane_sign(vec_col, p, dims) * F.lit(2**p)
        b = term if b is None else (b + term)
    return b


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 5,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket. Recall trades against 2^n_planes bucket selectivity."""
    cb = corpus.withColumn("__bucket", lsh_bucket(vec_col, n_planes, dims)).withColumn(
        "__nv", norm(vec_col)
    )
    qb = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qv"),
        norm(vec_col).alias("__nq"),
        lsh_bucket(vec_col, n_planes, dims).alias("__bucket"),
    )
    scored = cb.join(F.broadcast(qb), "__bucket").where(F.col(id_col) != F.col(query_id_col)).select(
        query_id_col,
        id_col,
        # norms folded once per vector pre-join; bit-identical to cosine()
        cosine_with_norms(
            vec_col, "__qv", F.col("__nv"), F.col("__nq")
        ).alias("cos"),
    )
    return top_k_per_group(scored, [query_id_col], "cos", k, tie_breakers=[id_col])


def _surrogate_centroids(corpus: DataFrame, n_cells: int, id_col: str, vec_col: str) -> DataFrame:
    """Deterministic codebook surrogate: the ``n_cells`` corpus vectors with
    the smallest ``md5(vec_id)`` — engine-portable (reproducible in the SQL
    oracle) but untrained, so recall is arbitrary. Output: (cell, __cv)."""
    from pyspark.sql import Window

    cent = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h")
        .limit(n_cells)
    )
    return cent.select(
        F.row_number().over(Window.orderBy("__h")).alias("cell"),
        F.col(vec_col).alias("__cv"),
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int = 8,
    n_iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 42,
    inertia_log: list[float] | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """Train an IVF codebook with Lloyd iterations expressed as DataFrame
    jobs — pass the result to :func:`ivf_cosine_topk(centroids=...)`.

    Each iteration: (1) assign every training vector to its most-cosine-
    similar centroid via ONE broadcast row of all centroids — a pure map
    stage, zero shuffle of the corpus; (2) recompute each cell's centroid
    as the elementwise mean via posexplode → groupBy(cell, pos) — a shuffle
    of n_rows×dims *scalar* rows with map-side partial aggregation (the
    standard distributed-mean plan). Cells that lose all members keep their
    previous centroid. Initialization is the deterministic md5-min surrogate
    (:func:`_surrogate_centroids`), so training is fully reproducible.

    Cosine assignment is scale-invariant in the centroid, so the plain mean
    is equivalent to the spherical-k-means normalized mean for ranking.

    At 100 TB: train on a sample (``sample_fraction``) — a codebook needs
    thousands of points per cell, not the corpus; the sampled train set is
    cached so each iteration is one in-memory pass. The codebook itself is
    tiny (n_cells × dims) by definition; it is materialized driver-side
    between iterations to keep every iteration's plan flat (no n_iters-deep
    recursive plan / repeated source scans).

    ``inertia_log``: pass a list and each iteration appends its spherical
    inertia Σ(1 − cos(x, assigned centroid)) — ONE extra agg over the
    (persisted) assignment of that iteration, measured against the
    centroids ENTERING the iteration. Spherical-k-means monotonicity
    applies (cosine ranking against the plain mean equals ranking against
    the normalized mean), so the log must be non-increasing — a cheap
    training-health check that also catches a degenerate codebook hiding
    behind the empty-cell/keep-old path (asserted in tests).

    ``metric="l2"`` assigns by squared Euclidean distance instead — the
    classical Lloyd's algorithm, whose plain-mean update is the exact
    minimizer, so inertia (Σ squared distance) is non-increasing by the
    textbook argument. This is the right metric for product-quantization
    subspace codebooks (:func:`pq_codebooks`), where the target is
    reconstruction error, not angular similarity."""
    if metric not in ("cosine", "l2"):
        raise ValueError(f"kmeans_centroids: metric must be 'cosine' or 'l2', got {metric!r}")
    train = corpus.select(F.col(id_col), F.col(vec_col)).where(F.col(vec_col).isNotNull())
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=seed)
    train = train.cache()
    spark = corpus.sparkSession
    try:
        cent = _surrogate_centroids(train, n_cells, id_col, vec_col)
        # materialize (cell, vector) — tiny by definition of a codebook
        cent_rows = [(int(r["cell"]), [float(x) for x in r["__cv"]]) for r in cent.collect()]
        if not cent_rows:
            # clear driver-side contract error instead of an ANSI
            # element_at crash deep inside the first Lloyd job
            raise ValueError(
                "kmeans_centroids: empty training set (corpus empty, all "
                "vectors null, or sample_fraction too small)"
            )
        for _ in range(n_iters):
            cdf = spark.createDataFrame(cent_rows, "cell int, __cv array<double>")
            cent_row = _cells_row(cdf, with_norms=(metric == "cosine"))
            # bind the best struct to a column before reading two fields of
            # it — Catalyst re-evaluates an expression tree once per
            # reference (see text.shingles_from_tokens). For the cosine
            # metric the row norm is folded once into __nv and the ranking
            # reads the codebook's precomputed per-cell norms (r06).
            if metric == "cosine":
                cell_expr = (-F.col("__best")["negcell"]).alias("cell")
                # spherical inertia contribution: 1 − cos
                cost_expr = (F.lit(1.0) - F.col("__best")["sim"]).alias("__cost")
                assigned = (
                    train.crossJoin(F.broadcast(cent_row))
                    .withColumn("__nv", norm(vec_col))
                    .withColumn(
                        "__best",
                        F.try_element_at(_ranked_cells(vec_col, "__nv"), F.lit(1)),
                    )
                    .select(F.col(vec_col), cell_expr, cost_expr)
                )
            else:
                # L2 keeps the interpreted ranking: there is no norm to
                # factor out, so a least-over-structs enumeration only
                # grows the tree (measured slower end to end in r06)
                cell_expr = F.col("__best")["cell"].alias("cell")
                cost_expr = F.col("__best")["d"].alias("__cost")
                assigned = (
                    train.crossJoin(F.broadcast(cent_row))
                    .withColumn("__best", F.try_element_at(_ranked_cells_l2(vec_col), F.lit(1)))
                    .select(F.col(vec_col), cell_expr, cost_expr)
                )
            if inertia_log is not None:
                assigned = assigned.persist()
            try:
                means = (
                    assigned.select(
                        "cell", F.posexplode(F.col(vec_col).cast("array<double>"))
                    )
                    .groupBy("cell", "pos")
                    .agg(F.avg("col").alias("m"))
                    .groupBy("cell")
                    .agg(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("pos", "m"))),
                            lambda s: s["m"],
                        ).alias("__cv")
                    )
                )
                new = {int(r["cell"]): [float(x) for x in r["__cv"]] for r in means.collect()}
                if inertia_log is not None:
                    v = assigned.agg(F.sum(F.col("__cost"))).first()[0]
                    # v is None only if assigned is empty, which the empty-train
                    # ValueError above already precludes; guard anyway so a
                    # future code path degrades to NaN instead of a TypeError
                    inertia_log.append(float(v) if v is not None else float("nan"))
            finally:
                # unpersist on the error path too — a mid-iteration collect()
                # failure must not leak the cached frame into the CacheManager
                # for the driver's lifetime (same leak class the near_dedup
                # audit regression test guards against)
                if inertia_log is not None:
                    assigned.unpersist()
            cent_rows = [(c, new.get(c, v)) for c, v in cent_rows]  # empty cell → keep old
    finally:
        train.unpersist()
    return spark.createDataFrame(cent_rows, "cell int, __cv array<double>")


def _sqdist(a, b):
    """Squared Euclidean distance of two array columns (a cast to double)."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _ranked_cells_l2(vec_col: str):
    """All cells ranked by (squared distance asc, cell asc) for the row's
    vector, given a broadcast ``__cells`` array column — the L2 twin of
    :func:`_ranked_cells` (ascending struct sort: nearest first, smaller
    cell id on ties)."""
    return F.array_sort(
        F.transform(
            F.col("__cells"),
            lambda s: F.struct(
                _sqdist(F.col(vec_col), s["__cv"]).alias("d"),
                s["cell"].alias("cell"),
            ),
        )
    )


def _cells_row(cent: DataFrame, with_norms: bool = False):
    """Collapse a (cell, __cv) codebook table into the ONE broadcastable
    ``__cells`` row the assignment expressions read. ``with_norms=True``
    additionally stores each centroid's ``norm(__cv)`` as ``__cn`` — the
    per-cell norm is a constant of the codebook, so the norm-hoisted
    ranking (:func:`_ranked_cells` with ``nv_col``) can read it instead of
    re-folding it for every corpus row (same expression over the same data
    → the same double; the extra struct field is invisible to consumers
    that don't ask for it)."""
    fields = [F.col("cell"), F.col("__cv")]
    if with_norms:
        fields.append(norm(F.col("__cv")).alias("__cn"))
    return cent.agg(F.collect_list(F.struct(*fields)).alias("__cells"))


def _ranked_cells(vec_col: str, nv_col: str | None = None):
    """All cells ranked by (cosine sim desc, cell asc) for the row's vector,
    given a broadcast ``__cells`` array column of (cell, __cv) structs.
    Struct ordering is field-by-field, so (sim, -cell) descending ≡ best
    similarity first, smaller cell id on ties.

    ``nv_col`` (r06): the caller-bound row norm. When given, the broadcast
    row must carry per-cell norms (``_cells_row(with_norms=True)``) and the
    per-cell score becomes ``dot(v, c) / (nv * cn)`` — numerically the
    exact ``cosine`` (same subexpressions, same product order), but 2 of
    its 3 array folds are hoisted out of the per-cell term: the row norm
    folds once per ROW and the centroid norms once per CODEBOOK. Measured
    on the sf0.1 embeddings inside ivf_cosine_topk: 1.19 s vs 1.45 s.
    (Both a fully unrolled dot chain and a greatest-over-structs
    enumeration were measured and REJECTED: their larger Catalyst trees
    cost more in per-run driver plan machinery than they save in the
    executor at this scale.)"""
    if nv_col is None:
        sim = lambda s: cosine(F.col(vec_col), s["__cv"])  # noqa: E731
    else:
        sim = lambda s: dot(F.col(vec_col), s["__cv"]) / (F.col(nv_col) * s["__cn"])  # noqa: E731
    return F.reverse(
        F.array_sort(
            F.transform(
                F.col("__cells"),
                lambda s: F.struct(
                    sim(s).alias("sim"),
                    (-s["cell"]).alias("negcell"),
                ),
            )
        )
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are assigned to
    their most-similar coarse centroid ("cell"); each query scores only the
    vectors in its ``n_probe`` nearest cells. Recall trades against
    n_probe/n_cells selectivity — the other classic ANN scale path next to
    hyperplane LSH (:func:`lsh_cosine_topk`).

    ``centroids``: optional caller-supplied codebook, a DataFrame with
    columns (cell:int, vec) where the vector column is named ``__cv`` or
    ``vec_col`` — e.g. the output of :func:`kmeans_centroids`. Without it,
    the deterministic md5-min surrogate is used (engine-portable and
    oracle-reproducible, but recall is untuned; ``n_cells`` applies only to
    the surrogate).

    At scale: the centroid table is tiny and broadcast; assignment is a
    map-side n_cells-way scoring pass over the corpus (inherent to IVF);
    the probe join shuffles on the cell id — n_cells bounds the bucket
    count, AQE splits skewed cells."""
    if centroids is not None:
        vcol = "__cv" if "__cv" in centroids.columns else vec_col
        cent = centroids.select(
            F.col("cell").cast("int").alias("cell"),
            F.col(vcol).cast("array<double>").alias("__cv"),
        )
    else:
        cent = _surrogate_centroids(corpus, n_cells, id_col, vec_col)
    # one broadcast row holding all centroids (with precomputed per-cell
    # norms) → cell assignment is a pure map stage (zero shuffle of the
    # corpus): per row, the greatest-struct enumeration picks the top cell
    cent_row = _cells_row(cent, with_norms=True)

    # try_element_at (not element_at — ANSI mode is on): an EMPTY codebook
    # yields NULL cells, so the probe join produces an empty result instead
    # of an INVALID_ARRAY_INDEX crash mid-job. The corpus-side ranking
    # hoists the norms (dot/(__nv·__cn) — the row norm folds once and is
    # reused by the scoring join below; per-cell norms ride the broadcast
    # row). The tiny query side keeps the plain ranking.
    cb = (
        corpus.crossJoin(F.broadcast(cent_row))
        .withColumn("__nv", norm(vec_col))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("__nv"),
            (-F.try_element_at(_ranked_cells(vec_col, "__nv"), F.lit(1))["negcell"]).alias("cell"),
        )
    )
    qb = (
        queries.select(F.col(query_id_col), F.col(vec_col))
        .crossJoin(F.broadcast(cent_row))
        .select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qv"),
            F.explode(
                F.transform(
                    F.slice(_ranked_cells(vec_col), 1, n_probe), lambda s: -s["negcell"]
                )
            ).alias("cell"),
        )
    )
    qb = qb.withColumn("__nq", norm("__qv"))
    scored = (
        cb.join(qb, "cell")
        .where(F.col(id_col) != F.col(query_id_col))
        # norms folded once per vector pre-join; bit-identical to cosine()
        .select(
            query_id_col,
            id_col,
            cosine_with_norms(
                vec_col, "__qv", F.col("__nv"), F.col("__nq")
            ).alias("cos"),
        )
    )
    return top_k_per_group(scored, [query_id_col], "cos", k, tie_breakers=[id_col])


def cosine_self_similar(
    df: DataFrame,
    dims: int,
    threshold: float = 0.95,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, cos ≥ threshold) within LSH
    buckets — embedding-space dedup without the O(n²) cross join."""
    b = df.withColumn("__bucket", lsh_bucket(vec_col, n_planes, dims)).withColumn(
        "__n", norm(vec_col)
    )
    a = b.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"), "__bucket",
    )
    c = b.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"), "__bucket",
    )
    return (
        a.join(c, "__bucket")
        .where(F.col("id_a") < F.col("id_b"))
        # norms folded once per vector pre-join; bit-identical to cosine()
        .select(
            "id_a",
            "id_b",
            cosine_with_norms(
                "__va", "__vb", F.col("__na"), F.col("__nb")
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): the ANN memory-compression path
# ---------------------------------------------------------------------------

def _book_row(codebooks: DataFrame):
    """Collapse a (sub, cell, __cv) codebook table into ONE broadcastable
    row: ``__books`` = array over subspaces (sorted by sub) of arrays over
    codes (sorted by cell id, which is 1-based contiguous from the
    surrogate init) of centroid vectors. Tiny by definition."""
    per_sub = codebooks.groupBy("sub").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("cell", "__cv"))), lambda s: s["__cv"]
        ).alias("cells")
    )
    return per_sub.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "cells"))), lambda s: s["cells"]
        ).alias("__books")
    )


def pq_codebooks(
    corpus: DataFrame,
    dims: int,
    n_subspaces: int = 4,
    n_codes: int = 16,
    n_iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> DataFrame:
    """Product-quantization codebooks: split the ``dims``-dim space into
    ``n_subspaces`` contiguous slices and train an independent ``n_codes``-
    centroid L2 k-means per slice (deterministic md5-min init, classical
    Lloyd — the same update math as :func:`kmeans_centroids(metric="l2")`,
    but all subspaces FUSED into one training relation so each iteration
    is a single assignment + mean job instead of n_subspaces serialized
    ones). Output: (sub, cell, __cv) with cell ids 1..n_codes per
    subspace.

    Memory story (the reason PQ exists): a corpus vector compresses from
    dims×4 bytes to n_subspaces×1 byte of codes — 64-dim float32 → 4 bytes
    at the defaults, a 64× reduction — while asymmetric-distance search
    (:func:`pq_topk`) still scores against full-precision centroids. At
    100 TB the codebook trains on a sample (codebooks need thousands of
    points per code, not the corpus) and is n_subspaces×n_codes×(dims/m)
    floats — broadcast-trivial."""
    if dims % n_subspaces != 0:
        raise ValueError(
            f"pq_codebooks: dims ({dims}) must divide evenly into "
            f"n_subspaces ({n_subspaces})"
        )
    dsub = dims // n_subspaces
    spark = corpus.sparkSession

    # JOINT training: all subspaces in one (sub, id, __sv) relation, so each
    # Lloyd iteration is ONE assignment + ONE mean job for every subspace —
    # n_iters + 1 barrier jobs total, not n_subspaces × (n_iters + 1)
    # driver-serialized ones. Per-subspace trainings are embarrassingly
    # independent, which makes fusing them free: the assignment still ranks
    # only against the row's OWN subspace codebook (the codebook side joins
    # on ``sub``), and the mean aggregate keys on (sub, cell, pos).
    train = corpus.select(F.col(id_col), F.col(vec_col)).where(F.col(vec_col).isNotNull())
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=42)
    slices = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(F.col(vec_col).cast("array<double>"), s * dsub + 1, dsub).alias("__sv"),
            )
            for s in range(n_subspaces)
        ]
    )
    sub_rows = train.select(
        F.col(id_col), F.explode(slices).alias("__s")
    ).select(F.col(id_col), F.col("__s.sub").alias("sub"), F.col("__s.__sv").alias("__sv"))
    sub_rows = sub_rows.cache()
    try:
        # md5-min init picks the SAME n_codes vectors in every subspace
        # (the hash depends only on the id), so one collect of the full
        # vectors sliced driver-side is identical to per-subspace init
        init = _surrogate_centroids(train, n_codes, id_col, vec_col).collect()
        if not init:
            raise ValueError(
                "pq_codebooks: empty training set (corpus empty, all "
                "vectors null, or sample_fraction too small)"
            )
        cent_rows = {
            (s, int(r["cell"])): [float(x) for x in r["__cv"][s * dsub : (s + 1) * dsub]]
            for r in init
            for s in range(n_subspaces)
        }
        for _ in range(n_iters):
            cdf = spark.createDataFrame(
                [(s, c, v) for (s, c), v in cent_rows.items()],
                "sub int, cell int, __cv array<double>",
            )
            books_by_sub = cdf.groupBy("sub").agg(
                F.collect_list(F.struct("cell", "__cv")).alias("__cells")
            )
            assigned = (
                sub_rows.join(F.broadcast(books_by_sub), "sub")
                .withColumn("__best", F.try_element_at(_ranked_cells_l2("__sv"), F.lit(1)))
                .select("sub", F.col("__best")["cell"].alias("cell"), "__sv")
            )
            means = (
                assigned.select("sub", "cell", F.posexplode("__sv"))
                .groupBy("sub", "cell", "pos")
                .agg(F.avg("col").alias("m"))
                .groupBy("sub", "cell")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "m"))),
                        lambda s: s["m"],
                    ).alias("__cv")
                )
            )
            new = {
                (int(r["sub"]), int(r["cell"])): [float(x) for x in r["__cv"]]
                for r in means.collect()
            }
            cent_rows = {k: new.get(k, v) for k, v in cent_rows.items()}  # empty cell → keep old
    finally:
        sub_rows.unpersist()
    return spark.createDataFrame(
        [(s, c, v) for (s, c), v in cent_rows.items()],
        "sub int, cell int, __cv array<double>",
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every corpus vector as its per-subspace nearest-centroid code
    array — ONE broadcast of the codebook row, pure map stage, zero corpus
    shuffle. Output: (id, codes array<int>) with 1-based codes aligned to
    the codebook's cell ids. Ties break to the smaller code (ascending
    struct sort), deterministic. (A least-over-structs enumerated argmin
    was measured in r06 and rejected: the m×n_codes tree costs more in
    driver plan machinery per run than the interpreted ranking costs to
    execute at this corpus size.)"""
    m = F.size(F.col("__books"))
    enc = corpus.crossJoin(F.broadcast(_book_row(codebooks)))
    # per subspace i: argmin over that book's codes of ||slice − centroid||²
    dsub_expr = F.lit(dims) / m  # integer by pq_codebooks' validation
    codes = F.transform(
        F.col("__books"),
        lambda book, i: F.try_element_at(
            F.array_sort(
                F.transform(
                    book,
                    lambda cv, j: F.struct(
                        _sqdist(
                            F.slice(
                                F.col(vec_col).cast("array<double>"),
                                (i * dsub_expr.cast("int")) + F.lit(1),
                                dsub_expr.cast("int"),
                            ),
                            cv,
                        ).alias("d"),
                        (j + F.lit(1)).alias("code"),
                    ),
                )
            ),
            F.lit(1),
        )["code"].cast("int"),
    )
    return enc.select(F.col(id_col), codes.alias("codes"))


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    dims: int,
    k: int = 5,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    rerank_corpus: DataFrame | None = None,
    rerank_k: int | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: each query precomputes its
    lookup table LUT[sub][code] = ⟨query_slice, centroid⟩ once (a broadcast-
    sized cross join of queries × codebook row), then every corpus row is
    scored with n_subspaces table lookups + adds — no full-dimension dot
    product ever touches the corpus, and the corpus side reads only the
    byte-sized code arrays. Score approximates the inner product (equals it
    when quantization error is zero); rank on normalized vectors for cosine
    semantics. Output: (query_id, vec_id, score, rk).

    Plan shape: broadcast queries-with-LUT against the codes table (map
    stage, O(N·Q) scored rows like :func:`cosine_topk` but each ~m adds
    instead of d multiplies), then the grouped top-k. The 100 TB lever is
    the code table being ~dims×4/m smaller than the raw vectors — the scan,
    not the arithmetic, is what PQ buys down.

    ``rerank_corpus``: the standard two-stage ANN shape (candidate
    generation by ADC, exact re-rank on the survivors). PQ codes quantize a
    whole centroid cell to ONE score, so tight neighborhoods tie and the
    within-cell ranking is arbitrary — pass the raw-vector corpus and the
    ADC stage keeps ``rerank_k`` (default 4·k) candidates per query, which
    are then exact-cosine scored and re-cut to k. The candidate set is
    Q×rerank_k rows — broadcast-joined against the corpus (map-only
    semi-probe of the raw vectors, zero corpus shuffle), so the expensive
    full-dimension math touches only the survivors."""
    m_lit = F.size(F.col("__books"))
    dsub = F.floor(F.lit(dims) / m_lit).cast("int")
    q = queries.crossJoin(F.broadcast(_book_row(codebooks))).select(
        F.col(query_id_col),
        F.transform(
            F.col("__books"),
            lambda book, i: F.transform(
                book,
                lambda cv: F.aggregate(
                    F.zip_with(
                        F.slice(
                            F.col(vec_col).cast("array<double>"),
                            (i * dsub) + F.lit(1),
                            dsub,
                        ),
                        cv,
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            ),
        ).alias("__lut"),
    )
    scored = codes_df.crossJoin(F.broadcast(q)).where(
        F.col(id_col) != F.col(query_id_col)
    )
    score = F.aggregate(
        F.zip_with(
            F.col(codes_col),
            F.col("__lut"),
            lambda c, tbl: F.try_element_at(tbl, c),  # codes are 1-based
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = scored.select(query_id_col, id_col, score.alias("score"))
    if rerank_corpus is None:
        return top_k_per_group(scored, [query_id_col], "score", k, tie_breakers=[id_col])
    cand = top_k_per_group(
        scored, [query_id_col], "score", rerank_k or 4 * k, tie_breakers=[id_col]
    ).select(query_id_col, id_col)
    qv = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qv"))
    exact = (
        rerank_corpus.join(F.broadcast(cand), id_col)
        .join(F.broadcast(qv), query_id_col)
        .select(
            query_id_col,
            id_col,
            cosine(vec_col, "__qv").alias("score"),
        )
    )
    return top_k_per_group(exact, [query_id_col], "score", k, tie_breakers=[id_col])
