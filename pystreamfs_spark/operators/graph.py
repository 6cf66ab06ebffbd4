"""Connected components over candidate-pair graphs, and dedup
canonicalization on top.

Near-dup detection (MinHash-LSH / SimHash / embedding buckets — see
``operators/dedup.py`` and ``operators/ann.py``) emits PAIRS; an actual
dedup pass needs CLUSTERS: similarity is not transitive, but the standard
corpus-dedup policy (as in the reference pipelines these operators model)
is to union overlapping pairs into components and keep one canonical
document per component. That union step is connected components.

Algorithm: iterative min-label propagation with pointer jumping — the
DataFrame-native form of the MapReduce CC family (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14). Each round:

1. neighbor-min: every node takes the min label over itself and its
   neighbors — one shuffle join (edges × labels) + one map-side-combined
   min-agg;
2. pointer jump: every node replaces its label by its label's label
   (path halving) — one self-join on the label table.

Neighbor-min alone converges in O(diameter) rounds; the pointer jump
contracts label chains geometrically, giving O(log d) rounds on any graph
shape — a near-dup graph's components are shallow (2-4 rounds), but a
pathological chain (quotes-of-quotes) stays logarithmic instead of
linear.

Scale notes (100 TB):
- per-round shuffled volume is O(|V| + |E|) rows of (long, long) — no
  per-component lists are ever materialized;
- labels are monotone non-increasing, so convergence is detected with a
  single scalar aggregate (sum of labels strictly decreases until the
  fixpoint) — no extra join against the previous round;
- lineage is truncated every round (``localCheckpoint``; swap for
  ``checkpoint()`` with a durable dir on a real cluster) — without it the
  plan doubles per round and task serialization dominates by round ~8;
- the driver loop is O(log d) tiny actions; every heavy step is a
  distributed job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _local_components(rows) -> dict:
    """Exact union-find over collected (u, v) edge rows: every node maps to
    the MIN node id of its component — by definition the same labeling the
    distributed loop converges to, with no float arithmetic anywhere (and
    Python's str ordering agrees with Spark's binary UTF8 ordering for
    valid UTF-8, since UTF-8 byte order preserves code-point order)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        u, v = row[0], row[1]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # min id becomes the root, so every root IS its component label
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    strict: bool = False,
    local_threshold: int = 200_000,
) -> DataFrame:
    """Label every node of the undirected graph with the MIN node id of its
    connected component. Input: an edge list (directed or not, dups fine).
    Output: (id, component) for every node that appears in an edge;
    edges with a NULL endpoint are ignored.

    ``local_threshold`` (r06, measured): an edge list at or below this many
    rows is collected and union-found driver-side — the same size-gated
    local/distributed split a broadcast join makes. Each distributed round
    costs a multi-stage job (~0.5-0.7 s of pure scheduling at benchmark
    scale, × ~4 rounds), while union-find over ≲200k pairs runs in
    milliseconds; the labels are identical BY DEFINITION (min id per
    component — integer/string comparisons only, no arithmetic; parity is
    pinned in tests across chain/star/random graphs). Dedup edge lists are
    duplicate-pair-sized, so at 100 TB this gate simply routes the real
    corpus to the distributed loop — the threshold is a row count, not a
    cluster-size constant. Pass ``local_threshold=0`` to force the
    distributed path. ``max_iter``/``strict`` apply to the distributed
    path only (union-find is always exact).

    If the fixpoint is not reached within ``max_iter`` rounds the labels are
    NOT final components (downstream dedup would keep several "canonical"
    docs per true cluster) — a ``RuntimeWarning`` is emitted, or
    ``RuntimeError`` raised with ``strict=True``. Unreachable at the default
    (pointer jumping covers diameter ~2^25 in 25 rounds); only a caller
    passing a small ``max_iter`` can hit it (ADVICE r03).
    """
    # localCheckpoint (NOT a bare persist): the caller's edge plan — a
    # candidate-pair join over shingle/cell expressions, often thousands of
    # Catalyst nodes — would otherwise ride INSIDE every round's logical
    # plan, and the per-round analysis/cache-lookup/canonicalization work
    # is proportional to that subtree. Measured on the sf0.01 SemDeDup
    # edges: the whole CC loop drops from 15-28 s to 3.5 s once the edge
    # list is materialized and the lineage truncated (guide §3.3:
    # "materialising an intermediate truncates the plan"; §5:
    # localCheckpoint as the cheap lineage cut). Eager: the loop reads it
    # immediately, and edge lists are duplicate-pair-sized, not
    # corpus-sized. Swap for checkpoint() with a durable dir on a real
    # cluster — same note as the per-round label checkpoints below.
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=True
    )
    # NULL endpoints name no node: drop them before the size gate, so both
    # paths see the same edges (union-find cannot order None against ids).
    # Filtering the checkpoint, not the caller's plan: a filter above that
    # plan lets Catalyst reorder its join predicates (semantic_dedup then
    # scored its pair cosine before the id_a < id_b cut: +1.5 s on a 4 s
    # run at sf0.1, 4 cores).
    e0 = e0.dropna()
    n_edges = e0.count()  # a metadata-cheap scan of the checkpointed blocks
    if n_edges <= local_threshold:
        labels = _local_components(e0.collect())
        spark = edges.sparkSession
        id_type = e0.schema["u"].dataType
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [StructField("id", id_type), StructField("component", id_type)]
        )
        return spark.createDataFrame(sorted(labels.items()), schema)
    # symmetrize over the cached blocks (narrow union of two scans — no
    # second materialization pass needed)
    e = e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # lazy localCheckpoint: the convergence aggregate below is the first
    # action over each round's labels and materializes the checkpoint as a
    # side effect — one job per round instead of two (eager + aggregate).
    labels = (
        e.select(F.col("u").alias("id")).distinct().select("id", F.col("id").alias("label"))
    ).localCheckpoint(eager=False)

    def _round(lbl):
        # 1) neighbor-min: messages carry each node's label to its neighbors
        msgs = e.join(lbl, e["u"] == lbl["id"]).select(F.col("v").alias("id"), "label")
        new = (
            msgs.union(lbl)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # 2) pointer jump: label <- label(label). A label is always a node id
        # (mins over node ids), so the left join hits unless already a root.
        parent = new.select(F.col("id").alias("p_id"), F.col("label").alias("p_label"))
        new = new.join(parent, new["label"] == parent["p_id"], "left").select(
            "id", F.coalesce("p_label", "label").alias("label")
        )
        new = new.localCheckpoint(eager=False)
        # convergence: labels are monotone non-increasing per node, so the
        # global sum is a strictly-decreasing potential until the fixpoint.
        s = new.agg(F.sum(F.col("label").cast("decimal(38,0)")).alias("s")).head()[0]
        return new, s

    prev_sum = None
    converged = False
    for _ in range(max_iter):
        labels, cur_sum = _round(labels)
        if cur_sum is None:  # empty edge list → nothing to propagate
            converged = True
            break
        if prev_sum is not None and cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged and prev_sum is not None:
        # The sum-equality check needs one CONFIRMING round beyond the
        # fixpoint, so exhausting max_iter right as labels become final is
        # not evidence of non-convergence. Probe once: an unchanged sum
        # proves the labels were already final (monotone per-node labels +
        # equal sum ⇒ no node moved); a decreased sum is a genuine
        # non-convergence — keep the probe's (strictly better) labels and
        # report.
        labels, probe_sum = _round(labels)
        converged = probe_sum == prev_sum
    # (no unpersist needed: the checkpointed edge RDD is freed when the
    # DataFrame goes out of scope, unlike a CacheManager persist entry)
    if not converged:
        msg = (
            f"connected_components: fixpoint not observed within "
            f"max_iter={max_iter} rounds (label sum was still decreasing) - "
            "returned labels may not be final components. Raise max_iter "
            "(each round covers ~2x the diameter via pointer jumping)."
        )
        if strict:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select("id", F.col("label").alias("component"))


def dedup_components(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Canonicalize near-dup PAIRS into per-document cluster assignments:
    every document gets the component's min doc id as its ``component``
    (documents in no pair are their own singleton component). The standard
    keep-policy is ``component == id`` — one canonical doc per cluster.
    Output: (id_col, component, is_canonical).
    """
    labels = connected_components(pairs, src=src, dst=dst, max_iter=max_iter)
    out = (
        docs.select(F.col(id_col))
        .join(labels, docs[id_col] == labels["id"], "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )
    return out.select(
        id_col,
        "component",
        (F.col(id_col) == F.col("component")).alias("is_canonical"),
    )


def component_representatives(
    labeled: DataFrame,
    scores: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    component_col: str = "component",
) -> DataFrame:
    """Re-choose each cluster's keeper by QUALITY instead of min id: the
    representative of a component is its highest-``score_col`` member
    (ties, and NULL-score members, fall back to the smaller id — NULLs
    sort as -inf so a scored member always beats an unscored one). The
    min-id default of :func:`dedup_components` is the right oracle-exact
    baseline; this is the policy a real curation pipeline wants — keep the
    best page of the duplicate cluster, not the numerically first.

    ``labeled`` is dedup_components-shaped (id, component, ...);
    ``scores`` maps id -> score (e.g. functions.text.quality_score or a
    dsir/unigram-LM rank). Output: (id, component, is_canonical) with
    exactly one canonical per component (asserted by tests, not at
    runtime).

    Plan shape at 100 TB: one equi-join on the doc id (uniform key) + ONE
    map-side-combinable MIN aggregate over struct(-score, id) per
    component + a broadcast-or-shuffle join of the (component, keeper)
    table back — no window, no global sort; the keeper table has one row
    per CLUSTER, typically orders of magnitude smaller than the corpus."""
    neg_inf = F.lit(float("-inf"))
    scored = labeled.join(
        scores.select(F.col(id_col), F.col(score_col).alias("__s")), id_col, "left"
    )
    keeper = (
        scored.groupBy(component_col)
        .agg(
            F.min(
                F.struct(
                    (-F.coalesce(F.col("__s"), neg_inf)).alias("__negs"),
                    F.col(id_col).alias("__kid"),
                )
            ).alias("__k")
        )
        .select(component_col, F.col("__k.__kid").alias("__keeper"))
    )
    return (
        labeled.select(id_col, component_col)
        .join(keeper, component_col, "left")
        .select(
            F.col(id_col),
            F.col(component_col),
            (F.col(id_col) == F.col("__keeper")).alias("is_canonical"),
        )
    )
