"""Round-6 optimization parity tests.

Every optimization in this round is required to be VALUE-IDENTICAL to the
form it replaced (the driver re-hashes every oracled query). These tests
pin the internals that changed:

1. ann._ranked_cells(nv_col=...) (norm-hoisted ranking over a
   ``_cells_row(with_norms=True)`` broadcast row) == the plain ranking.
2. graph.connected_components still labels correctly after the edge-plan
   localCheckpoint truncation (a chain graph that needs pointer jumping).
"""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_DIR  # noqa: E402


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_ranked_cells_norm_hoisting_is_value_identical(spark):
    from pystreamfs_spark.functions.vectors import norm
    from pystreamfs_spark.operators.ann import (
        _cells_row,
        _ranked_cells,
        _surrogate_centroids,
    )

    emb = _emb(spark)
    cent = _surrogate_centroids(emb, 5, "vec_id", "embedding")
    cent_row = _cells_row(cent, with_norms=True)
    base = emb.crossJoin(F.broadcast(cent_row)).withColumn(
        "__nv", norm(F.col("embedding"))
    )
    plain = base.select(
        "vec_id", _ranked_cells("embedding").alias("r")
    )
    hoisted = base.select(
        "vec_id", _ranked_cells("embedding", "__nv").alias("r")
    )
    rp = {r["vec_id"]: r["r"] for r in plain.collect()}
    rh = {r["vec_id"]: r["r"] for r in hoisted.collect()}
    assert rp == rh  # full ranked arrays equal, sims bit-identical


def test_connected_components_after_checkpoint_truncation(spark):
    from pystreamfs_spark.operators.graph import connected_components

    # a 9-node chain (needs pointer jumping) + a triangle + a singleton pair
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)]
        + [(20, 21), (21, 22), (22, 20), (30, 31)],
        "id_a long, id_b long",
    )
    got = {
        (r["id"], r["component"])
        for r in connected_components(edges, "id_a", "id_b").collect()
    }
    want = (
        {(i, 1) for i in range(1, 10)}
        | {(i, 20) for i in (20, 21, 22)}
        | {(30, 30), (31, 30)}
    )
    assert got == want


def test_gram_rows_equals_shingle_explode(spark):
    """text.gram_rows must reproduce explode(shingles_from_tokens(...))
    exactly — both modes, including short docs, empty text and NULL text."""
    from pystreamfs_spark.functions.text import gram_rows, shingles_from_tokens, tokens

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(100001, "one two"), (100002, "one"), (100003, ""), (100004, None)],
        "doc_id long, text string",
    )
    df = docs.unionByName(edge)
    for k in (3, 5):
        toks = df.select("doc_id", tokens(F.col("text")).alias("__t"))
        whole_ref = toks.select(
            "doc_id",
            F.posexplode(shingles_from_tokens(F.col("__t"), k)).alias("pos", "gram"),
        )
        got = gram_rows(df, "text", "doc_id", k, short_docs="whole")
        a = sorted(map(tuple, whole_ref.collect()))
        b = sorted(map(tuple, got.collect()))
        assert a == b, f"whole k={k}: first diff {next((x, y) for x, y in zip(a, b) if x != y)}"

        drop_ref = toks.select(
            "doc_id",
            F.posexplode(
                F.when(
                    F.size(F.col("__t")) >= k, shingles_from_tokens(F.col("__t"), k)
                ).otherwise(F.array().cast("array<string>"))
            ).alias("pos", "gram"),
        )
        got_d = gram_rows(df, "text", "doc_id", k, short_docs="drop")
        assert sorted(map(tuple, drop_ref.collect())) == sorted(map(tuple, got_d.collect())), f"drop k={k}"


def test_bloom_dense_probe_equals_map_probe(spark):
    """bloom_densify + bloom_might_contain_dense must flag exactly the
    grams the sparse-map probe flags (same md5 positions, O(1) lookups)."""
    from pystreamfs_spark.operators.quality import _gram_table
    from pystreamfs_spark.operators.sketches import (
        bloom_build,
        bloom_densify,
        bloom_might_contain,
        bloom_might_contain_dense,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    grams = _gram_table(bench, "text", "doc_id", 5).select("gram").distinct()
    bloom = bloom_build(grams, "gram", k_hashes=5, m_bits=1 << 14)
    probe = _gram_table(docs, "text", "doc_id", 5)
    via_map = sorted(
        map(
            tuple,
            probe.crossJoin(F.broadcast(bloom))
            .where(bloom_might_contain(F.col("gram"), 5, 1 << 14))
            .select("doc_id", "gram")
            .collect(),
        )
    )
    via_dense = sorted(
        map(
            tuple,
            probe.crossJoin(F.broadcast(bloom_densify(bloom)))
            .where(bloom_might_contain_dense(F.col("gram"), 5, 1 << 14))
            .select("doc_id", "gram")
            .collect(),
        )
    )
    assert via_map == via_dense and via_map  # non-empty (planted leakage)


def test_minhash_capped_array_path_equals_join_path(spark):
    """The capped candidate path (anti-join cut of oversized buckets ->
    sorted bucket array -> positional pair explode) must emit exactly the
    pair rows of the join form it replaced: same (id_a, id_b) set, same
    n_shared_bands.
    Includes a planted over-cap bucket (identical texts) that both forms
    must DROP entirely."""
    from pystreamfs_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    # plant a degenerate bucket: 40 identical docs share every band bucket
    planted = spark.range(40).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.lit("the same boilerplate sentence repeated across mirrors").alias("text"),
    )
    corpus = docs.unionByName(planted)
    for cap in (3, 30):
        sig = minhash_signatures(corpus, n_bands=8, k=3, band_r=1)
        ok = (
            sig.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") <= cap)
            .select("band", "sig")
        )
        s = sig.join(ok, ["band", "sig"])
        a = s.select(F.col("doc_id").alias("id_a"), "band", "sig")
        b = s.select(F.col("doc_id").alias("id_b"), "band", "sig")
        join_form = (
            a.join(b, ["band", "sig"])
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        )
        got = minhash_lsh_candidates(corpus, n_bands=8, k=3, band_r=1, max_bucket_size=cap)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, join_form.collect())
        ), f"cap={cap}"
        # the planted 40-doc bucket is over both caps: none of its internal
        # pairs may appear (its docs still pair with nothing else - their
        # grams are unique to the planted text)
        assert got.where((F.col("id_a") >= 1_000_000) & (F.col("id_b") >= 1_000_000)).count() == 0


def test_connected_components_local_gate_equals_distributed(spark):
    """The size-gated driver union-find must produce exactly the labels of
    the distributed min-label loop (local_threshold=0 forces it) on every
    graph shape: chain (pointer-jump stress), star, disjoint cliques,
    duplicate/reversed edges, and a seeded random graph."""
    import random

    from pystreamfs_spark.operators.graph import connected_components

    rng = random.Random(13)
    shapes = {
        "chain": [(i, i + 1) for i in range(60)],
        "star": [(0, i) for i in range(1, 40)],
        "cliques": [(a, b) for base in (100, 200, 300)
                    for a in range(base, base + 8) for b in range(a + 1, base + 8)],
        "dups_reversed": [(5, 6), (6, 5), (5, 6), (7, 5)],
        "random": [(rng.randrange(500), rng.randrange(500)) for _ in range(800)],
        # edges with a NULL endpoint are dropped before the gate
        "null_endpoints": [(1, 2), (2, None), (None, 3), (4, 5)],
    }
    for name, pairs in shapes.items():
        e = spark.createDataFrame(pairs, "id_a long, id_b long")
        local = sorted(map(tuple, connected_components(e).collect()))
        dist = sorted(map(tuple, connected_components(e, local_threshold=0).collect()))
        assert local == dist, name
        assert all(i is not None for i, _ in local), name
    # (string ids are out of contract for BOTH paths: the distributed
    # loop's convergence aggregate has always cast labels to decimal —
    # every engine caller keys CC on int/long ids)


def test_ngram_jaccard_capped_bucket_path_equals_join_path(spark):
    """With max_df set, ngram_jaccard_pairs enumerates pairs from bounded
    per-shingle buckets (anti-join cut). Must equal the uncapped self-join
    form restricted by the same cut — including a planted stop-shingle
    that the cut removes from every doc's effective set."""
    from pyspark.sql import Window

    from pystreamfs_spark.operators.dedup import ngram_jaccard_pairs, shingle_table

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    # plant a shared boilerplate prefix so one shingle exceeds small max_df
    planted = docs.limit(30).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("mirror site boilerplate header here "), F.col("text")).alias("text"),
    )
    corpus = docs.unionByName(planted)
    for max_df in (5, 100):
        # reference: the old join form (cut -> window sizes -> self-join)
        sh = shingle_table(corpus, "text", "doc_id", 3)
        dfreq = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_df)
            .select("shingle")
        )
        shc = sh.join(dfreq, "shingle").withColumn(
            "__n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
        a = shc.select(F.col("doc_id").alias("id_a"), F.col("__n_sh").alias("__n_a"), "shingle")
        b = shc.select(F.col("doc_id").alias("id_b"), F.col("__n_sh").alias("__n_b"), "shingle")
        ref = (
            a.join(b, "shingle")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).alias("n_inter"),
                F.min("__n_a").alias("n_a"),
                F.min("__n_b").alias("n_b"),
            )
            .select(
                "id_a",
                "id_b",
                (
                    F.col("n_inter").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= 0.1)
        )
        got = ngram_jaccard_pairs(corpus, k=3, threshold=0.1, max_df=max_df)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, ref.collect())
        ), f"max_df={max_df}"
