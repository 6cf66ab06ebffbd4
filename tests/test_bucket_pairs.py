"""The bounded-bucket pair enumerator (operators.dedup._cut_oversized +
_bucket_pairs) and its three callers: minhash_lsh_candidates
(max_bucket_size), ngram_jaccard_pairs (max_df) and winnow_shared_pairs
(max_df).

1. On a hand-built postings frame the enumerator yields C(cap, 2) ordered
   pairs for a key at the cap, none for a key over it or a NULL key.
2. Capped and uncapped dedup agree on documents with NULL text, and
   neither pairs them (the capped paths used to pool every NULL key into
   one bucket).
3. The capped winnow path equals the keep-list join form it replaced.
"""

import os
import sys
from itertools import combinations

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_DIR  # noqa: E402


def test_bucket_pairs_bounds_every_key(spark):
    from pystreamfs_spark.operators.dedup import _bucket_pairs, _cut_oversized

    cap = 4
    rows = [("at_cap", i) for i in (7, 3, 9, 1)]  # exactly cap ids, unsorted
    rows += [("over_cap", i) for i in range(10, 10 + cap + 1)]
    rows += [(None, i) for i in (20, 21, 22)]
    rows += [("pair", 3), ("pair", 1), ("solo", 40)]
    postings = spark.createDataFrame(rows, "key string, id long")

    got = _bucket_pairs(_cut_oversized(postings, ["key"], cap), ["key"], F.col("id"), cap)
    pairs = [tuple(r) for r in got.collect()]

    # C(cap, 2) ordered pairs from "at_cap", one from "pair" — (1, 3) once
    # per key it shares; nothing from "over_cap", the NULL key or "solo"
    want = list(combinations([1, 3, 7, 9], 2)) + [(1, 3)]
    assert sorted(pairs) == sorted(want)


def test_capped_dedup_ignores_null_text(spark):
    from pystreamfs_spark.operators.dedup import (
        minhash_lsh_candidates,
        near_dedup,
        ngram_jaccard_pairs,
    )
    from pystreamfs_spark.operators.winnow import winnow_shared_pairs

    d = spark.createDataFrame(
        [(1, None), (2, None), (3, "a b c d e"), (4, "x y z w v")],
        "doc_id long, text string",
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    calls = {
        "minhash": lambda cap: minhash_lsh_candidates(d, n_bands=4, max_bucket_size=cap),
        "ngram": lambda cap: ngram_jaccard_pairs(d, threshold=0.5, max_df=cap),
        # winnow reads NULL text as '' (one shared fingerprint), so the
        # default min_shared=2 leaves docs 1 and 2 unpaired on both paths
        "winnow": lambda cap: winnow_shared_pairs(d, max_df=cap),
    }
    for name, call in calls.items():
        capped, uncapped = rows(call(10)), rows(call(None))
        assert capped == uncapped, name
        assert not any({1, 2} & {r[0], r[1]} for r in capped), (name, capped)

    for cap in (10, None):
        out = {r.doc_id: r.is_canonical for r in near_dedup(d, max_bucket_size=cap).collect()}
        assert out == {1: True, 2: True, 3: True, 4: True}, cap


def test_winnow_capped_path_equals_join_path(spark):
    """max_df enumerates bounded per-fingerprint buckets; the result must
    equal the keep-list inner join + self-join form it replaced, including
    a planted boilerplate fingerprint the cut removes."""
    from pystreamfs_spark.operators.winnow import winnow_fingerprints, winnow_shared_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    planted = docs.limit(30).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("mirror site boilerplate header here "), F.col("text")).alias("text"),
    )
    corpus = docs.unionByName(planted)
    fps_all = winnow_fingerprints(corpus).select("doc_id", "fp").distinct()
    for max_df in (3, 40):
        rare = (
            fps_all.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_df)
            .select("fp")
        )
        fps = fps_all.join(rare, "fp")
        a = fps.select(F.col("doc_id").alias("id_a"), "fp")
        b = fps.select(F.col("doc_id").alias("id_b"), "fp")
        ref = (
            a.join(b, "fp")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= 1)
        )
        got = winnow_shared_pairs(corpus, min_shared=1, max_df=max_df)
        want = sorted(map(tuple, ref.collect()))
        assert want, max_df  # the check compares real pairs
        assert sorted(map(tuple, got.collect())) == want, f"max_df={max_df}"
