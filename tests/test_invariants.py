"""North-rule invariants (SURVEY.md §5.2-5.3):

- **Leakage**: perturbing all turns with ts > t0 for one entity must leave
  weights/selections for windows ending at ts ≤ t0 byte-identical.
- **Order invariance**: shuffling the input's partitioning/row order must not
  change any output (stable (conv_id, turn_idx, ts) ordering everywhere).
- **Per-turn text equality** under stable ordering (BASELINE.json input_hint).
"""

import numpy as np
from pyspark.sql import functions as F

from pystreamfs_spark.fold import fold_weights
from pystreamfs_spark.functions.features import featurize_turns
from pystreamfs_spark.sources.transcripts import synthesize_transcripts


def _weights_map(df):
    return {
        (r.conv_id, r.window_id): (r.w, list(r.selected), r.win_rows)
        for r in df.collect()
    }


def test_no_temporal_leakage(spark):
    base = synthesize_transcripts(spark, n_convs=8, seed=13).cache()
    victim = "conv000003"
    cut_idx = 20  # perturb strictly after turn 20 of the victim conversation

    perturbed = base.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == victim) & (F.col("turn_idx") > cut_idx),
            F.concat(F.col("text"), F.lit(" INJECTED GARBAGE TOKENS")),
        ).otherwise(F.col("text")),
    )

    w_base = _weights_map(fold_weights(featurize_turns(base), kernel="ofs", batch_size=10))
    w_pert = _weights_map(fold_weights(featurize_turns(perturbed), kernel="ofs", batch_size=10))

    assert set(w_base) == set(w_pert)
    changed = unchanged = 0
    for key in w_base:
        conv_id, wid = key
        if conv_id != victim:
            assert w_base[key] == w_pert[key], key  # other entities untouched
        elif (wid + 1) * 10 <= cut_idx + 1:
            # window consists purely of turns ≤ cut_idx → must be identical
            assert w_base[key] == w_pert[key], key
            unchanged += 1
        elif w_base[key] != w_pert[key]:
            changed += 1
    assert unchanged >= 2  # the guarantee was actually exercised
    assert changed >= 1  # and the perturbation was visible downstream


def test_order_invariance(spark):
    base = featurize_turns(synthesize_transcripts(spark, n_convs=10, seed=21)).cache()
    shuffled = base.repartition(17, F.pmod(F.xxhash64("text"), F.lit(17))).cache()
    a = _weights_map(fold_weights(base, kernel="ofs", batch_size=9))
    b = _weights_map(fold_weights(shuffled, kernel="ofs", batch_size=9))
    assert a == b


def test_per_turn_text_equality_under_stable_ordering(spark):
    t1 = synthesize_transcripts(spark, n_convs=10, seed=21)
    t2 = synthesize_transcripts(spark, n_convs=10, seed=21).repartition(13)
    a = t1.orderBy("conv_id", "turn_idx", "ts").select("conv_id", "turn_idx", "text").collect()
    b = t2.orderBy("conv_id", "turn_idx", "ts").select("conv_id", "turn_idx", "text").collect()
    assert a == b
    # turn_idx unique & contiguous per conv, ts strictly increasing
    stats = (
        t1.groupBy("conv_id")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("turn_idx").alias("nd"),
            F.min("turn_idx").alias("mn"),
            F.max("turn_idx").alias("mx"),
        )
        .collect()
    )
    for r in stats:
        assert r.n == r.nd == r.mx + 1 and r.mn == 0
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    bad = t1.withColumn("prev", F.lag("ts").over(w)).where(
        F.col("prev").isNotNull() & (F.col("ts") <= F.col("prev"))
    )
    assert bad.count() == 0
