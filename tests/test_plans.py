"""Plan-shape regressions: the scale guarantees as assertions.

- predicate pushdown & column pruning reach the Parquet scan
- small dimension joins broadcast
- the fold introduces exactly one exchange (zero when pre-partitioned)
- the broadcast as-of path shuffles the probe side zero times
"""

import re

import pytest
from pyspark.sql import functions as F

from pystreamfs_spark.fold import fold_weights_stream
from pystreamfs_spark.functions.features import featurize_turns
from pystreamfs_spark.operators import asof_join
from pystreamfs_spark.plans import (
    count_exchanges,
    explain_str,
    has_broadcast_hash_join,
    pushed_filters,
    read_schema_columns,
)
from pystreamfs_spark.sources.transcripts import synthesize_transcripts


def test_filter_pushdown_and_column_pruning(spark, sf_dir):
    q = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("event_type") == "click")
        .select("user_id", "value")
    )
    pf = pushed_filters(q)
    assert any("event_type" in f for f in pf), pf
    schemas = read_schema_columns(q)
    assert schemas and set(schemas[0]) <= {"user_id", "value", "event_type"}, schemas


def test_small_dim_join_broadcasts(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).groupBy("c_mktsegment").count()
    assert has_broadcast_hash_join(j), explain_str(j)[:2000]


def test_fold_exchange_budget(spark):
    f = featurize_turns(synthesize_transcripts(spark, n_convs=50, seed=2))
    # pipeline: featurize needs 1 exchange (window on conv_id); the fold's
    # hash repartition on the same key, into the same partition count, must
    # be eliminated — total exchanges in the whole plan must be exactly 1
    # materialize=False: the default lazily checkpoints the output (its
    # plan then reads as one ExistingRDD scan); the raw plan is what this
    # test budgets
    folded = fold_weights_stream(f, kernel="ofs", batch_size=10, materialize=False)
    n = count_exchanges(folded)
    assert n == 1, explain_str(folded)[:3000]
    # pre-partitioned contract: zero additional exchange beyond featurize's
    folded_pp = fold_weights_stream(
        f, kernel="ofs", batch_size=10, assume_partitioned=True, materialize=False
    )
    assert count_exchanges(folded_pp) == 1, explain_str(folded_pp)[:3000]


def test_asof_broadcast_path_no_probe_shuffle(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.where(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    right = ev.where(F.col("event_type") == "signup").select("user_id", "ts", "value")
    j = asof_join(left, right, on="user_id", strategy="broadcast")
    text = explain_str(j)
    assert "BroadcastHashJoin" in text or "BroadcastNestedLoopJoin" in text
    # the probe (left) side must not be exchanged; the only exchange allowed
    # is building the broadcast from the aggregated right side
    assert count_exchanges(j) <= 1, text[:3000]


def test_partition_pruning_on_date_layout(spark, tmp_path):
    """Iceberg-style layout in Parquet mode: partition transcripts by day;
    a ts-day filter must prune partitions at plan time (the 100 TB
    time-travel/backfill access path)."""
    t = synthesize_transcripts(spark, n_convs=30, seed=6).withColumn(
        "ds", F.date_format("ts", "yyyy-MM-dd")
    )
    out = str(tmp_path / "by_day")
    t.write.partitionBy("ds").parquet(out)
    n_days = t.select("ds").distinct().count()
    assert n_days > 1

    q = spark.read.parquet(out).where(F.col("ds") == t.select(F.min("ds")).first()[0])
    text = explain_str(q)
    # the physical scan must carry the ds predicate as a PartitionFilter
    assert "PartitionFilters" in text and "ds" in text.split("PartitionFilters", 1)[1][:200], text[:2000]


def test_ngram_jaccard_plan_budget(spark, sf_dir):
    """The inverted-index jaccard must not recompute the shingle explode per
    consumer (was 8 Generates). Capped regime (r06): the max_df cut is a
    LeftAnti join against the OVERSIZED shingles — broadcast by AQE at
    normal sizes, graceful SMJ LeftAnti when broadcasting is impossible —
    and pairs enumerate from bounded buckets (no self-join). Budget: ≤ 4
    Generates. The uncapped regime keeps the self-join, whose two sides
    must still dedupe via ReuseExchange under forced-SMJ. The capped
    minhash plan shares the enumerator: its only join is the LeftAnti cut,
    with no self-join on (band, sig)."""
    from pystreamfs_spark.operators.dedup import minhash_lsh_candidates, ngram_jaccard_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ngram_jaccard_pairs(d, k=3, threshold=0.2, max_df=100)
    text = explain_str(out)
    assert len(re.findall(r"^\(\d+\) Generate", text, flags=re.MULTILINE)) <= 4, text[:3000]
    assert "LeftAnti" in text, text[:3000]

    mh = explain_str(minhash_lsh_candidates(d, n_bands=8, k=3, max_bucket_size=30))
    assert re.findall(r"^Join type: (\w+)", mh, flags=re.MULTILINE) == ["LeftAnti"], mh[:3000]

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out2 = ngram_jaccard_pairs(d, k=3, threshold=0.2, max_df=100)
        out2.collect()  # AQE finalizes the executed plan
        final = out2._jdf.queryExecution().executedPlan().toString()
        # the cut degrades to a sort-merge anti join, never a failure
        assert "LeftAnti" in final, final[:3000]

        # uncapped path: self-join sides identical -> ReuseExchange
        out3 = ngram_jaccard_pairs(d, k=3, threshold=0.2)
        out3.collect()
        final3 = out3._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in final3, final3[:3000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_sampling_ops_are_map_only(spark, sf_dir):
    """hash_split / stratified_hash_sample must be pure projections /
    filters: zero exchanges, and the stratum filter must not block column
    pruning at the scan."""
    from pystreamfs_spark.operators.sampling import hash_split, stratified_hash_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = hash_split(d, key_col="doc_id").select("doc_id", "split")
    assert count_exchanges(split) == 0, explain_str(split)[:2000]

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    samp = stratified_hash_sample(
        ev, key_col="event_id", stratum_col="event_type", rates={"click": 0.5}
    ).select("event_id", "event_type")
    assert count_exchanges(samp) == 0, explain_str(samp)[:2000]
    schemas = read_schema_columns(samp)
    assert schemas and set(schemas[0]) <= {"event_id", "event_type"}, schemas


def test_chunking_fans_out_map_side(spark, sf_dir):
    """chunk_by_tokens multiplies rows AFTER building per-row chunk arrays —
    one Generate, zero exchanges (the fan-out never shuffles)."""
    from pystreamfs_spark.operators.chunk import chunk_by_tokens

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = chunk_by_tokens(d, chunk_size=32)
    assert count_exchanges(out) == 0, explain_str(out)[:2000]
    text = explain_str(out)
    assert len(re.findall(r"^\(\d+\) Generate", text, flags=re.MULTILINE)) == 1, text[:2000]


def test_tfidf_exchange_budget_and_broadcast_count(spark, sf_dir):
    """tf_idf: tf agg (1 exchange on (doc,token)), df agg (1 on token), the
    tf-df join (≤1 more on the skew key), and a BROADCAST single-row corpus
    size — never a shuffled cross join. top_terms adds the per-doc window
    (1 exchange). Budgets guard against accidental extra shuffles."""
    from pystreamfs_spark.operators.tfidf import tf_idf, top_terms

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = tf_idf(d, idf="ratio")
    text = explain_str(scored)
    assert "BroadcastNestedLoopJoin" in text or "BroadcastHashJoin" in text, text[:2000]
    # deliberate shape (like ngram_jaccard): the token explode + tf agg runs
    # at most TWICE (tf side; dfreq derives from tf on a different shuffle
    # key, so ReuseExchange cannot dedupe) — budget 5 guards against a third
    assert count_exchanges(scored) <= 5, text[:3000]
    topped = top_terms(d, n=3, idf="ratio")
    assert count_exchanges(topped) <= 6, explain_str(topped)[:3000]


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """decontaminate: the eval-set gram table must reach the corpus join as
    a BROADCAST (the corpus is never shuffled on gram keys — a stop-gram
    cannot skew the job); budget bounds the remaining doc_id-keyed
    exchanges (corpus distinct, overlap agg, final left join)."""
    from pystreamfs_spark.operators.quality import decontaminate

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.where(F.col("doc_id") % 97 == 0)
    out = decontaminate(d, bench, n=5)
    text = explain_str(out)
    assert "BroadcastHashJoin" in text, text[:3000]
    assert count_exchanges(out) <= 5, text[:3000]


def test_repetition_signals_exchange_budget(spark, sf_dir):
    """repetition_signals: two explode→partial-agg branches (unigram +
    k-gram), each 2 exchanges ((doc,gram) then doc), plus ≤2 for the per-doc
    joins — shuffled volume is O(distinct (doc,gram)), never occurrences."""
    from pystreamfs_spark.operators.quality import repetition_signals

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = repetition_signals(d, k=3)
    text = explain_str(out)
    assert count_exchanges(out) <= 7, text[:3000]
    # partial aggregation (map-side combine) must appear on the gram aggs
    assert "partial_count" in text or "HashAggregate" in text, text[:2000]


def test_resample_plan_no_cartesian_and_budget(spark, sf_dir):
    """resample_last: grid generated NEXT TO the data (sequence+explode
    after the bounds agg — never a driver-side range join), one window
    pass; no cartesian product anywhere and a tight exchange budget
    (bounds agg + union-window partitioning; AQE may add coalesces)."""
    from pystreamfs_spark.operators.timegrid import resample_last

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = resample_last(ev, interval_s=21600)
    text = explain_str(out)
    assert "CartesianProduct" not in text, text[:3000]
    assert len(re.findall(r"^\(\d+\) Generate", text, flags=re.MULTILINE)) == 1, text[:3000]
    assert count_exchanges(out) <= 4, text[:3000]


def test_skew_audit_broadcasts_global_totals(spark, sf_dir):
    """skew_audit: the single-row totals join back as a broadcast; the
    per-key count table is shuffled once for the agg and once for the
    global rank window — never re-aggregated."""
    from pystreamfs_spark.operators.skew import skew_audit

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = skew_audit(ev, ["event_type"], top_n=5)
    text = explain_str(out)
    assert "BroadcastNestedLoopJoin" in text or "BroadcastHashJoin" in text, text[:3000]
    assert count_exchanges(out) <= 5, text[:3000]


def test_semantic_dedup_assignment_is_map_only_and_pairs_shuffle_on_cell(spark, sf_dir):
    """The cell-assignment stage must broadcast the codebook (no corpus
    shuffle to assign); the codebook side of the pair join is a broadcast
    cross join of ONE collected row, so the only corpus exchange in the
    whole pre-CC plan is the cell-keyed pair join."""
    from pystreamfs_spark.functions.vectors import cosine
    from pystreamfs_spark.operators.ann import _ranked_cells
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = spark.createDataFrame(
        [(i, [1.0 if d == i else 0.0 for d in range(64)]) for i in range(1, 5)],
        "cell int, __cv array<double>",
    )
    cent_row = cent.agg(F.collect_list(F.struct("cell", "__cv")).alias("__cells"))
    assigned = emb.crossJoin(F.broadcast(cent_row)).select(
        "vec_id", "embedding",
        (-F.try_element_at(_ranked_cells("embedding"), F.lit(1))["negcell"]).alias("cell"),
    )
    # assignment alone: broadcast nested-loop of a 1-row side, zero
    # corpus-partitioning exchanges beyond the broadcast's own
    n_assign = count_exchanges(assigned)
    a = assigned.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"), "cell")
    b = assigned.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"), "cell")
    edges = (
        a.join(b, "cell").where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("__va"), F.col("__vb")).alias("cos"))
    )
    # the pair join adds at most 2 shuffle exchanges (one per side, or fewer
    # if Spark broadcasts); it must NOT explode into a cartesian
    assert count_exchanges(edges) - n_assign <= 2, explain_str(edges)[:3000]
    assert "CartesianProduct" not in explain_str(edges), explain_str(edges)[:3000]


def test_encode_map_strategy_zero_shuffle(spark, sf_dir):
    """The broadcast-dict encode path must stay map-only: one mapInPandas
    over the scan, ZERO exchanges (the join path's corpus-sized re-assembly
    shuffle is exactly what it exists to avoid)."""
    from pystreamfs_spark.operators.tfidf import build_vocab, encode_with_vocab

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v = build_vocab(d, size=50, min_df=2)
    out = encode_with_vocab(d, v, strategy="map")
    assert count_exchanges(out) == 0, explain_str(out)[:2000]


def test_ngram_novelty_explode_budget(spark, sf_dir):
    """ngram_novelty's (doc, gram) distinct feeds two differently-keyed
    subtrees (doc-frequency agg + membership-join probe), so the gram
    explode may appear at most twice — the same two-pass ceiling as tf_idf;
    a third appearance means the plan regressed to per-branch recompute."""
    from pystreamfs_spark.operators.quality import ngram_novelty

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ngram_novelty(d, k=3)
    text = explain_str(out)
    assert len(re.findall(r"\bGenerate explode", text)) <= 2, text[:3000]
    assert "CartesianProduct" not in text


def test_cap_per_group_salted_splits_hot_group(spark, sf_dir):
    """The two-phase cap must rank within (group, salt) first — the window
    spec has to carry BOTH partition keys so a hot group's sort never
    lands in one task."""
    from pystreamfs_spark.operators.sampling import cap_per_group

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = cap_per_group(d, group_col="source", cap=5, key_col="doc_id", n_salts=8)
    text = explain_str(out)
    # phase-1 window partitions on (source, pmod(xxhash64(...)))
    assert re.search(r"Window .*pmod", text) or "pmod" in text, text[:3000]


def test_filter_lines_is_map_only(spark, sf_dir):
    """filter_lines is the C4 line gate — pure higher-order-function
    projections, zero exchanges at any corpus size."""
    from pystreamfs_spark.operators.lines import filter_lines

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = filter_lines(d, min_words=3, banned_terms=["slow"])
    assert count_exchanges(out) == 0, explain_str(out)[:2000]


def test_dedup_lines_broadcast_never_shuffles_corpus(spark, sf_dir):
    """dedup_lines_corpus(strategy='broadcast'): every exchange sits on the
    frequency SIDE branch — distinct (doc, line) pairs, the per-line count,
    and the single-row frequent-set fold (3 total, each strictly smaller
    than the last); the corpus rows themselves reach the output through a
    broadcast join with NO corpus-wide exchange, sort, or window."""
    from pystreamfs_spark.operators.lines import dedup_lines_corpus

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup_lines_corpus(d, min_doc_freq=2, strategy="broadcast")
    text = explain_str(out)
    assert count_exchanges(out) <= 3, text[:3000]
    assert "BroadcastNestedLoopJoin" in text or "BroadcastExchange" in text, text[:3000]
    assert "Window" not in text, text[:3000]


def test_dsir_ratio_table_is_broadcast(spark, sf_dir):
    """dsir_weights: the bucket log-ratio table (<= n_buckets rows) must
    reach the scoring join as a broadcast — the corpus is never
    sort-merge-joined on gram/bucket keys, so hot buckets cannot skew."""
    from pyspark.sql import functions as F

    from pystreamfs_spark.operators.importance import dsir_weights

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dsir_weights(d, d.where(F.col("source") == "src0"), n=2, n_buckets=512)
    text = explain_str(out)
    assert "BroadcastExchange" in text, text[:3000]


def test_ks_2sample_shares_the_counts_branch_and_partitions_the_cumsum(spark, sf_dir):
    """ks_2sample references the distinct-value counts frame from four
    branches (main cumsum, axis bounds, bucket totals, sample sizes);
    at runtime the counts exchange must be COMPUTED ONCE and reused
    (ReusedExchange — the ngram_jaccard self-join precedent), the
    per-value cumsum window must be partitioned by the range bucket
    (never a global sort of the distinct values), and the tiny
    bounds/prefix/totals tables must reach their joins as broadcasts."""
    from pystreamfs_spark.operators.drift import ks_2sample

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = ks_2sample(ev, "value", "event_type", "click", "purchase")
    text = explain_str(out)
    assert "BroadcastExchange" in text, text[:3000]
    # the cumsum window's partition spec carries the bucket column
    win = [
        ln for ln in text.splitlines()
        if ln.lstrip().startswith("Arguments") and "__cum" in ln
    ]
    assert win and all("__b" in ln for ln in win), win
    # executed plan: AQE dedupes the identical counts subtrees
    out.collect()
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed[:3000]
