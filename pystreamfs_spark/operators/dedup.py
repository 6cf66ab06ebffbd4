"""Deduplication operators for training-data pipelines.

All are pure DataFrame compositions (no Python in the hot path) designed
around shuffle economics at 100 TB:

- exact: one hash-groupBy on the md5 fingerprint (map-side partial agg).
- MinHash-LSH: shingle → per-band min-hash signature → candidates share a
  (band, signature) bucket → verify candidates with exact Jaccard. The
  candidate join is on the *bucket key*, never all-pairs; cost is bounded
  by bucket sizes (power-law tails handled by AQE skew-join split).
- SimHash: per-bit majority over token hashes → 16-bit signature; docs
  sharing a signature (or at Hamming ≤ 1 via bit-flip probes) are
  candidates. All bit math via integer ops (portable).
- n-gram Jaccard: exact pairwise similarity restricted to candidate pairs
  that share at least one shingle (inverted-index join), never O(n²).
- embedding cosine near-dup: delegated to ann.cosine_self_similar.

Hashing is md5-hex (lexicographic min == numeric min on the hex prefix),
identical in Spark and DuckDB, so every operator here has an exact SQL
oracle.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pystreamfs_spark.functions.text import fingerprint


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Keep one representative (min/max id) per exact normalized-text match.
    Output: (fp, keep_id, n_dups) — join back to df to materialize survivors."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(agg.alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingle_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, shingle) inverted index — distinct shingles per doc. Tokens are
    materialized into a column first so the normalize+split runs once per
    row, not once per element_at inside the shingle lambda."""
    from pystreamfs_spark.functions.text import shingles_from_tokens, tokens

    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__t"))
    return toks.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_from_tokens(F.col("__t"), k))).alias("shingle"),
    )


# MinHash band mixers: sig_b = min over shingles of (A[b]·(h % P) + C[b]) % P
# where h = first 8 hex chars of md5(shingle) as an integer. One md5 per
# shingle (not per band); the per-band mix is two int64 ops — and every step
# is plain integer SQL, so DuckDB computes the identical signature.
# A[b]·(P−1) ≤ 2^30·2^30 < 2^63: no int64 overflow (ANSI-safe).
MINHASH_P = 1_000_000_007
MINHASH_A = [
    769886857, 330267121, 550510817, 910286881, 232492867, 676943009, 487110253, 133303867,
    214936679, 741296671, 389517313, 568723477, 823150423, 152667503, 947320487, 663890959,
]
MINHASH_C = [
    526584577, 881231311, 135164743, 978055981, 375134737, 655087259, 319336289, 764499131,
    491723531, 263849909, 718340737, 104961307, 836275103, 549018217, 287654423, 912480731,
]


def _shingle_hash(col, hash_fn: str = "md5") -> "F.Column":
    if hash_fn == "xxhash64":
        # scale path: one native 64-bit hash, no hex-string materialization
        # or base conversion — ~2× cheaper per shingle than md5+conv. Not
        # DuckDB-portable (different xxhash seedings), so the SQL-oracle
        # queries keep the md5 default; same minhash theory either way.
        return F.pmod(F.xxhash64(col), F.lit(MINHASH_P))
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % MINHASH_P


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 8,
    k: int = 3,
    band_r: int = 1,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash band signatures over the shingle set. A band's signature
    combines ``band_r`` independent minhashes — two docs are candidates for
    a band iff ALL r minhashes agree (collision probability J^r, the
    classic LSH S-curve). r=1 maximizes recall; r=2 is the scale setting:
    low-diversity corpora explode r=1 buckets (measured: 2.3M short texts →
    1.8e9 candidate pairs at r=1 vs tractable at r=2).
    Output: (id, band, sig) with sig = mh0·P + mh1 for r=2 (fits int64)."""
    if n_bands * band_r > len(MINHASH_A):
        raise ValueError(f"n_bands*band_r > {len(MINHASH_A)} needs more mixer constants")
    if band_r not in (1, 2):
        raise ValueError("band_r must be 1 or 2")
    # PLAN NOTE (r03, measured): a "map-only" variant computing each band
    # minimum with higher-order functions over the in-row shingle array
    # (array_min ∘ transform, zero explode, zero exchange) produces identical
    # values but runs 4-6× SLOWER — Spark's higher-order lambdas are
    # interpreted (no whole-stage codegen), while this explode path is fully
    # codegen'd. And the apparent shuffle here is already tiny: a doc's
    # shingles live in one task, so the groupBy's map-side PARTIAL aggregate
    # collapses them to one row per (doc × mixer) before anything crosses the
    # wire — shuffled volume is O(n_docs), not O(n_shingles), at any scale.
    #
    # r06: the gram rows come from text.gram_rows — the positional-explode
    # construction with NO higher-order function at all (the in-row
    # shingle-array transform was itself interpreted; building each gram
    # with concat_ws AFTER the explode is fully codegen'd — measured 1.44 s
    # vs 2.82 s for this signature job over the 1.15M-turn corpus). It is
    # occurrence-level where shingle_table is per-doc-distinct: MIN is
    # duplicate-insensitive, so the signatures are identical (the per-doc
    # partial aggregate absorbs the duplicates in the same task).
    from pystreamfs_spark.functions.text import gram_rows

    sh = gram_rows(df, text_col, id_col, k, short_docs="whole").select(
        id_col, _shingle_hash(F.col("gram"), hash_fn).alias("h")
    )
    n_mixers = n_bands * band_r
    sigs = [
        F.min((F.lit(MINHASH_A[j]) * F.col("h") + F.lit(MINHASH_C[j])) % MINHASH_P).alias(f"s{j}")
        for j in range(n_mixers)
    ]
    per_doc = sh.groupBy(id_col).agg(*sigs)
    if band_r == 1:
        band_sigs = [F.col(f"s{b}") for b in range(n_bands)]
    else:
        band_sigs = [
            F.col(f"s{2 * b}") * F.lit(MINHASH_P) + F.col(f"s{2 * b + 1}") for b in range(n_bands)
        ]
    bands = F.explode(
        F.arrays_zip(
            F.sequence(F.lit(0), F.lit(n_bands - 1)).alias("band"),
            F.array(*band_sigs).alias("sig"),
        )
    ).alias("z")
    return per_doc.select(id_col, bands).select(
        id_col, F.col("z.band").cast("long").alias("band"), F.col("z.sig").alias("sig")
    )


def _cut_oversized(postings: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """The cut of every capped pair join: drop postings whose key is NULL
    (an equi-join never matches NULL, and groupBy would otherwise pool every
    NULL-keyed posting into one bucket), then ANTI-join the keys held by
    more than ``cap`` postings. The oversized list is at most
    n_postings/cap rows and heavy-hitter-sized in practice, so AQE
    broadcasts it and the cut is a map-only stage; a keep-list INNER join
    would drag the whole posting list through a sort-merge join (r06,
    measured), and a degenerate key costs nothing here."""
    kept = postings.where(reduce(operator.and_, [F.col(k).isNotNull() for k in keys]))
    bad = (
        kept.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > cap)
        .select(*keys)
    )
    return kept.join(bad, keys, "left_anti")


def _bucket_pairs(postings: DataFrame, keys: list[str], item, cap: int) -> DataFrame:
    """Enumerate the pairs of ``item`` values sharing a key, over postings
    already cut by :func:`_cut_oversized`: one ``sort_array(collect_list(
    item))`` per key, then ``posexplode`` + ``slice`` emit every pair once,
    first element sorting before the second. Output: (id_a, id_b), once
    per shared key. Items must be unique within a key.

    The cut bounds every bucket at ``cap`` items and runs BEFORE the
    collect, so no aggregation buffer ever holds more than ``cap`` values
    (the dup_spans hot-key-pin lesson), and each bucket of n items yields
    exactly its C(n,2) pairs with no self-join (r06: minhash_scale
    17.1 → ~4 s interleaved)."""
    buckets = postings.groupBy(*keys).agg(F.sort_array(F.collect_list(item)).alias("__m"))
    # posexplode is 0-based; slice() is 1-based → partners of the element at
    # index __i start at 1-based position __i + 2. __m is a bound column, so
    # referencing it from both Generates is O(1) per row (the
    # Generate-inlining rule applies to expression trees, not columns).
    return buckets.select(F.posexplode("__m").alias("__i", "id_a"), "__m").select(
        "id_a", F.explode(F.slice("__m", F.col("__i") + 2, cap)).alias("id_b")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 8,
    k: int = 3,
    band_r: int = 1,
    max_bucket_size: int | None = None,
    hash_fn: str = "md5",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate duplicate pairs (id_a < id_b) sharing ≥ 1 band signature,
    with the count of agreeing bands.

    ``max_bucket_size``: drop (band, sig) buckets larger than this before
    pairing — a bucket of d docs contributes d²/2 pairs, so one degenerate
    bucket can dominate the whole job; capping trades recall on
    ultra-common content (usually exact dups better caught by
    :func:`exact_dedup`) for a hard bound on the join.

    ``signatures``: a precomputed :func:`minhash_signatures` output to reuse
    (persist it when the same signatures also feed
    :func:`minhash_bucket_audit` — the shingle+minhash pass dominates the
    dedup cost and should run once); params must match the signature job's."""
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(df, text_col, id_col, n_bands, k, band_r, hash_fn)
    )
    if max_bucket_size is not None:
        # capped: enumerate each (band, sig) bucket (see _bucket_pairs); the
        # pair multiset equals the join form's, once per shared band
        capped = _cut_oversized(sig, ["band", "sig"], max_bucket_size)
        pairs = _bucket_pairs(capped, ["band", "sig"], F.col(id_col), max_bucket_size)
        return pairs.groupBy("id_a", "id_b").agg(
            F.count(F.lit(1)).alias("n_shared_bands")
        )
    a = sig.select(F.col(id_col).alias("id_a"), "band", "sig")
    b = sig.select(F.col(id_col).alias("id_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def _cap_audit(sizes: DataFrame, cap: int | None, unit: str, max_name: str, *extra) -> DataFrame:
    """One row of cap statistics over a per-key sizes frame (column ``n``):
    key count, keys dropped, postings dropped, ``est_pairs_dropped`` =
    Σ n·(n−1)/2 over dropped keys, and the largest key. ``cap=None`` drops
    nothing."""
    dropped = (F.col("n") > F.lit(cap)) if cap is not None else F.lit(False)
    return sizes.agg(
        F.count(F.lit(1)).alias(f"n_{unit}"),
        F.sum(dropped.cast("bigint")).alias(f"n_{unit}_dropped"),
        F.sum(F.when(dropped, F.col("n")).otherwise(F.lit(0))).alias("n_postings_dropped"),
        F.sum(
            F.when(dropped, F.col("n") * (F.col("n") - 1) / 2).otherwise(F.lit(0.0))
        ).cast("bigint").alias("est_pairs_dropped"),
        F.max("n").alias(max_name),
        *extra,
    )


def minhash_bucket_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 8,
    k: int = 3,
    band_r: int = 1,
    max_bucket_size: int | None = None,
    hash_fn: str = "md5",
    signatures: DataFrame | None = None,
    with_skew: bool = False,
) -> DataFrame:
    """Recall-loss audit for :func:`minhash_lsh_candidates`'s
    ``max_bucket_size`` cap: one row of aggregate bucket statistics, with
    ``est_pairs_dropped`` = Σ n·(n−1)/2 over dropped buckets — the number of
    candidate pairs the cap silently removed.

    ``with_skew=True`` appends the band-join-key skew statistics (the
    :mod:`operators.skew` ``skew_factor`` definition applied to the LSH
    bucket key): ``n_postings`` = Σ bucket sizes and ``bucket_skew_factor``
    = max_bucket · n_buckets / n_postings (1.0 = uniform buckets). Same
    single agg over the same sizes frame — skew costs nothing extra and is
    the fact that sizes both remedy knobs (the cap here, AQE skew-join /
    salting downstream). Off by default so the audited schema the driver
    oracle checks is unchanged.

    At 100 TB pass ``signatures`` — a persisted/materialized output of
    :func:`minhash_signatures` shared with the candidate job — so the audit
    is genuinely one extra small agg; without it this recomputes the full
    shingle+minhash pipeline (the dominant cost of the dedup pass) from
    ``df``, and the signature params must then match the candidate job's."""
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(df, text_col, id_col, n_bands, k, band_r, hash_fn)
    )
    sizes = sig.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("n"))
    extra = [F.sum("n").alias("n_postings")] if with_skew else []
    out = _cap_audit(sizes, max_bucket_size, "buckets", "max_bucket", *extra)
    if with_skew:
        out = out.withColumn(
            "bucket_skew_factor",
            F.col("max_bucket").cast("double")
            * F.col("n_buckets").cast("double")
            / F.col("n_postings").cast("double"),
        )
    return out


def stop_shingle_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Recall-loss audit for :func:`ngram_jaccard_pairs`'s ``max_df``
    stop-shingle cut: aggregate document-frequency statistics with
    ``est_pairs_dropped`` = Σ df·(df−1)/2 over cut shingles — the upper
    bound on candidate pairs whose only shared shingles were cut."""
    dfreq = shingle_table(df, text_col, id_col, k).groupBy("shingle").agg(
        F.count(F.lit(1)).alias("n")
    )
    return _cap_audit(dfreq, max_df, "shingles", "max_df_seen")


def _jaccard(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, __n_a, __n_b), one row per shared shingle →
    (id_a, id_b, jaccard) at or above ``threshold``. The set sizes are
    constant within a pair group, so min() just reads them."""
    return (
        pairs.groupBy("id_a", "id_b")
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
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word-k-gram sets for pairs sharing ≥ 1 shingle.
    jaccard = |∩| / (|A| + |B| − |∩|) — a ratio of exact integers, so the
    value is bit-identical across engines. Output: (id_a, id_b, jaccard).

    ``max_df`` (scale knob): drop shingles occurring in more than max_df
    docs before pairing — the standard stop-shingle cut that bounds the
    inverted-index join's worst key (a shingle in d docs contributes d²/2
    pairs). Jaccard is then over the sub-max_df shingle sets; pairs whose
    every shared shingle is ultra-frequent are not reported.

    Plan shape (deliberate): the shingle explode is expensive, so the plan
    is arranged to compute it twice at most instead of once per consumer.
    With ``max_df`` set, the cut is :func:`_cut_oversized` and pairs are
    enumerated by :func:`_bucket_pairs` from per-shingle sorted
    (id, set_size) arrays, no self-join (r06, interleaved at sf0.1:
    1.9 → 1.5 s with an identical pair set). Without ``max_df`` buckets
    are unbounded, so the inverted-index self-join remains (per-doc set
    sizes ride along as a window column; the join's two sides are
    canonically identical so Catalyst's ReuseExchange materializes the
    shuffle once)."""
    sh = shingle_table(df, text_col, id_col, k)
    if max_df is not None:
        kept = _cut_oversized(sh, ["shingle"], max_df)
        # post-cut set size per doc (the jaccard denominators), carried on
        # every posting row — bounded window partition (one doc's shingles)
        kept = kept.withColumn(
            "__n_sh", F.count(F.lit(1)).over(Window.partitionBy(id_col))
        )
        item = F.struct(F.col(id_col).alias("i"), F.col("__n_sh").alias("n"))
        return _jaccard(
            _bucket_pairs(kept, ["shingle"], item, max_df).select(
                F.col("id_a.i").alias("id_a"),
                F.col("id_a.n").alias("__n_a"),
                F.col("id_b.i").alias("id_b"),
                F.col("id_b.n").alias("__n_b"),
            ),
            threshold,
        )
    # uncapped: bucket sizes are unbounded, so the collect-free
    # inverted-index self-join stays; set size per doc carried on every row
    sh = sh.withColumn("__n_sh", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__n_sh").alias("__n_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__n_sh").alias("__n_b"), "shingle")
    return _jaccard(a.join(b, "shingle").where(F.col("id_a") < F.col("id_b")), threshold)


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 8,
    k: int = 3,
    band_r: int = 1,
    min_shared_bands: int = 2,
    max_bucket_size: int | None = None,
    hash_fn: str = "md5",
    max_iter: int = 25,
    with_audit: bool = False,
    representative_col: str | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """The composed end-to-end near-dedup pass: MinHash-LSH candidate pairs
    → band-agreement filter (``min_shared_bands`` raises the effective
    Jaccard threshold along the LSH S-curve) → connected components →
    one canonical document per cluster. Output: (id, component,
    is_canonical) for EVERY input document (non-duplicates are their own
    singleton components).

    ``representative_col`` names a score column OF ``df`` (e.g. a
    quality_score projection); when set, each cluster's canonical is its
    highest-scoring member (ties → min id) via
    :func:`operators.graph.component_representatives` instead of the
    min-id default — keep the best page of the cluster, not the first.

    ``with_audit=True`` returns ``(dedup_df, audit_df)`` where the audit is
    the one-row :func:`minhash_bucket_audit` for this run's
    ``max_bucket_size`` cap — the pipeline reporting its own recall loss —
    extended (``with_skew``) with the band-key skew statistics, so one pass
    reports BOTH facts a scale operator needs: how much recall the cap cost
    and how hot the LSH join key runs.
    The audit REUSES this pass's signature DataFrame (persisted here so the
    dominant shingle+minhash computation runs once and both consumers read
    the materialized rows — the composition the audit docstring prescribes
    at 100 TB). Both consumers are drained before return — the CC loop runs
    its own jobs and the one-row audit is collected into a fresh local
    DataFrame — so the persisted signatures are UNPERSISTED before this
    function returns; nothing leaks into the application's storage memory.

    This is the pipeline a 100 TB corpus actually runs: every stage is
    bucketed/bounded (never all-pairs), and the final union step is the
    O(log d)-round CC of :mod:`operators.graph` — similarity is not
    transitive, so overlapping pairs must be merged before choosing
    keepers."""
    from pystreamfs_spark.operators.graph import dedup_components

    sig = minhash_signatures(df, text_col, id_col, n_bands, k, band_r, hash_fn)
    if with_audit:
        sig = sig.persist()
    try:
        pairs = minhash_lsh_candidates(
            df, text_col, id_col, n_bands, k, band_r, max_bucket_size, hash_fn, signatures=sig
        ).where(F.col("n_shared_bands") >= min_shared_bands)
        # dedup_components' CC loop executes its jobs NOW (labels end up
        # localCheckpointed), so `out` no longer reads sig after this call
        out = dedup_components(df, pairs, id_col=id_col, max_iter=max_iter)
        if representative_col is not None:
            from pystreamfs_spark.operators.graph import component_representatives

            out = component_representatives(
                out, df.select(id_col, representative_col), representative_col, id_col
            )
        if not with_audit:
            return out
        audit = minhash_bucket_audit(
            df, text_col, id_col, n_bands, k, band_r, max_bucket_size, hash_fn,
            signatures=sig, with_skew=True,
        )
        # the audit is ONE row — materialize it into a local DataFrame so the
        # persisted signatures have no remaining consumers
        audit = df.sparkSession.createDataFrame(audit.collect(), audit.schema)
        return out, audit
    finally:
        if with_audit:
            sig.unpersist()


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 16,
) -> DataFrame:
    """Per-doc SimHash over distinct tokens: token hash = first 8 hex chars
    of md5 as an integer; bit b of the signature = majority of token bit b.
    Output: (id, simhash long). Pure integer/bit built-ins — portable."""
    from pystreamfs_spark.functions.text import tokens

    tok = df.select(F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    tok = tok.select(id_col, h.alias("h"))
    # sum of (+1/−1) per bit, then sign → bit
    bit_votes = [
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"v{b}")
        for b in range(n_bits)
    ]
    votes = tok.groupBy(id_col).agg(*bit_votes)
    sig = None
    for b in range(n_bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else (sig + term)
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 16,
) -> DataFrame:
    """Pairs with identical SimHash signature (Hamming 0) — the scalable
    grouping; :func:`simhash_near_duplicates` widens to Hamming ≤ d."""
    sig = simhash(df, text_col, id_col, n_bits)
    a = sig.select(F.col(id_col).alias("id_a"), "simhash")
    b = sig.select(F.col(id_col).alias("id_b"), "simhash")
    return a.join(b, "simhash").where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b", "simhash")


def _flip_masks(n_bits: int, d: int) -> list[int]:
    """All XOR masks with ≤ d set bits (Σ_{i≤d} C(n_bits, i) masks; the
    identity mask 0 covers Hamming-0 collisions)."""
    from itertools import combinations

    masks = [0]
    for dd in range(1, d + 1):
        for bits in combinations(range(n_bits), dd):
            masks.append(sum(1 << b for b in bits))
    return masks


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 16,
    d: int = 1,
) -> DataFrame:
    """Pairs at Hamming distance ≤ d between SimHash signatures, via
    bit-flip probe expansion: side A explodes each signature into all ≤d-bit
    XOR flips (17 probes/doc at n_bits=16, d=1; 137 at d=2), side B keeps raw
    signatures, and the join is on the probed value — never all-pairs. A pair
    at Hamming h ≤ d collides on exactly ONE mask (the one flipping A's h
    differing bits), so the join emits each pair once with no dedup pass.
    Output: (id_a, id_b, hamming). Scale note: probe fan-out multiplies the
    shuffled rows by the mask count — keep d ≤ 2 (real near-dup practice) or
    split the signature into bands instead."""
    if d < 1:
        raise ValueError("d must be >= 1 (use simhash_duplicates for Hamming 0)")
    sig = simhash(df, text_col, id_col, n_bits)
    masks = _flip_masks(n_bits, d)
    probes = sig.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("__sig_a"),
        F.explode(F.array(*[F.col("simhash").bitwiseXOR(F.lit(m)) for m in masks])).alias("probe"),
    )
    raw = sig.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("probe"))
    return (
        probes.join(raw, "probe")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__sig_a").bitwiseXOR(F.col("probe"))).cast("int").alias("hamming"),
        )
    )


def simhash_banded_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 16,
    d: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """Pairs at Hamming distance ≤ d for d BEYOND the bit-flip probe range —
    the banded-signature scale path :func:`simhash_near_duplicates`'s
    docstring prescribes for d > 2 (where probe fan-out Σ C(n_bits,i)
    explodes: 697 probes/doc at n_bits=16, d=3).

    Pigeonhole: split the signature into ``n_bands`` (default d+1)
    contiguous bit bands — a pair differing in ≤ d bits must agree EXACTLY
    on ≥ 1 band. Candidates share a (band, band-bits) bucket (n_bands rows
    per doc — constant fan-out vs combinatorial), then the full-signature
    Hamming check keeps true ≤ d pairs. Each surviving pair is emitted
    exactly ONCE with no dedup shuffle: a pair colliding on several bands is
    kept only at its FIRST agreeing band, decided from the xor of the two
    signatures already on the joined row.

    Output: (id_a, id_b, hamming). All integer/bit built-ins — portable, so
    the driver query has an exact DuckDB oracle."""
    n_bands = n_bands if n_bands is not None else d + 1
    if n_bands <= d:
        raise ValueError(
            f"n_bands={n_bands} must exceed d={d} (pigeonhole needs one band "
            "with zero differing bits)"
        )
    if n_bits % n_bands:
        raise ValueError(f"n_bits={n_bits} must divide evenly into n_bands={n_bands}")
    w = n_bits // n_bands
    mask = (1 << w) - 1
    sig = simhash(df, text_col, id_col, n_bits)

    def band_bits(col, b):
        return F.shiftright(col, b * w).bitwiseAND(F.lit(mask))

    a = sig.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("__sig_a"),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), band_bits(F.col("simhash"), b).alias("bb"))
                for b in range(n_bands)
            ])
        ).alias("z"),
    ).select("id_a", "__sig_a", F.col("z.band").alias("band"), F.col("z.bb").alias("bb"))
    b_side = sig.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("__sig_b"),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), band_bits(F.col("simhash"), b).alias("bb"))
                for b in range(n_bands)
            ])
        ).alias("z"),
    ).select("id_b", "__sig_b", F.col("z.band").alias("band"), F.col("z.bb").alias("bb"))
    joined = (
        a.join(b_side, ["band", "bb"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("__xor", F.col("__sig_a").bitwiseXOR(F.col("__sig_b")))
    )
    # first agreeing band = min b with band_b(xor) == 0; earlier bands must
    # all differ for this row to be THE emission of its pair
    first_agree = F.lit(True)
    for j in range(n_bands):
        first_agree = first_agree & (
            F.when(F.lit(j) < F.col("band"), band_bits(F.col("__xor"), j) != 0).otherwise(F.lit(True))
        )
    return (
        joined.where(F.bit_count(F.col("__xor")) <= d)
        .where(first_agree)
        .select("id_a", "id_b", F.bit_count(F.col("__xor")).cast("int").alias("hamming"))
    )
