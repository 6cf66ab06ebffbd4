"""The benchmark workloads.

Each workload has three phases:

- ``prepare``: generate the seeded inputs as Parquet and compute the
  expected outputs (NumPy oracle, DuckDB, or the planted structure). Not
  timed.
- ``run``: one timed iteration, from Parquet on disk to a result collected
  on the driver. Layer calls go through the tracer (see ``tracing.py``).
- ``check``: compare the collected result with the expected outputs and
  return the list of mismatches (empty when correct).

``layer_metrics`` turns one traced iteration's layer records into the
workload's per-layer metrics.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

import numpy as np
from pyspark.sql import functions as F

from inputs import EVAL_MOD, conv_lengths, make_documents, write_documents, write_transcripts
from tracing import MB, node_sum, stages_of

BATCH = 50
NUM_FEATURES = 5
KERNELS = (("ofs", {}), ("fsds", {"k": 2, "ell": 0}), ("efs", {}))


def _read(spark, path):
    from pystreamfs_spark.sources.tableio import read_table

    return read_table(spark, path)


def nogueira_np(selected: list[list[int]], m: int) -> float | None:
    """Nogueira stability (JMLR 2018, eq. 2) of one entity's selections."""
    k = len(selected)
    if k < 2:
        return None
    z = np.zeros((k, m))
    for i, s in enumerate(selected):
        z[i, list(s)] = 1.0
    p = z.mean(axis=0)
    q = z.sum(axis=1).mean() / m
    if q <= 0 or q >= 1:
        return None
    return float(1.0 - (k / (k - 1) * p * (1 - p)).mean() / (q * (1 - q)))


def _close(a, b, tol: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= tol * max(1.0, abs(b))


class FoldKernels:
    """transcripts -> featurize -> stream fold (ofs, fsds, efs) -> FSCR ⋈ Nogueira."""

    name = "fold_kernels"
    base_turns = 20_000

    def __init__(self, scale: float):
        self.scale = scale
        self.target_turns = max(2000, int(self.base_turns * scale))

    def sizes(self) -> dict:
        return {"conversations": self.n_convs, "turns": self.rows, "windows": self.expected_windows,
                "sample_convs": self.sample}

    def prepare(self, spark, work: str, seed: int) -> None:
        from oracle_ref import simulate

        from pystreamfs_spark.functions.features import featurize_turns

        self.work = work
        self.path = os.path.join(work, "transcripts")
        lengths = write_turns_prefix(spark, self.path, self.target_turns, seed)
        self.n_convs = len(lengths)
        self.rows = sum(lengths.values())
        self.expected_windows = sum(math.ceil(n / BATCH) for n in lengths.values())
        # the longest conversation (many windows, carried state across Arrow
        # batches) plus two others picked by the seed
        ids = sorted(lengths)
        longest = max(ids, key=lambda c: (lengths[c], c))
        rng = np.random.default_rng(seed)
        others = [c for c in ids if c != longest]
        self.sample = sorted([longest, *rng.choice(others, size=min(2, len(others)), replace=False).tolist()])
        pdf = (
            featurize_turns(_read(spark, self.path))
            .where(F.col("conv_id").isin(self.sample))
            .select("conv_id", "turn_idx", "features", "label")
            .toPandas()
        )
        self.expected = {}
        for kernel, kw in KERNELS:
            per_conv = {}
            for conv_id, g in pdf.groupby("conv_id"):
                g = g.sort_values("turn_idx")
                X = np.stack(g["features"].to_numpy()).astype(np.float64)
                y = g["label"].to_numpy(dtype=np.float64)
                ora = simulate(X, y, kernel=kernel, batch_size=BATCH, num_features=NUM_FEATURES, **kw)
                per_conv[conv_id] = {
                    "w": ora["w"],
                    "selected": ora["selected"],
                    "fscr": [None, *ora["fscr"]],
                    "stability": nogueira_np(ora["selected"], X.shape[1]),
                }
            self.expected[kernel] = per_conv

    def run(self, spark, tr) -> dict:
        from pystreamfs_spark.fold import fold_weights_stream
        from pystreamfs_spark.functions.features import featurize_turns
        from pystreamfs_spark.operators.stability import fscr, nogueira_stability

        with tr.layer("features"):
            f = featurize_turns(_read(spark, self.path)).cache()
            tr.materialize(f, count_exprs=True)
        out = {}
        try:
            for kernel, kw in KERNELS:
                with tr.layer(f"fold.{kernel}"):
                    w = fold_weights_stream(f, kernel=kernel, kernel_kwargs=kw)
                    tr.fill(w)  # the engine's lazy localCheckpoint, filled in this layer
                with tr.layer(f"stability.{kernel}"):
                    st = fscr(w, NUM_FEATURES).join(nogueira_stability(w), "conv_id")
                    sample = F.when(
                        F.col("conv_id").isin(self.sample),
                        F.struct("conv_id", "window_id", "w", "selected", "fscr", "stability"),
                    )
                    row = tr.collect(
                        st.agg(
                            F.count(F.lit(1)).alias("windows"),
                            F.sum("elapsed_sec").alias("update_s"),
                            F.collect_list(sample).alias("sample"),
                        )
                    )[0]
                out[kernel] = {
                    "windows": row["windows"],
                    "update_s": row["update_s"],
                    "sample": [r.asDict() for r in row["sample"]],
                }
        finally:
            f.unpersist()
        return out

    def trace_legs(self, spark, seed: int) -> list:
        """Run once in the traced run: the fold's SQL metrics (``FoldProbe``)
        and its write path (checkpointed resume) on the same input; the
        timed pipeline only reads."""
        return [FoldProbe(self.path, self.expected_windows),
                ResumeLeg(spark, self.work, self.path, self.expected_windows)]

    def check(self, res: dict) -> list[str]:
        bad = []
        for kernel, _ in KERNELS:
            got = res[kernel]
            if got["windows"] != self.expected_windows:
                bad.append(f"{kernel}: {got['windows']} windows, expected {self.expected_windows}")
            by_conv: dict[str, list] = {}
            for r in got["sample"]:
                by_conv.setdefault(r["conv_id"], []).append(r)
            for conv_id, exp in self.expected[kernel].items():
                rows = sorted(by_conv.get(conv_id, []), key=lambda r: r["window_id"])
                if [r["window_id"] for r in rows] != list(range(len(exp["w"]))):
                    bad.append(f"{kernel} {conv_id}: windows {len(rows)} != {len(exp['w'])}")
                    continue
                for r, w, sel, fs in zip(rows, exp["w"], exp["selected"], exp["fscr"]):
                    if not np.allclose(np.array(r["w"]), w, rtol=1e-9, atol=1e-12):
                        bad.append(f"{kernel} {conv_id} window {r['window_id']}: weights differ")
                        break
                    if list(r["selected"]) != list(sel) or not _close(r["fscr"], fs):
                        bad.append(f"{kernel} {conv_id} window {r['window_id']}: selection or fscr differ")
                        break
                if not _close(rows[0]["stability"], exp["stability"]):
                    bad.append(f"{kernel} {conv_id}: stability {rows[0]['stability']} != {exp['stability']}")
        return bad

    def layer_metrics(self, recs, res: dict) -> dict:
        folds = stages_of(recs, "fold").add(stages_of(recs, "stability"))
        return {
            "features.busy_s": stages_of(recs, "features").run_ms / 1000.0,
            "features.interpreted_exprs": sum(n.interpreted_exprs for n in recs["features"].nodes),
            **{f"kernels.{k}.update_s": res[k]["update_s"] for k, _ in KERNELS},
            "stability.busy_s": stages_of(recs, "stability").run_ms / 1000.0,
            "stability.fold_executions": folds.python_stages / len(KERNELS),
        }


class FoldProbe:
    """Each kernel's fold with the engine's ``materialize=False`` and one
    consumer (a count), so it runs exactly once and its MapInArrow node,
    with the Python and Arrow metrics, is in the plan the tracer walks. The
    engine's default output is a lazy ``localCheckpoint``, whose plan is no
    longer reachable once it is filled."""

    def __init__(self, path: str, expected_windows: int):
        self.path, self.expected_windows = path, expected_windows

    def run(self, spark, tr) -> dict:
        from pystreamfs_spark.fold import fold_weights_stream
        from pystreamfs_spark.functions.features import featurize_turns

        f = featurize_turns(_read(spark, self.path)).cache()
        f.count()
        out = {}
        try:
            for kernel, kw in KERNELS:
                with tr.layer(f"fold.{kernel}"):
                    raw = fold_weights_stream(f, kernel=kernel, kernel_kwargs=kw, materialize=False)
                    row = tr.collect(raw.agg(F.count(F.lit(1)).alias("windows"), F.sum("elapsed_sec").alias("update_s")))[0]
                out[kernel] = row.asDict()
        finally:
            f.unpersist()
        return out

    def check(self, res: dict) -> list[str]:
        return [f"{k}: {r['windows']} windows, expected {self.expected_windows}"
                for k, r in res.items() if r["windows"] != self.expected_windows]

    def layer_metrics(self, recs, res: dict) -> dict:
        python_s = node_sum(recs, "pythonTotalTime", "fold") / 1000.0
        return {
            "fold.python_s": python_s,
            "fold.arrow_sent_mb": node_sum(recs, "pythonDataSent", "fold") / MB,
            "fold.arrow_recv_mb": node_sum(recs, "pythonDataReceived", "fold") / MB,
            "fold.windows": node_sum(recs, "pythonNumRowsReceived", "fold") / len(KERNELS),
            "fold.loop_overhead_s": python_s - sum(r["update_s"] for r in res.values()),
        }


def write_turns_prefix(spark, path: str, target_turns: int, seed: int) -> dict[str, int]:
    """Write the shortest prefix of the seeded conversations holding at least
    ``target_turns`` turns. A conversation's length depends only on its id and
    the seed, so the seed changes the content while the size stays put (a
    fixed conversation count would swing with the lengths of its few
    thousand-turn conversations)."""
    from pystreamfs_spark.sources.transcripts import synthesize_transcripts

    n_gen = max(200, target_turns // 30)
    counts = synthesize_transcripts(spark, n_convs=n_gen, seed=seed).groupBy("conv_id").count().collect()
    lengths = dict(sorted((r["conv_id"], r["count"]) for r in counts))
    n_convs, total = 0, 0
    for n in lengths.values():
        if total >= target_turns:
            break
        n_convs, total = n_convs + 1, total + n
    if total < target_turns:
        raise RuntimeError(f"only {total} turns in {n_gen} conversations, {target_turns} wanted")
    write_transcripts(spark, path, n_convs, seed)
    return conv_lengths(path)


class PitSkew:
    """Point-in-time layer over transcripts with one giant conversation
    (about a tenth of all turns on one key): sessionize, lag/lead, backfill,
    rolling and strict-prefix frames, then an as-of join of tool turns onto
    every turn, checked against DuckDB on the same Parquet."""

    name = "pit_skew"
    base_convs = 3000
    base_giant = 30000
    gap_s = 450

    def __init__(self, scale: float):
        self.scale = scale
        self.n_convs = max(30, int(self.base_convs * scale))
        self.giant = max(200, int(self.base_giant * scale))

    def sizes(self) -> dict:
        return {"conversations": self.n_convs, "giant_turns": self.giant, "turns": self.rows}

    def trace_legs(self, spark, seed: int) -> list:
        """The document curation pipeline, run once in the traced run: the
        other JVM-only path (shuffle and text operators, no Python)."""
        leg = Curation(self.scale)
        leg.prepare(spark, os.path.join(self.work, "curation"), seed)
        return [leg]

    def prepare(self, spark, work: str, seed: int) -> None:
        import duckdb

        self.work = work
        self.path = os.path.join(work, "transcripts")
        write_transcripts(spark, self.path, self.n_convs, seed, giant_conv_turns=self.giant)
        self.rows = sum(conv_lengths(self.path).values())
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
            con.execute("SET threads = 2")
            self.expected = dict(zip(self.CHECKSUMS, con.execute(self._duckdb_sql()).fetchone()))
        finally:
            con.close()

    CHECKSUMS = ("rows", "sessions", "lag_lead", "ffill", "roll5", "prefix_tools", "prefix_chars",
                 "asof_hits", "asof_dist", "asof_tool")

    def _duckdb_sql(self) -> str:
        src = os.path.join(self.path, "*.parquet")
        return f"""
        WITH t AS (SELECT conv_id, turn_idx, ts, tool, length(text) AS n_chars FROM read_parquet('{src}')),
        g AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > {self.gap_s} THEN 1 ELSE 0 END AS is_new
              FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)),
        s AS (SELECT *, sum(is_new) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id FROM g),
        x AS (SELECT *,
                lag(n_chars) OVER w AS n_chars_lag1, lead(n_chars) OVER w AS n_chars_lead1,
                last(tool IGNORE NULLS) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_ffill,
                sum(n_chars) OVER (w ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS chars_roll5,
                count(tool) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS tools_before,
                sum(n_chars) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS chars_before
              FROM s WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)),
        r AS (SELECT conv_id, ts, turn_idx AS tool_turn, tool AS last_tool FROM t WHERE tool IS NOT NULL),
        j AS (SELECT x.*, r.tool_turn, r.last_tool FROM x ASOF LEFT JOIN r
              ON x.conv_id = r.conv_id AND x.ts >= r.ts)
        SELECT {", ".join(f"CAST({e} AS BIGINT)" for e in self._checksum_exprs())} FROM j
        """

    @staticmethod
    def _checksum_exprs() -> list[str]:
        # written once as SQL so Spark and DuckDB aggregate the same expressions
        return [
            "count(*)",
            "sum(session_id)",
            "sum(coalesce(n_chars_lag1, 0) * (turn_idx % 5 + 1) + coalesce(n_chars_lead1, 0))",
            "sum(coalesce(length(tool_ffill), 0) * (turn_idx % 7 + 1))",
            "sum(chars_roll5)",
            "sum(coalesce(tools_before, 0) * (turn_idx % 7 + 1))",
            "sum(coalesce(chars_before, 0))",
            "count(tool_turn)",
            "sum(turn_idx - tool_turn)",
            "sum(coalesce(length(last_tool), 0) * (turn_idx % 3 + 1))",
        ]

    def run(self, spark, tr) -> dict:
        from pystreamfs_spark.operators.asof import asof_join
        from pystreamfs_spark.operators.sessionize import sessionize
        from pystreamfs_spark.operators.windows import backfill, rolling_agg, strict_prefix_agg, with_lag_lead

        t = _read(spark, self.path).withColumn("n_chars", F.length("text")).drop("text")
        with tr.layer("windows"):
            x = sessionize(t, gap_seconds=self.gap_s, order_cols=("turn_idx",))
            x = with_lag_lead(x, ["n_chars"])
            x = backfill(x, ["tool"])
            x = rolling_agg(x, {"chars_roll5": F.sum("n_chars")}, 5)
            x = strict_prefix_agg(x, {"tools_before": F.count("tool"), "chars_before": F.sum("n_chars")})
            x = tr.materialize(x)
        try:
            with tr.layer("asof"):
                right = t.where(F.col("tool").isNotNull()).select(
                    "conv_id", "ts", F.col("turn_idx").alias("tool_turn"), F.col("tool").alias("last_tool")
                )
                j = asof_join(x, right, on="conv_id", value_cols=["tool_turn", "last_tool"])
                row = tr.collect(j.agg(*[F.expr(e).cast("long").alias(n)
                                         for n, e in zip(self.CHECKSUMS, self._checksum_exprs())]))[0]
        finally:
            x.unpersist()
        return row.asDict()

    def check(self, res: dict) -> list[str]:
        return [f"{k}: {res[k]} != duckdb {v}" for k, v in self.expected.items() if res[k] != v]

    def layer_metrics(self, recs, res: dict) -> dict:
        win, asof = stages_of(recs, "windows"), stages_of(recs, "asof")
        return {
            "windows.busy_s": win.run_ms / 1000.0,
            "windows.spill_mb": win.spill_bytes / MB,
            "windows.task_skew": win.task_skew,
            "asof.busy_s": asof.run_ms / 1000.0,
            "asof.shuffle_mb": asof.shuffle_write_bytes / MB,
        }


class Curation:
    """documents -> repetition gate -> near-dedup -> decontaminate -> split ->
    chunk -> pack. Runs only as a traced leg, so near-dedup runs as
    ``near_dedup``'s public stages (signatures, capped LSH candidates,
    connected components), one layer each."""

    base_docs = 4000
    n_bands, k, min_shared, cap = 8, 3, 2, 200
    decon_n, chunk_size, context_len = 5, 64, 2048

    def __init__(self, scale: float):
        self.n_docs = max(200, int(self.base_docs * scale))

    def prepare(self, spark, work: str, seed: int) -> None:
        os.makedirs(work, exist_ok=True)
        self.path = os.path.join(work, "documents.parquet")
        docs = make_documents(self.n_docs, seed)
        write_documents(docs, self.path)
        self.rows = self.n_docs
        self.n_planted = docs.n_planted
        n = self.decon_n

        def grams(text):
            t = text.split(" ")
            return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}

        eval_grams = set().union(*(grams(docs.texts[i]) for i in range(0, self.n_docs, EVAL_MOD)))
        canonical = [i for i in range(self.n_docs) if docs.dup_of[i] < 0]
        flagged = {i for i in canonical if not eval_grams.isdisjoint(grams(docs.texts[i]))}
        clean_tokens = [len(docs.texts[i].split(" ")) for i in canonical if i not in flagged]
        self.expected = {
            "canonical": len(canonical),
            "contaminated": len(flagged),
            "eval_canonical": sum(1 for i in canonical if i % EVAL_MOD == 0),
            "clean": len(clean_tokens),
            "chunks": sum(math.ceil(t / self.chunk_size) for t in clean_tokens),
            "tokens": sum(clean_tokens),
        }

    def run(self, spark, tr) -> dict:
        from pystreamfs_spark.operators.chunk import chunk_by_tokens, pack_token_stream
        from pystreamfs_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures
        from pystreamfs_spark.operators.graph import dedup_components
        from pystreamfs_spark.operators.quality import decontaminate, repetition_signals
        from pystreamfs_spark.operators.sampling import hash_split

        docs = _read(spark, self.path)
        cached = []
        res: dict = {}
        try:
            with tr.layer("quality.repetition"):
                rep = repetition_signals(docs, k=self.k)
                gate = (F.col("top_kgram_frac") <= 0.6) & (F.col("dup_token_frac") <= 0.95)
                good = docs.join(rep.where(gate).select("doc_id"), "doc_id").cache()
                tr.materialize(good)
                cached.append(good)
            # near_dedup's documented composition, one public stage per layer
            with tr.layer("dedup.signature"):
                sig = tr.materialize(minhash_signatures(good, n_bands=self.n_bands, k=self.k).cache())
                cached.append(sig)
            with tr.layer("dedup.candidates"):
                pairs = minhash_lsh_candidates(
                    good, n_bands=self.n_bands, k=self.k, max_bucket_size=self.cap, signatures=sig
                ).cache()
                cached.append(tr.materialize(pairs))
                kept = pairs.where(F.col("n_shared_bands") >= self.min_shared)
                res["candidate_pairs"] = pairs.count()
                res["kept_pairs"] = kept.count()
            with tr.layer("graph"):
                clusters = dedup_components(good, kept)
                keep = good.join(clusters.where("is_canonical").select("doc_id"), "doc_id").cache()
                cached.append(tr.materialize(keep))
            with tr.layer("quality.decontam"):
                decon = decontaminate(keep, docs.where(F.col("doc_id") % EVAL_MOD == 0), n=self.decon_n)
                is_eval = F.col("doc_id") % EVAL_MOD == 0
                d = tr.collect(
                    decon.agg(
                        F.count(F.lit(1)).alias("canonical"),
                        F.count(F.when(F.col("contaminated"), 1)).alias("contaminated"),
                        F.count(F.when(is_eval, 1)).alias("eval_canonical"),
                        F.count(F.when(is_eval & F.col("contaminated"), 1)).alias("eval_flagged"),
                    )
                )[0]
                res.update(d.asDict())
                clean = keep.join(decon.where(~F.col("contaminated")).select("doc_id"), "doc_id").cache()
                cached.append(clean)
            with tr.layer("chunk"):
                split = hash_split(clean, key_col="doc_id")
                res["splits"] = {r["split"]: r["count"] for r in tr.collect(split.groupBy("split").count())}
                chunks = chunk_by_tokens(split, chunk_size=self.chunk_size)
                packed = pack_token_stream(chunks, context_len=self.context_len)
                p = tr.collect(
                    packed.agg(
                        F.count(F.lit(1)).alias("chunks"),
                        F.sum("n_tokens").alias("pack_tokens"),
                        F.max(F.col("token_offset") + F.col("n_tokens")).alias("stream_end"),
                    )
                )[0]
                res.update(p.asDict())
        finally:
            for df in cached:
                df.unpersist()
        return res

    def check(self, res: dict) -> list[str]:
        exp = self.expected
        bad = [f"{k}: {res[k]} != {exp[k]}" for k in ("canonical", "contaminated", "eval_canonical", "chunks")
               if res[k] != exp[k]]
        if res["eval_flagged"] != res["eval_canonical"]:
            bad.append(f"eval slice: {res['eval_flagged']} of {res['eval_canonical']} flagged")
        if sum(res["splits"].values()) != exp["clean"]:
            bad.append(f"splits {res['splits']} do not sum to {exp['clean']}")
        if not res["pack_tokens"] == res["stream_end"] == exp["tokens"]:
            bad.append(f"pack tokens {res['pack_tokens']} / stream end {res['stream_end']} != chunk tokens {exp['tokens']}")
        return bad

    def layer_metrics(self, recs, res: dict) -> dict:
        graph = stages_of(recs, "graph")
        return {
            "quality.repetition_busy_s": stages_of(recs, "quality.repetition").run_ms / 1000.0,
            "quality.decontam_busy_s": stages_of(recs, "quality.decontam").run_ms / 1000.0,
            "dedup.signature_busy_s": stages_of(recs, "dedup.signature").run_ms / 1000.0,
            "dedup.candidate_pairs": res["candidate_pairs"],
            "dedup.kept_pair_ratio": res["kept_pairs"] / max(1, res["candidate_pairs"]),
            "graph.busy_s": graph.run_ms / 1000.0,
            "graph.cc_jobs": graph.jobs,
            "chunk.busy_s": stages_of(recs, "chunk").run_ms / 1000.0,
        }


class ResumeLeg:
    """OFS under CheckpointedFold on the fold_kernels input: half the epochs,
    then a resume for the rest, into a fresh directory each time. This is
    the fold's write path (cached fold, per-epoch Parquet writes, ledger
    commits); it runs once per traced fold_kernels run."""

    n_epochs, first_epochs = 8, 4
    det_cols = ("conv_id", "window_id", "win_rows", "ts_end", "w", "selected")

    def __init__(self, spark, work: str, path: str, expected_windows: int):
        from pystreamfs_spark.checkpoint import CheckpointedFold, epoch_of
        from pystreamfs_spark.fold import fold_weights_stream
        from pystreamfs_spark.functions.features import featurize_turns

        self.work, self.path, self.expected_windows = work, path, expected_windows
        self.expected_path = os.path.join(work, "uninterrupted")
        f = featurize_turns(_read(spark, path))
        fold_weights_stream(f, kernel="ofs", materialize=False).select(
            *self.det_cols
        ).write.mode("overwrite").parquet(self.expected_path)
        # turns per epoch, under the epoch assignment CheckpointedFold uses
        cf = CheckpointedFold(spark, work, n_epochs=self.n_epochs)
        by_epoch = f.groupBy(epoch_of(cf.entity_col, cf.n_epochs, cf.seed).alias("e")).count().collect()
        self.epoch_turns = {r["e"]: r["count"] for r in by_epoch}
        self.iteration = 0

    def run(self, spark, tr) -> dict:
        from pystreamfs_spark.checkpoint import CheckpointedFold
        from pystreamfs_spark.functions.features import featurize_turns

        out_dir = os.path.join(self.work, f"resume-{self.iteration}")
        self.iteration += 1
        f = featurize_turns(_read(spark, self.path))
        cf = CheckpointedFold(spark, out_dir, n_epochs=self.n_epochs)
        with tr.layer("checkpoint.first"):
            first = cf.run(f, kernel="ofs", max_epochs_this_run=self.first_epochs)
        with tr.layer("checkpoint.resume"):
            second = cf.run(f, kernel="ofs")
        ledger = []
        for fn in sorted(os.listdir(cf.ledger_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(cf.ledger_dir, fn)) as fh:
                    ledger.append(json.load(fh))
        return {"out_dir": out_dir, "first": first, "second": second, "ledger": ledger,
                "write_bytes": _du(out_dir)}

    def check(self, res: dict) -> list[str]:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        bad = []
        if res["first"] != list(range(self.first_epochs)) or res["second"] != list(range(self.first_epochs, self.n_epochs)):
            bad.append(f"epochs committed {res['first']} then {res['second']}")
        if len(res["ledger"]) != self.n_epochs:
            bad.append(f"{len(res['ledger'])} ledger records, expected {self.n_epochs}")
        windows = sum(r["n_windows"] for r in res["ledger"])
        if windows != self.expected_windows:
            bad.append(f"{windows} windows, expected {self.expected_windows}")
        got = spark.read.option("basePath", os.path.join(res["out_dir"], "weights")).parquet(
            os.path.join(res["out_dir"], "weights", "epoch=*")
        ).select(*self.det_cols)
        exp = spark.read.parquet(self.expected_path)
        if got.exceptAll(exp).limit(1).count() or exp.exceptAll(got).limit(1).count():
            bad.append("resumed weights differ from the uninterrupted fold")
        shutil.rmtree(res["out_dir"], ignore_errors=True)
        return bad

    def layer_metrics(self, recs, res: dict) -> dict:
        led = res["ledger"]
        by_epoch = {r["epoch"]: r for r in led}
        # each run() folds once and records that fold's time on every epoch it commits
        fold_s = sum(by_epoch[run[0]]["fold_sec_shared"] for run in (res["first"], res["second"]) if run)
        # turns the resume fed to the fold beyond the epochs it had to fold,
        # in units of an average already-committed epoch
        fed = recs["checkpoint.resume"].stages.python_shuffle_records
        needed = sum(self.epoch_turns.get(e, 0) for e in range(self.first_epochs, self.n_epochs))
        done = sum(self.epoch_turns.get(e, 0) for e in range(self.first_epochs)) / self.first_epochs
        return {
            "checkpoint.fold_s": fold_s,
            "checkpoint.write_s": sum(r["elapsed_sec"] for r in led),
            "checkpoint.write_mb": res["write_bytes"] / MB,
            "checkpoint.commits": len(led),
            "checkpoint.resume_s": recs["checkpoint.resume"].wall_s,
            "checkpoint.refolded_epochs": (fed - needed) / done,
        }


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


WORKLOADS = {w.name: w for w in (FoldKernels, PitSkew)}


def oracle_path(repo_root: str) -> None:
    """Make ``tests/oracle_ref.py`` (the NumPy reference) importable."""
    tests = os.path.join(repo_root, "tests")
    if tests not in sys.path:
        sys.path.append(tests)
