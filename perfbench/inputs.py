"""Seeded input generation for the benchmark workloads.

Every input is a pure function of the seed and the workload size, written as
Parquet before any timed work starts. The timed jobs see only these files.

- transcripts: ``sources.synthesize_transcripts`` (heavy-tailed conversation
  lengths, optional giant conversation), written by Spark;
- documents: random word soup over a fixed vocabulary with planted
  near-duplicates (a copy of an earlier original with one word replaced),
  free of shingle-hash collisions, written by PyArrow. The planted
  structure is returned so the expected curation outputs can be computed
  without the engine.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 4000
EVAL_MOD = 97  # doc_id % 97 == 0 is the evaluation slice


def write_transcripts(spark, path: str, n_convs: int, seed: int, giant_conv_turns: int = 0) -> None:
    from pystreamfs_spark.sources.transcripts import synthesize_transcripts

    df = synthesize_transcripts(spark, n_convs=n_convs, seed=seed, giant_conv_turns=giant_conv_turns)
    df.write.mode("overwrite").parquet(path)


def conv_lengths(path: str) -> dict[str, int]:
    """Turns per conversation, read with PyArrow (independent of Spark)."""
    conv = pq.read_table(path, columns=["conv_id"]).column("conv_id").to_numpy(zero_copy_only=False)
    ids, counts = np.unique(conv, return_counts=True)
    return dict(zip(ids.tolist(), counts.tolist()))


@dataclass
class Documents:
    texts: list[str]
    dup_of: np.ndarray  # -1 for an original, else the doc_id it copies

    @property
    def n_planted(self) -> int:
        return int((self.dup_of >= 0).sum())


class _ShingleHashes:
    """Keeps the corpus free of shingle-hash collisions.

    ``near_dedup``'s default shingle hash is the first 32 bits of MD5 modulo
    a ~2^30 prime, so a corpus of ~10^5 distinct 3-shingles holds dozens of
    colliding pairs; when a colliding pair are both band minima, two
    unrelated documents become duplicates (measured: one seed in seven at
    4 000 documents). Documents are redrawn until their new shingles collide
    with no other shingle, so the planted duplicates are the only ones."""

    def __init__(self, k: int = 3):
        from pystreamfs_spark.operators.dedup import MINHASH_P

        self.k, self.p = k, MINHASH_P
        self.seen: dict[int, str] = {}

    def _grams(self, toks: list[str]) -> list[str]:
        return [" ".join(toks[i : i + self.k]) for i in range(len(toks) - self.k + 1)]

    def admit(self, toks: list[str]) -> bool:
        hashed = {}
        for g in self._grams(toks):
            h = int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % self.p
            if self.seen.get(h, g) != g or hashed.get(h, g) != g:
                return False
            hashed[h] = g
        self.seen.update(hashed)
        return True


def make_documents(n_docs: int, seed: int, dup_rate: float = 0.10) -> Documents:
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:04d}" for i in range(VOCAB_SIZE)])
    lengths = rng.integers(40, 200, size=n_docs)
    dup_of = np.full(n_docs, -1, dtype=np.int64)
    hashes = _ShingleHashes()
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if originals and rng.random() < dup_rate:
            src = originals[int(rng.integers(0, len(originals)))]
            while True:
                toks = texts[src].split(" ")
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, VOCAB_SIZE))]
                if hashes.admit(toks):
                    break
            dup_of[i] = src
        else:
            while True:
                toks = vocab[rng.integers(0, VOCAB_SIZE, size=int(lengths[i]))].tolist()
                if hashes.admit(toks):
                    break
            originals.append(i)
        texts.append(" ".join(toks))
    return Documents(texts, dup_of)


def write_documents(docs: Documents, path: str) -> None:
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(len(docs.texts), dtype=np.int64)),
            "text": pa.array(docs.texts, type=pa.string()),
        }
    )
    pq.write_table(table, path)
