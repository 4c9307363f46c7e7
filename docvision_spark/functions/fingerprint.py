"""Document fingerprinting via winnowing (rolling-hash) — the one text op
that genuinely needs Python, done as an Arrow-batched mapInPandas stage.

Winnowing (Schleimer et al., SIGMOD 2003): k-gram rolling hashes, sliding
window of size w, keep the min hash per window (rightmost on ties) -> a
position-robust fingerprint set. Used for plagiarism/near-dup detection
where MinHash's bag-of-shingles is too coarse.

The hot path is fully numpy-vectorized: k-gram hashes are a k-term
polynomial over the codepoint array in uint64 wraparound arithmetic
(mod 2^64 — exact under numpy overflow, unlike a Mersenne-61 modulus whose
122-bit products numpy cannot form), and the per-window rightmost-min is an
argmin over a reversed sliding view. tests/test_functions.py keeps a
scalar reference (pure Python ints, same mod-2^64 spec) that the
vectorized path is parity-tested against.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

FP_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_grams", IntegerType()),
    StructField("fingerprints", ArrayType(LongType())),
])

_B = 1_000_003          # rolling-hash base (fixed prime)
_MASK = (1 << 64) - 1   # arithmetic is mod 2^64 (uint64 wraparound)


def _hash_str(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * _B + ord(ch)) & _MASK
    return h


def winnow_np(text: str, k: int = 8, w: int = 16) -> np.ndarray:
    """Vectorized winnowing, O(n·k + n·w) numpy ops, no per-character
    Python loop. Hashes are signed int64 views of the uint64 values (what
    the Spark LongType column carries)."""
    s = " ".join(text.lower().split())
    n = len(s)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n < k:
        return np.array([_hash_str(s)], dtype=np.uint64).view(np.int64)
    cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n_grams = n - k + 1
    hs = np.zeros(n_grams, dtype=np.uint64)
    p = np.uint64(1)
    # H[i] = sum_j cp[i+j] * B^(k-1-j)  (mod 2^64): k vector mul-adds.
    # uint64 overflow IS the modulus — silence the (expected) warning.
    with np.errstate(over="ignore"):
        for j in range(k - 1, -1, -1):
            hs += cp[j:j + n_grams] * p
            p = p * np.uint64(_B)  # wraps mod 2^64, matching pow(_B,·,2^64)
    w_eff = min(w, n_grams)
    win = np.lib.stride_tricks.sliding_window_view(hs, w_eff)
    # rightmost min: argmin over the reversed window (argmin takes the
    # FIRST min, which in reversed order is the rightmost)
    rev_arg = win[:, ::-1].argmin(axis=1)
    sel = np.arange(len(win)) + (w_eff - 1) - rev_arg
    keep = np.empty(len(sel), dtype=bool)
    keep[0] = True
    np.not_equal(sel[1:], sel[:-1], out=keep[1:])
    return hs[sel[keep]].view(np.int64)


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8, w: int = 16) -> DataFrame:
    from docvision_spark.pipeline.shipping import map_in_pandas

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col]
            texts = pdf[text_col]
            rows = []
            for i in range(len(pdf)):
                t = texts.iloc[i] or ""
                fps = winnow_np(t, k, w)
                rows.append({"doc_id": int(ids.iloc[i]),
                             "n_grams": max(0, len(" ".join(t.lower().split())) - k + 1),
                             "fingerprints": fps.tolist()})
            yield pd.DataFrame(rows, columns=[f.name for f in FP_SCHEMA.fields])

    from docvision_spark.functions.dedup import parallelize_input

    # a small single-file scan is one split -> the whole Python winnowing
    # stage runs on one core; no-op on a properly-partitioned big table
    return map_in_pandas(parallelize_input(df.select(id_col, text_col)),
                         fn, FP_SCHEMA)


def winnow_overlap_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", k: int = 8, w: int = 16,
                         min_shared: int = 3,
                         max_postings: int | None = 128) -> DataFrame:
    """MOSS-style overlap pairs: documents sharing >= min_shared winnowing
    fingerprints (position-robust near-dup / plagiarism detection).

    Scale shape mirrors ngram_jaccard_pairs: inverted index on fingerprints
    (explode -> self-join on fp) generates candidates; hot fingerprints
    (present in > max_postings docs — boilerplate fragments) are dropped
    from the INDEX only (recall knob); the final n_shared is EXACT
    (array_intersect over the candidates' full fingerprint sets). Never an
    all-pairs join.
    """
    from pyspark.sql import functions as F

    from docvision_spark.functions.dedup import (
        inverted_candidates, join_back_sets)

    # materialize the fingerprint sets ONCE: fps feeds three plan branches
    # (the postings explode + both verify join-back sides); without the
    # checkpoint the Python winnowing pass re-runs per branch — the same
    # re-execution class banded_hamming_pairs checkpoints against.
    fps = winnow_fingerprints(df, id_col, text_col, k, w) \
        .select(F.col("doc_id").alias("id"), "fingerprints") \
        .localCheckpoint()
    postings = fps.select("id", F.explode("fingerprints").alias("key"))
    cand = join_back_sets(inverted_candidates(postings, max_postings),
                          fps, "fingerprints")
    shared = F.size(F.array_intersect(
        F.array_distinct("fingerprints_a"), F.array_distinct("fingerprints_b")))
    return (cand.withColumn("n_shared", shared)
                .filter(F.col("n_shared") >= min_shared)
                .select("id_a", "id_b", "n_shared"))
