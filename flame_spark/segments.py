"""Compressed posting segments: delta-gap + varbyte + block-max (F7).

Target-side operator (no reference analog; SURVEY §2.10 F7, FIXTURES §4).
Postings are sharded by DOC RANGE (``shard = doc_id // shard_span``) —
the classic search-engine document-sharding layout:

- every shard holds complete posting lists for its doc range, so a
  query can be answered per-shard and merged with a global top-k;
- hot formulaic terms are split across shards automatically (a term
  has at most shard_span postings per shard) — no single reducer ever
  owns a whole hot posting list;
- shard sizes are uniform by construction (dense doc_ids), so the
  build has no stragglers and scaling N -> 4N executors is linear.

Per (shard, term) the segment row stores doc-id deltas and tf values
varbyte-encoded, per-posting BM25 term scores (idf * tf_comp, float64
LE — the exact values the exhaustive scorer computes), and one
block-max per BLOCK_SIZE postings for WAND pruning.

Encoding runs in ``applyInPandas`` over (shard, term) groups —
Arrow-batched NumPy, no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from .constants import BLOCK_SIZE
from .postings import CorpusStats

SEGMENT_SCHEMA = (
    "shard int, term long, n_docs int, first_doc long, last_doc long, "
    "doc_deltas binary, tfs binary, scores binary, block_max array<double>"
)


# ---------------------------------------------------------------------------
# varbyte codec (pure NumPy)
# ---------------------------------------------------------------------------


def varbyte_encode_with_ends(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Vectorized LEB128-style varbyte encode of the WHOLE array at once.

    Returns (bytes, ends) where ends[i] is the byte offset just past
    value i — callers slice per-group spans out of one encode pass."""
    vals = np.asarray(values, dtype=np.uint64)
    if vals.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # bytes per value = ceil(bitlen/7), min 1
    nb = np.ones(vals.size, dtype=np.int64)
    v = vals >> np.uint64(7)
    while v.any():
        nb += (v > 0).astype(np.int64)
        v >>= np.uint64(7)
    ends = np.cumsum(nb)
    starts = ends - nb
    total = int(ends[-1])
    pos = np.arange(total, dtype=np.int64)
    value_idx = np.searchsorted(ends, pos, side="right")
    offset = (pos - starts[value_idx]).astype(np.uint64)
    chunk = (vals[value_idx] >> (offset * np.uint64(7))) & np.uint64(0x7F)
    cont = (pos != ends[value_idx] - 1).astype(np.uint64) * np.uint64(0x80)
    return (chunk | cont).astype(np.uint8).tobytes(), ends


def varbyte_encode(values: np.ndarray) -> bytes:
    """LEB128-style varbyte: 7 bits per byte, high bit = continuation."""
    return varbyte_encode_with_ends(values)[0]


def varbyte_decode(data: bytes) -> np.ndarray:
    """Vectorized decode: continuation-bit scan, no per-value Python."""
    if not data:
        return np.array([], dtype=np.uint64)
    raw = np.frombuffer(data, dtype=np.uint8)
    cont = (raw & 0x80) != 0
    ends = np.nonzero(~cont)[0]
    starts = np.concatenate([[0], ends[:-1] + 1])
    payload = (raw & 0x7F).astype(np.uint64)
    out = np.zeros(ends.size, dtype=np.uint64)
    pos = np.arange(raw.size, dtype=np.int64)
    value_idx = np.searchsorted(ends, pos)  # which value each byte belongs to
    offset = pos - starts[value_idx]
    np.add.at(out, value_idx, payload << (offset.astype(np.uint64) * np.uint64(7)))
    return out


# ---------------------------------------------------------------------------
# segment build
# ---------------------------------------------------------------------------


def shard_span(n_docs: int, n_shards: int) -> int:
    return max(1, -(-n_docs // n_shards))  # ceil


def shard_of(span: int) -> Column:
    """Doc-range shard id of a posting row (``doc_id // span``)."""
    return (F.col("doc_id") / F.lit(span)).cast("int")


def postings_with_scores(
    postings_dl: DataFrame,
    term_stats_df: DataFrame,
    stats: CorpusStats,
    k1: float,
    b: float,
) -> DataFrame:
    """postings + per-posting BM25 term score s = idf * tf_comp.

    idf via np.log (floatops) so the stored floats are bit-identical to
    the exhaustive scorer's.
    """
    from .floatops import np_log

    n = float(stats.n_docs)
    stats_idf = term_stats_df.select(
        "term",
        np_log((F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0).alias(
            "idf"
        ),
    )
    denom_dl = 1.0 - b + b * F.col("dl").cast("double") / F.lit(float(stats.avgdl))
    tf_comp = (F.col("tf") * (k1 + 1.0)) / (F.col("tf") + F.lit(k1) * denom_dl)
    return postings_dl.join(stats_idf, "term").withColumn(
        "s", F.col("idf") * tf_comp
    )


def build_segments(
    postings_scored: DataFrame,
    n_docs: int,
    n_shards: int,
    block_size: int = BLOCK_SIZE,
) -> DataFrame:
    """(term, doc_id, tf, s) -> segment rows, one per (shard, term)."""
    span = shard_span(n_docs, n_shards)
    # pin the encode exchange to n_shards partitions instead of the
    # global shuffle-partition count. Hash partitioning collides some
    # shard ids into one task (and leaves others empty), so this is
    # NOT exactly one shard per task — but applyInPandas buffers one
    # GROUP (= one shard) at a time, so per-task peak memory stays
    # bounded by a single shard's postings either way, and the stage
    # still packs as ~n_shards small tasks rather than core-count
    # jumbo tasks whose stragglers land directly in the build's wall
    # clock. HashPartitioning(shard, n_shards) satisfies the groupBy's
    # ClusteredDistribution, so no second exchange.
    with_shard = postings_scored.withColumn(
        "shard", shard_of(span)
    ).repartition(n_shards, "shard")

    def encode_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        """One call per SHARD (not per term!): sort by (term, doc_id),
        varbyte-encode the whole shard in two vectorized passes, slice
        per-term byte spans out, block-maxes via maximum.reduceat."""
        shard = int(pdf["shard"].iloc[0])
        pdf = pdf.sort_values(["term", "doc_id"])
        terms = pdf["term"].to_numpy(np.int64)
        docs = pdf["doc_id"].to_numpy(np.int64)
        tfs = pdf["tf"].to_numpy(np.int64)
        scores = pdf["s"].to_numpy(np.float64)
        uniq, starts = np.unique(terms, return_index=True)
        ends = np.append(starts[1:], terms.size)
        # delta-gap within each term group; group head keeps its doc id
        deltas = np.empty_like(docs)
        deltas[1:] = np.diff(docs)
        deltas[starts] = docs[starts]
        vb_docs, de = varbyte_encode_with_ends(deltas.astype(np.uint64))
        vb_tfs, te = varbyte_encode_with_ends(tfs.astype(np.uint64))
        # block boundaries for maximum.reduceat: starts of every block
        # of block_size postings within each group
        block_idx = np.concatenate(
            [np.arange(s, e, block_size) for s, e in zip(starts, ends)]
        )
        all_bmax = np.maximum.reduceat(scores, block_idx)
        nblocks = -(-(ends - starts) // block_size)
        boffsets = np.concatenate([[0], np.cumsum(nblocks)])

        rows = []
        for g in range(uniq.size):
            s, e = int(starts[g]), int(ends[g])
            db0 = int(de[s - 1]) if s > 0 else 0
            tb0 = int(te[s - 1]) if s > 0 else 0
            rows.append(
                (
                    shard,
                    int(uniq[g]),
                    e - s,
                    int(docs[s]),
                    int(docs[e - 1]),
                    vb_docs[db0 : int(de[e - 1])],
                    vb_tfs[tb0 : int(te[e - 1])],
                    scores[s:e].tobytes(),
                    all_bmax[int(boffsets[g]) : int(boffsets[g + 1])].tolist(),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "shard", "term", "n_docs", "first_doc", "last_doc",
                "doc_deltas", "tfs", "scores", "block_max",
            ],
        )

    return with_shard.groupBy("shard").applyInPandas(
        encode_shard, schema=SEGMENT_SCHEMA
    )


def decode_segment_row(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (doc_ids, tfs, scores) for one segment row."""
    deltas = varbyte_decode(bytes(row["doc_deltas"])).astype(np.int64)
    docs = np.cumsum(deltas)
    tfs = varbyte_decode(bytes(row["tfs"])).astype(np.int64)
    scores = np.frombuffer(bytes(row["scores"]), dtype=np.float64)
    return docs, tfs, scores
