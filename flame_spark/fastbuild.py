"""Two-exchange index build: features -> scored postings -> segments.

The general path (pipeline.build_index + segments.postings_with_scores)
materializes postings, term stats, and a postings x idf join — four
exchanges plus two sort-merge sorts at scale. For the BUILD-ONLY flow
(raw transcripts -> compressed segment shards, the north-rule
throughput metric) all of that collapses into TWO exchanges:

  explode(features)                       [no shuffle]
    -> repartition by term                [exchange 1]
    -> ONE Arrow pass per term partition: tf (run-length over the
       sorted pairs), df (complete within the partition — terms are
       hash-partitioned, so a term never splits), idf via np.log
       (bit-identical to floatops.np_log and the NumPy oracle), and
       the per-posting BM25 score s = idf * tf_comp
    -> repartition by doc-range shard     [exchange 2]
    -> segments.encode_shard              (varbyte + block-max)

Scores are bit-identical to the general path by construction: the same
float64 expression tree, the same np.log libm — verified by
tests/test_fastbuild.py (segment tables byte-equal) and the standing
WAND == exhaustive parity tests.

Scale: exchange payloads are linear in posting count; per-task memory
is one term partition (tune ``n_parts``) / one doc shard (tune
``cfg.n_shards``); no driver-side state beyond (n_docs, avgdl).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .config import FlameConfig
from .corpus import CorpusArtifacts, add_features, prepare_docs
from .postings import CorpusStats, corpus_stats, doc_lengths
from .segments import build_segments


def _sized_parts(df: DataFrame, cores: int, inflation: float = 1.0) -> int:
    """Partition count for an exchange over ``df``-derived rows:
    4x cores for straggler-tolerant waves, but never more than ~1
    partition per MB of (estimated) data — a tiny corpus on a wide
    session otherwise pays several waves of near-empty task dispatch.
    Estimate = input file bytes x ``inflation`` (driver-side stat, no
    job); non-file-backed plans fall back to the 4x-cores default."""
    import os as _os

    cap = 4 * cores
    try:
        files = df.inputFiles()
        if not files:
            return cap
        mb = sum(
            _os.path.getsize(f.removeprefix("file:")) for f in files
        ) * inflation / (1024 * 1024)
    except Exception:
        return cap
    return max(cores, min(cap, int(mb) + 1))


def scored_postings_direct(
    feat_docs: DataFrame,
    stats: CorpusStats,
    k1: float,
    b: float,
    n_parts: int | None = None,
    term_col: str = "features",
) -> DataFrame:
    """docs(doc_id, <term_col>: array) -> (term, doc_id, tf, s) in one
    term-partitioned Arrow pass — no postings/stats materialization,
    no idf join."""
    spark = feat_docs.sparkSession
    if n_parts is None:
        # 4x the core count: bounded per-task pandas buffers and
        # straggler-tolerant packing (a single wave of core-count tasks
        # turns any slow task directly into wall time). Floored by the
        # input size so a SMALL corpus on a WIDE session doesn't pay
        # 4 waves of near-empty task dispatch (input bytes are a cheap
        # driver-side proxy; posting rows inflate ~4x over raw text).
        cores = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n_parts = _sized_parts(feat_docs, cores, inflation=4.0)
    n, avgdl = float(stats.n_docs), float(stats.avgdl)

    rows = feat_docs.select(
        "doc_id",
        F.size(term_col).cast("long").alias("dl"),
        F.explode(term_col).alias("term"),
    ).repartition(n_parts, "term")

    def term_pass(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        terms = pdf["term"].to_numpy(np.int64)
        docs = pdf["doc_id"].to_numpy(np.int64)
        dls = pdf["dl"].to_numpy(np.float64)
        order = np.lexsort((docs, terms))
        terms, docs, dls = terms[order], docs[order], dls[order]
        # run-length over sorted (term, doc) pairs -> tf
        new_pair = np.empty(terms.size, dtype=bool)
        new_pair[0] = True
        new_pair[1:] = (terms[1:] != terms[:-1]) | (docs[1:] != docs[:-1])
        pstarts = np.nonzero(new_pair)[0]
        pends = np.append(pstarts[1:], terms.size)
        tf = (pends - pstarts).astype(np.float64)
        pterm = terms[pstarts]
        pdoc = docs[pstarts]
        pdl = dls[pstarts]
        # df per term: run-length over the distinct-pair term column
        new_term = np.empty(pterm.size, dtype=bool)
        new_term[0] = True
        new_term[1:] = pterm[1:] != pterm[:-1]
        tstarts = np.nonzero(new_term)[0]
        tcounts = np.append(tstarts[1:], pterm.size) - tstarts
        df = np.repeat(tcounts.astype(np.float64), tcounts)
        # EXACT expression tree of segments.postings_with_scores /
        # bm25.score_bm25 in float64 (np.log == floatops.np_log libm)
        idf = np.log((n - df + 0.5) / (df + 0.5) + 1.0)
        denom_dl = (1.0 - b) + (b * pdl) / avgdl
        tf_comp = (tf * (k1 + 1.0)) / (tf + k1 * denom_dl)
        s = idf * tf_comp
        yield pd.DataFrame(
            {
                "term": pterm,
                "doc_id": pdoc,
                "tf": (pends - pstarts).astype(np.int32),
                "s": s,
            }
        )

    return rows.mapInPandas(
        term_pass, schema="term long, doc_id long, tf int, s double"
    )


def doc_lengths_arith(docs: DataFrame, cfg: FlameConfig) -> DataFrame:
    """doc_id -> LNO feature count, computed from the token count (see
    build_serving_index: every corpus token is in the corpus-derived
    encoder, so the formula is exact)."""
    from math import comb

    n_combos = comb(cfg.ngram, cfg.ngram - cfg.n_out)
    dl = F.lit(n_combos) * F.greatest(
        F.size("tokens") - (cfg.ngram - 1), F.lit(0)
    )
    return docs.select("doc_id", dl.cast("long").alias("dl"))


@dataclass
class ServingIndex:
    """Minimal serving state: what WAND queries actually need."""

    cfg: FlameConfig
    artifacts: CorpusArtifacts
    stats: CorpusStats
    segments: DataFrame


def build_serving_index(raw_docs: DataFrame, cfg: FlameConfig) -> ServingIndex:
    """raw(doc_id, text) -> compressed block-max segments + artifacts —
    the build-throughput path: two data exchanges end to end (term
    pass, shard pass); postings/term-stats tables are never
    materialized. Segment bytes are identical to
    pipeline.build_segment_table's (tested)."""
    if cfg.term_mode != "lno":
        raise ValueError("build_serving_index: term_mode must be 'lno'")
    spark = raw_docs.sparkSession
    # 4x the shuffle-partition count: the normalize/tokenize/shingle
    # map side then runs as several waves of small tasks instead of one
    # wave of core-count tasks, so a straggler costs a fraction of a
    # wave, not a whole stage tail (same rationale as n_parts in
    # scored_postings_direct).
    cores = int(spark.conf.get("spark.sql.shuffle.partitions"))
    target_parts = _sized_parts(raw_docs, cores, inflation=1.0)
    if raw_docs.rdd.getNumPartitions() < target_parts:
        raw_docs = raw_docs.repartition(target_parts)
    docs, artifacts = prepare_docs(raw_docs, cfg)  # tokenized docs cached
    # dl is ARITHMETIC on this path: the encoder is built from this
    # corpus's own distinct tokens, so every corpus token is known and
    # the LNO feature count per doc is exactly
    # C(ngram, ngram-n_out) * max(0, n_tokens - ngram + 1) — no need to
    # materialize a features column just to take its size. This keeps
    # the shingle UDF LAZY: it runs once, pipelined into the term
    # exchange's map side, instead of once more for a cache fill.
    # (Bit-equality with the general path is asserted by
    # tests/test_fastbuild.py on the segment bytes, which embed dl.)
    # (n_docs, avgdl) come from the Observation piggybacked on the
    # encoder job inside prepare_docs — ZERO extra job barriers; the
    # integer window sum divided by the count reproduces Spark's
    # avg(long) bit-for-bit.
    if artifacts.size_obs is None:
        # prepare_docs without pinned artifacts always attaches the
        # Observation, so this is unreachable here. It stays a hard
        # error rather than a fallback on purpose: a pinned-artifact
        # variant of this fast path could NOT use the token-count
        # arithmetic below (doc_lengths_arith) — pinned vocabularies
        # can have OOV tokens that drop from LNO windows, so dl must
        # come from the actual features column (postings.doc_lengths),
        # i.e. the general pipeline.build_index path.
        raise ValueError(
            "build_serving_index trains its own artifacts; for pinned "
            "artifacts use pipeline.build_index (exact dl under OOV)"
        )
    from math import comb

    vals = artifacts.size_obs.get
    n_docs = int(vals["n_docs"])
    combos = comb(cfg.ngram, cfg.ngram - cfg.n_out)
    total = combos * int(vals["sum_windows"] or 0)
    stats = CorpusStats(
        n_docs=n_docs, avgdl=(float(total) / n_docs) if n_docs else 0.0
    )
    feat = add_features(docs, artifacts, cfg)
    scored = scored_postings_direct(feat, stats, cfg.bm25_k1, cfg.bm25_b)
    segments = build_segments(
        scored, stats.n_docs, cfg.n_shards, cfg.block_size
    )
    return ServingIndex(cfg=cfg, artifacts=artifacts, stats=stats, segments=segments)
