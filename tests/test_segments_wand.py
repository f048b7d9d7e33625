"""Segment format + WAND tests (SURVEY.md §5.2 layer 2: varbyte
round-trip, block-max invariants, WAND == exhaustive, kill-and-resume)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from flame_spark.config import FlameConfig
from flame_spark.corpus import add_doc_id
from flame_spark.data import reference_queries, transcripts_df
from flame_spark.pipeline import (
    bm25_topk,
    build_index,
    build_segment_table,
    wand_bm25_topk,
)
from flame_spark.segments import varbyte_decode, varbyte_encode


@given(st.lists(st.integers(0, 2**61 - 1), min_size=0, max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(xs):
    enc = varbyte_encode(np.array(xs, dtype=np.uint64))
    assert varbyte_decode(enc).tolist() == xs


def test_varbyte_known_values():
    assert varbyte_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varbyte_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varbyte_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varbyte_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


CFG = FlameConfig(
    ngram=3, n_out=1, min_text_length=80, tokenizer="bpe", vocab_size=400,
    term_mode="lno", n_shards=5, block_size=4,  # tiny blocks to force pruning paths
)


@pytest.fixture(scope="module")
def built(spark):
    tdf = add_doc_id(transcripts_df(spark, 8, 7), ["conv_id", "turn_idx"])
    index = build_index(tdf.select("doc_id", "text"), CFG)
    segments = build_segment_table(index).persist()
    return index, segments


def test_block_max_invariant(built):
    from flame_spark.segments import decode_segment_row

    index, segments = built
    for row in segments.limit(200).collect():
        docs, tfs, scores = decode_segment_row(row)
        assert docs.size == row["n_docs"] == tfs.size == scores.size
        assert docs[0] == row["first_doc"] and docs[-1] == row["last_doc"]
        assert np.all(np.diff(docs) > 0)  # strictly increasing doc ids
        bs = CFG.block_size
        for i, bm in enumerate(row["block_max"]):
            blk = scores[i * bs : (i + 1) * bs]
            assert bm == blk.max()  # block max >= every member, attained


def test_wand_equals_exhaustive(spark, built):
    index, segments = built
    queries = reference_queries(k=10)
    exact = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in bm25_topk(spark, queries, index, k=10).collect()
    }
    wand = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in wand_bm25_topk(spark, queries, index, segments, k=10).collect()
    }
    assert wand == exact  # same docs, same ranks, bit-identical scores


def test_kill_and_resume_identical(spark, built, tmp_path):
    from flame_spark.lineage import SegmentWarehouse, snapshot_id
    from flame_spark.segments import build_segments, postings_with_scores

    index, segments = built
    scored = postings_with_scores(
        index.postings_dl, index.stats_df, index.stats, CFG.bm25_k1, CFG.bm25_b
    ).persist()
    snap = snapshot_id(index.postings, ["term", "doc_id", "tf"])
    n_docs = index.stats.n_docs

    # run A: straight-through build
    wh_a = SegmentWarehouse(str(tmp_path / "a"))
    wh_a.build_snapshot(scored, n_docs, CFG.n_shards, CFG.block_size, snap)

    # run B: killed after 2 shards (nothing committed), then resumed
    wh_b = SegmentWarehouse(str(tmp_path / "b"))
    with pytest.raises(RuntimeError, match="injected failure"):
        wh_b.build_snapshot(
            scored, n_docs, CFG.n_shards, CFG.block_size, snap,
            fail_after_shards=2,
        )
    assert wh_b.snapshot_log.current_id() is None
    assert len(wh_b.shard_lineage(snap)) == 2
    wh_b.build_snapshot(scored, n_docs, CFG.n_shards, CFG.block_size, snap)

    def table_key(df):
        return sorted(
            (r["shard"], r["term"], r["n_docs"], bytes(r["doc_deltas"]),
             bytes(r["tfs"]), bytes(r["scores"]), tuple(r["block_max"]))
            for r in df.collect()
        )

    # the resumed table equals the straight-through one and the one-shot
    # build_segments table
    direct = build_segments(scored, n_docs, CFG.n_shards, CFG.block_size)
    key_b = table_key(wh_b.read_snapshot(spark))
    assert key_b == table_key(wh_a.read_snapshot(spark))
    assert key_b == table_key(direct)
    # resume skipped the completed shards (lineage not duplicated):
    # exactly one lineage entry per shard PRESENT (raw-dense doc ids can
    # spill one shard past n_shards — the warehouse must cover it)
    lineage = wh_b.snapshot_log.manifest()["summary"]["lineage"]
    shards_present = {
        int(r["shard"]) for r in direct.select("shard").distinct().collect()
    }
    assert len(lineage) == len(shards_present)
    assert {e["shard"] for e in lineage} == shards_present


def test_wand_exclude_docs_live_delete_semantics(spark, built):
    """Serve-time tombstone suppression: excluding docs that currently
    OCCUPY top ranks must yield exactly the top-k over the survivors
    under the stored scores (exhaustive-oracle re-rank), on both the
    distributed and the one-stage serving path."""
    from flame_spark.pipeline import wand_bm25_serve
    from flame_spark.wand import segments_for_serving

    index, segments = built
    queries = reference_queries(k=10)
    base = wand_bm25_topk(spark, queries, index, segments, k=10).collect()
    excluded = sorted({r["doc_id"] for r in base if r["rank"] <= 2})
    assert excluded, "fixture queries must have results"
    exc = set(excluded)

    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in wand_bm25_topk(
            spark, queries, index, segments, k=10, exclude_docs=excluded
        ).collect()
    }
    assert not any(d in exc for d, _ in got.values())

    # oracle: exhaustive scoring over ALL docs, drop excluded, re-rank
    want = {}
    per_q: dict = {}
    for r in bm25_topk(spark, queries, index, k=100_000).collect():
        per_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in per_q.items():
        rank = 0
        for r in sorted(rows, key=lambda r: r["rank"]):
            if r["doc_id"] in exc:
                continue
            rank += 1
            if rank > 10:
                break
            want[(qid, rank)] = (r["doc_id"], r["score"])
    assert got == want

    # one-stage serving path agrees
    sharded = segments_for_serving(segments, 4)
    served = wand_bm25_serve(
        queries, index, sharded, k=10, exclude_docs=excluded
    )
    assert {
        (qid, rank): (doc, score) for qid, rank, doc, score in served
    } == want

    # batch serving path: one job for the whole query set, exclusions
    # applied per query — tuple-identical to the per-query path
    from flame_spark.pipeline import wand_bm25_serve_batch

    batch = wand_bm25_serve_batch(
        queries, index, sharded, k=10, exclude_docs=excluded
    )
    assert batch == served
    sharded.unpersist()
