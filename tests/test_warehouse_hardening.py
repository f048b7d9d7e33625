"""Warehouse hardening: torn-ingest invisibility under compaction,
mixed stream replay after checkpoint loss, optimistic merge commits,
and the snapshot-relative (bounded) serve-time tombstone exclude set."""

import json
import os

import pytest
from pyspark.sql import functions as F

from flame_spark.config import FlameConfig
from flame_spark.data import transcripts_df
from flame_spark.incremental import IncrementalIndexer, ingest_stream
from flame_spark.lineage import SnapshotLog
from flame_spark.serving import TombstoneBacklogError, WarehouseServer

CFG = FlameConfig(
    ngram=3, n_out=1, min_text_length=0, tokenizer="word",
    term_mode="lno", n_shards=4, block_size=4,
)
Q = [{"query_id": "q0",
      "query_text": "in nomine sancte et individue trinitatis amen"}]


def _seg_map(rows):
    return {
        (int(r["shard"]), r["term"]): (
            r["n_docs"], r["first_doc"], r["last_doc"],
            bytes(r["doc_deltas"]), bytes(r["tfs"]), bytes(r["scores"]),
            tuple(r["block_max"]),
        )
        for r in rows
    }


def test_torn_ingest_invisible_to_compaction(spark, tmp_path):
    """compact_deltas must fold COMMITTED generations only: a crash
    mid-ingest leaves ingest=k dirs for k >= n_ingests, and rolling
    them into the always-visible compact rollup would both expose the
    torn delta and double-count the doc ids the retried ingest
    reuses."""
    full = transcripts_df(spark, 12, 5).persist()
    idx = IncrementalIndexer(str(tmp_path / "wh"), CFG, hash_base=2**32)
    idx.initial_build(full.filter(F.col("conv_id") < "conv000006"))
    idx.ingest(
        full.filter(
            (F.col("conv_id") >= "conv000006")
            & (F.col("conv_id") < "conv000009")
        ),
        on_oov="extend",
    )
    expected = _seg_map(idx.merge_segments(spark).collect())
    sid = idx.warehouse.snapshot_log.current_id()
    assert idx._load_state()["n_ingests"] == 2

    # crash window: ingest 2 wrote doclens + postings but never
    # committed state.json
    spark.createDataFrame(
        [(10_000 + i, 99) for i in range(40)], "doc_id long, dl long"
    ).write.parquet(os.path.join(idx.root, "doclens", "ingest=2"))
    spark.createDataFrame(
        [(1, 10_000, 3)], "term long, doc_id long, tf long"
    ).write.parquet(os.path.join(idx.root, "postings", "ingest=2"))

    removed = idx.compact_deltas(spark)
    assert removed > 0
    # the torn generation survives ON DISK (for the retry's overwrite)
    # and stays OUT of the rollup
    assert os.path.isdir(os.path.join(idx.root, "doclens", "ingest=2"))
    assert os.path.isdir(os.path.join(idx.root, "postings", "ingest=2"))
    assert os.path.isdir(os.path.join(idx.root, "doclens", "compact-0"))
    assert (
        idx._read_table(spark, "doclens")
        .filter(F.col("doc_id") >= 10_000)
        .count()
        == 0
    )
    assert _seg_map(idx.merge_segments(spark).collect()) == expected
    assert idx.warehouse.snapshot_log.current_id() == sid  # no-op

    # the retried ingest overwrites the torn dirs; no orphan rows leak
    idx.ingest(full.filter(F.col("conv_id") >= "conv000009"), on_oov="extend")
    assert (
        idx._read_table(spark, "doclens")
        .filter(F.col("doc_id") >= 10_000)
        .count()
        == 0
    )
    assert _seg_map(idx.merge_segments(spark).collect()) != expected
    full.unpersist()


def test_stream_mixed_replay_ingests_only_new(spark, tmp_path):
    """Checkpoint loss can batch already-ingested files together with
    genuinely new ones; the handler must filter to rows above the
    ingest watermark instead of skipping all-or-nothing (which would
    trip the append contract and wedge the stream permanently)."""
    full = transcripts_df(spark, 12, 5).persist()
    idx = IncrementalIndexer(str(tmp_path / "wh"), CFG)
    idx.initial_build(full.filter(F.col("conv_id") < "conv000004"))

    stream_dir = tmp_path / "incoming"
    full.filter(
        (F.col("conv_id") >= "conv000004") & (F.col("conv_id") < "conv000008")
    ).repartition(2).write.mode("overwrite").parquet(str(stream_dir))
    ingest_stream(idx, spark, str(stream_dir), str(tmp_path / "ck1"),
                  on_oov="drop")
    wm1 = idx._load_state()["max_conv_id"]
    n1 = idx._load_state()["n_ingests"]

    # new files land; the checkpoint is lost -> one batch mixes the
    # old files with the new ones
    full.filter(F.col("conv_id") >= "conv000008").repartition(2).write.mode(
        "append"
    ).parquet(str(stream_dir))
    ingest_stream(idx, spark, str(stream_dir), str(tmp_path / "ck2"),
                  on_oov="drop")
    st = idx._load_state()
    assert st["max_conv_id"] > wm1  # the new rows DID ingest
    assert st["n_ingests"] > n1

    # and the merged warehouse equals a pinned full rebuild over the
    # union (no rows lost, none double-ingested)
    from flame_spark.artifacts_io import load_artifacts
    from flame_spark.corpus import add_doc_id
    from flame_spark.pipeline import build_index, build_segment_table

    merged = _seg_map(idx.merge_segments(spark).collect())
    pinned = load_artifacts(idx.artifacts_path)
    rebuilt_index = build_index(
        add_doc_id(full, ["conv_id", "turn_idx"]).select("doc_id", "text"),
        CFG, artifacts=pinned,
    )
    assert merged == _seg_map(build_segment_table(rebuilt_index).collect())
    full.unpersist()


def test_stream_late_unknown_conv_raises(spark, tmp_path):
    """Below-watermark rows that were NEVER ingested are late
    out-of-order data, not replay — the stream must fail loudly
    instead of silently discarding the conversations."""
    full = transcripts_df(spark, 8, 5)
    idx = IncrementalIndexer(str(tmp_path / "wh"), CFG)
    idx.initial_build(full.filter(F.col("conv_id") >= "conv000004"))

    stream_dir = tmp_path / "incoming"
    full.filter(F.col("conv_id") == "conv000002").write.mode(
        "overwrite"
    ).parquet(str(stream_dir))
    with pytest.raises(Exception, match="NEVER"):
        ingest_stream(idx, spark, str(stream_dir), str(tmp_path / "ck"),
                      on_oov="drop")


def test_merge_commit_conflict_retries(spark, tmp_path, monkeypatch):
    """A writer that commits between the merge's HEAD read and its own
    commit must trigger CommitConflict (expected_parent) — the merge
    then re-reads HEAD, re-checks idempotency, and retries instead of
    silently orphaning one commit off the HEAD chain."""
    raw = transcripts_df(spark, 8, 5)
    idx = IncrementalIndexer(str(tmp_path / "wh"), CFG)
    idx.initial_build(raw.filter(F.col("conv_id") < "conv000005"))
    baseline = _seg_map(idx.merge_segments(spark).collect())
    idx.ingest(raw.filter(F.col("conv_id") >= "conv000005"), on_oov="extend")

    orig_commit = SnapshotLog.commit
    state = {"injected": False, "merge_commits": 0}

    def racing_commit(self, files, base, operation, summary=None, **kw):
        if operation == "merge":
            state["merge_commits"] += 1
            if not state["injected"]:
                state["injected"] = True
                # the racing writer wins first
                orig_commit(
                    self, files, base=base, operation="rogue",
                    summary={"input_snapshot": "rogue"},
                )
        return orig_commit(
            self, files, base=base, operation=operation, summary=summary,
            **kw
        )

    monkeypatch.setattr(SnapshotLog, "commit", racing_commit)
    merged = _seg_map(idx.merge_segments(spark).collect())
    monkeypatch.undo()

    assert state["injected"]
    # first merge commit hit CommitConflict, second (retry) landed
    assert state["merge_commits"] == 2
    assert merged != baseline
    log = idx.warehouse.snapshot_log
    head = log.manifest()
    assert head["operation"] == "merge"
    assert head["summary"]["input_snapshot"] == idx.merge_snapshot_id(spark)
    # the rogue commit is on the chain (parent of the retried merge)
    assert log.manifest(head["parent_id"])["operation"] == "rogue"
    # and an immediate re-merge is idempotent
    assert log.current_id() == head["snapshot_id"]
    _seg_map(idx.merge_segments(spark).collect())
    assert log.current_id() == head["snapshot_id"]


def test_folded_tombstones_bound_serve_exclude(spark, tmp_path):
    """The merge records the tombstone files it folded in; the serve
    exclude set for the merged snapshot then holds only deletes SINCE
    that merge — while the tombstone table itself persists untouched
    until purge (clearing it at merge would let a later re-merge over
    the delta dirs resurrect the deleted docs)."""
    raw = transcripts_df(spark, 10, 5)
    idx = IncrementalIndexer(str(tmp_path / "wh"), CFG)
    idx.initial_build(raw)
    idx.merge_segments(spark)
    assert idx.serve_exclude_ids(spark).size == 0

    assert idx.delete_conversations(spark, ["conv000002"]) > 0
    first = set(idx.serve_exclude_ids(spark).tolist())
    assert first  # unfolded delete -> excluded at serve time

    idx.merge_segments(spark)
    log = idx.warehouse.snapshot_log
    folded = log.manifest()["summary"]["folded_tombstones"]
    assert folded, "merge must record the tombstone files it folded"
    # post-merge: nothing left to exclude for the NEW snapshot...
    assert idx.serve_exclude_ids(spark).size == 0
    # ...but the tombstone table still holds every delete (purge's job)
    assert set(idx.deleted_doc_ids(spark).tolist()) == first

    # a second delete excludes ONLY its own docs
    assert idx.delete_conversations(spark, ["conv000005"]) > 0
    second = set(idx.serve_exclude_ids(spark).tolist())
    assert second and not (second & first)

    # time travel: serving the PRE-merge snapshot excludes BOTH deletes
    pre_merge = log.snapshots()[-1]["snapshot_id"]
    assert set(idx.serve_exclude_ids(spark, pre_merge).tolist()) == (
        first | second
    )


def test_server_tombstone_backlog(spark, tmp_path):
    """Past ``tombstone_limit`` the server refuses (default) or runs
    the merge itself (on_backlog='merge') — either way serving never
    ships an unbounded exclude array to every query."""
    raw = transcripts_df(spark, 10, 5)
    idx = IncrementalIndexer(str(tmp_path / "wh"), CFG)
    idx.initial_build(raw)
    idx.merge_segments(spark)

    srv = WarehouseServer(idx, spark, tombstone_limit=3)
    r1 = srv.query(Q, k=20)
    assert r1

    # each conv has ~5 turn docs -> two convs blow the limit of 3
    idx.delete_conversations(spark, ["conv000001", "conv000003"])
    deleted = set(idx.deleted_doc_ids(spark).tolist())
    assert len(deleted) > 3
    with pytest.raises(TombstoneBacklogError, match="merge_segments"):
        srv.query(Q, k=20)
    srv.close()

    auto = WarehouseServer(
        idx, spark, tombstone_limit=3, on_backlog="merge"
    )
    r2 = auto.query(Q, k=20)
    assert r2 and not any(d in deleted for _, _, d, _ in r2)
    assert auto._exclude is None  # the merge folded the backlog in
    # the auto-merge committed a fresh snapshot with the deletes baked
    # into the segments themselves
    assert (
        idx.warehouse.snapshot_log.manifest()["summary"]["folded_tombstones"]
    )
    # under the limit: a small delete serves via the exclude set
    idx.delete_conversations(spark, ["conv000006"])
    small = set(idx.deleted_doc_ids(spark).tolist()) - deleted
    assert small  # one conv's turn docs, unfolded
    auto.tombstone_limit = len(small) + 1
    r3 = auto.query(Q, k=20)
    assert not any(d in (deleted | small) for _, _, d, _ in r3)
    auto.close()


def test_tolerant_exclude_skips_inflight_tombstone_file(spark, tmp_path):
    """A corrupt/still-writing part file in the tombstone dir must not
    hide deletes that already COMPLETED: the tolerant read returns
    every readable file's doc ids, and the server keeps suppressing
    them (the strict read raises, for callers that need all-or-nothing
    like purge)."""
    raw = transcripts_df(spark, 8, 5)
    idx = IncrementalIndexer(str(tmp_path / "wh"), CFG)
    idx.initial_build(raw)
    idx.merge_segments(spark)
    assert idx.delete_conversations(spark, ["conv000001"]) > 0
    completed = set(idx.deleted_doc_ids(spark).tolist())
    assert completed

    # simulate a concurrent delete mid-append: a part file with no
    # parquet footer yet
    junk = os.path.join(idx.tombstones_dir, "part-99999-inflight.parquet")
    with open(junk, "wb") as f:
        f.write(b"not a parquet footer")

    with pytest.raises(Exception):
        idx.deleted_doc_ids(spark)  # strict: all-or-nothing
    got = set(idx.deleted_doc_ids(spark, tolerant=True).tolist())
    assert got == completed  # readable files fully represented

    srv = WarehouseServer(idx, spark)
    r = srv.query(Q, k=20)
    assert r and not any(d in completed for _, _, d, _ in r)
    srv.close()

    # once the in-flight file "completes" (valid content), its deletes
    # surface at the next refresh
    os.remove(junk)
    assert set(idx.deleted_doc_ids(spark).tolist()) == completed


def test_commit_lock_serializes_racing_committers(tmp_path):
    """Two committers racing the SAME expected_parent: without the
    commit lock both pass the check-then-act HEAD read, mint the same
    sequence, and both rename — last writer wins and the loser's
    snapshot is silently orphaned. With the lock exactly one commits
    and the other gets the CommitConflict the optimistic loop is
    built on. Thread-based: flock is per open-file-description, so
    two fds contend even within one process."""
    import threading

    from flame_spark.lineage import CommitConflict

    root = tmp_path / "wh"
    root.mkdir()
    data = root / "d.bin"
    data.write_text("x")
    log = SnapshotLog(str(root))
    base = log.commit([str(data)], base=str(data), operation="init")

    barrier = threading.Barrier(2)
    results = []

    def racer(tag: int) -> None:
        barrier.wait()
        try:
            sid = log.commit(
                [str(data)], base=str(data), operation=f"merge{tag}",
                expected_parent=base,
            )
            results.append(("ok", sid))
        except CommitConflict:
            results.append(("conflict", None))

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(r[0] for r in results) == ["conflict", "ok"]
    winner = next(sid for kind, sid in results if kind == "ok")
    head = log.manifest()
    assert head["snapshot_id"] == winner
    assert head["parent_id"] == base
    # no orphaned sibling manifest sharing the sequence number
    seqs = [m["sequence"] for m in log.snapshots()]
    assert len(seqs) == len(set(seqs))


def test_dropped_tombstone_read_not_pinned(spark, tmp_path):
    """A COMPLETED tombstone file that fails its per-file read (torn
    file / transient I/O — not a still-writing append) leaves the
    exclude set UNDER-inclusive. The server must serve with it (better
    than the stale set, which misses the files that DID read) but not
    pin it under the listing signature: the very next query retries
    the read instead of waiting for the listing to change."""
    from flame_spark.serving import _DIRTY_SIG

    raw = transcripts_df(spark, 8, 5)
    idx = IncrementalIndexer(str(tmp_path / "wh"), CFG)
    idx.initial_build(raw)
    idx.merge_segments(spark)
    assert idx.delete_conversations(spark, ["conv000001"]) > 0
    completed = set(idx.deleted_doc_ids(spark).tolist())

    junk = os.path.join(idx.tombstones_dir, "part-99999-torn.parquet")
    with open(junk, "wb") as f:
        f.write(b"torn bytes, no parquet footer")

    calls = {"n": 0}
    orig = idx.serve_exclude_ids

    def counting(spark_, *a, **kw):
        calls["n"] += 1
        return orig(spark_, *a, **kw)

    idx.serve_exclude_ids = counting

    srv = WarehouseServer(idx, spark)
    r = srv.query(Q, k=20)
    # the readable files' deletes stay suppressed...
    assert r and not any(d in completed for _, _, d, _ in r)
    # ...and the under-inclusive result is NOT pinned
    assert srv._tomb_sig == _DIRTY_SIG
    n1 = calls["n"]
    srv.query(Q, k=20)  # listing unchanged — dirty sig forces a retry
    assert calls["n"] == n1 + 1
    srv.close()

    # torn file repaired/removed: the next read pins a REAL signature
    # and subsequent queries stop recomputing
    os.remove(junk)
    srv2 = WarehouseServer(idx, spark)
    srv2.query(Q, k=20)
    assert srv2._tomb_sig != _DIRTY_SIG
    n2 = calls["n"]
    srv2.query(Q, k=20)
    assert calls["n"] == n2
    srv2.close()


def test_stream_null_conv_id_fails_parquet_batch(spark, tmp_path):
    """Under three-valued logic a NULL conv_id satisfies neither side
    of the watermark split (conv_id <= wm is stale, conv_id > wm is
    kept) — without the malformed check the parquet stream would
    silently vanish the row, worse than dropping it loudly. Both
    stream formats must fail the batch."""
    full = transcripts_df(spark, 8, 5)
    idx = IncrementalIndexer(str(tmp_path / "wh"), CFG)
    idx.initial_build(full.filter(F.col("conv_id") < "conv000004"))

    stream_dir = tmp_path / "incoming"
    good = full.filter(F.col("conv_id") >= "conv000004")
    bad = good.limit(1).withColumn("conv_id", F.lit(None).cast("string"))
    good.unionByName(bad).write.mode("overwrite").parquet(str(stream_dir))
    with pytest.raises(Exception, match="malformed"):
        ingest_stream(idx, spark, str(stream_dir), str(tmp_path / "ck"),
                      on_oov="drop")


def test_failed_state_write_keeps_previous_state(tmp_path, monkeypatch):
    """A ``state.json`` rewrite that dies part-way leaves the previous
    state loadable: the new state goes to a temp file that replaces the
    old one only once complete, never a torn in-place rewrite."""
    import flame_spark.lineage as lineage

    idx = IncrementalIndexer(str(tmp_path / "wh"), CFG)
    before = {"n_ingests": 1, "next_doc_id": 10}
    idx._save_state(before)
    # dies mid-dump: a value json cannot encode, after encodable ones
    with pytest.raises(TypeError):
        idx._save_state({"n_ingests": 2, "next_doc_id": 20, "x": object()})
    assert idx._load_state() == before

    # dies after the bytes are written but before they are durable
    def killed(fd):
        raise OSError("killed before fsync")

    monkeypatch.setattr(lineage.os, "fsync", killed)
    with pytest.raises(OSError):
        idx._save_state({"n_ingests": 2, "next_doc_id": 20})
    monkeypatch.undo()
    assert idx._load_state() == before
