"""Snapshot-log tests (Iceberg-style commit protocol over the parquet
warehouse, lineage.SnapshotLog): atomic visibility under mid-build
kill, time travel, rollback, expiry, optimistic-concurrency conflict.

The production design targets real Iceberg snapshots (jars absent in
this sandbox); these tests pin the protocol invariants the stand-in
must share with it: readers resolve HEAD then read exactly that
manifest's immutable files — a crash or concurrent writer can never
tear a read or expose a half-built table.
"""

import os

import pytest

from flame_spark.config import FlameConfig
from flame_spark.corpus import add_doc_id
from flame_spark.data import transcripts_df
from flame_spark.lineage import (
    CommitConflict,
    SegmentWarehouse,
    snapshot_id,
)
from flame_spark.pipeline import build_index
from flame_spark.segments import postings_with_scores

CFG = FlameConfig(
    ngram=3, n_out=1, min_text_length=80, tokenizer="word",
    term_mode="lno", n_shards=3, block_size=4,
)


def _scored(spark, n_conv: int):
    tdf = add_doc_id(
        transcripts_df(spark, n_conv, 6), ["conv_id", "turn_idx"]
    )
    index = build_index(tdf.select("doc_id", "text"), CFG)
    scored = postings_with_scores(
        index.postings_dl, index.stats_df, index.stats, CFG.bm25_k1,
        CFG.bm25_b,
    ).persist()
    snap = snapshot_id(index.postings, ["term", "doc_id", "tf"])
    return scored, index.stats.n_docs, snap


def _table_key(df):
    return sorted(
        (r["shard"], r["term"], r["n_docs"], bytes(r["doc_deltas"]),
         bytes(r["tfs"]), bytes(r["scores"]), tuple(r["block_max"]))
        for r in df.collect()
    )


def _counting_jobs(spark, build):
    """-> (build(), number of Spark jobs it ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _manifest_row_counts(wh, snap_id):
    import pyarrow.parquet as pq

    return [
        pq.ParquetFile(f).metadata.num_rows
        for f in wh.snapshot_log.files(snap_id)
    ]


@pytest.fixture(scope="module")
def corpora(spark):
    small = _scored(spark, 5)
    big = _scored(spark, 9)
    return small, big


def test_commit_visibility_and_time_travel(spark, corpora, tmp_path):
    (scored_a, n_a, snap_a), (scored_b, n_b, snap_b) = corpora
    wh = SegmentWarehouse(str(tmp_path / "wh"))
    log = wh.snapshot_log
    assert log.current_id() is None
    with pytest.raises(FileNotFoundError):
        wh.read_snapshot(spark)

    sid_a = wh.build_snapshot(
        scored_a, n_a, CFG.n_shards, CFG.block_size, snap_a
    )
    assert log.current_id() == sid_a
    key_a = _table_key(wh.read_snapshot(spark))

    scored_b.count()  # fill the persisted input before counting jobs
    sid_b, jobs_3 = _counting_jobs(spark, lambda: wh.build_snapshot(
        scored_b, n_b, CFG.n_shards, CFG.block_size, snap_b
    ))
    assert log.current_id() == sid_b
    key_b = _table_key(wh.read_snapshot(spark))
    assert key_b != key_a

    # one pass per build: the job count does not grow with the shard
    # count, and no committed file is an empty shard
    wh1 = SegmentWarehouse(str(tmp_path / "wh1"))
    sid_1, jobs_1 = _counting_jobs(spark, lambda: wh1.build_snapshot(
        scored_b, n_b, 1, CFG.block_size, snap_b
    ))
    assert jobs_1 == jobs_3
    for w, sid in ((wh, sid_a), (wh, sid_b), (wh1, sid_1)):
        counts = _manifest_row_counts(w, sid)
        assert counts and min(counts) >= 1
    # an empty corpus commits no file and reads as an empty table
    wh0 = SegmentWarehouse(str(tmp_path / "wh0"))
    sid_0 = wh0.build_snapshot(
        scored_b.limit(0), 0, CFG.n_shards, CFG.block_size, "empty"
    )
    assert wh0.snapshot_log.files(sid_0) == []
    assert wh0.read_snapshot(spark).count() == 0

    # time travel: the old snapshot still serves its exact old content
    assert _table_key(wh.read_snapshot(spark, sid_a)) == key_a
    chain = log.snapshots()
    assert [m["snapshot_id"] for m in chain] == [sid_b, sid_a]
    assert chain[0]["parent_id"] == sid_a and chain[1]["parent_id"] is None
    assert [m["sequence"] for m in chain] == [1, 0]

    # rollback is metadata-only undo; re-rolling forward works too
    log.rollback(sid_a)
    assert _table_key(wh.read_snapshot(spark)) == key_a
    with pytest.raises(ValueError):
        log.rollback(sid_b)  # no longer an ancestor of HEAD


def test_kill_midbuild_keeps_old_snapshot_visible(spark, corpora, tmp_path):
    (scored_a, n_a, snap_a), (scored_b, n_b, snap_b) = corpora
    wh = SegmentWarehouse(str(tmp_path / "wh"))
    sid_a = wh.build_snapshot(
        scored_a, n_a, CFG.n_shards, CFG.block_size, snap_a
    )
    key_a = _table_key(wh.read_snapshot(spark))

    # second build dies after 1 shard: HEAD must still be snapshot A,
    # and reading must serve A's exact content (atomic visibility)
    with pytest.raises(RuntimeError, match="injected failure"):
        wh.build_snapshot(
            scored_b, n_b, CFG.n_shards, CFG.block_size, snap_b,
            fail_after_shards=1,
        )
    assert wh.snapshot_log.current_id() == sid_a
    assert _table_key(wh.read_snapshot(spark)) == key_a

    # resume completes the remaining shards (per-shard lineage) and
    # commits; the result equals a straight-through build
    sid_b = wh.build_snapshot(
        scored_b, n_b, CFG.n_shards, CFG.block_size, snap_b
    )
    wh2 = SegmentWarehouse(str(tmp_path / "wh2"))
    wh2.build_snapshot(scored_b, n_b, CFG.n_shards, CFG.block_size, snap_b)
    assert _table_key(wh.read_snapshot(spark, sid_b)) == _table_key(
        wh2.read_snapshot(spark)
    )


def test_expire_drops_old_files_keeps_head(spark, corpora, tmp_path):
    (scored_a, n_a, snap_a), (scored_b, n_b, snap_b) = corpora
    wh = SegmentWarehouse(str(tmp_path / "wh"))
    wh.build_snapshot(scored_a, n_a, CFG.n_shards, CFG.block_size, snap_a)
    sid_b = wh.build_snapshot(
        scored_b, n_b, CFG.n_shards, CFG.block_size, snap_b
    )
    key_b = _table_key(wh.read_snapshot(spark))

    deleted = wh.snapshot_log.expire(keep_last=1)
    assert deleted and all(os.path.basename(p).endswith(".parquet") for p in deleted)
    assert all(not os.path.exists(p) for p in deleted)
    # HEAD snapshot untouched and fully readable
    assert wh.snapshot_log.current_id() == sid_b
    assert _table_key(wh.read_snapshot(spark)) == key_b
    assert [m["snapshot_id"] for m in wh.snapshot_log.snapshots()] == [sid_b]
    # expired snapshot is gone from the log
    with pytest.raises(FileNotFoundError):
        wh.snapshot_log.manifest("00000000-" + "0" * 12)


def test_optimistic_concurrency_conflict(corpora, tmp_path):
    (_, _, _), (_, _, _) = corpora
    from flame_spark.lineage import SnapshotLog

    root = str(tmp_path / "wh")
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    f1 = os.path.join(root, "data", "a.parquet")
    open(f1, "w").close()
    log1, log2 = SnapshotLog(root), SnapshotLog(root)
    base = os.path.join(root, "data")
    sid1 = log1.commit([f1], base=base, operation="append", expected_parent=None)
    # writer 2 still believes HEAD is empty -> its commit must conflict
    with pytest.raises(CommitConflict):
        log2.commit([f1], base=base, operation="append", expected_parent=None)
    # retry after re-reading HEAD succeeds
    sid2 = log2.commit(
        [f1], base=base, operation="append", expected_parent=sid1
    )
    assert log1.snapshots()[0]["snapshot_id"] == sid2


def test_incremental_merge_commits_snapshots(spark, tmp_path):
    """merge_segments publishes one snapshot per merge; re-merging the
    unchanged warehouse serves HEAD without a new commit; the previous
    merge stays time-travelable."""
    from flame_spark.incremental import IncrementalIndexer

    cfg = FlameConfig(
        ngram=3, n_out=1, min_text_length=0, tokenizer="word",
        term_mode="lno", n_shards=3, block_size=4,
    )
    base = transcripts_df(spark, 6, 5)
    idx = IncrementalIndexer(str(tmp_path / "inc"), cfg)
    idx.initial_build(base.filter("conv_id <= 'conv000003'"))
    k1 = _table_key(idx.merge_segments(spark))
    log = idx.warehouse.snapshot_log
    sid1 = log.current_id()
    assert sid1 is not None and log.manifest(sid1)["operation"] == "merge"

    # idempotent re-merge: same postings state -> same snapshot id
    k1_again = _table_key(idx.merge_segments(spark))
    assert log.current_id() == sid1 and k1_again == k1

    idx.ingest(base.filter("conv_id > 'conv000003'"), on_oov="extend")
    k2 = _table_key(idx.merge_segments(spark))
    sid2 = log.current_id()
    assert sid2 != sid1 and k2 != k1
    # previous merge still served exactly via time travel
    assert _table_key(idx.warehouse.read_snapshot(spark, sid1)) == k1


def test_rebuild_after_expire_reencodes_deleted_shards(spark, corpora, tmp_path):
    """Lineage rows outlive snapshot expiry; a rebuild of a previously-
    expired input must RE-ENCODE the shards whose data dirs expire()
    deleted rather than committing a manifest over missing files."""
    (scored_a, n_a, snap_a), (scored_b, n_b, snap_b) = corpora
    wh = SegmentWarehouse(str(tmp_path / "wh"))
    wh.build_snapshot(scored_a, n_a, CFG.n_shards, CFG.block_size, snap_a)
    key_a = _table_key(wh.read_snapshot(spark))
    wh.build_snapshot(scored_b, n_b, CFG.n_shards, CFG.block_size, snap_b)
    deleted = wh.snapshot_log.expire(keep_last=1)
    assert deleted, "expire must drop snapshot A's data files"

    # input A comes back (e.g. a rollback-and-replay): lineage still
    # lists its shards as complete, but the files are gone
    sid_a2 = wh.build_snapshot(
        scored_a, n_a, CFG.n_shards, CFG.block_size, snap_a
    )
    got = _table_key(wh.read_snapshot(spark, sid_a2))
    assert got == key_a
    for f in wh.snapshot_log.files(sid_a2):
        assert os.path.exists(f)


def test_warehouse_admin_cli(spark, tmp_path, capsys):
    """tools/warehouse_admin.py: snapshots/rollback/expire are
    metadata-only; delete/deleted/purge drive the tombstone flow."""
    import importlib.util
    import json as _json

    spec = importlib.util.spec_from_file_location(
        "warehouse_admin", os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools", "warehouse_admin.py",
        ),
    )
    admin = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(admin)

    from flame_spark.incremental import IncrementalIndexer

    cfg = FlameConfig(
        ngram=3, n_out=1, min_text_length=0, tokenizer="word",
        term_mode="lno", n_shards=3, block_size=4,
    )
    root = str(tmp_path / "wh")
    idx = IncrementalIndexer(root, cfg)
    idx.initial_build(transcripts_df(spark, 6, 5))
    idx.merge_segments(spark)
    idx.ingest(
        transcripts_df(spark, 8, 5).filter("conv_id > 'conv000005'"),
        on_oov="extend",
    )
    idx.merge_segments(spark)

    def run(*argv):
        assert admin.main(list(argv)) == 0
        out = capsys.readouterr().out.strip().splitlines()
        return [_json.loads(l) for l in out if l.startswith("{")]

    snaps = run(root, "snapshots")
    assert len(snaps) == 2 and snaps[0]["head"] and not snaps[1]["head"]
    assert {s["operation"] for s in snaps} == {"merge"}

    # rollback to the older snapshot; the newer one is then off-chain
    old, new = snaps[1]["snapshot_id"], snaps[0]["snapshot_id"]
    assert run(root, "rollback", old)[0]["head"] == old
    with pytest.raises(ValueError):
        admin.main([root, "rollback", new])
    capsys.readouterr()

    # tombstone flow: delete -> merge (purge requires the deletes be
    # folded into the served snapshot) -> purge; cfg comes from the
    # persisted state.json
    assert run(root, "--cpus", "4", "delete", "conv000001")[0][
        "tombstoned_docs"
    ] > 0
    d = run(root, "--cpus", "4", "deleted")[0]
    assert d["n_tombstoned"] > 0 and d["doc_ids"]
    with pytest.raises(ValueError, match="merge_segments first"):
        admin.main([root, "--cpus", "4", "purge"])
    capsys.readouterr()
    h2 = run(root, "--cpus", "4", "merge")[0]["snapshot"]
    assert h2 not in (old, new)
    assert run(root, "--cpus", "4", "purge")[0]["purged_docs"] == d[
        "n_tombstoned"
    ]
    assert run(root, "--cpus", "4", "deleted")[0]["n_tombstoned"] == 0
    # purge expired the log to the delete-folded HEAD only — including
    # the branch orphaned by the earlier rollback
    assert [m["snapshot_id"] for m in run(root, "snapshots")] == [h2]

    # query command: batch serving over HEAD through the same
    # WarehouseServer facade a deployment uses
    rows = run(
        root, "--cpus", "4", "query",
        '[{"query_id": "q0", '
        '"query_text": "in nomine sancte et individue trinitatis amen"}]',
        "--k", "5",
    )
    assert rows and [r["rank"] for r in rows] == list(
        range(1, len(rows) + 1)
    )
    assert all(r["query_id"] == "q0" and "score" in r for r in rows)
