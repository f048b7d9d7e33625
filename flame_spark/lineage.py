"""Resumable snapshot builds with per-shard lineage in the manifest.

Production design targets Iceberg (atomic overwritePartitions + snapshot
ids); the Iceberg runtime jars are not present in this sandbox, so the
same protocol is implemented over a plain parquet warehouse:

- each input snapshot is encoded into an IMMUTABLE data dir
  ``data/<input_snapshot>/shard=NN/`` by ONE partitioned write
  (dynamic partition overwrite: only the shards this pass encodes are
  replaced);
- one grouped aggregate over the just-written shards yields per-shard
  lineage (shard, rows_in, rows_out, digest, bytes, seconds,
  completed_at), saved atomically as ``data/<input_snapshot>/_lineage.json``
  (the leading ``_`` keeps Spark readers off it) and copied into the
  snapshot manifest's ``summary["lineage"]`` — the one place where
  per-shard lineage and build metrics live;
- resume: a shard is done if it has a lineage entry AND its dir still
  holds parquet; a re-run encodes only the other shards. A kill before
  the lineage save leaves re-doable shards, never a half-visible
  table (readers only ever see committed manifests).

The digest is order-insensitive (sum of xxhash64 over canonicalized
row bytes) so it can be recomputed distributed at any parallelism.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .segments import SEGMENT_SCHEMA, build_segments, shard_of, shard_span

#: "caller did not specify expected_parent" sentinel — distinct from
#: None, which is a real expectation (an empty log).
_UNSET = object()

#: per-shard lineage of one input snapshot, beside its shard dirs
_LINEAGE_FILE = "_lineage.json"


def atomic_write(path: str, content: str) -> None:
    """Replace ``path`` with ``content`` all-or-nothing: temp file,
    fsync, ``os.replace``. A kill (or an exception) at any point leaves
    either the old file or the new one, never a torn mix."""
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _parquet_files(shard_dir: str) -> list[str]:
    try:
        names = os.listdir(shard_dir)
    except FileNotFoundError:
        return []
    return sorted(
        os.path.join(shard_dir, f) for f in names if f.endswith(".parquet")
    )


class SegmentWarehouse:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- snapshots (Iceberg-style commit protocol) --------------------------

    @property
    def snapshot_log(self) -> "SnapshotLog":
        if not hasattr(self, "_snapshot_log"):
            self._snapshot_log = SnapshotLog(self.root)
        return self._snapshot_log

    def data_root(self, input_snapshot: str) -> str:
        return os.path.join(self.root, "data", input_snapshot)

    def shard_lineage(self, input_snapshot: str) -> dict[int, dict]:
        """Per-shard lineage recorded so far for ``input_snapshot``
        (empty if no pass has finished a shard)."""
        path = os.path.join(self.data_root(input_snapshot), _LINEAGE_FILE)
        try:
            with open(path, encoding="utf-8") as f:
                return {int(e["shard"]): e for e in json.load(f)}
        except FileNotFoundError:
            return {}

    def build_snapshot(
        self,
        postings_scored: DataFrame,
        n_docs: int,
        n_shards: int,
        block_size: int,
        input_snapshot: str,
        fail_after_shards: int | None = None,
        operation: str = "overwrite",
        summary: dict | None = None,
        expected_parent=_UNSET,
    ) -> str:
        """Encode every shard not yet done in ONE pass into the
        IMMUTABLE per-snapshot data dir, then ONE atomic snapshot
        commit. Until the commit, readers (``read_snapshot``) keep
        seeing the previous snapshot — a kill mid-build leaves per-shard
        lineage for resume but never a half-visible table. Returns the
        committed snapshot id.

        Idempotent per input: if HEAD was already built from this exact
        ``input_snapshot``, its id is returned and nothing is committed
        — a job re-run (resume after success, scheduler retry) never
        publishes duplicate snapshots.

        ``fail_after_shards`` is the fault hook of the kill-and-resume
        tests: the pass is limited to the first N missing shards, their
        lineage is recorded, then it raises."""
        head = self.snapshot_log.current_id()
        if head is not None and (
            self.snapshot_log.manifest(head)["summary"].get("input_snapshot")
            == input_snapshot
        ):
            return head
        data_root = self.data_root(input_snapshot)
        os.makedirs(data_root, exist_ok=True)

        def shard_dir(shard: int) -> str:
            return os.path.join(data_root, f"shard={shard}")

        # a lineage entry outlives expire(), which deletes the files but
        # may leave the dir: a shard is done only while it holds parquet
        lineage = {
            s: e
            for s, e in self.shard_lineage(input_snapshot).items()
            if _parquet_files(shard_dir(s))
        }
        shard = shard_of(shard_span(n_docs, n_shards))
        todo = postings_scored
        if lineage:
            todo = todo.filter(~shard.isin(sorted(lineage)))
        if fail_after_shards is not None:
            missing = sorted(
                int(r["s"])
                for r in todo.select(shard.alias("s")).distinct().collect()
            )[:fail_after_shards]
            todo = todo.filter(shard.isin(missing))
        t0 = time.time()
        # doc ids are dense over RAW rows while n_docs counts filtered-in
        # docs, so the top ids can spill past n_shards * span: the
        # partitioned write covers every shard actually present
        build_segments(todo, n_docs, n_shards, block_size).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "shard"
        ).parquet(data_root)
        written = [
            s
            for s in sorted(
                int(d[len("shard="):])
                for d in os.listdir(data_root)
                if d.startswith("shard=")
            )
            if s not in lineage and _parquet_files(shard_dir(s))
        ]
        if written:
            stats = (
                postings_scored.sparkSession.read.schema(SEGMENT_SCHEMA)
                .option("basePath", data_root)
                .parquet(*map(shard_dir, written))
                .groupBy("shard")
                .agg(
                    F.count("*").alias("rows_out"),
                    F.sum("n_docs").alias("rows_in"),
                    F.sum(
                        F.xxhash64(
                            "term", "n_docs", "first_doc", "last_doc",
                            "doc_deltas",
                        ).cast("decimal(38,0)")
                    ).alias("digest"),
                )
                .collect()
            )
            now = time.time()
            for r in stats:
                k = int(r["shard"])
                lineage[k] = {
                    "shard": k,
                    "rows_in": int(r["rows_in"]),
                    "rows_out": int(r["rows_out"]),
                    "digest": str(r["digest"]),
                    "bytes": sum(
                        os.path.getsize(f) for f in _parquet_files(shard_dir(k))
                    ),
                    "seconds": now - t0,
                    "completed_at": now,
                }
        entries = [lineage[k] for k in sorted(lineage)]
        atomic_write(
            os.path.join(data_root, _LINEAGE_FILE),
            json.dumps(entries, indent=1),
        )
        if fail_after_shards is not None and len(written) >= fail_after_shards:
            raise RuntimeError(
                f"injected failure after {len(written)} shards"
            )
        files = [f for e in entries for f in _parquet_files(shard_dir(e["shard"]))]
        s = dict(summary or {})
        s.setdefault("input_snapshot", input_snapshot)
        s.setdefault("n_shards", n_shards)
        s["lineage"] = entries
        return self.snapshot_log.commit(
            files, base=data_root, operation=operation, summary=s,
            expected_parent=expected_parent,
        )

    def read_snapshot(
        self, spark: SparkSession, snap_id: str | None = None
    ) -> DataFrame:
        """Segment table AT a snapshot (default: current HEAD) — reads
        exactly the manifest's file list, so concurrent builds/merges
        never tear a read. The ``shard`` partition column is restored
        via basePath; a snapshot of an empty corpus reads as an empty
        segment table."""
        m = self.snapshot_log.manifest(snap_id)
        base = os.path.join(self.root, m["base"])
        files = [os.path.join(self.root, f) for f in m["files"]]
        if not files:
            return spark.createDataFrame([], SEGMENT_SCHEMA)
        return spark.read.option("basePath", base).parquet(*files)


class CommitConflict(RuntimeError):
    """Another writer committed since the expected parent snapshot —
    re-read HEAD and retry (optimistic concurrency, as in Iceberg)."""


class SnapshotLog:
    """Append-only snapshot log + atomic HEAD pointer over a plain
    filesystem — the Iceberg table-commit protocol re-implemented
    without the runtime jars (absent in this sandbox):

    - every commit writes an immutable manifest ``snap-<id>.json``
      listing the snapshot's data files (paths relative to the
      warehouse root, so the warehouse is relocatable);
    - visibility is ONE atomic ``os.replace`` of the ``HEAD`` file —
      readers resolve HEAD, then read exactly that manifest's files:
      no torn reads against concurrent writers, ever;
    - parent links give time travel (``snapshots()`` walks the chain,
      ``read_snapshot(spark, old_id)`` serves any retained snapshot);
    - ``rollback`` re-points HEAD at an ancestor (metadata-only);
    - ``expire`` deletes snapshots older than the last N along with
      data files no retained snapshot references.

    Concurrency: ``commit(expected_parent=...)`` raises
    ``CommitConflict`` if HEAD moved — the caller re-reads and retries,
    exactly Iceberg's optimistic loop. (On a real object store the
    HEAD swap maps to a conditional PUT / rename-if-absent.)
    """

    def __init__(self, root: str):
        self.root = root
        self.dir = os.path.join(root, "snapshots")
        os.makedirs(self.dir, exist_ok=True)

    # -- paths --------------------------------------------------------------

    @property
    def _head(self) -> str:
        return os.path.join(self.dir, "HEAD")

    def _snap_path(self, snap_id: str) -> str:
        return os.path.join(self.dir, f"snap-{snap_id}.json")

    # -- reads --------------------------------------------------------------

    def current_id(self) -> str | None:
        try:
            with open(self._head, encoding="utf-8") as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def manifest(self, snap_id: str | None = None) -> dict:
        sid = snap_id or self.current_id()
        if sid is None:
            raise FileNotFoundError("snapshot log is empty (no HEAD)")
        with open(self._snap_path(sid), encoding="utf-8") as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        """Manifest chain from HEAD back to the root, newest first."""
        out, sid = [], self.current_id()
        while sid is not None:
            m = self.manifest(sid)
            out.append(m)
            sid = m["parent_id"]
        return out

    def files(self, snap_id: str | None = None) -> list[str]:
        m = self.manifest(snap_id)
        return [os.path.join(self.root, f) for f in m["files"]]

    # -- writes -------------------------------------------------------------

    # the shared module-level sentinel (see top of file): build_snapshot
    # forwards its own default straight through, so both layers must
    # agree on what "caller did not specify" looks like
    _UNSET = _UNSET

    def _commit_lock(self):
        """Exclusive advisory lock serializing the read-check-swap span
        of every HEAD writer. Without it commit(expected_parent=...) is
        check-then-act: two racing committers (WarehouseServer's
        on_backlog='merge' vs the admin CLI is a real pairing) can both
        read the same HEAD, both pass the expected_parent check, mint
        the same sequence number, and both rename — last writer wins and
        the loser's snapshot is silently orphaned instead of getting the
        CommitConflict the optimistic loop is built on. flock is held
        only across the metadata span (microseconds — data files are
        written before commit is called), dies with the process (no
        stale-lock recovery needed), and serializes across processes on
        one host; a multi-host deployment would swap this layer for a
        real catalog (Iceberg/Hive) whose commit is already atomic."""
        import fcntl
        from contextlib import contextmanager

        lock_path = os.path.join(self.dir, "commit.lock")

        @contextmanager
        def held():
            fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
                os.close(fd)

        return held()

    def commit(
        self,
        files: list[str],
        base: str,
        operation: str,
        summary: dict | None = None,
        expected_parent=_UNSET,
    ) -> str:
        """Publish a new snapshot over ``files`` (absolute paths under
        the warehouse root). Returns the new snapshot id. The
        expected_parent check, sequence mint, and HEAD swap happen
        under one exclusive lock (see _commit_lock) so a concurrent
        committer observes either this commit's HEAD or a
        CommitConflict — never a silent orphan."""
        import uuid

        with self._commit_lock():
            parent = self.current_id()
            if expected_parent is not self._UNSET and parent != expected_parent:
                raise CommitConflict(
                    f"HEAD is {parent!r}, expected {expected_parent!r}"
                )
            seq = (self.manifest(parent)["sequence"] + 1) if parent else 0
            sid = f"{seq:08d}-{uuid.uuid4().hex[:12]}"
            rel = [os.path.relpath(f, self.root) for f in files]
            manifest = {
                "snapshot_id": sid,
                "parent_id": parent,
                "sequence": seq,
                "operation": operation,
                "committed_at": time.time(),
                "base": os.path.relpath(base, self.root),
                "files": rel,
                "summary": summary or {},
            }
            # manifest first (immutable, invisible), HEAD swap last
            # (atomic visibility) — a kill between the two leaves HEAD
            # unchanged
            atomic_write(
                self._snap_path(sid), json.dumps(manifest, indent=1)
            )
            atomic_write(self._head, sid)
        return sid

    def rollback(self, snap_id: str) -> None:
        """Re-point HEAD at an ancestor snapshot (metadata-only undo).
        Takes the commit lock so the ancestor check and the HEAD swap
        are atomic against a racing commit."""
        with self._commit_lock():
            chain = {m["snapshot_id"] for m in self.snapshots()}
            if snap_id not in chain:
                raise ValueError(f"{snap_id!r} is not an ancestor of HEAD")
            atomic_write(self._head, snap_id)

    def expire(self, keep_last: int = 2) -> list[str]:
        """Drop snapshots older than the newest ``keep_last`` on the
        HEAD chain — plus any snapshot NOT on the HEAD chain at all
        (branches orphaned by ``rollback`` would otherwise leak their
        manifests and data files forever) — and delete data files no
        retained snapshot references. Returns the deleted data-file
        paths."""
        if keep_last < 1:
            raise ValueError("expire: keep_last must be >= 1 (HEAD is live)")
        chain = self.snapshots()
        keep, drop = chain[:keep_last], chain[keep_last:]
        on_chain = {m["snapshot_id"] for m in chain}
        for fname in sorted(os.listdir(self.dir)):
            if not (fname.startswith("snap-") and fname.endswith(".json")):
                continue
            sid = fname[len("snap-") : -len(".json")]
            if sid not in on_chain:
                drop.append(self.manifest(sid))
        keep_files = {f for m in keep for f in m["files"]}
        deleted = []
        for m in drop:
            for f in m["files"]:
                if f not in keep_files:
                    p = os.path.join(self.root, f)
                    if os.path.exists(p):
                        os.remove(p)
                        deleted.append(p)
            os.remove(self._snap_path(m["snapshot_id"]))
        if keep:
            # sever the parent link of the oldest retained manifest so
            # snapshots() never dereferences an expired manifest
            oldest = dict(keep[-1])
            oldest["parent_id"] = None
            atomic_write(
                self._snap_path(oldest["snapshot_id"]),
                json.dumps(oldest, indent=1),
            )
        return deleted


def snapshot_id(df: DataFrame, key_cols: list[str]) -> str:
    """Deterministic input-snapshot id: order-insensitive xxhash sum over
    the key columns + row count (stand-in for an Iceberg snapshot id)."""
    row = df.agg(
        F.sum(F.xxhash64(*key_cols).cast("decimal(38,0)")).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]
    return f"{row['h']}-{row['n']}"
