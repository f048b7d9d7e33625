"""Operator CLI for a segment warehouse (snapshot log + tombstones).

    python tools/warehouse_admin.py <warehouse_dir> snapshots
    python tools/warehouse_admin.py <warehouse_dir> rollback <snapshot_id>
    python tools/warehouse_admin.py <warehouse_dir> expire [--keep 2]
    python tools/warehouse_admin.py <warehouse_dir> deleted
    python tools/warehouse_admin.py <warehouse_dir> delete <conv_id> [...]
    python tools/warehouse_admin.py <warehouse_dir> purge
    python tools/warehouse_admin.py <warehouse_dir> compact
    python tools/warehouse_admin.py <warehouse_dir> merge
    python tools/warehouse_admin.py <warehouse_dir> query \'[{"query_id": "q0", "query_text": "..."}]\' [--k 10]

``snapshots`` / ``rollback`` / ``expire`` are metadata-only
(SnapshotLog, no Spark session). ``deleted`` / ``delete`` / ``purge``
operate on an IncrementalIndexer warehouse and start a local Spark
session; pass ``--cpus`` to bound it. Every command prints one JSON
line per result row (machine-consumable, like submit_job.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="warehouse_admin")
    ap.add_argument("root")
    ap.add_argument(
        "command",
        choices=["snapshots", "rollback", "expire", "deleted", "delete", "purge", "compact", "merge", "query"],
    )
    ap.add_argument("args", nargs="*")
    ap.add_argument("--keep", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--k", type=int, default=10, help="query: top-k per query")
    ap.add_argument("--lenient", action="store_true",
                    help="delete: ignore unknown conv_ids instead of erroring")
    a = ap.parse_args(argv)

    from flame_spark.lineage import SnapshotLog

    log = SnapshotLog(a.root)

    if a.command == "snapshots":
        head = log.current_id()
        for m in log.snapshots():
            print(json.dumps({
                "snapshot_id": m["snapshot_id"],
                "sequence": m["sequence"],
                "operation": m["operation"],
                "committed_at": m["committed_at"],
                "n_files": len(m["files"]),
                "head": m["snapshot_id"] == head,
                "summary": m["summary"],
            }))
        return 0

    if a.command == "rollback":
        if len(a.args) != 1:
            ap.error("rollback needs exactly one snapshot_id")
        log.rollback(a.args[0])
        print(json.dumps({"head": log.current_id()}))
        return 0

    if a.command == "expire":
        deleted = log.expire(keep_last=a.keep)
        print(json.dumps({
            "expired_files": len(deleted), "kept": a.keep,
            "head": log.current_id(),
        }))
        return 0

    # Spark-backed warehouse commands. Tombstone ops are pure parquet
    # joins over warehouse paths, but `merge` re-scores postings, so
    # the build cfg (persisted in state.json since the cfg key landed)
    # is reconstructed when present; tombstone ops work either way.
    from flame_spark.config import FlameConfig
    from flame_spark.incremental import IncrementalIndexer
    from flame_spark.session import get_spark

    cfg = FlameConfig()
    try:
        with open(os.path.join(a.root, "state.json"), encoding="utf-8") as f:
            saved = json.load(f).get("cfg")
        if saved:
            cfg = FlameConfig(**saved)
    except FileNotFoundError:
        pass
    idx = IncrementalIndexer(a.root, cfg)
    from pyspark.sql import SparkSession

    # only stop the session if this invocation created it (when driven
    # in-process, e.g. from tests, the caller owns the session)
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("warehouse_admin", cpus=a.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if a.command == "deleted":
            ids = idx.deleted_doc_ids(spark)
            print(json.dumps({"n_tombstoned": int(ids.size),
                              "doc_ids": [int(x) for x in ids[:1000]]}))
        elif a.command == "delete":
            if not a.args:
                ap.error("delete needs at least one conv_id")
            n = idx.delete_conversations(
                spark, list(a.args), strict=not a.lenient
            )
            print(json.dumps({"tombstoned_docs": n}))
        elif a.command == "purge":
            n = idx.purge_tombstones(spark)
            print(json.dumps({"purged_docs": n}))
        elif a.command == "compact":
            n = idx.compact_deltas(spark)
            print(json.dumps({"compacted_dirs": n}))
        elif a.command == "query":
            # serve over the committed HEAD snapshot through the same
            # WarehouseServer the long-running deployment uses: one
            # Spark job for the whole batch, tombstones excluded.
            # Like merge, REFUSE pre-cfg warehouses: a default
            # FlameConfig would decode postings with the wrong
            # block_size and hash query terms under the wrong
            # ngram/tokenizer — wrong top-k with no error
            if "cfg" not in json.load(open(
                os.path.join(a.root, "state.json"), encoding="utf-8"
            )):
                ap.error("query: this warehouse predates the persisted "
                         "cfg; run queries from the build script")
            if not a.args:
                ap.error("query needs a JSON list of "
                         "{query_id, query_text} objects")
            queries = json.loads(a.args[0])
            from flame_spark.serving import WarehouseServer

            srv = WarehouseServer(idx, spark)
            try:
                for qid, rank, doc, score in srv.query_batch(
                    queries, k=a.k
                ):
                    print(json.dumps({
                        "query_id": qid, "rank": rank,
                        "doc_id": doc, "score": score,
                    }))
            finally:
                srv.close()
        elif a.command == "merge":
            if "cfg" not in json.load(open(
                os.path.join(a.root, "state.json"), encoding="utf-8"
            )):
                ap.error("merge: this warehouse predates the persisted "
                         "cfg; run merge_segments from the build script")
            segs = idx.merge_segments(spark)
            print(json.dumps({
                "segments": segs.count(),
                "snapshot": idx.warehouse.snapshot_log.current_id(),
            }))
    finally:
        if owns_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
