"""spark-submit entry point: transcripts parquet -> segment warehouse.

    zip -r /tmp/flame_spark.zip flame_spark
    spark-submit --master local[8] --py-files /tmp/flame_spark.zip \\
        tools/submit_job.py [--format=parquet|orc|jsonl|csv] \\
        [--unit=turn|conv] [--curate] [--ranker=bm25|dirichlet] \\
        [--route=<stored_queries.json>] \\
        <transcripts_path> <warehouse_dir> [n_shards] [queries_json]

``--format`` routes the source through sources.read_transcripts, so an
ORC, JSONL or CSV export gets the same canonical schema and the same loud
single-pass malformed-row contract as the parquet path (a malformed
line fails the submit with the offending row in the message).

``--unit=turn`` (default) indexes each transcript turn as a document
(doc_id = rank over (conv_id, turn_idx)); ``--unit=conv`` first
assembles one document per conversation (convops.conversation_docs:
stable turn_idx order, ``role: text`` lines) and indexes those
(doc_id = rank over conv_id) — retrieval then returns whole
conversations instead of single turns.

``--ranker`` picks the serving score for the queries_json answers:
``bm25`` (default) is the block-max-WAND batch path over the stored
per-posting scores; ``dirichlet`` serves the query-likelihood family
from the SAME warehouse snapshot, recomputing from the stored tf
streams (wand.dirichlet_topk_segments; the (doc_id, dl) table is
reconstructed from the segments once).

``--route`` percolates every INDEXED document (after the
min_text_length filter) against a registry of stored boolean queries
(searchops.percolate; the JSON file holds [{query_id, must, should,
must_not, min_should}, ...]) and writes the (query_id, doc_id) routing
table to <warehouse_dir>/routing/<input_snapshot> AFTER the snapshot
commit — versioned alongside the append-only snapshot model, so a
failed build leaves no routing table and older tables survive for
time-travel pins.

``--curate`` runs the training-set curation composition
(textops.curate_docs: PII redaction -> repetition filter -> exact
dedup on the redacted text) between turn-id assignment and the index
build, so the warehouse only ever sees redacted, deduplicated text;
the summary line reports n_input/n_kept. (The counts are two extra
tiny actions here; at warehouse scale hang them on ``df.observe`` of
the build job instead.)

Builds the serving index (two-exchange path), writes every segment
shard in one pass into <warehouse_dir> with per-shard lineage in the
snapshot manifest, then (if a queries JSON list of {query_id,
query_text} is given) answers them with block-max WAND over the
shard-partitioned cache and prints one JSON line per result. On a
real cluster, replace --master with yarn/k8s —
nothing in the job is local-mode-specific (the parquet warehouse
stands in for Iceberg; jars are absent in this sandbox).
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession, functions as F


def main(argv: list[str]) -> int:
    fmt, curate, unit, ranker = "parquet", False, "turn", "bm25"
    route_file = None
    while argv and argv[0].startswith("--"):
        if argv[0].startswith("--format="):
            fmt = argv[0].split("=", 1)[1]
        elif argv[0].startswith("--ranker="):
            ranker = argv[0].split("=", 1)[1]
            if ranker not in ("bm25", "dirichlet"):
                raise SystemExit(f"unknown --ranker: {ranker}")
        elif argv[0] == "--curate":
            curate = True
        elif argv[0].startswith("--route="):
            route_file = argv[0].split("=", 1)[1]
        elif argv[0].startswith("--unit="):
            unit = argv[0].split("=", 1)[1]
            if unit not in ("turn", "conv"):
                raise SystemExit(f"unknown --unit: {unit}")
        else:
            raise SystemExit(f"unknown flag: {argv[0]}")
        argv = argv[1:]
    src, wh_dir = argv[0], argv[1]
    n_shards = int(argv[2]) if len(argv) > 2 else 16
    queries = json.loads(argv[3]) if len(argv) > 3 else []

    spark = SparkSession.builder.appName("flame_spark_submit").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from flame_spark.config import FlameConfig
    from flame_spark.corpus import add_doc_id, add_features, prepare_docs
    from flame_spark.fastbuild import (
        ServingIndex,
        doc_lengths_arith,
        scored_postings_direct,
    )
    from flame_spark.lineage import SegmentWarehouse, snapshot_id
    from flame_spark.pipeline import wand_bm25_serve_batch
    from flame_spark.postings import corpus_stats
    from flame_spark.wand import segments_for_serving

    from flame_spark.sources.transcripts import read_transcripts

    cfg = FlameConfig(
        ngram=3, n_out=1, min_text_length=80, tokenizer="word",
        term_mode="lno", n_shards=n_shards,
    )
    raw = read_transcripts(spark, src, fmt=fmt)
    if unit == "conv":
        from flame_spark.convops import conversation_docs

        conv = conversation_docs(raw).select(
            "conv_id", F.col("doc").alias("text")
        )
        tdf = add_doc_id(conv, ["conv_id"]).select("doc_id", "text")
    else:
        tdf = add_doc_id(raw, ["conv_id", "turn_idx"]).select("doc_id", "text")
    curation = None
    if curate:
        from flame_spark.textops import curate_docs

        n_input = tdf.count()
        tdf = curate_docs(tdf).persist()
        curation = {"n_input": n_input, "n_kept": tdf.count()}
    docs, artifacts = prepare_docs(tdf, cfg)
    stats = corpus_stats(doc_lengths_arith(docs, cfg))
    scored = scored_postings_direct(
        add_features(docs, artifacts, cfg), stats, cfg.bm25_k1, cfg.bm25_b
    ).persist()

    # one-pass shard write with per-shard lineage (resume-safe), published
    # as ONE atomic snapshot commit: readers of the warehouse keep the
    # previous snapshot until every shard is built; a re-run of the same
    # input commits nothing (idempotent)
    wh = SegmentWarehouse(wh_dir)
    snap = snapshot_id(scored, ["term", "doc_id", "tf"])
    sid = wh.build_snapshot(
        scored, stats.n_docs, cfg.n_shards, cfg.block_size, snap,
        operation="build", summary={"source": src},
    )
    # routing runs AFTER the snapshot commit and over exactly the
    # INDEXED docs (left-semi with the prepared corpus — prepare_docs'
    # min_text_length filter applies), versioned by input snapshot so a
    # failed build can never leave a routing table describing an
    # uncommitted corpus and older tables survive for time-travel pins
    routing = None
    if route_file:
        import os as _os

        from flame_spark.searchops import percolate
        from flame_spark.textops import word_tokens_col

        with open(route_file, encoding="utf-8") as f:
            stored = json.load(f)
        toks = tdf.join(docs.select("doc_id"), "doc_id", "left_semi").select(
            "doc_id", word_tokens_col(F.col("text")).alias("tokens")
        )
        route_path = _os.path.join(wh_dir, "routing", snap)
        matches = percolate(stored, toks).persist()
        matches.write.mode("overwrite").parquet(route_path)
        routing = {
            "path": route_path,
            "matches": {
                r["query_id"]: r["cnt"]
                for r in matches.groupBy("query_id")
                .agg(F.count("*").alias("cnt"))
                .collect()
            },
        }
        matches.unpersist()

    segs = wh.read_snapshot(spark)
    print(json.dumps({"segments": segs.count(), "snapshot": sid,
                      "input_snapshot": snap, "n_docs": stats.n_docs,
                      "unit": unit, "curation": curation, "routing": routing}))

    if queries:
        serving = ServingIndex(
            cfg=cfg, artifacts=artifacts, stats=stats, segments=segs
        )
        sharded = segments_for_serving(segs, n_shards)
        sharded.count()
        if ranker == "dirichlet":
            from flame_spark.pipeline import dirichlet_topk_serve
            from flame_spark.wand import doc_lengths_from_segments

            dl_df = doc_lengths_from_segments(sharded).persist()
            dl_df.count()
            rows = dirichlet_topk_serve(
                spark, queries, serving, sharded, dl_df, k=10
            )
        else:
            # batch path: the whole query set in one job
            # (tuple-identical to per-query serve, tested)
            rows = wand_bm25_serve_batch(queries, serving, sharded, k=10)
        for row in rows:
            print(json.dumps({"query_id": row[0], "rank": row[1],
                              "doc_id": row[2], "score": row[3],
                              "ranker": ranker}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
