"""Incremental index maintenance: stream-append new transcript turns,
merge into segments IDENTICAL to a full rebuild.

The expensive 70% of an index build is the scan side (normalize,
tokenize, shingle, TF). Appends should never pay it again for old
docs, so the warehouse persists the scan side's OUTPUT per ingest
batch and re-derives everything downstream at merge time:

  warehouse/
    artifacts.json            pinned normalize/tokenizer artifacts
    state.json                next_doc_id + ingest counter + cfg bits
    doclens/ingest=N/         (doc_id, dl)        every filtered-in doc
    postings/ingest=N/        (term, doc_id, tf, dl)
    docmap/ingest=N/          (doc_id, conv_id, turn_idx) — the id map
                              deletes resolve against
    */compact-G/              rollup generations: ``compact_deltas``
                              folds many small ingest dirs into one
                              (crash-safe marker-guided swap)
    tombstones/               (doc_id, conv_id) deleted docs; applied
                              as an anti-join at merge (see
                              ``delete_conversations``); physically
                              erased from every delta table by
                              ``purge_tombstones``
    data/<snap>/shard=NN/     merged block-max segments, one IMMUTABLE
                              dir per merge, written in one pass by
                              SegmentWarehouse.build_snapshot;
                              _lineage.json beside the shards records
                              the finished ones for resume
    snapshots/                Iceberg-style snapshot log: each merge
                              commits one manifest + atomic HEAD swap;
                              readers pin a snapshot (time travel /
                              rollback / expire via SnapshotLog)

Merge = union the delta postings (cheap columnar scan), recompute the
GLOBAL stats (df, N, avgdl — these legitimately change on every
append, so stored per-posting scores must be re-derived, not reused),
re-score with the same np.log fold, re-encode shards. The result is
byte-identical to building from scratch on the union corpus
(tests/test_incremental.py) — the merge just skips the re-scan.

Append contract (asserted): new conv_ids sort AFTER every ingested
conv_id (time-ordered conversation ids), so incrementally-assigned
dense doc ids equal the full-rebuild global sort order. NORMALIZATION
artifacts are PINNED from the initial build (a production incremental
index never retrains its tokenizer mid-stream); out-of-vocabulary
tokens are handled per ``on_oov``:

  "error"  refuse the batch (strict; operator decides drop vs rebuild)
  "drop"   drop from the LNO windows — the reference's own
           unknown-token semantics (flame.py:686-687)
  "extend" mint dense ids for the new tokens ABOVE the current vocab
           range (deterministic: sorted within the batch) and append
           them to the warehouse vocab table. Real transcript streams
           mint new tokens daily, so this is the production default
           shape. Term hashes stay stable across ingests because the
           LNO rolling-hash base is PINNED at initial build
           (state["hash_base"], default 2^32 in extend-capable
           warehouses) instead of tracking the growing vocab size; df/
           idf refresh at merge exactly like every other append.

The byte-equality target is a pinned-artifact full rebuild
(pipeline.build_index(..., artifacts=...)) — for "extend", pinned
means the FINAL extended vocabulary + pinned base
(``load_serving_artifacts``); a retraining rebuild changes the feature
space by design. The token->id table itself is persisted as parquet
(vocab/ingest=N) so unbounded vocabularies never touch the driver; the
joined-encoder path (corpus.encode_tokens_joined) is used whenever the
vocabulary is not collected.

Streaming tie-in: ``ingest_stream`` wires a Structured Streaming file
source through ``foreachBatch`` into ``ingest`` — the canonical
stream -> incremental-index shape ("new Iceberg snapshot -> delta
postings -> shard merge").
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .artifacts_io import load_artifacts, save_artifacts
from .config import FlameConfig
from .corpus import CorpusArtifacts, add_doc_id, add_features, prepare_docs
from .lineage import SegmentWarehouse, atomic_write
from .postings import (
    CorpusStats,
    build_postings,
    corpus_stats,
    doc_lengths,
    term_stats,
)

TRANSCRIPT_KEY = ["conv_id", "turn_idx"]


class IncrementalIndexer:
    def __init__(self, root: str, cfg: FlameConfig, hash_base: int | None = None):
        """``hash_base``: LNO rolling-hash base pinned at initial build.
        None = the initial vocabulary size (bit-compatible with a plain
        batch build, but an "extend" ingest then mints ids >= base —
        still correct and equality-tested, with a slightly higher term-
        hash collision rate). Extend-heavy deployments pass 2**32."""
        self.root = root
        self.cfg = cfg
        self.hash_base = hash_base
        self.warehouse = SegmentWarehouse(root)
        os.makedirs(root, exist_ok=True)

    # -- paths / state ------------------------------------------------------

    @property
    def state_path(self) -> str:
        return os.path.join(self.root, "state.json")

    @property
    def artifacts_path(self) -> str:
        return os.path.join(self.root, "artifacts.json")

    def _postings_dir(self, ingest: int) -> str:
        return os.path.join(self.root, "postings", f"ingest={ingest}")

    def _doclens_dir(self, ingest: int) -> str:
        return os.path.join(self.root, "doclens", f"ingest={ingest}")

    def _vocab_dir(self, ingest: int) -> str:
        return os.path.join(self.root, "vocab", f"ingest={ingest}")

    def _docmap_dir(self, ingest: int) -> str:
        return os.path.join(self.root, "docmap", f"ingest={ingest}")

    @property
    def tombstones_dir(self) -> str:
        return os.path.join(self.root, "tombstones")

    def _vocab_df(self, spark: SparkSession):
        """Full token->id table (tok, tid) across all ingests."""
        return self._read_table(spark, "vocab")

    def _gen_dirs(self, kind: str, include_ingest: int | None = None):
        """COMMITTED delta generations of a table, in sorted order:
        ``ingest=k`` dirs with k < the state-committed ingest counter
        (state.json is the ingest commit point — a crash mid-ingest
        leaves dirs for the uncommitted generation, and reading them
        would serve a torn delta: doclens without postings inflates
        N/avgdl silently), plus ``compact-<g>`` rollups (their own
        marker protocol guarantees completeness). ``include_ingest``
        additionally admits that single not-yet-committed generation —
        the in-flight ingest reading its own writes (extend-vocab)."""
        base = os.path.join(self.root, kind)
        if not os.path.isdir(base):
            return []
        try:
            committed = int(self._load_state()["n_ingests"])
        except FileNotFoundError:
            committed = None  # pre-state warehouse: everything visible
        out = []
        for d in sorted(os.listdir(base)):
            p = os.path.join(base, d)
            if d.startswith("compact-") and not d.endswith((".new", ".old")):
                out.append(p)
            elif d.startswith("ingest="):
                try:
                    k = int(d.split("=", 1)[1])
                except ValueError:
                    continue
                if (
                    committed is None
                    or k < committed
                    or (include_ingest is not None and k == include_ingest)
                ):
                    out.append(p)
        return out

    def _read_table(
        self,
        spark: SparkSession,
        kind: str,
        include_ingest: int | None = None,
    ):
        """Whole-table read across the COMMITTED delta generations (see
        ``_gen_dirs``). Recursive lookup, because generations are a mix
        of hive-style ingest=N dirs and flat compact-<gen> rollups
        (compact_deltas) — the implied ``ingest`` partition column was
        never consumed, so recursion losing it changes nothing. Swap
        leftovers from a crashed purge/compaction would be double-
        counted, so recovery runs first (idempotent, fs-only)."""
        self._recover_purge()
        dirs = self._gen_dirs(kind, include_ingest)
        if not dirs:
            raise FileNotFoundError(
                f"{kind}: no committed delta generations under {self.root}"
            )
        return (
            spark.read.option("recursiveFileLookup", "true").parquet(*dirs)
        )

    def load_serving_artifacts(self, spark: SparkSession) -> CorpusArtifacts:
        """Pinned artifacts reflecting the CURRENT vocabulary — the
        query-path / rebuild-equality view of the warehouse. Collected
        encoders come back as dicts; extend-mode / unbounded vocabs
        attach the distributed vocab table."""
        state = self._load_state()
        art = load_artifacts(self.artifacts_path)
        if art.encoder is None:
            art = load_artifacts(
                self.artifacts_path, vocab_df=self._vocab_df(spark)
            )
        # older warehouses (pre OOV-extend) stored neither key; the
        # values in artifacts.json are then already correct
        if "n_vocab" in state:
            art.n_vocab = int(state["n_vocab"])
        if "hash_base" in state:
            art.hash_base = int(state["hash_base"])
        if not art.hash_base:  # 0 = pre-pin default -> base is n_vocab
            art.hash_base = int(art.n_vocab)
        return art

    def _load_state(self) -> dict:
        with open(self.state_path, encoding="utf-8") as f:
            return json.load(f)

    def _save_state(self, state: dict) -> None:
        atomic_write(self.state_path, json.dumps(state))

    # -- build / ingest -----------------------------------------------------

    def initial_build(self, raw: DataFrame) -> None:
        """raw(conv_id, turn_idx, text, ...) -> artifacts + ingest 0."""
        agg = raw.agg(
            F.max("conv_id").alias("m"), F.count("*").alias("n")
        ).collect()[0]
        if int(agg["n"]) == 0:
            # an empty initial build has no artifacts to learn and a
            # None watermark that would poison later ingests — refuse
            raise ValueError("initial_build: empty corpus")
        with_ids = add_doc_id(raw, TRANSCRIPT_KEY)
        with_ids.select("doc_id", "conv_id", "turn_idx").write.mode(
            "overwrite"
        ).parquet(self._docmap_dir(0))
        tdf = with_ids.select("doc_id", "text")
        docs, artifacts = prepare_docs(tdf, self.cfg)
        artifacts.hash_base = int(
            self.hash_base if self.hash_base is not None else artifacts.n_vocab
        )
        save_artifacts(artifacts, self.artifacts_path)
        # the token->id table lives in the warehouse as parquet — the
        # single source of truth that unbounded-vocab and extend-mode
        # ingests append to (a collected dict is just its fast cache)
        spark = raw.sparkSession
        if artifacts.encoder is not None:
            vocab = spark.createDataFrame(
                [(t, i) for t, i in artifacts.encoder.items()],
                "tok string, tid long",
            )
        else:
            vocab = artifacts.encoder_df.select("tok", "tid")
        vocab.write.mode("overwrite").parquet(self._vocab_dir(0))
        self._write_ingest(docs, artifacts, 0)
        # doc ids are assigned over RAW rows (before the min-length
        # filter), exactly like the full-rebuild path — the offset must
        # therefore advance by the raw row count
        from dataclasses import asdict

        self._save_state(
            {
                "next_doc_id": int(agg["n"]),
                "n_ingests": 1,
                "max_conv_id": agg["m"],
                "n_vocab": int(artifacts.n_vocab),
                "hash_base": int(artifacts.hash_base),
                # the build config, so warehouse tooling (e.g.
                # tools/warehouse_admin.py merge) can reconstruct the
                # indexer without the original driver script
                "cfg": asdict(self.cfg),
            }
        )

    def ingest(self, new_raw: DataFrame, on_oov: str = "error") -> int:
        """Append new conversations; returns the ingest number.

        Enforces the append contract (conv ids after the watermark).
        ``on_oov`` decides what happens to tokens outside the current
        vocabulary: "error" (strict default), "drop" (reference
        unknown-token semantics), or "extend" (mint ids above the
        current range and append to the warehouse vocab — see module
        docstring)."""
        if on_oov not in ("error", "drop", "extend"):
            raise ValueError(
                f"on_oov must be 'error', 'drop' or 'extend', got {on_oov!r}"
            )
        spark = new_raw.sparkSession
        state = self._load_state()
        artifacts = self.load_serving_artifacts(spark)
        agg = new_raw.agg(
            F.min("conv_id").alias("lo"),
            F.max("conv_id").alias("hi"),
            F.count("*").alias("n"),
        ).collect()[0]
        low = agg["lo"]
        if low is None:
            return state["n_ingests"] - 1  # empty batch
        if state["max_conv_id"] is not None and low <= state["max_conv_id"]:
            raise ValueError(
                f"append contract violated: new conv_id {low!r} <= "
                f"ingested watermark {state['max_conv_id']!r}"
            )
        with_ids = add_doc_id(new_raw, TRANSCRIPT_KEY).withColumn(
            "doc_id", F.col("doc_id") + F.lit(int(state["next_doc_id"]))
        )
        ingest_no = state["n_ingests"]
        tdf = with_ids.select("doc_id", "text")
        docs, _ = prepare_docs(tdf, self.cfg, artifacts)
        if on_oov == "error":
            # validate BEFORE any warehouse write: a refused batch must
            # leave no docmap rows (their doc ids get reassigned to the
            # next successful ingest, and a delete in the gap would
            # tombstone those future docs)
            self._check_vocab_closure(docs, artifacts)
        elif on_oov == "extend":
            artifacts = self._extend_vocab(docs, artifacts, state, ingest_no)
        with_ids.select("doc_id", "conv_id", "turn_idx").write.mode(
            "overwrite"
        ).parquet(self._docmap_dir(ingest_no))
        self._write_ingest(docs, artifacts, ingest_no)
        state["next_doc_id"] = int(state["next_doc_id"]) + int(agg["n"])
        state["n_ingests"] = ingest_no + 1
        state["max_conv_id"] = (
            agg["hi"]
            if state["max_conv_id"] is None
            else max(state["max_conv_id"], agg["hi"])
        )
        self._save_state(state)
        return ingest_no

    def _new_tokens_df(self, docs: DataFrame, artifacts: CorpusArtifacts):
        """Distinct batch tokens not in the current vocabulary — one
        anti-join against the warehouse vocab table (or the collected
        dict re-expressed as one small DataFrame)."""
        spark = docs.sparkSession
        if artifacts.encoder_df is not None:
            vocab_df = artifacts.encoder_df.select("tok")
        else:
            vocab_df = spark.createDataFrame(
                [(t,) for t in artifacts.encoder], "tok string"
            )
        return (
            docs.select(F.explode("tokens").alias("tok"))
            .distinct()
            .join(vocab_df, "tok", "left_anti")
        )

    def _check_vocab_closure(
        self, docs: DataFrame, artifacts: CorpusArtifacts
    ) -> None:
        """Refuse batches with tokens outside the pinned vocabulary
        (strict mode)."""
        oov = self._new_tokens_df(docs, artifacts).limit(5).collect()
        if oov:
            raise ValueError(
                "vocabulary-extending append (new tokens "
                f"{[r['tok'] for r in oov]}); retrain+rebuild, pass "
                "on_oov='drop' to index with the pinned vocabulary, or "
                "on_oov='extend' to mint ids for them"
            )

    def _extend_vocab(
        self,
        docs: DataFrame,
        artifacts: CorpusArtifacts,
        state: dict,
        ingest_no: int,
    ) -> CorpusArtifacts:
        """Mint dense ids for the batch's unseen tokens above the
        current vocab range (sorted within the batch — deterministic),
        append them to the warehouse vocab table, and return artifacts
        reflecting the extended vocabulary. Nothing corpus-sized
        touches the driver; the collected-dict fast path is kept only
        while the total stays under cfg.max_collect_vocab."""
        from dataclasses import replace

        spark = docs.sparkSession
        # the id offset comes from the AUTHORITATIVE vocabulary (the
        # artifacts' encoder / vocab table), not from state.json alone:
        # a crash between the artifacts write and the state commit
        # leaves state["n_vocab"] stale, and minting from it would give
        # two different tokens one id (silent retrieval corruption)
        offset = max(int(state["n_vocab"]), self._vocab_ceiling(artifacts))
        new_vocab = add_doc_id(self._new_tokens_df(docs, artifacts), ["tok"])
        new_vocab = new_vocab.select(
            "tok", (F.col("doc_id") + F.lit(offset)).alias("tid")
        ).persist()
        n_new = new_vocab.count()
        if n_new == 0:
            new_vocab.unpersist()
            if offset != int(state["n_vocab"]):
                state["n_vocab"] = offset  # repair a stale watermark
            return replace(artifacts, n_vocab=offset)
        new_vocab.write.mode("overwrite").parquet(self._vocab_dir(ingest_no))
        state["n_vocab"] = offset + n_new
        if (
            artifacts.encoder is not None
            and state["n_vocab"] <= self.cfg.max_collect_vocab
        ):
            added = {
                r["tok"]: int(r["tid"]) for r in new_vocab.collect()
            }
            new_vocab.unpersist()
            ext = replace(
                artifacts,
                encoder={**artifacts.encoder, **added},
                n_vocab=state["n_vocab"],
            )
        else:
            # vocabulary outgrew the collect cap (or never was
            # collected): switch this warehouse to the joined-encoder
            # path permanently — null the JSON dict so every later
            # reader goes through the parquet vocab table (including
            # THIS in-flight ingest's not-yet-committed generation)
            new_vocab.unpersist()
            ext = replace(
                artifacts,
                encoder=None,
                encoder_df=self._read_table(
                    spark, "vocab", include_ingest=ingest_no
                ),
                n_vocab=state["n_vocab"],
            )
        save_artifacts(ext, self.artifacts_path)
        return ext

    def _vocab_ceiling(self, artifacts: CorpusArtifacts) -> int:
        """1 + the highest token id the artifacts actually contain."""
        if artifacts.encoder is not None:
            return (
                1 + max(artifacts.encoder.values())
                if artifacts.encoder
                else 0
            )
        row = artifacts.encoder_df.agg(F.max("tid").alias("m")).collect()[0]
        return int(row["m"]) + 1 if row["m"] is not None else 0

    def _write_ingest(
        self, docs: DataFrame, artifacts: CorpusArtifacts, ingest_no: int
    ) -> int:
        cfg = self.cfg
        feat = add_features(docs, artifacts, cfg).persist()
        dl = doc_lengths(feat, "features").persist()
        dl.write.mode("overwrite").parquet(self._doclens_dir(ingest_no))
        postings = build_postings(feat, "features")
        postings.join(dl, "doc_id").select(
            "term", "doc_id", "tf", "dl"
        ).write.mode("overwrite").parquet(self._postings_dir(ingest_no))
        n_new = dl.count()
        feat.unpersist()
        dl.unpersist()
        return n_new

    # -- delete (right-to-be-forgotten) -------------------------------------

    def delete_conversations(
        self, spark: SparkSession, conv_ids: list[str], strict: bool = True
    ) -> int:
        """Tombstone every turn of the given conversations. The next
        ``merge_segments`` rebuilds the index WITHOUT them — df, N and
        avgdl all shrink, every surviving posting is re-scored, and the
        result is byte-identical to a pinned-artifact rebuild over the
        survivors (tested). Surviving doc ids keep their original
        values (the engine supports sparse id spaces end to end), so
        serving-side doc references stay stable.

        Returns the number of newly tombstoned turn docs. Re-deleting
        an already-deleted conversation is a no-op; a conv_id the
        warehouse has never seen raises under ``strict`` (the operator
        must know a forget-request didn't match) and is ignored
        otherwise. Deleted conv_ids cannot be re-ingested — the append
        contract already forbids ingesting at-or-below the watermark.

        Scale: one distributed join docmap x requested ids (broadcast
        the small request side) + one anti-join against existing
        tombstones; no
        per-row driver work. Tombstones are applied lazily at merge, so
        a forget-batch is O(its own size) until the next merge.
        """
        self._load_state()  # must be an initialized warehouse
        if not os.path.isdir(os.path.join(self.root, "docmap")):
            raise ValueError(
                "delete_conversations: this warehouse predates docmap "
                "tracking (no docmap/ table); rebuild it, or backfill "
                "docmap/ingest=N from the original ingest batches"
            )
        ids_df = spark.createDataFrame(
            [(c,) for c in sorted(set(conv_ids))], "conv_id string"
        )
        docmap = self._read_table(spark, "docmap")
        targets = docmap.join(F.broadcast(ids_df), "conv_id")
        if strict:
            found = {
                r["conv_id"]
                for r in targets.select("conv_id").distinct().collect()
            }
            missing = sorted(set(conv_ids) - found)
            if missing:
                raise ValueError(
                    f"delete_conversations: unknown conv_ids {missing}"
                )
        new = targets.select("doc_id", "conv_id")
        if os.path.isdir(self.tombstones_dir):
            existing = spark.read.parquet(self.tombstones_dir).select(
                "doc_id"
            )
            new = new.join(existing, "doc_id", "left_anti")
        new = new.persist()
        n_new = new.count()
        if n_new:
            new.write.mode("append").parquet(self.tombstones_dir)
        new.unpersist()
        return n_new

    def purge_tombstones(
        self, spark: SparkSession, expire_old_snapshots: bool = True
    ) -> int:
        """PHYSICAL right-to-be-forgotten erasure: rewrite every delta
        table (postings, doclens, docmap) without the tombstoned rows,
        then drop the tombstone table itself — after this no byte of
        the warehouse mentions the deleted docs. The logical tombstone
        filter keeps merge/serve correct in the meantime, so purging
        can run on whatever compliance schedule the operator needs.

        PRECONDITION (enforced): the current segment snapshot must
        already have the deletes folded in — i.e. ``merge_segments``
        ran after the last ``delete_conversations``. Purging earlier
        would empty ``deleted_doc_ids`` (the serve-time exclude set)
        while the served segments still contain the docs, silently
        resurrecting them; a ValueError tells the operator to merge
        first. With ``expire_old_snapshots`` (default) the snapshot log
        is then expired to HEAD only, so no retained pre-delete segment
        snapshot keeps the deleted docs' bytes either — set it False to
        keep time travel at the cost of the full-erasure guarantee.

        Merge state is unaffected by construction: the tombstone filter
        already excluded these rows from ``merged_inputs``, so the
        post-purge postings content — and therefore the merge snapshot
        id — is identical, and an immediate re-merge is a no-op commit.

        Each rewritten dir swaps via rename (write ``X.new``, move
        ``X`` -> ``X.old``, move ``X.new`` -> ``X``, delete ``X.old``);
        ``_recover_purge`` (called first) rolls back or completes any
        swap a crash interrupted. Returns the number of purged docs.

        Scale: one anti-join per delta dir that actually contains
        affected docs (cheap left-semi probe first); untouched ingest
        generations are not rewritten.
        """
        import shutil

        self._recover_purge()
        if not os.path.isdir(self.tombstones_dir):
            return 0
        log = self.warehouse.snapshot_log
        head = log.current_id()
        if head is not None:
            current = self.merge_snapshot_id(spark)
            if log.manifest(head)["summary"].get("input_snapshot") != current:
                raise ValueError(
                    "purge_tombstones: the served snapshot predates the "
                    "tombstones — run merge_segments first, then purge "
                    "(purging now would re-expose the deleted docs at "
                    "serve time)"
                )
        tomb = (
            spark.read.parquet(self.tombstones_dir)
            .select("doc_id")
            .distinct()
            .persist()
        )
        n = tomb.count()
        for kind in ("postings", "doclens", "docmap"):
            base = os.path.join(self.root, kind)
            if not os.path.isdir(base):
                continue
            for d in sorted(os.listdir(base)):
                # delta generations: ingest=N plus compact-G rollups
                if not (d.startswith("ingest=") or d.startswith("compact-")):
                    continue
                path = os.path.join(base, d)
                df = spark.read.parquet(path)
                if df.join(tomb, "doc_id", "left_semi").limit(1).count() == 0:
                    continue
                df.join(tomb, "doc_id", "left_anti").write.mode(
                    "overwrite"
                ).parquet(path + ".new")
                os.rename(path, path + ".old")
                os.rename(path + ".new", path)
                shutil.rmtree(path + ".old")
        tomb.unpersist()
        shutil.rmtree(self.tombstones_dir)
        if expire_old_snapshots and head is not None:
            log.expire(keep_last=1)
        return n

    def compact_deltas(self, spark: SparkSession, target_mb: int = 64) -> int:
        """Roll every delta generation of each table (postings, doclens,
        docmap, vocab) into ONE ``compact-<gen>`` dir with ~``target_mb``
        parquet files — a long-running warehouse otherwise accretes one
        small dir per ingest and scan-side file listing becomes the
        bottleneck. Content (and therefore the next merge's snapshot
        id) is unchanged; an immediate re-merge is a no-op commit.

        Uses the same crash-safe swap + recovery protocol as
        ``purge_tombstones``, applied per generation dir: the combined
        table lands in ``compact-<gen>.new`` first, old generation dirs
        move aside and are removed only after the new dir is in place.
        Returns the number of generation dirs removed.

        Concurrency: a MAINTENANCE op, like purge. Segment serving is
        unaffected (it reads snapshot manifests, never delta dirs), and
        collected-vocab warehouses reload artifacts from artifacts.json
        alone, so a live WarehouseServer keeps answering correctly
        through a compaction (soak-tested). Other DELTA-table readers
        and writers (merge, ingest, unbounded-vocab artifact reloads)
        must be serialized with it — the swap protocol is crash-safe,
        not reader-atomic."""
        import shutil

        self._recover_purge()
        removed = 0
        # COMMITTED generations only — the same visibility rule as
        # _gen_dirs. A crash mid-ingest leaves ingest=k dirs for the
        # uncommitted generation k >= n_ingests; folding them into an
        # always-visible compact-<g> rollup would make the torn delta
        # permanently visible, and because the crashed ingest never
        # advanced next_doc_id the retried ingest reuses those doc ids
        # — the orphaned rows would then double-count (inflated
        # N/avgdl, corrupt merges). Leave them on disk for the retry's
        # mode("overwrite") to replace.
        try:
            committed = int(self._load_state()["n_ingests"])
        except FileNotFoundError:
            committed = None  # pre-state warehouse: everything visible
        for kind in ("postings", "doclens", "docmap", "vocab"):
            base = os.path.join(self.root, kind)
            if not os.path.isdir(base):
                continue
            gens = []
            for d in sorted(os.listdir(base)):
                if d.startswith("compact-") and not d.endswith(
                    (".new", ".old")
                ):
                    gens.append(d)
                elif d.startswith("ingest="):
                    try:
                        k = int(d.split("=", 1)[1])
                    except ValueError:
                        continue
                    if committed is None or k < committed:
                        gens.append(d)
            if len(gens) <= 1:
                continue
            gen_no = 1 + max(
                (int(d.split("-", 1)[1]) for d in gens if d.startswith("compact-")),
                default=-1,
            )
            total = sum(
                os.path.getsize(os.path.join(dp, f))
                for g in gens
                for dp, _, fs in os.walk(os.path.join(base, g))
                for f in fs
            )
            n_files = max(1, total // (target_mb * 1024 * 1024) + 1)
            dest = os.path.join(base, f"compact-{gen_no}")
            df = spark.read.parquet(*(os.path.join(base, g) for g in gens))
            df.repartition(int(n_files)).write.mode("overwrite").parquet(
                dest + ".new"
            )
            # multi-dir swap needs a commit marker: recovery rolls BACK
            # (restore gens, drop dest.new) while dest is absent, and
            # rolls FORWARD (drop .old gens) once dest exists — without
            # the marker a crash after the dest rename would restore
            # the old generations NEXT TO the compacted one (double
            # counting)
            marker = os.path.join(base, ".compact.pending")
            atomic_write(
                marker,
                json.dumps({"dest": os.path.basename(dest), "gens": gens}),
            )
            for g in gens:
                os.rename(os.path.join(base, g), os.path.join(base, g + ".old"))
            os.rename(dest + ".new", dest)
            for g in gens:
                shutil.rmtree(os.path.join(base, g + ".old"))
            os.remove(marker)
            removed += len(gens)
        return removed

    def _recover_purge(self) -> None:
        """Undo/complete a purge or compaction interrupted mid-swap.

        Compaction first (its ``.compact.pending`` marker decides the
        direction): roll FORWARD if the compacted dir landed (drop the
        superseded ``.old`` generations), roll BACK otherwise (restore
        generations, drop the unpublished ``.new``). Then the generic
        per-dir rules for purge swaps: a leftover ``X.old`` with no
        ``X`` means the new dir never moved in — restore the old one; a
        leftover ``X.new`` is an incomplete (invisible) write — drop
        it; ``X.old`` WITH ``X`` means only the cleanup was missed —
        finish it."""
        import shutil

        for kind in ("postings", "doclens", "docmap", "vocab"):
            base = os.path.join(self.root, kind)
            if not os.path.isdir(base):
                continue
            marker = os.path.join(base, ".compact.pending")
            if os.path.exists(marker):
                with open(marker, encoding="utf-8") as f:
                    pend = json.load(f)
                dest = os.path.join(base, pend["dest"])
                if os.path.isdir(dest):  # committed -> roll forward
                    for g in pend["gens"]:
                        for leftover in (g, g + ".old"):
                            p = os.path.join(base, leftover)
                            if os.path.isdir(p):
                                shutil.rmtree(p)
                else:  # not committed -> roll back
                    for g in pend["gens"]:
                        old = os.path.join(base, g + ".old")
                        if os.path.isdir(old):
                            os.rename(old, os.path.join(base, g))
                    if os.path.isdir(dest + ".new"):
                        shutil.rmtree(dest + ".new")
                os.remove(marker)
            for d in os.listdir(base):
                p = os.path.join(base, d)
                if d.endswith(".old"):
                    target = p[: -len(".old")]
                    if os.path.isdir(target):
                        shutil.rmtree(p)
                    else:
                        os.rename(p, target)
                elif d.endswith(".new"):
                    shutil.rmtree(p)

    def _tombstone_files(self) -> list[str]:
        """Sorted basenames of the tombstone table's data files. Each
        ``delete_conversations`` appends new uniquely-named part files,
        so a file list identifies a tombstone *prefix*: a merge pins
        the listing once, reads exactly those files everywhere, and
        records them as ``folded_tombstones`` in the snapshot summary
        — files appended after the pin are conservatively unfolded
        (serve-time excluded) until the next merge."""
        d = self.tombstones_dir
        if not os.path.isdir(d):
            return []
        return sorted(
            f
            for f in os.listdir(d)
            if f.startswith("part-") and f.endswith(".parquet")
        )

    def _tombstone_df(self, spark: SparkSession, files: list[str]):
        """Distinct tombstoned doc_ids from exactly ``files`` (or None
        when the list is empty)."""
        if not files:
            return None
        paths = [os.path.join(self.tombstones_dir, f) for f in files]
        return spark.read.parquet(*paths).select("doc_id").distinct()

    def deleted_doc_ids(
        self,
        spark: SparkSession,
        folded: list[str] | None = None,
        tolerant: bool = False,
        with_dropped: bool = False,
    ):
        """Sorted int64 array of tombstoned doc ids — the live-docs
        exclude set for serve-time suppression (pass to
        pipeline.wand_bm25_serve / wand_bm25_topk as ``exclude_docs``
        so deletes take effect IMMEDIATELY, before the next merge).

        ``folded``: tombstone file basenames already folded into the
        snapshot being served (its summary's ``folded_tombstones``) —
        those files' deletes are absent from the segments themselves
        and need no serve-time exclusion. With ``folded`` from the
        served snapshot the array holds only deletes SINCE that merge,
        so its size is bounded by the delete rate between merges, not
        the warehouse's delete history; ``WarehouseServer`` additionally
        enforces a hard cap (``tombstone_limit``). Physical clearing of
        the tombstone table itself is ``purge_tombstones``' job.

        ``tolerant``: when the bulk read fails (a CONCURRENT
        delete_conversations still writing its part files), fall back
        to per-file reads and drop only the unreadable files. A
        COMPLETED delete is a readable file, so its docs stay excluded
        even while another delete is mid-append — keeping a stale
        exclude set instead would transiently resurrect the completed
        delete's docs (under-exclusion).

        ``with_dropped``: also return the list of tombstone files the
        tolerant path had to skip. A dropped file is not always a
        still-writing one — a transient I/O error or a torn file also
        lands here — and the resulting exclude set is UNDER-inclusive,
        so callers that cache by listing signature (WarehouseServer)
        must treat a non-empty dropped list as 'do not pin this
        result' and retry the read on the next query."""
        import numpy as np

        dropped: list[str] = []

        def ret(arr):
            return (arr, dropped) if with_dropped else arr

        files = self._tombstone_files()
        if folded:
            drop = set(folded)
            files = [f for f in files if f not in drop]
        if not files:
            return ret(np.array([], dtype=np.int64))
        try:
            # schema/footer reads happen at DataFrame creation, so the
            # read must be inside the try as well
            rows = self._tombstone_df(spark, files).collect()
        except Exception:
            if not tolerant:
                raise
            rows = []
            for f in files:
                try:
                    rows.extend(self._tombstone_df(spark, [f]).collect())
                except Exception:
                    dropped.append(f)  # next refresh must retry
        ids = {int(r["doc_id"]) for r in rows}
        return ret(
            np.sort(np.fromiter(ids, dtype=np.int64, count=len(ids)))
        )

    def serve_exclude_ids(
        self,
        spark: SparkSession,
        snap_id: str | None = None,
        tolerant: bool = False,
        with_dropped: bool = False,
    ):
        """Exclude set for serving snapshot ``snap_id`` (default HEAD):
        tombstones NOT folded into that snapshot's merge."""
        log = self.warehouse.snapshot_log
        sid = snap_id or log.current_id()
        folded = (
            log.manifest(sid)["summary"].get("folded_tombstones", [])
            if sid is not None
            else []
        )
        return self.deleted_doc_ids(
            spark, folded=folded, tolerant=tolerant, with_dropped=with_dropped
        )

    # -- merge --------------------------------------------------------------

    def _filtered_tables(
        self, spark: SparkSession, tomb_files: list[str] | None = None
    ):
        """(postings_dl, doclens) over all committed ingests, minus
        tombstoned docs (anti-join; AQE broadcasts the tombstone side
        while it is small). ``tomb_files`` pins the tombstone file
        listing so every read within one merge sees the SAME delete
        set — a concurrent delete appending mid-merge must not make
        the snapshot id disagree with the content it labels."""
        if tomb_files is None:
            tomb_files = self._tombstone_files()
        postings_dl = self._read_table(spark, "postings")
        doclens = self._read_table(spark, "doclens")
        tomb = self._tombstone_df(spark, tomb_files)
        if tomb is not None:
            postings_dl = postings_dl.join(tomb, "doc_id", "left_anti")
            doclens = doclens.join(tomb, "doc_id", "left_anti")
        return postings_dl, doclens

    def merged_inputs(
        self, spark: SparkSession, tomb_files: list[str] | None = None
    ):
        """-> (postings_dl, term_stats_df, stats). Stats are computed
        AFTER the tombstone filter, so df/N/avgdl reflect only
        surviving docs."""
        postings_dl, doclens = self._filtered_tables(spark, tomb_files)
        stats = corpus_stats(doclens)
        stats_df = term_stats(postings_dl.select("term", "doc_id", "tf"))
        return postings_dl, stats_df, stats

    def merge_snapshot_id(
        self, spark: SparkSession, tomb_files: list[str] | None = None
    ) -> str:
        """Identity of the CURRENT merge input. Covers postings AND
        doclens: stored scores depend on N/avgdl, which a zero-feature
        doc (shorter than the ngram window, or fully-dropped OOV)
        changes WITHOUT touching any posting row — a postings-only id
        would declare such a merge idempotent and serve stale scores."""
        from .lineage import snapshot_id

        postings_dl, doclens = self._filtered_tables(spark, tomb_files)
        return (
            snapshot_id(postings_dl, ["term", "doc_id", "tf"])
            + "-"
            + snapshot_id(doclens, ["doc_id", "dl"])
        )

    def merge_segments(self, spark: SparkSession) -> DataFrame:
        """Union all delta postings, re-score against the refreshed
        global stats, re-encode every shard (idempotent per-shard
        overwrite + lineage via SegmentWarehouse). Returns the merged
        segment table. Byte-identical to a from-scratch build on the
        union corpus (tested).

        Concurrency: the commit carries ``expected_parent`` = the HEAD
        observed when this merge pinned its inputs, so two racing
        merges (or a merge racing the admin CLI's rollback) cannot
        interleave the idempotency check and the commit — the loser
        gets ``CommitConflict``, re-reads HEAD, re-checks idempotency
        against the winner's snapshot, and retries on fresh inputs
        (Iceberg's optimistic loop). The snapshot summary records
        ``folded_tombstones`` — the tombstone files whose deletes this
        merge rebuilt without — so serving computes its exclude set
        from post-merge deletes only (``serve_exclude_ids``)."""
        from .lineage import CommitConflict
        from .segments import postings_with_scores

        cfg = self.cfg
        log = self.warehouse.snapshot_log
        for _attempt in range(5):
            tomb_files = self._tombstone_files()
            postings_dl, stats_df, stats = self.merged_inputs(
                spark, tomb_files
            )
            scored = postings_with_scores(
                postings_dl, stats_df, stats, cfg.bm25_k1, cfg.bm25_b
            )
            snap = self.merge_snapshot_id(spark, tomb_files)
            head = log.current_id()
            if head is not None and (
                log.manifest(head)["summary"].get("input_snapshot") == snap
            ):
                # idempotent re-merge: the current snapshot was built
                # from this exact postings state — serve it, commit
                # nothing
                return self.warehouse.read_snapshot(spark, head)
            try:
                self.warehouse.build_snapshot(
                    scored, stats.n_docs, cfg.n_shards, cfg.block_size,
                    snap,
                    operation="merge",
                    summary={
                        "n_docs": stats.n_docs,
                        "n_ingests": self._load_state()["n_ingests"],
                        "folded_tombstones": tomb_files,
                    },
                    expected_parent=head,
                )
            except CommitConflict:
                continue  # HEAD moved: re-read, re-check, rebuild
            return self.warehouse.read_snapshot(spark)
        raise RuntimeError(
            "merge_segments: persistent CommitConflict after 5 attempts "
            "— another writer is committing continuously"
        )


def ingest_stream(
    indexer: IncrementalIndexer,
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    on_oov: str = "error",
    fmt: str = "parquet",
):
    """Structured Streaming file source -> foreachBatch -> ingest: each
    microbatch of new transcript files becomes one ingest delta. Driven
    to completion with processAllAvailable (test mode); in production
    the same query runs continuously and merge_segments is scheduled
    per N ingests.

    ``fmt``: 'parquet' (default) or 'jsonl'/'json' — tailing a
    directory of JSONL conversation logs is the common deployment
    shape. Both formats enforce the canonical malformed-row contract
    (sources.transcripts.malformed_pred): a JSON parse failure nulls
    every field, and rows with null conv_id/turn_idx/text FAIL the
    batch loudly in EITHER format (wedging beats silently indexing
    half a log — and without the check the parquet path would worse
    than drop them: under three-valued logic a null conv_id satisfies
    neither side of the watermark split below, so the row would vanish
    with no signal at all)."""
    from .sources.transcripts import malformed_pred
    from .streaming import TRANSCRIPT_SCHEMA

    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA).option(
        "maxFilesPerTrigger", 16
    )
    if fmt == "parquet":
        stream = reader.parquet(input_dir)
    elif fmt in ("jsonl", "json"):
        stream = reader.option("mode", "PERMISSIVE").json(input_dir)
    else:
        raise ValueError(f"unknown stream format {fmt!r}")
    stream = stream.withColumn("_bad", malformed_pred())

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        # at-least-once redelivery: a crash after ingest() committed
        # state but before the streaming checkpoint recorded the batch
        # re-delivers those rows on restart. Filtering to rows ABOVE
        # the ingest watermark (rather than skipping all-or-nothing)
        # also survives a checkpoint loss that batches already-ingested
        # files together with genuinely new ones — the stale rows are
        # dropped, the new rows ingest, and the append contract never
        # trips (an unfiltered mixed batch would raise and wedge the
        # stream permanently). The drop must stay LOUD for data that
        # is below the watermark but was never actually ingested
        # (out-of-order source delivery, not replay): silently
        # discarding it would lose conversations with no signal, so
        # at-or-below-watermark conv ids are checked against docmap
        # and unknown ones raise. (The warehouse is append-keyed, so
        # the remedy is to re-key the late conversations above the
        # watermark and re-deliver them.)
        if "_bad" in batch_df.columns:
            n_bad = batch_df.filter(F.col("_bad")).count()
            if n_bad:
                raise ValueError(
                    f"ingest_stream({fmt}): {n_bad} malformed rows in "
                    "this microbatch (parse failure or null "
                    "conv_id/turn_idx/text) — fix the log export"
                )
            batch_df = batch_df.drop("_bad")
        wm = indexer._load_state()["max_conv_id"]
        if wm is not None:
            stale = batch_df.filter(F.col("conv_id") <= F.lit(wm))
            batch_df = batch_df.filter(F.col("conv_id") > F.lit(wm))
            if not stale.isEmpty():
                known = indexer._read_table(
                    batch_df.sparkSession, "docmap"
                ).select("conv_id").distinct()
                unknown = [
                    r["conv_id"]
                    for r in stale.select("conv_id")
                    .distinct()
                    .join(known, "conv_id", "left_anti")
                    .collect()
                ]
                if unknown:
                    raise ValueError(
                        "ingest_stream: batch contains conv_ids at or "
                        f"below the watermark {wm!r} that were NEVER "
                        f"ingested (late out-of-order data, not replay):"
                        f" {sorted(unknown)[:10]} — re-key them above "
                        "the watermark and re-deliver (append-keyed "
                        "warehouse)"
                    )
        if batch_df.isEmpty():
            return
        indexer.ingest(batch_df, on_oov=on_oov)

    q = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.processAllAvailable()
    q.stop()
