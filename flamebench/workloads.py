"""The workloads. Each returns ``{"correct", "attempted", "failed",
"metrics", "problems"}`` with the end-to-end metrics; the per-layer
metrics come from ``per_layer`` over the run's spans.

Both run one closed-loop client in one process (the next call is issued
when the previous one returned). Inputs come from ``gen``.

End-to-end metrics, the same names on both workloads:

- ``setup_s``: process start until the workload is ready to warm up;
- ``visible_s``: start of a write until the first query that sees it
  (bulk_build: a CLI build until its first answered query; live_update:
  an ingest until the query that first returns its marker docs, which
  covers ingest, merge and the server's snapshot swap);
- ``turns_per_s``: turns written per second of the write call
  (bulk_build: turns indexed per second of build, read -> commit;
  live_update: turns ingested per second of ``ingest``);
- ``cpu_s_per_kturn``: CPU seconds of the process tree (driver, JVM,
  Python workers) over the timed region per 1000 of those turns;
- ``query_p50_ms``: median latency of one single-query call;
- ``batch_qps``: queries per second through the one-job batch path;
- ``index_bytes_per_text_byte``: parquet bytes of the served snapshot
  over the UTF-8 bytes of the text it indexes.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from types import SimpleNamespace

from pyspark.sql import functions as F

from flame_spark.config import FlameConfig
from flame_spark.corpus import add_doc_id, add_features, prepare_docs
from flame_spark.fastbuild import (
    ServingIndex,
    doc_lengths_arith,
    scored_postings_direct,
)
from flame_spark.incremental import IncrementalIndexer
from flame_spark.lineage import SegmentWarehouse, snapshot_id
from flame_spark.pipeline import (
    query_term_rows,
    wand_bm25_serve,
    wand_bm25_serve_batch,
)
from flame_spark.postings import corpus_stats
from flame_spark.serving import WarehouseServer
from flame_spark.sources.transcripts import read_transcripts
from flame_spark.streaming import TRANSCRIPT_SCHEMA
from flame_spark.wand import segments_for_serving

import checks
import gen

K = 10  # top-k of every query
BATCH = 16  # queries per batch call
N_SHARDS = 1  # doc-range shards of every build and merge
BULK_CONVS = 60  # conversations in the bulk_build table
BULK_SINGLES = 8  # single queries after each bulk build
BULK_BATCHES = 6  # batches after each bulk build
LIVE_CONVS = 60  # conversations in the live_update warehouse at set-up
INGEST_CONVS = 10  # conversations per live_update ingest (one marker)
STEP_SINGLES = 4  # stream queries after each live_update write step
CHECK_QUERIES = 8  # seeded sample compared with the oracle
CHECK_SINGLES = 4  # of the sample, answered one by one as well as batched
WARMUP_REL = 0.15  # warm-up ends when two consecutive ops agree this well


def index_cfg() -> FlameConfig:
    """The CLI's configuration (tools/submit_job.py) at N_SHARDS."""
    return FlameConfig(
        ngram=3, n_out=1, min_text_length=gen.MIN_TEXT_LENGTH,
        tokenizer="word", term_mode="lno", n_shards=N_SHARDS,
    )


@dataclass
class Context:
    spark: object
    tracer: object
    proc: object
    work: str
    seed: int
    seconds: float
    t_proc: float
    cpus: int
    #: values for the per-layer metrics that are not span aggregates
    extra: dict = field(default_factory=dict)


def metric(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def warm_up(op, max_ops: int) -> list[float]:
    """Repeat ``op`` (returns its duration) until two consecutive
    durations agree within WARMUP_REL, at most ``max_ops`` times."""
    durs = [op()]
    while len(durs) < max_ops:
        durs.append(op())
        if abs(durs[-1] - durs[-2]) <= WARMUP_REL * durs[-2]:
            break
    return durs


def snapshot_bytes(wh: SegmentWarehouse) -> int:
    return sum(os.path.getsize(f) for f in wh.snapshot_log.files())


def text_bytes(rows) -> int:
    return sum(len(r[3].encode("utf-8")) for r in rows)


def record_segments(ctx: Context, wh: SegmentWarehouse) -> None:
    """segments.* of the snapshot at HEAD (one extra job: traced only)."""
    ctx.extra["segments.bytes"] = snapshot_bytes(wh)
    if ctx.tracer.enabled:
        row = wh.read_snapshot(ctx.spark).agg(
            F.count("*").alias("terms"), F.sum("n_docs").alias("postings")
        ).collect()[0]
        ctx.extra["segments.terms"] = int(row["terms"])
        ctx.extra["segments.postings"] = int(row["postings"] or 0)


def sample_queries(seed: int, rows, markers) -> list[str]:
    """CHECK_QUERIES distinct stream queries plus every marker query."""
    stream = gen.QueryStream(seed + 1, rows, markers)
    texts: list[str] = []
    while len(texts) < CHECK_QUERIES:
        _, text = stream.next()
        if text not in texts:
            texts.append(text)
    return texts + [gen.marker_query_text(m) for m in sorted(markers)
                    if gen.marker_query_text(m) not in texts]


class Timings:
    """Durations of the timed region, per kind of operation."""

    def __init__(self):
        self.single_ms: list[float] = []
        self.batch_s: list[float] = []
        self.batch_n = 0
        self.visible_s: list[float] = []
        self.write_s: list[float] = []
        self.turns = 0

    def end_to_end(self, setup_s, cpu_s, bytes_ratio) -> dict:
        return {
            "setup_s": metric(setup_s, "s"),
            "visible_s": metric(statistics.median(self.visible_s), "s"),
            "turns_per_s": metric(self.turns / sum(self.write_s), "1/s"),
            "cpu_s_per_kturn": metric(cpu_s / (self.turns / 1000), "s"),
            "query_p50_ms": metric(statistics.median(self.single_ms), "ms"),
            "batch_qps": metric(self.batch_n / sum(self.batch_s), "1/s"),
            "index_bytes_per_text_byte": metric(bytes_ratio, "ratio"),
        }


def answer_problems(oracle, texts, batched, singles, marker_docs) -> list[str]:
    """Oracle identity, ranking properties, exact marker docs and the
    corruption self-test on the batched answers of one query sample;
    the first ``len(singles)`` queries, answered one by one, must
    equal their batched answers."""
    problems = checks.oracle_problems(oracle, texts, batched, K)
    for text, b, s in zip(texts, batched, singles):
        if s != b:
            problems.append(f"batch answer differs from single for {text!r}")
    for text, b in zip(texts, batched):
        problems += checks.ranking_problems(b, K)
        if text in marker_docs:
            problems += checks.marker_problems(b, marker_docs[text], text)
    problems += checks.corruption_self_test(oracle, texts, batched, K)
    return problems


# ---------------------------------------------------------------------------
# bulk_build: the CLI's job (build into a fresh warehouse, then answer
# a small query set over it)
# ---------------------------------------------------------------------------


def cli_build(ctx: Context, src: str, wh_dir: str, cfg: FlameConfig):
    """tools/submit_job.py's build sequence, read -> snapshot commit."""
    spark, tr = ctx.spark, ctx.tracer
    with tr.span("sources.read_transcripts"):
        raw = read_transcripts(spark, src)
    with tr.span("corpus.add_doc_id"):
        tdf = add_doc_id(raw, ["conv_id", "turn_idx"]).select("doc_id", "text")
    with tr.span("corpus.prepare_docs"):
        docs, artifacts = prepare_docs(tdf, cfg)
    with tr.span("postings.corpus_stats"):
        stats = corpus_stats(doc_lengths_arith(docs, cfg))
    with tr.span("fastbuild.scored_postings_direct"):
        scored = scored_postings_direct(
            add_features(docs, artifacts, cfg), stats, cfg.bm25_k1, cfg.bm25_b
        ).persist()
    if tr.enabled:
        with tr.span("fastbuild.score"):  # the lazy scoring pass, forced
            scored.count()
    wh = SegmentWarehouse(wh_dir)
    with tr.span("lineage.snapshot_id"):
        snap = snapshot_id(scored, ["term", "doc_id", "tf"])
    with tr.span("lineage.build_snapshot"):
        wh.build_snapshot(
            scored, stats.n_docs, cfg.n_shards, cfg.block_size, snap,
            operation="build", summary={"source": src},
        )
    scored.unpersist()
    docs.unpersist()
    return wh, artifacts, stats


def cli_serving(ctx: Context, wh, artifacts, stats, cfg):
    """The CLI's query set-up over a committed snapshot."""
    segs = wh.read_snapshot(ctx.spark)
    index = ServingIndex(cfg=cfg, artifacts=artifacts, stats=stats, segments=segs)
    with ctx.tracer.span("wand.segments_for_serving"):
        sharded = segments_for_serving(segs, cfg.n_shards)
    return index, sharded


def bulk_build(ctx: Context) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    cfg = index_cfg()
    g = gen.Generator(ctx.seed)
    rows, markers = g.corpus(BULK_CONVS, showcase=True)
    src = os.path.join(ctx.work, "transcripts")
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.parquet(src)
    n_turns = len(gen.indexed(rows))
    stream = gen.QueryStream(ctx.seed, rows, markers)
    setup_s = time.time() - ctx.t_proc

    tm = Timings()
    state = {"n": 0, "wh": None}
    answers: list[list[tuple]] = []  # every answer's rows, for the checks

    def job() -> float:
        """One CLI job: build, then answer BULK_SINGLES single queries
        and BULK_BATCHES batches over the fresh warehouse."""
        if state["wh"] is not None:
            shutil.rmtree(state["wh"].root, ignore_errors=True)
        wh_dir = os.path.join(ctx.work, f"wh{state['n']}")
        state["n"] += 1
        t0 = time.perf_counter()
        with tr.span("cli.build"):
            wh, artifacts, stats = cli_build(ctx, src, wh_dir, cfg)
        tm.write_s.append(time.perf_counter() - t0)
        tm.turns += n_turns
        index, sharded = cli_serving(ctx, wh, artifacts, stats, cfg)
        for i in range(BULK_SINGLES):
            q = [{"query_id": "q", "query_text": stream.next()[1]}]
            t = time.perf_counter()
            with tr.span("pipeline.wand_bm25_serve"):
                answers.append(wand_bm25_serve(q, index, sharded, k=K))
            tm.single_ms.append(1000 * (time.perf_counter() - t))
            if i == 0:
                tm.visible_s.append(time.perf_counter() - t0)
        for _ in range(BULK_BATCHES):
            qs = [{"query_id": f"q{i}", "query_text": stream.next()[1]}
                  for i in range(BATCH)]
            t = time.perf_counter()
            with tr.span("pipeline.wand_bm25_serve_batch"):
                answers.append(wand_bm25_serve_batch(qs, index, sharded, k=K))
            tm.batch_s.append(time.perf_counter() - t)
            tm.batch_n += BATCH
        sharded.unpersist()
        # add_doc_id leaves its ranked frame cached; the next job must
        # not inherit this one's cache
        spark.catalog.clearCache()
        state.update(wh=wh, artifacts=artifacts, stats=stats)
        return time.perf_counter() - t0

    tr.phase = "warmup"
    warm_up(job, max_ops=1)
    tm = Timings()

    tr.phase = "timed"
    n_jobs = 0
    cpu0 = ctx.proc.cpu_s()
    t0 = time.perf_counter()
    while not n_jobs or time.perf_counter() - t0 < ctx.seconds:
        job()
        n_jobs += 1
    cpu = ctx.proc.cpu_s() - cpu0
    ctx.extra["proc.cpu_s"] = cpu

    # -- checks (untimed) over the last warehouse --------------------------
    tr.phase = "check"
    wh, stats = state["wh"], state["stats"]
    problems: list[str] = []
    for got in answers:
        for ans in checks.by_query(got).values():
            problems += checks.ranking_problems(ans, K)
    if stats.n_docs != n_turns:
        problems.append(f"build N={stats.n_docs}, expected {n_turns}")
    index, sharded = cli_serving(ctx, wh, state["artifacts"], stats, cfg)
    texts = sample_queries(ctx.seed, rows, markers)
    qs = [{"query_id": f"q{i}", "query_text": t} for i, t in enumerate(texts)]
    singles = [checks.by_query(wand_bm25_serve([q], index, sharded, k=K))
               .get(q["query_id"], []) for q in qs[:CHECK_SINGLES]]
    batch = checks.by_query(wand_bm25_serve_batch(qs, index, sharded, k=K))
    id_rows = gen.doc_ids(rows)
    problems += answer_problems(
        checks.Oracle([(d, r[3]) for d, r in id_rows], cfg), texts,
        [batch.get(q["query_id"], []) for q in qs], singles,
        {gen.marker_query_text(m): checks.marker_docs(id_rows, c)
         for m, c in markers.items()},
    )
    record_segments(ctx, wh)
    sharded.unpersist()
    return {
        "correct": not problems,
        "attempted": n_jobs * (1 + BULK_SINGLES + BULK_BATCHES * BATCH),
        "failed": 0,
        "metrics": tm.end_to_end(setup_s, cpu, snapshot_bytes(wh) / text_bytes(rows)),
        "problems": problems,
    }


# ---------------------------------------------------------------------------
# live_update: ingest / delete / merge rounds with queries after each step
# ---------------------------------------------------------------------------


class Client:
    """One closed-loop client of a WarehouseServer. Untraced, a query
    is one ``query`` call; traced, the refresh and the query-term
    pipeline are also called on their own first, each in its span."""

    def __init__(self, ctx: Context, idx: IncrementalIndexer,
                 srv: WarehouseServer):
        self.ctx, self.idx, self.srv = ctx, idx, srv
        self.n = 0
        self._view = None
        self._view_snap = None
        #: (text, answer, n_deleted_at_query) of every query issued
        self.log: list[tuple] = []
        #: deleted doc ids, in the order their deletes returned
        self.deleted: list[int] = []

    def refresh(self) -> None:
        """Sync the server with the warehouse in a span of its own
        (traced runs only) and classify what it did."""
        tr = self.ctx.tracer
        if not tr.enabled:
            return
        before = self.srv.snapshot_id
        with tr.span("serving.refresh") as rec:
            changed = self.srv.refresh()
        # a swap builds the new segment cache (wand.segments_for_serving)
        # inside this call; it is not repeated on its own: a second cache
        # of the same plan would share, and on unpersist drop, the
        # server's cache entry
        rec["kind"] = (
            "swap" if self.srv.snapshot_id != before
            else "tombstone" if changed else "noop"
        )

    def _ids(self, texts):
        out = []
        for text in texts:
            self.n += 1
            out.append({"query_id": f"q{self.n}", "query_text": text})
        return out

    def query(self, text: str) -> tuple[list[tuple], float]:
        tr = self.ctx.tracer
        q = self._ids([text])
        self.refresh()
        if tr.enabled:
            snap = self.srv.snapshot_id
            if snap != self._view_snap:
                self._view = SimpleNamespace(
                    cfg=self.idx.cfg,
                    artifacts=self.idx.load_serving_artifacts(self.ctx.spark),
                )
                self._view_snap = snap
            with tr.span("pipeline.query_term_rows"):
                query_term_rows(q, self._view)
        t = time.perf_counter()
        with tr.span("serving.query"):
            rows = self.srv.query(q, k=K)
        dt = time.perf_counter() - t
        ans = [(r, d, s) for _, r, d, s in rows]
        self.log.append((text, ans, len(self.deleted)))
        return ans, dt

    def query_batch(self, texts: list[str]) -> tuple[list[list[tuple]], float]:
        qs = self._ids(texts)
        self.refresh()
        t = time.perf_counter()
        with self.ctx.tracer.span("serving.query_batch"):
            rows = self.srv.query_batch(qs, k=K)
        dt = time.perf_counter() - t
        got = checks.by_query(rows)
        answers = [got.get(q["query_id"], []) for q in qs]
        for text, ans in zip(texts, answers):
            self.log.append((text, ans, len(self.deleted)))
        return answers, dt


class Live:
    """The benchmark's own account of the warehouse: every generated
    row with its doc id, the deleted conversations, and the expected N
    (indexed turns, counted from the generated text)."""

    def __init__(self, rows):
        self.id_rows = gen.doc_ids(rows)
        self.deleted_convs: set[str] = set()
        self.n = len(gen.indexed(rows))

    def add(self, rows) -> list[tuple]:
        new = gen.doc_ids(rows, len(self.id_rows))
        self.id_rows += new
        self.n += len(gen.indexed(rows))
        return new

    def delete(self, convs: list[str]) -> list[int]:
        """Doc ids of every turn of ``convs`` (short ones included:
        they are tombstoned too, they were just never indexed)."""
        gone = [(d, r) for d, r in self.id_rows if r[0] in convs]
        self.n -= len(gen.indexed([r for _, r in gone]))
        self.deleted_convs.update(convs)
        return [d for d, _ in gone]

    def live_id_rows(self) -> list[tuple]:
        return [(d, r) for d, r in self.id_rows if r[0] not in self.deleted_convs]


def live_update(ctx: Context) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    g = gen.Generator(ctx.seed)
    rows, markers = g.corpus(LIVE_CONVS, showcase=True)
    idx = IncrementalIndexer(os.path.join(ctx.work, "warehouse"), index_cfg(),
                             hash_base=2**32)
    with tr.span("incremental.initial_build"):
        idx.initial_build(spark.createDataFrame(rows, TRANSCRIPT_SCHEMA))
    with tr.span("incremental.merge_segments"):
        idx.merge_segments(spark)
    srv = WarehouseServer(idx, spark, n_parts=ctx.cpus)
    client = Client(ctx, idx, srv)
    stream = gen.QueryStream(ctx.seed, rows, markers)
    live = Live(rows)
    log = idx.warehouse.snapshot_log
    rng = random.Random(ctx.seed * 31 + 7)
    all_markers = dict(markers)
    marker_queue = [markers[m] for m in sorted(markers)]  # oldest first
    ordinary = sorted({r[0] for r in rows} - set(markers.values()))
    #: (expected N, N of the snapshot) after every merge
    n_checks: list[tuple[int, int]] = [(live.n, log.manifest()["summary"]["n_docs"])]
    setup_s = time.time() - ctx.t_proc

    tm = Timings()
    forget_s: list[float] = []
    problems: list[str] = []

    def stream_queries():
        for _ in range(STEP_SINGLES):
            tm.single_ms.append(1000 * client.query(stream.next()[1])[1])
        _, dt = client.query_batch([stream.next()[1] for _ in range(BATCH)])
        tm.batch_s.append(dt)
        tm.batch_n += BATCH

    def checked_query(text: str) -> list[tuple]:
        ans, dt = client.query(text)
        tm.single_ms.append(1000 * dt)
        return ans

    def one_round():
        """ingest -> queries -> delete -> queries -> merge -> queries."""
        batch, new_markers = g.corpus(INGEST_CONVS, known_only=True,
                                      marker_every=INGEST_CONVS)
        (m_no, m_conv), = new_markers.items()
        all_markers[m_no] = m_conv
        m_text = gen.marker_query_text(m_no)
        df = spark.createDataFrame(batch, TRANSCRIPT_SCHEMA)
        t_round = time.perf_counter()
        with tr.span("incremental.ingest"):
            idx.ingest(df, on_oov="extend")
        tm.write_s.append(time.perf_counter() - t_round)
        tm.turns += len(batch)
        new_ids = live.add(batch)
        ans = checked_query(m_text)  # ingested, not merged: not served yet
        if ans:
            problems.append(f"unmerged marker {m_text!r} served {ans}")
        stream_queries()

        victims = [marker_queue.pop(0), ordinary.pop(rng.randrange(len(ordinary)))]
        victim_text = next(gen.marker_query_text(m)
                           for m, c in all_markers.items() if c == victims[0])
        t_del = time.perf_counter()
        with tr.span("incremental.delete_conversations"):
            idx.delete_conversations(spark, victims)
        client.deleted += live.delete(victims)
        checked_query(victim_text)  # the log check proves it forgotten
        forget_s.append(time.perf_counter() - t_del)
        stream_queries()

        with tr.span("incremental.merge_segments"):
            idx.merge_segments(spark)
        n_checks.append((live.n, log.manifest()["summary"]["n_docs"]))
        ans = checked_query(m_text)
        tm.visible_s.append(time.perf_counter() - t_round)
        problems.extend(checks.marker_problems(
            ans, checks.marker_docs(new_ids, m_conv), m_text))
        stream_queries()
        marker_queue.append(m_conv)
        ordinary.extend(sorted({b[0] for b in batch} - {m_conv}))

    # warm-up: the set-up's build and merge ran the write path once; the
    # query path warms here on the real query mix
    tr.phase = "warmup"

    def query_cycle() -> float:
        t = time.perf_counter()
        stream_queries()
        return time.perf_counter() - t

    warm_up(query_cycle, max_ops=3)
    tm = Timings()

    tr.phase = "timed"
    n_rounds = 0
    cpu0 = ctx.proc.cpu_s()
    t0 = time.perf_counter()
    while not n_rounds or time.perf_counter() - t0 < ctx.seconds:
        one_round()
        n_rounds += 1
    cpu = ctx.proc.cpu_s() - cpu0
    ctx.extra["proc.cpu_s"] = cpu
    ctx.extra["live.forget_s"] = statistics.median(forget_s)

    # -- checks (untimed) -----------------------------------------------------
    tr.phase = "check"
    for want, got in n_checks:
        if want != got:
            problems.append(f"merged N={got}, expected {want}")
    # every answer: ranking properties, no deleted doc; the stream's
    # marker queries (set-up markers) return exactly their live docs
    set_up_markers = {gen.marker_query_text(m): checks.marker_docs(live.id_rows, c)
                      for m, c in markers.items()}
    for text, ans, n_del in client.log:
        problems += checks.ranking_problems(ans, K)
        gone = set(client.deleted[:n_del])
        if {d for _, d, _ in ans} & gone:
            problems.append(f"deleted docs served for {text!r}")
        if text in set_up_markers:
            problems += checks.marker_problems(
                ans, set_up_markers[text] - gone, text)
    live_rows = live.live_id_rows()
    live_markers = {m: c for m, c in all_markers.items()
                    if c not in live.deleted_convs}
    texts = sample_queries(ctx.seed, rows, live_markers)
    singles = [client.query(t)[0] for t in texts[:CHECK_SINGLES]]
    batched = client.query_batch(texts)[0]
    problems += answer_problems(
        checks.Oracle([(d, r[3]) for d, r in live_rows], index_cfg()),
        texts, batched, singles,
        {gen.marker_query_text(m): checks.marker_docs(live_rows, c)
         for m, c in live_markers.items()},
    )
    record_segments(ctx, idx.warehouse)
    srv.close()
    return {
        "correct": not problems,
        "attempted": n_rounds * 3 + len(tm.single_ms) + tm.batch_n,
        "failed": 0,
        "metrics": tm.end_to_end(
            setup_s, cpu,
            snapshot_bytes(idx.warehouse) / text_bytes([r for _, r in live_rows]),
        ),
        "problems": problems,
    }


# ---------------------------------------------------------------------------
# per-layer metrics (traced runs)
# ---------------------------------------------------------------------------

#: name -> unit; every traced run reports all of them (0 = the layer
#: was not exercised by this workload)
PER_LAYER = {
    "corpus.prepare_docs_s": "s",
    "corpus.prepare_docs_jobs": "count",
    "fastbuild.score_s": "s",
    "lineage.snapshot_id_s": "s",
    "lineage.build_snapshot_s": "s",
    "lineage.build_snapshot_jobs": "count",
    "lineage.build_snapshot_tasks": "count",
    "segments.bytes": "bytes",
    "segments.postings": "count",
    "segments.terms": "count",
    "incremental.ingest_s": "s",
    "incremental.ingest_jobs": "count",
    "incremental.merge_segments_s": "s",
    "incremental.merge_segments_jobs": "count",
    "incremental.delete_conversations_s": "s",
    "serving.refresh_swap_s": "s",
    "serving.refresh_tombstone_ms": "ms",
    "serving.refresh_noop_ms": "ms",
    "wand.segments_for_serving_s": "s",
    "pipeline.query_term_rows_ms": "ms",
    "wand.topk_serve_ms": "ms",
    "wand.jobs_per_query": "count",
    "wand.tasks_per_query": "count",
    "wand.topk_serve_batch_s": "s",
    "wand.batch_jobs": "count",
    "live.forget_s": "s",
    "proc.cpu_s": "s",
    "proc.peak_rss_mb": "MB",
}


def per_layer(ctx: Context) -> dict:
    """Means per call over the timed phase (over set-up when the layer
    only ran there)."""
    spans = ctx.tracer.spans

    def calls(*names, kind=None):
        sel = [s for s in spans if s["name"] in names
               and (kind is None or s.get("kind") == kind)]
        timed = [s for s in sel if s["phase"] == "timed"]
        return timed or [s for s in sel if s["phase"] == "setup"]

    def mean(*names, key="dur", kind=None, scale=1.0):
        sel = calls(*names, kind=kind)
        return scale * sum(s.get(key, 0) for s in sel) / len(sel) if sel else 0.0

    single = ("serving.query", "pipeline.wand_bm25_serve")
    batch = ("serving.query_batch", "pipeline.wand_bm25_serve_batch")
    qtr = calls("pipeline.query_term_rows")
    sq = calls("serving.query")
    out = {
        "corpus.prepare_docs_s": mean("corpus.prepare_docs"),
        "corpus.prepare_docs_jobs": mean("corpus.prepare_docs", key="jobs"),
        "fastbuild.score_s": mean("fastbuild.score"),
        "lineage.snapshot_id_s": mean("lineage.snapshot_id"),
        "lineage.build_snapshot_s": mean("lineage.build_snapshot"),
        "lineage.build_snapshot_jobs": mean("lineage.build_snapshot", key="jobs"),
        "lineage.build_snapshot_tasks": mean("lineage.build_snapshot", key="tasks"),
        "incremental.ingest_s": mean("incremental.ingest"),
        "incremental.ingest_jobs": mean("incremental.ingest", key="jobs"),
        "incremental.merge_segments_s": mean("incremental.merge_segments"),
        "incremental.merge_segments_jobs": mean("incremental.merge_segments",
                                                key="jobs"),
        "incremental.delete_conversations_s": mean(
            "incremental.delete_conversations"),
        "serving.refresh_swap_s": mean("serving.refresh", kind="swap"),
        "serving.refresh_tombstone_ms": mean("serving.refresh", kind="tombstone",
                                             scale=1000),
        "serving.refresh_noop_ms": mean("serving.refresh", kind="noop", scale=1000),
        "wand.segments_for_serving_s": mean("wand.segments_for_serving"),
        "pipeline.query_term_rows_ms": mean("pipeline.query_term_rows", scale=1000),
        # single-query call minus its query-term pipeline (measured
        # beside it on the WarehouseServer path)
        "wand.topk_serve_ms": mean(*single, scale=1000) - (
            1000 * sum(s["dur"] for s in qtr) / len(sq) if sq else 0.0),
        "wand.jobs_per_query": mean(*single, key="jobs"),
        "wand.tasks_per_query": mean(*single, key="tasks"),
        "wand.topk_serve_batch_s": mean(*batch),
        "wand.batch_jobs": mean(*batch, key="jobs"),
        "proc.peak_rss_mb": ctx.proc.peak_rss / 2**20,
    }
    for name in PER_LAYER:
        out.setdefault(name, ctx.extra.get(name, 0.0))
    return {name: metric(out[name], PER_LAYER[name]) for name in PER_LAYER}
