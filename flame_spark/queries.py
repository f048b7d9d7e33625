"""Driver-facing query registry: Spark implementations + DuckDB oracle SQL.

Each entry implements one operator family from SURVEY.md §2 (or a
training-data pipeline operator) over the testdata tables, with an
ANSI-SQL twin the driver runs in DuckDB. Contracts that keep the two
sides hash-identical:

- normalization = lower + trim + collapse ASCII whitespace (JVM regex
  on the Spark side, RE2 on DuckDB's — both ASCII ``\\s``);
- tokens = split on ``[^a-z0-9]+``, drop empties;
- every aggregate/computed column is aliased identically;
- integer outputs cast to BIGINT on both sides; doubles rounded to 6
  decimals AFTER all arithmetic (covers summation-order ulps);
- deterministic orders/tie-breaks everywhere a LIMIT or rank exists.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .constants import MOD, MUFI_CHAR_MAPPINGS, BM25_K1, BM25_B
from .textops import (
    ENGLISH_STOPWORDS,
    LATIN_STOPWORDS,
    MINHASH_A0,
    MINHASH_A_STEP,
    MINHASH_B0,
    MINHASH_B_STEP,
    MINHASH_P,
    SIMHASH_BITS,
    WINNOW_POS_CAP,
    norm_text_col,
    word_tokens_col,
    word_ngrams_col,
)

# ---------------------------------------------------------------------------
# shared fixed parameters (embedded in both Spark code and oracle SQL)
# ---------------------------------------------------------------------------

BM25_QUERIES = [
    ("q0", "table scan merge join"),
    ("q1", "window filter stream batch sort"),
    ("q2", "vector"),
    ("q3", "zzzmissing vector hash"),
]
BM25_K = 10
# structured-search gates (searchops.py): boolean / phrase / suggest
BOOL_QUERIES = [
    ("b0", [("table", "must"), ("scan", "must"), ("merge", "should"),
            ("vector", "must_not")]),
    ("b1", [("window", "should"), ("filter", "should")]),
    ("b2", [("stream", "must"), ("batch", "must"), ("sort", "must"),
            ("slow", "must_not")]),
    # must term absent from the corpus -> zero rows for b3 (edge case)
    ("b3", [("zzzmissing", "must"), ("hash", "should")]),
]
PHRASE_QUERIES = [
    ("ph0", ["table", "scan"]),
    ("ph1", ["merge", "join"]),
    # repeated-token phrase: overlapping occurrences must count
    ("ph2", ["batch", "batch"]),
    # phrase with an out-of-vocabulary word -> zero rows (edge case)
    ("ph3", ["stream", "window", "zzzmissing"]),
]
SUGGEST_PREFIXES = ["s", "wi", "q"]
SEARCH_K = 10
# fuzzy search (searchops.fuzzy_*): typo'd terms whose distance<=1
# vocabulary neighborhoods are known — "tble"->table, "scann"->scan,
# "merge" exact, "sow"->{slow, row} (multi-expansion), "aa"->a,
# "zzzqqq"->nothing (zero-row edge)
FUZZY_QUERIES = [
    ("f0", ["tble", "scann"]),
    ("f1", ["window", "merge"]),
    ("f2", ["sow", "aa"]),
    ("f3", ["zzzqqq"]),
]
# BM25F field weights per transcript role (dyadic rationals so the
# weighted float sums are exact in any aggregation order)
BM25F_ROLE_WEIGHTS = {"user": 2.0, "assistant": 0.5}
# snippet window (tokens) around the earliest query-term hit
SNIPPET_W = 8
# more-like-this: seed doc ids present at every SF, expansion size
MLT_SEEDS = [3, 47, 201]
MLT_M_TERMS = 5
# collocation mining: bigrams under this count are dropped (PMI is
# unstable for rare pairs)
COLL_MIN_COUNT = 5
# LM-Dirichlet ranking: the standard smoothing prior (Zhai & Lafferty
# 2001); shares BM25_QUERIES so the two ranking families are compared
# on the same query set
LM_MU = 2000.0
# proximity (NEAR/w) queries: (query_id, term_a, term_b, window);
# n2's second term is out-of-vocabulary -> zero rows (edge case)
NEAR_QUERIES = [
    ("n0", "table", "scan", 3),
    ("n1", "window", "filter", 6),
    ("n2", "stream", "zzzmissing", 4),
    ("n3", "batch", "merge", 2),
]
# faceted search: metadata columns counted over the OR-matched set
FACET_FIELDS = ["lang", "source"]
# pseudo-relevance feedback: feedback depth + expansion width
PRF_FB_K = 5
PRF_M_TERMS = 3
# per-doc keyword extraction width
KEYWORDS_M = 5
# percolator (reverse search): stored boolean queries matched against
# every document; pc3's must term is OOV -> zero matches (edge case)
PERC_QUERIES = [
    {"query_id": "pc0", "must": ["table", "scan"], "must_not": ["vector"]},
    {"query_id": "pc1", "should": ["window", "filter", "stream"],
     "min_should": 2},
    {"query_id": "pc2", "must": ["merge"], "should": ["join", "sort"]},
    {"query_id": "pc3", "must": ["zzzmissing"]},
]
# streaming percolation gate: stored queries routed against the staged
# 3-turn conversation stream (sp3's must term is OOV -> no alerts)
STREAM_PERC_QUERIES = [
    {"query_id": "sp0", "must": ["table", "scan"]},
    {"query_id": "sp1", "should": ["window", "filter", "stream"],
     "min_should": 2},
    {"query_id": "sp2", "must": ["merge"], "must_not": ["vector"]},
    {"query_id": "sp3", "must": ["zzzmissing"]},
]
# winnowing (MOSS) fingerprints: char k-grams, window w, min-shared
# cutoff for the text-reuse pair gate
WINNOW_K = 7
WINNOW_W = 4
WINNOW_MIN_SHARED = 40
# hybrid lexical+dense retrieval: (query_id, text, query_vec_id) —
# embeddings are keyed by vec_id aligned with doc_id; h2's text is
# all-OOV so it degrades to dense-only (edge case)
HYBRID_QUERIES = [
    ("h0", "table scan merge join", 0),
    ("h1", "window filter stream", 1),
    ("h2", "zzzmissing", 2),
]
RRF_K = 60
HYBRID_K_LEX = 10
HYBRID_K_DENSE = 10
# boolean retrieval over the LNO segment index (wand.wand_boolean):
# clause vocabularies are DISJOINT within each query — a feature in
# two clauses of one query is a contradiction the engine refuses
BOOL_LNO_QUERIES = [
    {"query_id": "wb0", "must": "table scan merge",
     "should": "join order sort", "must_not": "vector hash stream"},
    {"query_id": "wb1", "must": "",
     "should": "window filter stream batch", "must_not": "table scan merge"},
    {"query_id": "wb2", "must": "slow query filter",
     "should": "fast big row", "must_not": ""},
]
SHINGLE_N = 3
JACCARD_THRESHOLD = 0.12
MINHASH_NUM = 16
MINHASH_BAND_ROWS = 4
ANN_QUERY_IDS = [0, 1, 2]
ANN_K = 5
PHONETIC_SRC = "bcdgjqvyz"
PHONETIC_DST = "pktkikfis"
PHONETIC_ALPHABET = "aefiklmnopqrstuwxz"


def _qtoks(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _qrows(queries: list[tuple]) -> list[tuple]:
    """(query_id, text) pairs -> (query_id, term, qtf) rows — the one
    place the query-term counting loop lives (engine gates and SQL
    oracles must agree on it by construction)."""
    rows = []
    for qid, qtext in queries:
        counts: dict[str, int] = {}
        for t in _qtoks(qtext):
            counts[t] = counts.get(t, 0) + 1
        rows.extend((qid, t, c) for t, c in counts.items())
    return rows


def _bm25_qrows() -> list[tuple]:
    return _qrows(BM25_QUERIES)


# session-scoped memo: the driver runs every registry query in ONE
# SparkSession over ONE sf_dir; shared intermediates (the cosine pair
# table, the full LNO index + segments) are built once and persisted.
# Keyed by applicationId so a fresh session never sees stale handles.
_MEMO: dict = {}


def _memo(spark, sf_dir: str, key: str, build):
    k = (spark.sparkContext.applicationId, sf_dir, key)
    if k not in _MEMO:
        _MEMO[k] = build()
    return _MEMO[k]


def _tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, text, tokens) with the word-token array
    persisted — the shared scan+tokenize pass for every word-token
    consumer in the session (LNO postings, exhaustive BM25): one
    tokenization per corpus instead of one per query."""
    return _memo(
        spark, sf_dir, "lno31_docs",
        lambda: _docs(spark, sf_dir)
        .withColumn("tokens", word_tokens_col(F.col("text")))
        .persist(),
    )


def _docs(spark: SparkSession, sf_dir: str, *extra_cols: str) -> DataFrame:
    # the documents table arrives as ONE small parquet file = one scan
    # partition; without a spread every downstream tokenize/shingle/
    # aggregate stage runs on a single core. One tiny shuffle (the
    # table is KBs..MBs) buys full-width parallelism; every registered
    # query is partitioning-invariant by design (tested).
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text", *extra_cols)
        .repartition(n_parts)
    )


# fully explicit whitespace semantics, mirroring textops.norm_text_col:
# RE2's \s excludes \x0B while Java's includes it (hence the literal
# 6-char class), and DuckDB's default trim() strips unicode Zs spaces
# where Spark's strips only ' ' (hence collapse FIRST, then trim with
# an explicit ' ' charset — identical in both engines)
_NORM_SQL = (
    "lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' '))"
)
_TOKS_SQL = (
    f"list_filter(string_split_regex({_NORM_SQL}, '[^a-z0-9]+'), x -> x <> '')"
)

# shared word-level BM25 oracle prolog (toks/tf/dl/st/df CTE bodies):
# the frozen formula's inputs are defined ONCE and interpolated into
# every BM25-shaped oracle (_sql_bm25, _sql_boolean, _sql_fuzzy_topk,
# _sql_snippets, _sql_mlt) so a constant or tokenization change cannot
# leave one oracle silently testing different semantics
_BM25_PROLOG = f"""toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(tk) AS term FROM toks) GROUP BY doc_id, term
),
dl AS (SELECT doc_id, len(tk)::DOUBLE AS dl FROM toks),
st AS (SELECT count(*)::DOUBLE AS n, avg(len(tk))::DOUBLE AS avgdl FROM toks),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)"""


# ---------------------------------------------------------------------------
# S2/P1: whitespace canonicalization + lowercase
# ---------------------------------------------------------------------------


def q_s2_normalize(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", norm_text_col(F.col("text")).alias("norm_text")
    )


SQL_S2_NORMALIZE = f"SELECT doc_id, {_NORM_SQL} AS norm_text FROM documents"


# ---------------------------------------------------------------------------
# P2/P4: MUFI fold (1-to-many replaces in dict order, then 1-to-1)
# ---------------------------------------------------------------------------


def q_p2_mufi_fold(spark, sf_dir):
    col = norm_text_col(F.col("text"))
    for src, dst in MUFI_CHAR_MAPPINGS.items():
        col = F.replace(col, F.lit(src), F.lit(dst))
    return _docs(spark, sf_dir).select("doc_id", col.alias("folded"))


def _sql_mufi():
    expr = _NORM_SQL
    for src, dst in MUFI_CHAR_MAPPINGS.items():
        expr = f"replace({expr}, '{src}', '{dst}')"
    return f"SELECT doc_id, {expr} AS folded FROM documents"


SQL_P2_MUFI_FOLD = _sql_mufi()


# ---------------------------------------------------------------------------
# P7: phonetic reduction (rule map + alphabet projection to spaces)
# ---------------------------------------------------------------------------


def q_p7_phonetic(spark, sf_dir):
    col = F.translate(norm_text_col(F.col("text")), PHONETIC_SRC, PHONETIC_DST)
    col = F.regexp_replace(col, f"[^{PHONETIC_ALPHABET} ]", " ")
    return _docs(spark, sf_dir).select("doc_id", col.alias("phonetic"))


SQL_P7_PHONETIC = (
    "SELECT doc_id, regexp_replace(translate("
    f"{_NORM_SQL}, '{PHONETIC_SRC}', '{PHONETIC_DST}'), "
    f"'[^{PHONETIC_ALPHABET} ]', ' ', 'g') AS phonetic FROM documents"
)


# ---------------------------------------------------------------------------
# A4/T1: word frequency histogram
# ---------------------------------------------------------------------------


def q_word_counts(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .select(F.explode(word_tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


SQL_WORD_COUNTS = (
    f"SELECT word, count(*)::BIGINT AS cnt FROM "
    f"(SELECT unnest({_TOKS_SQL}) AS word FROM documents) GROUP BY word"
)


# ---------------------------------------------------------------------------
# A1: per-doc term frequency (word tokens)
# ---------------------------------------------------------------------------


def q_a1_tf(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(word_tokens_col(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


SQL_A1_TF = (
    f"SELECT doc_id, term, count(*)::BIGINT AS tf FROM "
    f"(SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents) "
    f"GROUP BY doc_id, term"
)


# ---------------------------------------------------------------------------
# A3: term stats (df, cf)
# ---------------------------------------------------------------------------


def q_a3_term_stats(spark, sf_dir):
    tf = q_a1_tf(spark, sf_dir)
    return tf.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )


SQL_A3_TERM_STATS = (
    f"WITH tf AS ({SQL_A1_TF}) "
    "SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf "
    "FROM tf GROUP BY term"
)


# ---------------------------------------------------------------------------
# O4/A2: vocabulary encoder (sorted distinct tokens -> dense ids)
# ---------------------------------------------------------------------------


def q_o4_vocab(spark, sf_dir):
    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(word_tokens_col(F.col("text"))).alias("token"))
        .distinct()
    )
    w = Window.orderBy("token")
    return toks.withColumn(
        "token_id", (F.row_number().over(w) - 1).cast("long")
    )


SQL_O4_VOCAB = (
    f"SELECT token, (row_number() OVER (ORDER BY token) - 1)::BIGINT AS token_id "
    f"FROM (SELECT DISTINCT unnest({_TOKS_SQL}) AS token FROM documents)"
)


# ---------------------------------------------------------------------------
# T5 (word form): 3-gram shingles with tf
# ---------------------------------------------------------------------------


def q_t5_shingles(spark, sf_dir):
    return (
        _tokenized_docs(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(
                word_ngrams_col(F.col("tokens"), SHINGLE_N)
            ).alias("shingle"),
        )
        .groupBy("doc_id", "shingle")
        .agg(F.count("*").alias("tf"))
    )


SQL_T5_SHINGLES = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
sh AS (
  SELECT doc_id, tk[s] || ' ' || tk[s+1] || ' ' || tk[s+2] AS shingle
  FROM toks, UNNEST(generate_series(1, len(tk) - {SHINGLE_N - 1})) AS u(s)
  WHERE len(tk) >= {SHINGLE_N}
)
SELECT doc_id, shingle, count(*)::BIGINT AS tf FROM sh GROUP BY doc_id, shingle
"""


# ---------------------------------------------------------------------------
# T5 (the defining operator): LNO-gram hash postings, n=3, n_out=1
# hash = t[c0] + V*t[c1] mod 2^61-1 for combos (0,1),(0,2),(1,2)
# ---------------------------------------------------------------------------


def q_lno31_postings(spark, sf_dir):
    """LNO postings via the UNBOUNDED-vocab path: distributed dense-rank
    vocab (no driver collect), join-based token encode, window-lead
    trigram assembly and Mersenne-61 hashing ENTIRELY JVM-side — for
    keep = ngram - n_out = 2 the hash t_i + V*t_j stays under 2^62
    whenever V < 2^31, so no Python ever touches the hot path and the
    whole chain is whole-stage-codegen + exchanges. This is the shape
    that survives word-mode at 100 TB. The gate proves it equals the
    DuckDB rank-over-sorted-distinct oracle. (Configs with keep > 2
    need the modular split-multiply and use the Arrow kernel:
    corpus.make_shingle_from_ids_udf.)"""
    from .corpus import build_vocab_df

    # memoized persists: the bench/gate session calls this repeatedly
    # (warmup + timed + dependent gates); without the memo each call
    # re-persists fresh handles that nothing ever unpersists
    docs = _tokenized_docs(spark, sf_dir)
    vocab_df = _memo(
        spark, sf_dir, "lno31_vocab",
        lambda: build_vocab_df(docs).persist(),
    )
    n_vocab = vocab_df.count()
    if n_vocab >= 2**31:  # plain raise: asserts vanish under -O
        raise ValueError("vocab too large for the JVM-native hash path")

    pos = docs.select("doc_id", F.posexplode("tokens").alias("pos", "tok"))
    # J2 policy (bounded lookup): a vocabulary this side of the
    # broadcast cap rides to the executors instead of shuffling the
    # whole token stream by tok; above the cutoff the plan falls back
    # to the scale-safe shuffle equi-join (unbounded vocab)
    enc = F.broadcast(vocab_df) if n_vocab <= 1_000_000 else vocab_df
    ids = pos.join(enc, "tok").select("doc_id", "pos", "tid")
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri = ids.select(
        "doc_id",
        F.col("tid").alias("t0"),
        F.lead("tid", 1).over(w).alias("t1"),
        F.lead("tid", 2).over(w).alias("t2"),
    ).filter(F.col("t2").isNotNull())
    V = F.lit(int(n_vocab))
    M = F.lit(MOD)
    h = lambda a, b: (F.col(a) + V * F.col(b)) % M  # noqa: E731
    feats = tri.select(
        "doc_id",
        F.explode(F.array(h("t0", "t1"), h("t0", "t2"), h("t1", "t2"))).alias(
            "term"
        ),
    )
    return feats.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )


# shared CTE chain: documents -> word tokens -> dense-rank vocab ->
# token ids -> LNO(3,1) trigram-combination hashes (mod 2^61-1)
_LNO_CTES = f"""toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
tok_rows AS (
  SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS pos FROM toks
),
vocab AS (
  SELECT tok, (row_number() OVER (ORDER BY tok) - 1) AS tid
  FROM (SELECT DISTINCT tok FROM tok_rows)
),
vc AS (SELECT count(*)::HUGEINT AS v FROM vocab),
ids AS (SELECT r.doc_id, r.pos, vocab.tid FROM tok_rows r JOIN vocab USING (tok)),
lens AS (SELECT doc_id, max(pos) AS n FROM ids GROUP BY doc_id),
starts AS (
  SELECT doc_id, unnest(generate_series(1, n - 2)) AS s FROM lens WHERE n >= 3
),
trip AS (
  SELECT st.doc_id, a.tid::HUGEINT AS t0, b.tid::HUGEINT AS t1, c.tid::HUGEINT AS t2
  FROM starts st
  JOIN ids a ON a.doc_id = st.doc_id AND a.pos = st.s
  JOIN ids b ON b.doc_id = st.doc_id AND b.pos = st.s + 1
  JOIN ids c ON c.doc_id = st.doc_id AND c.pos = st.s + 2
),
feats AS (
  SELECT doc_id, ((t0 + (SELECT v FROM vc) * t1) % {MOD})::BIGINT AS term FROM trip
  UNION ALL
  SELECT doc_id, ((t0 + (SELECT v FROM vc) * t2) % {MOD})::BIGINT FROM trip
  UNION ALL
  SELECT doc_id, ((t1 + (SELECT v FROM vc) * t2) % {MOD})::BIGINT FROM trip
)"""

SQL_LNO31_POSTINGS = f"""
WITH {_LNO_CTES}
SELECT doc_id, term, count(*)::BIGINT AS tf FROM feats GROUP BY doc_id, term
"""


def _sql_wand_lno():
    """Oracle twin for the block-max WAND engine path: exhaustive BM25
    over the LNO(3,1) term space — WAND pruning must return exactly
    this (it is score-identical to the exhaustive scorer by design, so
    the SQL checks the ENTIRE engine path: normalize -> vocab -> LNO
    hashes -> postings -> segments -> WAND top-k).

    Contract scope: the twin tokenizes with the SIMPLE norm (_TOKS_SQL)
    while the engine builds through the full FLAME normalization
    (prepare_docs: MUFI folds + adaptive char LUT). The two coincide
    exactly on corpora inside the engine alphabet — the committed
    corpora, plus arbitrary whitespace hostility and degenerate docs
    (tests/test_adversarial_corpus_gates.py) — and the full
    normalization itself is verified bit-exactly against
    flame_spark.oracle in the e2e differential tests."""
    vals = []
    for qid, qtext in BM25_QUERIES:
        for i, t in enumerate(_qtoks(qtext)):
            vals.append(f"('{qid}', {i}, '{t}')")
    values = ",\n    ".join(vals)
    return f"""
WITH {_LNO_CTES},
p AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM feats GROUP BY doc_id, term),
dl AS (SELECT doc_id, (3 * greatest(len(tk) - 2, 0))::DOUBLE AS dl FROM toks),
st AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM p GROUP BY term),
qtok(query_id, qpos, tok) AS (VALUES
    {values}),
qids AS (SELECT q.query_id, q.qpos, vocab.tid FROM qtok q JOIN vocab USING (tok)),
qseq AS (
  SELECT query_id, tid::HUGEINT AS tid,
         row_number() OVER (PARTITION BY query_id ORDER BY qpos) AS rn
  FROM qids
),
qtrip AS (
  SELECT a.query_id, a.tid AS t0, b.tid AS t1, c.tid AS t2
  FROM qseq a
  JOIN qseq b ON b.query_id = a.query_id AND b.rn = a.rn + 1
  JOIN qseq c ON c.query_id = a.query_id AND c.rn = a.rn + 2
),
qfeats AS (
  SELECT query_id, ((t0 + (SELECT v FROM vc) * t1) % {MOD})::BIGINT AS term FROM qtrip
  UNION ALL
  SELECT query_id, ((t0 + (SELECT v FROM vc) * t2) % {MOD})::BIGINT FROM qtrip
  UNION ALL
  SELECT query_id, ((t1 + (SELECT v FROM vc) * t2) % {MOD})::BIGINT FROM qtrip
),
q AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qfeats GROUP BY query_id, term),
contrib AS (
  SELECT q.query_id, p.doc_id,
         q.qtf * (ln((st.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
           * (p.tf * ({BM25_K1} + 1.0)
              / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)))) AS c
  FROM q
  JOIN dfr USING (term)
  JOIN p USING (term)
  JOIN dl ON dl.doc_id = p.doc_id
  CROSS JOIN st
),
scores AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scores
)
SELECT query_id, rank::BIGINT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {BM25_K}
"""


SQL_WAND_TOPK_LNO = _sql_wand_lno()


def _sql_wand_dirichlet():
    """Oracle twin for the segment-served LM-Dirichlet path: the LM
    formula over the SAME LNO(3,1) term space as _sql_wand_lno (same
    contract scope: simple-norm twin, coincides on committed corpora).
    cf/C/dl are relational here; the engine derives them from the
    stored segment tf streams — their equality IS the gate."""
    vals = []
    for qid, qtext in BM25_QUERIES:
        for i, t in enumerate(_qtoks(qtext)):
            vals.append(f"('{qid}', {i}, '{t}')")
    values = ",\n    ".join(vals)
    return f"""
WITH {_LNO_CTES},
p AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM feats GROUP BY doc_id, term),
dl AS (SELECT doc_id, (3 * greatest(len(tk) - 2, 0))::DOUBLE AS dl FROM toks),
cfr AS (SELECT term, sum(tf) AS cf FROM p GROUP BY term),
ct AS (SELECT sum(dl)::DOUBLE AS c FROM dl),
qtok(query_id, qpos, tok) AS (VALUES
    {values}),
qids AS (SELECT q.query_id, q.qpos, vocab.tid FROM qtok q JOIN vocab USING (tok)),
qseq AS (
  SELECT query_id, tid::HUGEINT AS tid,
         row_number() OVER (PARTITION BY query_id ORDER BY qpos) AS rn
  FROM qids
),
qtrip AS (
  SELECT a.query_id, a.tid AS t0, b.tid AS t1, c.tid AS t2
  FROM qseq a
  JOIN qseq b ON b.query_id = a.query_id AND b.rn = a.rn + 1
  JOIN qseq c ON c.query_id = a.query_id AND c.rn = a.rn + 2
),
qfeats AS (
  SELECT query_id, ((t0 + (SELECT v FROM vc) * t1) % {MOD})::BIGINT AS term FROM qtrip
  UNION ALL
  SELECT query_id, ((t0 + (SELECT v FROM vc) * t2) % {MOD})::BIGINT FROM qtrip
  UNION ALL
  SELECT query_id, ((t1 + (SELECT v FROM vc) * t2) % {MOD})::BIGINT FROM qtrip
),
q AS (SELECT query_id, term, count(*)::DOUBLE AS qtf FROM qfeats GROUP BY query_id, term),
qe AS (SELECT q.query_id, q.term, q.qtf, cfr.cf FROM q JOIN cfr USING (term)),
ql AS (SELECT query_id, sum(qtf)::DOUBLE AS qlen FROM qe GROUP BY query_id),
contrib AS (
  SELECT qe.query_id, p.doc_id,
         qe.qtf * ln(1.0 + p.tf / ({LM_MU} * (qe.cf / ct.c))) AS c
  FROM qe JOIN p USING (term) CROSS JOIN ct
),
s AS (SELECT query_id, doc_id, sum(c) AS s FROM contrib GROUP BY query_id, doc_id),
scored AS (
  SELECT s.query_id, s.doc_id,
         s.s + ql.qlen * ln({LM_MU} / (dl.dl + {LM_MU})) AS score
  FROM s JOIN dl USING (doc_id) JOIN ql USING (query_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {BM25_K}
"""


SQL_WAND_DIRICHLET_LNO = _sql_wand_dirichlet()

# ---------------------------------------------------------------------------
# incremental merge: initial build on doc_id < INC_SPLIT, stream-append
# the rest, merge — the merged segment structure must equal computing
# the pinned-vocab LNO postings over the union in SQL
# ---------------------------------------------------------------------------

INC_SPLIT = 350
INC_SHARDS = 8


def q_incremental_merge(spark, sf_dir):
    """Runs the REAL incremental path (warehouse, lineage, pinned
    artifacts, OOV-drop) over the documents table treated as 1-turn
    conversations; returns the merged segments' structural columns.
    Scores are byte-checked against a full rebuild in pytest
    (tests/test_incremental.py); the SQL twin checks the posting
    structure (shard, n_docs, doc ranges) end to end."""

    def build():
        import tempfile

        from .config import FlameConfig
        from .incremental import IncrementalIndexer

        raw = _docs(spark, sf_dir).select(
            F.format_string("c%08d", F.col("doc_id").cast("int")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            "text",
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        cfg = FlameConfig(
            ngram=3, n_out=1, min_text_length=0, tokenizer="word",
            term_mode="lno", n_shards=INC_SHARDS,
        )
        split_key = f"c{INC_SPLIT:08d}"
        root = tempfile.mkdtemp(prefix="flame_inc_gate_")
        idx = IncrementalIndexer(root, cfg)
        idx.initial_build(raw.filter(F.col("conv_id") < split_key))
        idx.ingest(raw.filter(F.col("conv_id") >= split_key), on_oov="drop")
        segs = idx.merge_segments(spark)
        return segs.select(
            F.col("shard").cast("long").alias("shard"),
            "term",
            F.col("n_docs").cast("long").alias("n_docs"),
            "first_doc",
            "last_doc",
        ).persist()

    return _memo(spark, sf_dir, "incremental_merge", build)


# pinned-vocab LNO postings in SQL: the vocabulary (and hash base) come
# from the INITIAL corpus only; unknown tokens drop and positions close
# ranks before windowing — flame.py:686-687 semantics
SQL_INCREMENTAL_MERGE = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
tok_rows AS (
  SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS pos FROM toks
),
vocab AS (
  SELECT tok, (row_number() OVER (ORDER BY tok) - 1) AS tid
  FROM (SELECT DISTINCT tok FROM tok_rows WHERE doc_id < {INC_SPLIT})
),
vc AS (SELECT count(*)::HUGEINT AS v FROM vocab),
ids0 AS (SELECT r.doc_id, r.pos, vocab.tid FROM tok_rows r JOIN vocab USING (tok)),
ids AS (
  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos, tid
  FROM ids0
),
lens AS (SELECT doc_id, max(pos) AS n FROM ids GROUP BY doc_id),
starts AS (
  SELECT doc_id, unnest(generate_series(1, n - 2)) AS s FROM lens WHERE n >= 3
),
trip AS (
  SELECT st.doc_id, a.tid::HUGEINT AS t0, b.tid::HUGEINT AS t1, c.tid::HUGEINT AS t2
  FROM starts st
  JOIN ids a ON a.doc_id = st.doc_id AND a.pos = st.s
  JOIN ids b ON b.doc_id = st.doc_id AND b.pos = st.s + 1
  JOIN ids c ON c.doc_id = st.doc_id AND c.pos = st.s + 2
),
feats AS (
  SELECT doc_id, ((t0 + (SELECT v FROM vc) * t1) % {MOD})::BIGINT AS term FROM trip
  UNION ALL
  SELECT doc_id, ((t0 + (SELECT v FROM vc) * t2) % {MOD})::BIGINT FROM trip
  UNION ALL
  SELECT doc_id, ((t1 + (SELECT v FROM vc) * t2) % {MOD})::BIGINT FROM trip
),
p AS (SELECT doc_id, term FROM feats GROUP BY doc_id, term),
nd AS (SELECT count(*) AS n FROM documents),
sp AS (SELECT greatest(1, (n + {INC_SHARDS} - 1) // {INC_SHARDS}) AS span FROM nd)
SELECT (p.doc_id // sp.span)::BIGINT AS shard, p.term,
       count(*)::BIGINT AS n_docs,
       min(p.doc_id)::BIGINT AS first_doc, max(p.doc_id)::BIGINT AS last_doc
FROM p CROSS JOIN sp
GROUP BY 1, 2
"""


def q_incremental_extend(spark, sf_dir):
    """OOV-EXTEND twin of ``q_incremental_merge``: the appended batch
    (doc_id >= INC_SPLIT) contains tokens outside the initial
    vocabulary; ``on_oov="extend"`` mints ids for them above the
    initial range with the hash base pinned at the initial vocab size.
    The SQL twin recomputes the extended-vocabulary LNO postings from
    scratch — ids 0..V0-1 for initial-corpus tokens (sorted), V0.. for
    the batch's new tokens (sorted), base = V0."""

    def build():
        import tempfile

        from .config import FlameConfig
        from .incremental import IncrementalIndexer

        raw = _docs(spark, sf_dir).select(
            F.format_string("c%08d", F.col("doc_id").cast("int")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            "text",
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        cfg = FlameConfig(
            ngram=3, n_out=1, min_text_length=0, tokenizer="word",
            term_mode="lno", n_shards=INC_SHARDS,
        )
        split_key = f"c{INC_SPLIT:08d}"
        root = tempfile.mkdtemp(prefix="flame_inc_ext_gate_")
        idx = IncrementalIndexer(root, cfg)
        idx.initial_build(raw.filter(F.col("conv_id") < split_key))
        idx.ingest(raw.filter(F.col("conv_id") >= split_key), on_oov="extend")
        segs = idx.merge_segments(spark)
        return segs.select(
            F.col("shard").cast("long").alias("shard"),
            "term",
            F.col("n_docs").cast("long").alias("n_docs"),
            "first_doc",
            "last_doc",
        ).persist()

    return _memo(spark, sf_dir, "incremental_extend", build)


# extended-vocab LNO postings in SQL: initial tokens keep their initial
# dense ids; the appended batch's new tokens get ids above V0 (sorted
# within the batch); the rolling-hash base stays V0 (pinned) — no token
# ever drops, so positions are the raw subscript order
SQL_INCREMENTAL_EXTEND = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
tok_rows AS (
  SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS pos FROM toks
),
vocab0 AS (
  SELECT tok, (row_number() OVER (ORDER BY tok) - 1) AS tid
  FROM (SELECT DISTINCT tok FROM tok_rows WHERE doc_id < {INC_SPLIT})
),
v0 AS (SELECT count(*)::HUGEINT AS v FROM vocab0),
newtoks AS (
  SELECT DISTINCT tok FROM tok_rows
  WHERE tok NOT IN (SELECT tok FROM vocab0)
),
vocab1 AS (
  SELECT tok,
         (SELECT v FROM v0)::BIGINT + row_number() OVER (ORDER BY tok) - 1 AS tid
  FROM newtoks
),
vocab AS (SELECT * FROM vocab0 UNION ALL SELECT * FROM vocab1),
ids AS (
  SELECT r.doc_id, r.pos, vocab.tid FROM tok_rows r JOIN vocab USING (tok)
),
lens AS (SELECT doc_id, max(pos) AS n FROM ids GROUP BY doc_id),
starts AS (
  SELECT doc_id, unnest(generate_series(1, n - 2)) AS s FROM lens WHERE n >= 3
),
trip AS (
  SELECT st.doc_id, a.tid::HUGEINT AS t0, b.tid::HUGEINT AS t1, c.tid::HUGEINT AS t2
  FROM starts st
  JOIN ids a ON a.doc_id = st.doc_id AND a.pos = st.s
  JOIN ids b ON b.doc_id = st.doc_id AND b.pos = st.s + 1
  JOIN ids c ON c.doc_id = st.doc_id AND c.pos = st.s + 2
),
feats AS (
  SELECT doc_id, ((t0 + (SELECT v FROM v0) * t1) % {MOD})::BIGINT AS term FROM trip
  UNION ALL
  SELECT doc_id, ((t0 + (SELECT v FROM v0) * t2) % {MOD})::BIGINT FROM trip
  UNION ALL
  SELECT doc_id, ((t1 + (SELECT v FROM v0) * t2) % {MOD})::BIGINT FROM trip
),
p AS (SELECT doc_id, term FROM feats GROUP BY doc_id, term),
nd AS (SELECT count(*) AS n FROM documents),
sp AS (SELECT greatest(1, (n + {INC_SHARDS} - 1) // {INC_SHARDS}) AS span FROM nd)
SELECT (p.doc_id // sp.span)::BIGINT AS shard, p.term,
       count(*)::BIGINT AS n_docs,
       min(p.doc_id)::BIGINT AS first_doc, max(p.doc_id)::BIGINT AS last_doc
FROM p CROSS JOIN sp
GROUP BY 1, 2
"""


def q_incremental_delete(spark, sf_dir):
    """Right-to-be-forgotten twin of ``q_incremental_extend``: after
    the extend-ingest, every conversation whose doc_id % 7 == 3 is
    tombstoned (``delete_conversations``); the merged index must equal
    a from-scratch recomputation over ONLY the survivors — original
    (now sparse) doc ids, shrunken N driving the shard span, df/tf
    recounted without the deleted docs. The vocabulary stays the FULL
    stream's (artifacts are pinned before the delete, exactly the
    production order of events)."""

    def build():
        import tempfile

        from .config import FlameConfig
        from .incremental import IncrementalIndexer

        raw = _docs(spark, sf_dir).select(
            F.format_string("c%08d", F.col("doc_id").cast("int")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            "text",
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        cfg = FlameConfig(
            ngram=3, n_out=1, min_text_length=0, tokenizer="word",
            term_mode="lno", n_shards=INC_SHARDS,
        )
        split_key = f"c{INC_SPLIT:08d}"
        root = tempfile.mkdtemp(prefix="flame_inc_del_gate_")
        idx = IncrementalIndexer(root, cfg)
        idx.initial_build(raw.filter(F.col("conv_id") < split_key))
        idx.ingest(raw.filter(F.col("conv_id") >= split_key), on_oov="extend")
        gone = [
            f"c{int(r['doc_id']):08d}"
            for r in _docs(spark, sf_dir)
            .filter((F.col("doc_id") % 7) == 3)
            .select("doc_id")
            .collect()
        ]
        n_del = idx.delete_conversations(spark, gone)
        if n_del != len(gone):  # plain raise: asserts vanish under -O
            raise RuntimeError(f"deleted {n_del} of {len(gone)} convs")
        segs = idx.merge_segments(spark)
        return segs.select(
            F.col("shard").cast("long").alias("shard"),
            "term",
            F.col("n_docs").cast("long").alias("n_docs"),
            "first_doc",
            "last_doc",
        ).persist()

    return _memo(spark, sf_dir, "incremental_delete", build)


# survivor-only recomputation: vocabulary and hash base from the FULL
# stream (delete happens after ingest), postings/span/df from survivors
_DEL_FRAGS = (
    "p AS (SELECT doc_id, term FROM feats GROUP BY doc_id, term),",
    "nd AS (SELECT count(*) AS n FROM documents),",
)
for _frag in _DEL_FRAGS:
    if _frag not in SQL_INCREMENTAL_EXTEND:  # a reformat must fail loudly,
        raise RuntimeError(  # not half-patch the survivor oracle
            f"SQL_INCREMENTAL_EXTEND no longer contains {_frag!r}"
        )
SQL_INCREMENTAL_DELETE = SQL_INCREMENTAL_EXTEND.replace(
    _DEL_FRAGS[0],
    "p AS (SELECT doc_id, term FROM feats WHERE doc_id % 7 <> 3"
    " GROUP BY doc_id, term),",
).replace(
    _DEL_FRAGS[1],
    "nd AS (SELECT count(*) AS n FROM documents WHERE doc_id % 7 <> 3),",
)


# fixture-parquet value oracles (generated by tools/gen_fixture_oracles.py;
# all four — ann_ivf, bpe_tokens, mm, autotune — are INDEPENDENT
# RECOMPUTATIONS of the documented protocols sharing no engine code,
# see that file's docstring). Every fixture joins on a digest the
# SQL recomputes from the live table, so stale fixtures mismatch loudly.
_FIXDIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "fixtures"
)

SQL_MM_IMAGE_FEATURES = (
    "SELECT media_id, n_features, mean_feature "
    f"FROM '{_FIXDIR}/mm_image_features_expected.parquet'"
)

SQL_AUTOTUNE_GRID = f"""
WITH d AS (
  SELECT md5(string_agg(text, '' ORDER BY doc_id)) AS corpus_md5
  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 30)
)
SELECT best_ngram, best_n_out, snr
FROM '{_FIXDIR}/autotune_expected.parquet' JOIN d USING (corpus_md5)
"""

# independent-recomputation fixtures (NumPy / naive-BPE replay of the
# documented protocols, no engine code shared)
SQL_ANN_IVF = f"""
WITH d AS (
  SELECT md5(string_agg(vec_id::VARCHAR || ':' ||
             round(embedding[1]::DOUBLE, 6)::VARCHAR, ',' ORDER BY vec_id))
         AS emb_md5
  FROM embeddings
)
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
       vec_id::BIGINT AS vec_id, cosine
FROM '{_FIXDIR}/ann_ivf_expected.parquet' JOIN d USING (emb_md5)
"""

SQL_BPE_TOKENS = f"""
WITH d AS (
  SELECT md5(string_agg(norm, '' ORDER BY doc_id)) AS corpus_md5
  FROM (SELECT doc_id, {_NORM_SQL} AS norm FROM documents
        ORDER BY doc_id LIMIT 2000)
)
SELECT doc_id::BIGINT AS doc_id, n_subwords::BIGINT AS n_subwords
FROM '{_FIXDIR}/bpe_tokens_expected.parquet' JOIN d USING (corpus_md5)
"""


# ---------------------------------------------------------------------------
# J6/O7: BM25 top-k over word tokens (fixed query set)
# ---------------------------------------------------------------------------


def q_bm25_topk(spark, sf_dir):
    """Exhaustive word-token BM25 over the shared tokenized-docs cache,
    with the posting stream PRUNED to the query-term set before any
    aggregation or join (guide: reduce the big side before shuffling
    it): df/cf for a query term computed over the filtered postings
    equal the full-corpus values — every posting of those terms
    survives the filter — and non-query terms contribute nothing to
    any score, so results are identical to the unfiltered pipeline
    while the term-stats aggregate and the doc-length join see only
    the matching postings instead of the whole corpus."""
    from .bm25 import score_bm25, topk
    from .postings import corpus_stats, doc_lengths, term_stats

    docs = _tokenized_docs(spark, sf_dir)
    qrows = _bm25_qrows()
    qset = sorted({t for _, t, _ in qrows})
    postings = (
        docs.select("doc_id", F.explode("tokens").alias("term"))
        .where(F.col("term").isin(qset))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("int").alias("tf"))
    )
    dl = doc_lengths(docs, "tokens")
    stats_df = term_stats(postings)
    stats = corpus_stats(dl)
    qterms = spark.createDataFrame(
        qrows, "query_id string, term string, qtf int"
    )
    scored = score_bm25(qterms, postings.join(dl, "doc_id"), stats_df, stats, BM25_K1, BM25_B)
    return topk(scored, BM25_K).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.round("score", 6).alias("score"),
    )


def _sql_bm25():
    values = ",\n    ".join(
        f"('{qid}', '{t}', {c})" for qid, t, c in _bm25_qrows()
    )
    return f"""
WITH {_BM25_PROLOG},
q(query_id, term, qtf) AS (VALUES
    {values}),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         q.qtf * (ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)))) AS c
  FROM q
  JOIN df USING (term)
  JOIN tf USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st
),
scores AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scores
)
SELECT query_id, rank::BIGINT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {BM25_K}
"""


SQL_BM25_TOPK = _sql_bm25()


# ---------------------------------------------------------------------------
# J1: TF-IDF cosine pairs over 3-gram shingles (sklearn-default formula)
# ---------------------------------------------------------------------------


def q_tfidf_cosine_pairs(spark, sf_dir):
    def build():
        from .postings import term_stats
        from .similarity import cosine_pairs_salted, tfidf_normalized

        # cache the shingle TF: the stats branch and the weights branch
        # both consume it (otherwise two explode+agg passes per branch)
        sh_tf = (
            q_t5_shingles(spark, sf_dir)
            .withColumnRenamed("shingle", "term")
            .persist()
        )
        n_docs = _tokenized_docs(spark, sf_dir).count()
        stats_df = term_stats(sh_tf.select("term", "doc_id", "tf")).persist()
        weights = tfidf_normalized(
            sh_tf.select("term", "doc_id", F.col("tf").cast("int").alias("tf")),
            stats_df,
            n_docs,
        )
        # skew-safe default: hot terms (auto df cutoff from term stats)
        # are split across reducers; bit-identical to the plain join
        return (
            cosine_pairs_salted(weights, stats_df)
            .select("doc_i", "doc_j", F.round("score", 6).alias("score"))
            .persist()
        )

    # shared by o1_top_pairs, a9_percentile99, a8_otsu_threshold
    return _memo(spark, sf_dir, "tfidf_cosine_pairs", build)


SQL_TFIDF_COSINE_PAIRS = f"""
WITH tf AS ({SQL_T5_SHINGLES}),
nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
df AS (SELECT shingle, count(*)::DOUBLE AS df FROM tf GROUP BY shingle),
w AS (
  SELECT tf.doc_id, tf.shingle,
         tf.tf::DOUBLE * (ln((1.0 + nd.n) / (1.0 + df.df)) + 1.0) AS w
  FROM tf JOIN df USING (shingle) CROSS JOIN nd
),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
wn AS (
  SELECT w.doc_id, w.shingle, w.w / nrm.nrm AS wn
  FROM w JOIN nrm USING (doc_id)
),
prods AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, a.wn * b.wn AS p
  FROM wn a JOIN wn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
)
SELECT doc_i, doc_j, round(sum(p), 6) AS score FROM prods GROUP BY doc_i, doc_j
"""


# ---------------------------------------------------------------------------
# J1 inter-corpus mode (S4/U1): idf fit on the union, cosine m1 x m2^T
# corpus1 = even doc_ids, corpus2 = odd (deterministic split)
# ---------------------------------------------------------------------------


def q_cosine_inter(spark, sf_dir):
    from .similarity import cosine_pairs_inter, tfidf_normalized_inter

    sh_tf = (
        q_t5_shingles(spark, sf_dir)
        .withColumnRenamed("shingle", "term")
        .select("term", "doc_id", F.col("tf").cast("int").alias("tf"))
        .persist()
    )
    n_union = _tokenized_docs(spark, sf_dir).count()
    p1 = sh_tf.filter(F.col("doc_id") % 2 == 0)
    p2 = sh_tf.filter(F.col("doc_id") % 2 == 1)
    w1, w2 = tfidf_normalized_inter(p1, p2, n_union)
    return cosine_pairs_inter(w1, w2).select(
        "doc_i", "doc_j", F.round("score", 6).alias("score")
    )


SQL_COSINE_INTER = f"""
WITH tf AS ({SQL_T5_SHINGLES}),
nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
dfu AS (SELECT shingle, count(*)::DOUBLE AS df FROM tf GROUP BY shingle),
w AS (
  SELECT tf.doc_id, tf.shingle,
         tf.tf::DOUBLE * (ln((1.0 + nd.n) / (1.0 + dfu.df)) + 1.0) AS w
  FROM tf JOIN dfu USING (shingle) CROSS JOIN nd
),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
wn AS (SELECT w.doc_id, w.shingle, w.w / nrm.nrm AS wn FROM w JOIN nrm USING (doc_id)),
prods AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, a.wn * b.wn AS p
  FROM wn a JOIN wn b ON a.shingle = b.shingle
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
)
SELECT doc_i, doc_j, round(sum(p), 6) AS score FROM prods GROUP BY doc_i, doc_j
"""


# ---------------------------------------------------------------------------
# O1: pair ranking (sort by score desc, deterministic tie-break, limit)
# ---------------------------------------------------------------------------


def q_top_pairs(spark, sf_dir):
    return (
        q_tfidf_cosine_pairs(spark, sf_dir)
        .orderBy(F.desc("score"), F.asc("doc_i"), F.asc("doc_j"))
        .limit(100)
    )


SQL_TOP_PAIRS = (
    f"WITH pairs AS ({SQL_TFIDF_COSINE_PAIRS}) "
    "SELECT * FROM pairs ORDER BY score DESC, doc_i ASC, doc_j ASC LIMIT 100"
)


# ---------------------------------------------------------------------------
# A9: percentile threshold over pair scores
# ---------------------------------------------------------------------------


def q_percentile99(spark, sf_dir):
    pairs = q_tfidf_cosine_pairs(spark, sf_dir)
    return pairs.agg(
        F.round(F.expr("percentile(score, 0.99)"), 6).alias("p99")
    )


SQL_PERCENTILE99 = (
    f"WITH pairs AS ({SQL_TFIDF_COSINE_PAIRS}) "
    "SELECT round(quantile_cont(score, 0.99), 6) AS p99 FROM pairs"
)


# ---------------------------------------------------------------------------
# dedup: exact hash groups
# ---------------------------------------------------------------------------


def q_exact_hash_groups(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .select(F.md5(norm_text_col(F.col("text"))).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
    )


SQL_EXACT_HASH_GROUPS = (
    f"SELECT md5({_NORM_SQL}) AS text_hash, count(*)::BIGINT AS n_docs, "
    "min(doc_id) AS keeper_doc_id FROM documents GROUP BY 1"
)


# ---------------------------------------------------------------------------
# dedup: n-gram Jaccard pairs
# ---------------------------------------------------------------------------


def q_jaccard_pairs(spark, sf_dir):
    """Skew-salted by default: a hot shingle cannot pin its quadratic
    intersection work on one reducer (same result as the plain join)."""
    from .textops import ngram_jaccard_pairs_salted

    return ngram_jaccard_pairs_salted(
        _docs(spark, sf_dir), n=SHINGLE_N, threshold=JACCARD_THRESHOLD
    ).select(
        "doc_i",
        "doc_j",
        F.col("inter").cast("long").alias("inter"),
        F.round("jaccard", 6).alias("jaccard"),
    )


SQL_JACCARD_PAIRS = f"""
WITH tf AS ({SQL_T5_SHINGLES}),
sh AS (SELECT DISTINCT doc_id, shingle FROM tf),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*)::BIGINT AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_i, doc_j, inter,
       round(inter / (sa.sz + sb.sz - inter)::DOUBLE, 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_i
JOIN sz sb ON sb.doc_id = doc_j
WHERE inter / (sa.sz + sb.sz - inter)::DOUBLE >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# dedup: MinHash signatures + LSH candidate pairs
# ---------------------------------------------------------------------------


def q_minhash_sigs(spark, sf_dir):
    from .textops import minhash_signatures

    return minhash_signatures(
        _docs(spark, sf_dir), n=SHINGLE_N, num_hashes=MINHASH_NUM
    ).select("doc_id", F.col("i").cast("long").alias("i"), "minhash")


SQL_MINHASH_SIGS = f"""
WITH tf AS ({SQL_T5_SHINGLES}),
sh AS (SELECT DISTINCT doc_id, shingle FROM tf),
x AS (
  SELECT doc_id, ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS x FROM sh
),
h AS (
  SELECT doc_id, i,
         (({MINHASH_A0} + {MINHASH_A_STEP} * i) * x
          + ({MINHASH_B0} + {MINHASH_B_STEP} * i)) % {MINHASH_P} AS h
  FROM x, UNNEST(generate_series(0, {MINHASH_NUM - 1})) AS u(i)
)
SELECT doc_id, i::BIGINT AS i, min(h)::BIGINT AS minhash FROM h GROUP BY doc_id, i
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    """Banded directly off the wide per-doc signature aggregate (band
    keys are a projection, not a second collect_list aggregation) —
    same pair set as minhash_lsh_candidates over the long-form sigs."""
    from .textops import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs(spark, sf_dir),
        n=SHINGLE_N,
        num_hashes=MINHASH_NUM,
        band_rows=MINHASH_BAND_ROWS,
    )


SQL_MINHASH_LSH_PAIRS = f"""
WITH sigs AS ({SQL_MINHASH_SIGS}),
banded AS (
  SELECT doc_id, (i / {MINHASH_BAND_ROWS})::INT AS band,
         string_agg(minhash::VARCHAR, '-' ORDER BY i) AS band_key
  FROM sigs GROUP BY doc_id, band
)
SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
FROM banded a
JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
"""


def q_minhash_dedup_groups(spark, sf_dir):
    """Transitive MinHash-LSH near-dup groups + keeper flags over the
    documents table (connected components, graphops.py)."""
    from .graphops import dedup_groups

    nodes = _docs(spark, sf_dir).select("doc_id")
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    out = dedup_groups(nodes, pairs, "doc_id", "doc_i", "doc_j")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        "is_keeper",
    )


SQL_MINHASH_DEDUP_GROUPS = f"""
WITH RECURSIVE pr AS (SELECT doc_i, doc_j FROM ({SQL_MINHASH_LSH_PAIRS})),
und AS (
  SELECT doc_i AS a, doc_j AS b FROM pr
  UNION
  SELECT doc_j AS a, doc_i AS b FROM pr
),
nodes AS (SELECT doc_id::BIGINT AS id FROM documents),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.id
)
SELECT id AS doc_id, min(r)::BIGINT AS component,
       (id = min(r)) AS is_keeper
FROM reach GROUP BY id
"""


# ---------------------------------------------------------------------------
# dedup: SimHash
# ---------------------------------------------------------------------------


def q_simhash(spark, sf_dir):
    from .textops import simhash

    return simhash(_docs(spark, sf_dir))


SQL_SIMHASH = f"""
WITH tf AS (
  SELECT doc_id, tok, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents)
  GROUP BY doc_id, tok
),
h AS (
  SELECT doc_id, tf, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM tf
),
bits AS (
  SELECT doc_id, j,
         sum(CASE WHEN (h >> j) & 1 = 1 THEN tf ELSE -tf END) AS s
  FROM h, UNNEST(generate_series(0, {SIMHASH_BITS - 1})) AS u(j)
  GROUP BY doc_id, j
)
SELECT doc_id,
       sum(CASE WHEN s >= 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# text analysis: language id, quality, token counts, fingerprints
# ---------------------------------------------------------------------------


def q_langid(spark, sf_dir):
    from .textops import language_id

    out = language_id(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("en_ratio", 6).alias("en_ratio"),
        F.round("la_ratio", 6).alias("la_ratio"),
        "pred_lang",
    )


def _inlist(words):
    return ", ".join(f"'{w}'" for w in words)


SQL_LANGID = f"""
WITH t AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
sc AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         (sum(CASE WHEN tok IN ({_inlist(ENGLISH_STOPWORDS)}) THEN 1 ELSE 0 END)
          / count(*)::DOUBLE) AS en_ratio,
         (sum(CASE WHEN tok IN ({_inlist(LATIN_STOPWORDS)}) THEN 1 ELSE 0 END)
          / count(*)::DOUBLE) AS la_ratio
  FROM t GROUP BY doc_id
)
SELECT doc_id, n_tokens, round(en_ratio, 6) AS en_ratio,
       round(la_ratio, 6) AS la_ratio,
       CASE WHEN en_ratio < 0.05 AND la_ratio < 0.05 THEN 'unknown'
            WHEN en_ratio >= la_ratio THEN 'en' ELSE 'la' END AS pred_lang
FROM sc
"""


def q_quality(spark, sf_dir):
    from .textops import quality_scores

    out = quality_scores(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_chars_norm").cast("long").alias("n_chars_norm"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "stopword_ratio",
        "punct_ratio",
        "mean_word_len",
        "quality",
    )


SQL_QUALITY = f"""
WITH base AS (
  SELECT doc_id, {_NORM_SQL} AS norm, {_TOKS_SQL} AS tk FROM documents
),
m AS (
  SELECT doc_id,
         length(norm)::BIGINT AS n_chars_norm,
         len(tk)::BIGINT AS n_tokens,
         CASE WHEN len(tk) > 0 THEN
           len(list_filter(tk, x -> x IN ({_inlist(ENGLISH_STOPWORDS)})))
             / len(tk)::DOUBLE ELSE 0.0 END AS stop_ratio,
         CASE WHEN length(norm) > 0 THEN
           (length(norm) - length(regexp_replace(norm, '[^a-z0-9 ]', '', 'g')))
             / length(norm)::DOUBLE ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(tk) > 0 THEN
           list_sum(list_transform(tk, x -> length(x)))
             / len(tk)::DOUBLE ELSE 0.0 END AS mean_word_len
  FROM base
)
SELECT doc_id, n_chars_norm, n_tokens,
       round(stop_ratio, 6) AS stopword_ratio,
       round(punct_ratio, 6) AS punct_ratio,
       round(mean_word_len, 6) AS mean_word_len,
       round(least(n_tokens / 100.0, 1.0) * 0.4
             + least(stop_ratio * 4.0, 1.0) * 0.3
             + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3, 6) AS quality
FROM m
"""


def q_token_counts(spark, sf_dir):
    from .textops import token_counts

    out = token_counts(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("bpeish_tokens").cast("long").alias("bpeish_tokens"),
    )


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       len(list_filter(string_split({_NORM_SQL}, ' '), x -> x <> ''))::BIGINT
         AS ws_tokens,
       len(regexp_extract_all({_NORM_SQL}, '[a-z0-9_]+|[^a-z0-9_\\s]+'))::BIGINT
         AS bpeish_tokens
FROM documents
"""


def q_fingerprints(spark, sf_dir):
    from .textops import fingerprints

    return fingerprints(_docs(spark, sf_dir))


SQL_FINGERPRINTS = f"""
WITH base AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents)
SELECT doc_id,
  CASE WHEN length(norm) = 0 THEN 0 ELSE
    (list_reduce(
       list_prepend(0::HUGEINT,
         list_transform(list_reverse(string_split(norm, '')),
                        c -> unicode(c)::HUGEINT)),
       (acc, c) -> (acc * 1000003 + c) % {MOD}))::BIGINT
  END AS fingerprint
FROM base
"""


# ---------------------------------------------------------------------------
# embeddings: brute-force cosine top-k
# ---------------------------------------------------------------------------


def q_ann_bruteforce(spark, sf_dir):
    from .embedops import cosine_topk_bruteforce, load_embeddings

    emb = load_embeddings(spark, sf_dir)
    out = cosine_topk_bruteforce(emb, ANN_QUERY_IDS, k=ANN_K)
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "cosine"
    )


SQL_ANN_BRUTEFORCE = f"""
WITH e AS (
  SELECT vec_id::BIGINT AS vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e
      WHERE vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)})),
flat AS (
  SELECT q.query_id, e.vec_id, unnest(q.qv) AS qe, unnest(e.v) AS ve
  FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id
),
cos AS (
  SELECT query_id, vec_id,
         sum(qe * ve) / (sqrt(sum(qe * qe)) * sqrt(sum(ve * ve))) AS cosine
  FROM flat GROUP BY query_id, vec_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC)
           AS rank
  FROM cos
)
SELECT query_id, rank::BIGINT AS rank, vec_id, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= {ANN_K}
"""


# ---------------------------------------------------------------------------
# dedup: embedding-cosine near-duplicates (all pairs >= threshold)
# ---------------------------------------------------------------------------

EMBED_DEDUP_THRESHOLD = 0.35


def q_embed_cosine_pairs(spark, sf_dir):
    """Exact near-dup pairs via the block-grid gram kernel (no
    nested-loop join; N·B shuffle rows, bounded task memory) —
    value-identical to the all-pairs theta-join it replaced; see
    embedops.embed_cosine_pairs_blocked for why exactness at this
    threshold precludes LSH/IVF pruning on this data."""
    from .embedops import embed_cosine_pairs_blocked, load_embeddings

    emb = load_embeddings(spark, sf_dir).select("vec_id", "vec")
    return embed_cosine_pairs_blocked(emb, EMBED_DEDUP_THRESHOLD)


# sub-quadratic LSH near-dup (the scale path): gate at a threshold
# with LSH margin; the oracle twin is the exact all-pairs SQL, so the
# gate asserts perfect recall of the banded candidates on this data
EMBED_LSH_THRESHOLD = 0.45


def q_embed_near_dup_lsh(spark, sf_dir):
    from .embedops import embed_near_dup_lsh, load_embeddings

    emb = load_embeddings(spark, sf_dir).select("vec_id", "vec")
    return embed_near_dup_lsh(emb, EMBED_LSH_THRESHOLD)


SQL_EMBED_COSINE_PAIRS = f"""
WITH e AS (
  SELECT vec_id::BIGINT AS vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
flat AS (
  SELECT a.vec_id AS vec_i, b.vec_id AS vec_j, unnest(a.v) AS x, unnest(b.v) AS y
  FROM e a JOIN e b ON a.vec_id < b.vec_id
),
cos AS (
  SELECT vec_i, vec_j,
         sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
  FROM flat GROUP BY vec_i, vec_j
)
SELECT vec_i, vec_j, round(c, 6) AS cosine FROM cos
WHERE c >= {EMBED_DEDUP_THRESHOLD}
"""

SQL_EMBED_NEAR_DUP_LSH = SQL_EMBED_COSINE_PAIRS.replace(
    f">= {EMBED_DEDUP_THRESHOLD}", f">= {EMBED_LSH_THRESHOLD}"
)


# ---------------------------------------------------------------------------
# dedup GROUPS: transitive closure of the near-dup pair relation with a
# deterministic keeper (min id) — the decision layer of deduplication
# ---------------------------------------------------------------------------


def q_embed_dedup_groups(spark, sf_dir):
    """Connected components over the exact embedding near-dup pairs
    (iterative min-label propagation, graphops.py) + keeper flags."""
    from .embedops import load_embeddings
    from .graphops import dedup_groups

    nodes = load_embeddings(spark, sf_dir).select("vec_id")
    pairs = q_embed_cosine_pairs(spark, sf_dir).select("vec_i", "vec_j")
    out = dedup_groups(nodes, pairs, "vec_id", "vec_i", "vec_j")
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("component").cast("long").alias("component"),
        "is_keeper",
    )


SQL_EMBED_DEDUP_GROUPS = f"""
WITH RECURSIVE pr AS (SELECT vec_i, vec_j FROM ({SQL_EMBED_COSINE_PAIRS})),
und AS (
  SELECT vec_i AS a, vec_j AS b FROM pr
  UNION
  SELECT vec_j AS a, vec_i AS b FROM pr
),
nodes AS (SELECT vec_id::BIGINT AS id FROM embeddings),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.id
)
SELECT id AS vec_id, min(r)::BIGINT AS component,
       (id = min(r)) AS is_keeper
FROM reach GROUP BY id
"""


# ---------------------------------------------------------------------------
# S3: corpus load filters (min length + first-k keep_texts)
# ---------------------------------------------------------------------------


def q_corpus_filter(spark, sf_dir):
    norm = norm_text_col(F.col("text"))
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.length(norm).cast("long").alias("n_chars_norm"))
        .filter((F.col("n_chars_norm") >= 150) & (F.col("doc_id") < 300))
    )


SQL_CORPUS_FILTER = (
    f"SELECT doc_id, length({_NORM_SQL})::BIGINT AS n_chars_norm FROM documents "
    f"WHERE length({_NORM_SQL}) >= 150 AND doc_id < 300"
)


# ---------------------------------------------------------------------------
# events: 5-minute tumbling-window aggregation (batch form of the
# streaming windowed agg; see streaming.py for the readStream variant)
# ---------------------------------------------------------------------------


def q_events_window(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn(
            "w_start", (F.floor(F.unix_timestamp("ts") / 300) * 300).cast("long")
        )
        .groupBy("w_start", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
    )


SQL_EVENTS_WINDOW = """
SELECT (floor(epoch(ts) / 300) * 300)::BIGINT AS w_start, event_type,
       count(*)::BIGINT AS n, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# non-SQL-expressible (rows-only checks): full engine paths
# ---------------------------------------------------------------------------


def q_otsu_threshold(spark, sf_dir):
    """Otsu auto-threshold over the pair-score multiset (A8): doubled
    i<j pair scores + one 1.0 diagonal per doc with >= SHINGLE_N
    tokens, 256-bin histogram, between-class-variance argmax. The SQL
    twin (SQL_OTSU_THRESHOLD) replicates np.histogram's exact
    semantics: linspace edges (i*step+lo, last edge exactly hi),
    half-open bins with the last bin closed, suffix cumsums in
    reverse order, first-max tie-break."""
    from .similarity import otsu_threshold_distributed, similarity_score_multiset

    pairs = q_tfidf_cosine_pairs(spark, sf_dir)
    n_docs_feat = (
        _tokenized_docs(spark, sf_dir)
        .select(F.size("tokens").alias("n"))
        .filter(F.col("n") >= SHINGLE_N)
        .count()
    )
    scores = similarity_score_multiset(
        pairs.select(F.col("score")), n_docs_feat
    )
    t = otsu_threshold_distributed(scores)
    return spark.createDataFrame([(float(t),)], "otsu_threshold double")


SQL_OTSU_THRESHOLD = f"""
WITH pairs AS ({SQL_TFIDF_COSINE_PAIRS}),
toks2 AS (SELECT {_TOKS_SQL} AS tk FROM documents),
scores AS (
  SELECT score FROM pairs
  UNION ALL SELECT score FROM pairs
  UNION ALL SELECT 1.0 AS score FROM toks2 WHERE len(tk) >= {SHINGLE_N}
),
mm AS (SELECT min(score) AS lo, max(score) AS hi FROM scores),
edges AS (
  SELECT i,
         CASE WHEN i = 256 THEN mm.hi
              ELSE i * ((mm.hi - mm.lo) / 256.0) + mm.lo END AS e
  FROM (SELECT unnest(generate_series(0, 256)) AS i) CROSS JOIN mm
),
vals AS (SELECT score, count(*)::DOUBLE AS cnt FROM scores GROUP BY score),
binned AS (
  SELECT least((SELECT count(*) FROM edges WHERE e <= v.score) - 1, 255) AS bin,
         sum(v.cnt) AS c
  FROM vals v GROUP BY 1
),
hist AS (
  SELECT g.i AS bin, coalesce(b.c, 0.0)::DOUBLE AS c,
         ((SELECT e FROM edges WHERE i = g.i)
          + (SELECT e FROM edges WHERE i = g.i + 1)) / 2.0 AS center
  FROM (SELECT unnest(generate_series(0, 255)) AS i) g
  LEFT JOIN binned b ON b.bin = g.i
),
cums AS (
  SELECT bin, center,
         sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS w1,
         sum(c) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS w2,
         sum(c * center) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS s1,
         sum(c * center) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS s2
  FROM hist
),
v AS (
  SELECT a.bin, a.center,
         a.w1 * b.w2 * ((a.s1 / a.w1 - b.s2 / b.w2)
                        * (a.s1 / a.w1 - b.s2 / b.w2)) AS var12
  FROM cums a JOIN cums b ON b.bin = a.bin + 1
)
SELECT center AS otsu_threshold FROM v
ORDER BY var12 DESC, bin ASC LIMIT 1
"""


def _lno_index(spark, sf_dir):
    """Memoized (serving_index, persisted segments) for the WAND gates."""
    from .config import FlameConfig
    from .fastbuild import build_serving_index

    def build():
        # scale-adaptive doc-range shard count: ~one shard per core of
        # the session (floor 8) — a constant 8 starves the segment
        # encode stage (one applyInPandas task per shard) on wide
        # sessions, and on a real cluster shards should track executor
        # width. Every gate over this index is shard-count-invariant
        # (doc-level top-k / per-term audit stats), so this is a plan
        # change, not a semantic one.
        cfg = FlameConfig(
            ngram=3, n_out=1, min_text_length=0, tokenizer="word",
            term_mode="lno",
            n_shards=max(8, int(spark.conf.get("spark.sql.shuffle.partitions"))),
        )
        # two-exchange build (segment bytes byte-equal to the general
        # path, tests/test_fastbuild.py); WAND only needs segments +
        # artifacts + stats
        serving = build_serving_index(_docs(spark, sf_dir), cfg)
        segments = serving.segments.persist()
        segments.count()
        return serving, segments

    return _memo(spark, sf_dir, "lno_index_segments", build)


def q_wand_topk_lno(spark, sf_dir):
    """Full engine path: LNO postings -> compressed segments -> block-max
    WAND top-k. Equals the exhaustive scorer (pytest-verified); WAND
    pruning is not SQL-expressible -> rows-only check."""
    from .pipeline import wand_bm25_topk

    serving, segments = _lno_index(spark, sf_dir)
    queries = [
        {"query_id": qid, "query_text": qtext} for qid, qtext in BM25_QUERIES
    ]
    return wand_bm25_topk(spark, queries, serving, segments, k=BM25_K).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.round("score", 6).alias("score"),
    )


def q_wand_dirichlet_lno(spark, sf_dir):
    """Second ranking family served from the SAME stored segment table
    as the WAND gates: LM-Dirichlet recomputed from the stored tf
    streams, with cf decoded from the query terms' segment rows and
    C/dl reconstructed once by doc_lengths_from_segments — no scoring
    input outside the index."""
    from .pipeline import query_terms_local
    from .wand import dirichlet_topk_segments, doc_lengths_from_segments

    serving, segments = _lno_index(spark, sf_dir)

    def build_dl():
        dl = doc_lengths_from_segments(segments).persist()
        dl.count()
        return dl

    dl_df = _memo(spark, sf_dir, "lno_dl_from_segments", build_dl)
    qterms = query_terms_local(
        spark,
        [{"query_id": qid, "query_text": t} for qid, t in BM25_QUERIES],
        serving,
    )
    return dirichlet_topk_segments(
        qterms, segments, dl_df, LM_MU, BM25_K
    ).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.round("score", 6).alias("score"),
    )


def q_wand_boolean_lno(spark, sf_dir):
    """Boolean retrieval at the INDEX layer: must/should/must_not
    clause texts -> LNO features -> per-shard must-intersection /
    must_not-exclusion -> block-max WAND over the surviving candidates
    (wand.wand_boolean). Fully SQL-expressible, so unlike the plain
    WAND gate it gets a complete value oracle: exhaustive boolean BM25
    over the same LNO term space."""
    from .pipeline import wand_boolean_topk

    serving, segments = _lno_index(spark, sf_dir)
    return wand_boolean_topk(
        spark, BOOL_LNO_QUERIES, serving, segments, k=BM25_K
    ).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.round("score", 6).alias("score"),
    )


def _sql_wand_boolean_lno():
    """Oracle twin for the boolean-WAND engine path: exhaustive BM25
    over the LNO(3,1) term space restricted to docs holding EVERY must
    feature and NO must_not feature. Same contract scope as
    _sql_wand_lno (simple-norm twin, coincides on committed corpora)."""
    vals = []
    for q in BOOL_LNO_QUERIES:
        for clause in ("must", "should", "must_not"):
            for i, t in enumerate(_qtoks(q.get(clause) or "")):
                vals.append(f"('{q['query_id']}', '{clause}', {i}, '{t}')")
    values = ",\n    ".join(vals)
    allq = ",".join(f"('{q['query_id']}')" for q in BOOL_LNO_QUERIES)
    return f"""
WITH {_LNO_CTES},
p AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM feats GROUP BY doc_id, term),
dl AS (SELECT doc_id, (3 * greatest(len(tk) - 2, 0))::DOUBLE AS dl FROM toks),
st AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM p GROUP BY term),
qtok(query_id, clause, qpos, tok) AS (VALUES
    {values}),
qids AS (
  SELECT q.query_id, q.clause, q.qpos, vocab.tid
  FROM qtok q JOIN vocab USING (tok)
),
qseq AS (
  SELECT query_id, clause, tid::HUGEINT AS tid,
         row_number() OVER (PARTITION BY query_id, clause ORDER BY qpos) AS rn
  FROM qids
),
qtrip AS (
  SELECT a.query_id, a.clause, a.tid AS t0, b.tid AS t1, c.tid AS t2
  FROM qseq a
  JOIN qseq b ON b.query_id = a.query_id AND b.clause = a.clause AND b.rn = a.rn + 1
  JOIN qseq c ON c.query_id = a.query_id AND c.clause = a.clause AND c.rn = a.rn + 2
),
qfeats AS (
  SELECT query_id, clause, ((t0 + (SELECT v FROM vc) * t1) % {MOD})::BIGINT AS term FROM qtrip
  UNION ALL
  SELECT query_id, clause, ((t0 + (SELECT v FROM vc) * t2) % {MOD})::BIGINT FROM qtrip
  UNION ALL
  SELECT query_id, clause, ((t1 + (SELECT v FROM vc) * t2) % {MOD})::BIGINT FROM qtrip
),
q AS (
  SELECT query_id, clause, term, count(*)::DOUBLE AS qtf
  FROM qfeats GROUP BY query_id, clause, term
),
nmust AS (
  SELECT query_id, count(DISTINCT term) AS n_must
  FROM q WHERE clause = 'must' GROUP BY query_id
),
allq(query_id) AS (VALUES {allq}),
nm AS (
  SELECT allq.query_id, coalesce(nmust.n_must, 0) AS n_must
  FROM allq LEFT JOIN nmust USING (query_id)
),
contrib AS (
  SELECT q.query_id, p.doc_id,
         q.qtf * (ln((st.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
           * (p.tf * ({BM25_K1} + 1.0)
              / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)))) AS c
  FROM q
  JOIN dfr USING (term)
  JOIN p USING (term)
  JOIN dl ON dl.doc_id = p.doc_id
  CROSS JOIN st
  WHERE q.clause <> 'must_not'
),
scores AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
mc AS (
  SELECT q.query_id, p.doc_id, count(DISTINCT q.term) AS mh
  FROM q JOIN p USING (term) WHERE q.clause = 'must'
  GROUP BY q.query_id, p.doc_id
),
neg AS (
  SELECT DISTINCT q.query_id, p.doc_id
  FROM q JOIN p USING (term) WHERE q.clause = 'must_not'
),
cand AS (
  SELECT s.query_id, s.doc_id, s.score
  FROM scores s
  JOIN nm USING (query_id)
  LEFT JOIN mc ON mc.query_id = s.query_id AND mc.doc_id = s.doc_id
  WHERE coalesce(mc.mh, 0) = nm.n_must
    AND NOT EXISTS (
      SELECT 1 FROM neg
      WHERE neg.query_id = s.query_id AND neg.doc_id = s.doc_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM cand
)
SELECT query_id, rank::BIGINT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {BM25_K}
"""


SQL_WAND_BOOLEAN_LNO = _sql_wand_boolean_lno()


def q_wand_boolean_serve(spark, sf_dir):
    """Batched boolean SERVING: the shard-partitioned segment cache
    scored by one job for the whole boolean query set. Defined to
    equal the distributed boolean gate, so it shares the exhaustive
    boolean-BM25 oracle — cache layout, shared decode, candidate
    gating and driver merge are value-checked end to end."""
    from .pipeline import wand_boolean_serve_batch
    from .wand import segments_for_serving

    serving, segments = _lno_index(spark, sf_dir)

    def build():
        n = max(8, int(spark.conf.get("spark.sql.shuffle.partitions")))
        return segments_for_serving(segments, n)

    cache = _memo(spark, sf_dir, "lno_serve_cache", build)
    rows = wand_boolean_serve_batch(BOOL_LNO_QUERIES, serving, cache, k=BM25_K)
    return spark.createDataFrame(
        rows, "query_id string, rank long, doc_id long, score double"
    ).select(
        "query_id", "rank", "doc_id", F.round("score", 6).alias("score")
    )


def q_wand_serve_batch(spark, sf_dir):
    """Batch SERVING path: the shard-partitioned, term-sorted segment
    cache (wand.segments_for_serving) scored by ONE job for the whole
    reference query set (pipeline.wand_bm25_serve_batch — posting lists
    decoded once per shard and shared across queries). Output is
    defined to equal the distributed WAND gate, so it shares the SAME
    exhaustive-BM25 DuckDB oracle — the serving stack is value-checked
    end to end, not just against its sibling path."""
    from .pipeline import wand_bm25_serve_batch
    from .wand import segments_for_serving

    serving, segments = _lno_index(spark, sf_dir)

    def build():
        n = max(8, int(spark.conf.get("spark.sql.shuffle.partitions")))
        return segments_for_serving(segments, n)

    cache = _memo(spark, sf_dir, "lno_serve_cache", build)
    queries = [
        {"query_id": qid, "query_text": qtext} for qid, qtext in BM25_QUERIES
    ]
    rows = wand_bm25_serve_batch(queries, serving, cache, k=BM25_K)
    # F.round, not Python round: the oracle compares against Spark's
    # HALF_UP semantics (same rounding the sibling WAND gate uses)
    return spark.createDataFrame(
        rows, "query_id string, rank long, doc_id long, score double"
    ).select(
        "query_id", "rank", "doc_id", F.round("score", 6).alias("score")
    )


def q_ann_ivf(spark, sf_dir):
    """IVF ANN — the scale path (k-means coarse quantizer + probe top
    clusters + exact rerank); recall-validated vs brute force in
    pytest. The trained quantizer is not SQL-expressible -> rows-only."""
    from .embedops import cosine_topk_ivf, load_embeddings

    emb = load_embeddings(spark, sf_dir)
    out = cosine_topk_ivf(emb, ANN_QUERY_IDS, k=ANN_K, n_probe=6)
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "cosine"
    )



def _staged_dir(tag_prefix: str, tag: str, build) -> str:
    """Crash-safe /tmp staging for the streaming gates: ``build`` fills
    a temp dir which is renamed into place atomically — a crash mid-
    stage can never leave a half-staged dir that later runs serve as
    complete (the bare isdir fast-path would)."""
    import os
    import shutil
    import uuid

    stage_dir = f"/tmp/{tag_prefix}_{tag}"
    if os.path.isdir(stage_dir):
        return stage_dir
    tmp = f"{stage_dir}.tmp.{uuid.uuid4().hex[:6]}"
    os.makedirs(tmp)
    try:
        build(tmp)
        os.rename(tmp, stage_dir)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(stage_dir):  # not the lost-race case
            raise
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return stage_dir


def q_stream_events_window(spark, sf_dir):
    """Structured Streaming variant of events_window5m: readStream over
    the events table (staged into a directory — single files cannot be
    stream sources), watermarked 5-minute tumbling windows, driven to
    completion with the memory sink. Output is identical to the batch
    query, so it shares the SAME DuckDB oracle — the streaming path is
    value-checked, not just rows-only."""
    import hashlib
    import os
    import shutil

    src = f"{sf_dir}/events.parquet"
    st = os.stat(src)
    # key the staged copy by source identity AND content version
    # (mtime+size) so a regenerated events table is re-staged, never
    # silently served stale
    tag = hashlib.md5(
        f"{sf_dir}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:8]
    stage_dir = _staged_dir(
        "flame_stream_events", tag, lambda d: shutil.copy(src, d)
    )

    from .streaming import windowed_event_counts

    agg = windowed_event_counts(spark, stage_dir)
    import uuid

    qname = f"ev_win_{tag}_{uuid.uuid4().hex[:6]}"  # re-runnable in-session
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .start()
    )
    q.processAllAvailable()
    out = spark.table(qname).select(
        F.unix_timestamp("w_start").cast("long").alias("w_start"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("sum_value", 6).alias("sum_value"),
    )
    # materialize before stopping the stream (memory sink is session-live,
    # but freeze the result to be safe)
    rows = out.collect()
    q.stop()
    return spark.createDataFrame(
        rows, "w_start long, event_type string, n long, sum_value double"
    )


def q_stream_user_state(spark, sf_dir):
    """Custom STATEFUL streaming operator under the gate: per-user
    running (n_events, sum_value) via applyInPandasWithState, fed in 3
    microbatches (events split by event_id mod 3, so every user's state
    must carry across batches); the FINAL emission per user must equal
    a batch GROUP BY — the shared SQL oracle."""
    import hashlib
    import os
    import uuid

    from .streaming import user_event_state_stream

    src = f"{sf_dir}/events.parquet"
    st = os.stat(src)
    tag = hashlib.md5(
        f"ustate|{sf_dir}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:8]
    def _build_user_stage(d):
        ev = spark.read.parquet(src)
        for i in range(3):
            ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).coalesce(
                1
            ).write.mode("overwrite").parquet(f"{d}/part{i}.parquet")

    stage_dir = _staged_dir("flame_stream_user", tag, _build_user_stage)

    agg = user_event_state_stream(spark, f"{stage_dir}/*")
    qname = f"user_state_{tag}_{uuid.uuid4().hex[:6]}"
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(qname)
        .start()
    )
    q.processAllAvailable()
    rows = spark.table(qname).collect()
    q.stop()
    final: dict = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["sum_value"])
    return spark.createDataFrame(
        [
            (int(u), int(n), float(round(s, 6)))
            for u, (n, s) in final.items()
        ],
        "user_id long, n_events long, sum_value double",
    )


SQL_STREAM_USER_STATE = """
SELECT user_id::BIGINT AS user_id, count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY user_id
"""


def _three_turn_stage(spark, sf_dir) -> tuple[str, str]:
    """Staged 3-turn conversations derived from the documents table
    (text split into floor-thirds; one file per turn_idx so the turns
    arrive in separate microbatches under maxFilesPerTrigger=1).
    Shared by the streaming gates. -> (stage_dir, tag)."""
    import hashlib
    import os

    src = f"{sf_dir}/documents.parquet"
    st = os.stat(src)
    tag = hashlib.md5(
        f"cstate|{sf_dir}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:8]
    def _build_conv_stage(dest):
        d = _docs(spark, sf_dir).select(
            F.format_string("c%08d", F.col("doc_id").cast("int")).alias(
                "conv_id"
            ),
            "text",
            (F.length("text").cast("int") / 3).cast("int").alias("third"),
        )
        turns = d.select(
            "conv_id",
            F.lit(0).alias("turn_idx"),
            F.expr("substring(text, 1, third)").alias("text"),
        ).unionByName(
            d.select(
                "conv_id",
                F.lit(1).alias("turn_idx"),
                F.expr("substring(text, third + 1, third)").alias("text"),
            )
        ).unionByName(
            d.select(
                "conv_id",
                F.lit(2).alias("turn_idx"),
                F.expr("substring(text, 2 * third + 1)").alias("text"),
            )
        ).select(
            "conv_id",
            "turn_idx",
            F.lit("user").alias("role"),
            "text",
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        for i in range(3):
            turns.filter(F.col("turn_idx") == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{dest}/turn{i}.parquet")

    return _staged_dir("flame_stream_conv", tag, _build_conv_stage), tag


def q_stream_conv_state(spark, sf_dir):
    """Gate for ``conversation_state_stream`` (the per-conversation
    stateful operator): each document becomes a 3-turn conversation
    (text split into thirds), the three turns arrive in three separate
    microbatches (staged by turn_idx, maxFilesPerTrigger=1), so every
    conversation's state MUST carry across batches; the final emission
    per conversation must equal the batch ground truth (SQL oracle)."""
    import uuid

    from .streaming import conversation_state_stream

    stage_dir, tag = _three_turn_stage(spark, sf_dir)
    agg = conversation_state_stream(spark, f"{stage_dir}/*")
    qname = f"conv_state_{tag}_{uuid.uuid4().hex[:6]}"
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(qname)
        .start()
    )
    q.processAllAvailable()
    rows = spark.table(qname).collect()
    q.stop()
    final: dict = {}
    for r in rows:
        cur = final.get(r["conv_id"])
        if cur is None or r["n_turns"] > cur[0]:
            final[r["conv_id"]] = (
                r["n_turns"], r["n_chars"], r["max_turn_idx"]
            )
    return spark.createDataFrame(
        [
            (c, int(nt), int(nc), int(mt))
            for c, (nt, nc, mt) in final.items()
        ],
        "conv_id string, n_turns long, n_chars long, max_turn_idx int",
    )


# batch ground truth: 3 turns per document, turn chars sum to the two
# floor-thirds plus the remainder = the full text length
SQL_STREAM_CONV_STATE = """
SELECT printf('c%08d', doc_id::INT) AS conv_id,
       3::BIGINT AS n_turns,
       length(text)::BIGINT AS n_chars,
       2::INT AS max_turn_idx
FROM documents
"""


def q_stream_percolate(spark, sf_dir):
    """Gate for ``streaming.percolate_stream``: the stored-query
    registry routed against the staged 3-turn conversation stream
    (one microbatch per turn file), checked against a full SQL
    percolation oracle over the same derived turns."""
    from .streaming import run_percolate_stream_once

    stage_dir, _tag = _three_turn_stage(spark, sf_dir)
    rows, _n = run_percolate_stream_once(
        spark, f"{stage_dir}/*", STREAM_PERC_QUERIES,
        query_name=f"perc_{_tag}",
    )
    return spark.createDataFrame(
        [(r["query_id"], r["conv_id"], int(r["turn_idx"])) for r in rows]
        or [("__none__", "__none__", -1)],
        "query_id string, conv_id string, turn_idx int",
    ).where(F.col("turn_idx") >= 0)


def _sql_stream_percolate():
    from .searchops import normalize_stored_queries

    rows = []
    for q in normalize_stored_queries(STREAM_PERC_QUERIES):
        rows.extend(
            f"('{q['query_id']}', '{t}', '{c}', {len(q['must'])}, "
            f"{q['min_should']})"
            for t, c in q["clause_of"].items()
        )
    values = ",\n    ".join(rows)
    toks_t = _TOKS_SQL.replace("(text,", "(t,")
    return f"""
WITH base AS (
  SELECT printf('c%08d', doc_id::INT) AS conv_id, text,
         (length(text) // 3)::INT AS third
  FROM documents
),
turns AS (
  SELECT conv_id, 0 AS turn_idx, substring(text, 1, third) AS t FROM base
  UNION ALL
  SELECT conv_id, 1, substring(text, third + 1, third) FROM base
  UNION ALL
  SELECT conv_id, 2, substring(text, 2 * third + 1) FROM base
),
dt AS (
  SELECT DISTINCT conv_id, turn_idx, term
  FROM (SELECT conv_id, turn_idx, unnest({toks_t}) AS term FROM turns)
),
q(query_id, term, clause, n_must, min_should) AS (VALUES
    {values}),
a AS (
  SELECT q.query_id, dt.conv_id, dt.turn_idx,
         count(CASE WHEN q.clause = 'must' THEN 1 END) AS mh,
         count(CASE WHEN q.clause = 'should' THEN 1 END) AS sh,
         count(CASE WHEN q.clause = 'must_not' THEN 1 END) AS ng,
         any_value(q.n_must) AS n_must,
         any_value(q.min_should) AS min_should
  FROM dt JOIN q USING (term) GROUP BY 1, 2, 3
)
SELECT query_id, conv_id, turn_idx::INT AS turn_idx FROM a
WHERE mh = n_must AND sh >= min_should AND ng = 0
"""


SQL_STREAM_PERCOLATE = _sql_stream_percolate()


def q_autotune(spark, sf_dir):
    """§2.11 auto-tune grid search over the documents corpus (word
    tokens): returns the selected (ngram, n_out) + SNR. Deterministic
    (seeded noise protocol); not SQL-expressible -> rows-only."""
    from .autotune import auto_tune

    docs = (
        _docs(spark, sf_dir)
        .withColumn("tokens", word_tokens_col(F.col("text")))
        .select("doc_id", "tokens")
        .orderBy("doc_id")
        .limit(30)
        .collect()
    )
    sample = [list(r["tokens"]) for r in docs]
    encoder = {
        t: i for i, t in enumerate(sorted({x for s in sample for x in s}))
    }
    ng, no, snr = auto_tune(sample, encoder, 6, 1)
    return spark.createDataFrame(
        [(int(ng), int(no), float(round(snr, 6)))],
        "best_ngram int, best_n_out int, snr double",
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing (binary columns + typed metadata + pooled
    image features over mapInPandas); media blobs are synthesized
    deterministically (no media tables in testdata) -> rows-only."""
    from .multimodal import image_features, synthetic_media_df

    media = synthetic_media_df(spark, 90)
    feats = image_features(media)
    return feats.select(
        "media_id",
        F.size("features").cast("long").alias("n_features"),
        F.round(
            F.aggregate("features", F.lit(0.0), lambda a, x: a + x)
            / F.size("features"),
            6,
        ).alias("mean_feature"),
    )


def q_bpe_tokens(spark, sf_dir):
    """BPE subword tokenization of documents (T2/T3) — the trained-model
    path; BPE training is not SQL-expressible -> rows-only."""
    from .bpe import train_bpe
    from .corpus import make_bpe_tokenize_udf

    docs = _docs(spark, sf_dir)
    sample = [
        r["t"]
        for r in docs.select(norm_text_col(F.col("text")).alias("t"))
        .orderBy("doc_id").limit(2000).collect()
    ]
    model = train_bpe(sample, 800)
    bc = spark.sparkContext.broadcast(model)
    tok = make_bpe_tokenize_udf(bc)
    return docs.select(
        "doc_id",
        F.size(tok(norm_text_col(F.col("text")))).cast("long").alias("n_subwords"),
    )


# ---------------------------------------------------------------------------
# training-set curation: decontamination, repetition filter, PII
# redaction, deterministic stratified sampling
# ---------------------------------------------------------------------------

#: eval set = doc_id % 43 == 0 (deterministic stand-in for a benchmark
#: suite); threshold calibrated so the sf0.01 corpus yields BOTH flag
#: values (overlap_frac median 0.022, q75 0.037, max 0.989)
DECON_EVAL_MOD = 43
DECON_THRESHOLD = 0.05
#: repetition thresholds likewise straddle the corpus distribution
#: (top2 median 0.033 / max 0.167; dup3 mostly 0 / max 0.143)
REP_TOP2_THRESHOLD = 0.06
REP_DUP3_THRESHOLD = 0.05
#: parts-per-1000 keep rates by the corpus lang column (domain mixing)
STRATA_RATES = {"en": 800, "de": 600, "fr": 500, "es": 400, "zh": 250}
STRATA_DEFAULT_RATE = 100
STRATA_DENOM = 1000


def q_decontaminate(spark, sf_dir):
    from .textops import decontamination

    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
    tr = docs.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    out = decontamination(tr, ev, n=3, threshold=DECON_THRESHOLD)
    return out.select(
        "doc_id", "n_shingles", "n_overlap", "overlap_frac",
        F.col("contaminated").cast("long").alias("contaminated"),
    )


SQL_DECONTAMINATE = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
sh AS (SELECT DISTINCT doc_id, tk[s] || ' ' || tk[s+1] || ' ' || tk[s+2] AS shingle
       FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(s)
       WHERE len(tk) >= 3),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECON_EVAL_MOD} = 0),
tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % {DECON_EVAL_MOD} <> 0),
agg AS (SELECT tr.doc_id, count(*)::BIGINT AS n_shingles,
               sum(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                 AS n_overlap
        FROM tr LEFT JOIN ev USING (shingle) GROUP BY tr.doc_id)
SELECT d.doc_id, coalesce(n_shingles, 0)::BIGINT AS n_shingles,
       coalesce(n_overlap, 0)::BIGINT AS n_overlap,
       round(CASE WHEN coalesce(n_shingles, 0) > 0
                  THEN n_overlap / n_shingles::DOUBLE ELSE 0.0 END, 6)
         AS overlap_frac,
       (CASE WHEN coalesce(n_shingles, 0) > 0
                  AND n_overlap / n_shingles::DOUBLE >= {DECON_THRESHOLD}
             THEN 1 ELSE 0 END)::BIGINT AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {DECON_EVAL_MOD} <> 0) d
LEFT JOIN agg ON agg.doc_id = d.doc_id
"""


def q_repetition(spark, sf_dir):
    from .textops import repetition_scores

    out = repetition_scores(
        _docs(spark, sf_dir),
        top2_threshold=REP_TOP2_THRESHOLD,
        dup3_threshold=REP_DUP3_THRESHOLD,
    )
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "uniq_token_ratio", "top2gram_frac", "dup3gram_frac",
        F.col("repetitive").cast("long").alias("repetitive"),
    )


SQL_REPETITION = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
base AS (SELECT doc_id, len(tk)::BIGINT AS n_tokens,
                len(list_distinct(tk))::BIGINT AS n_distinct FROM toks),
g2 AS (SELECT doc_id, tk[s] || ' ' || tk[s+1] AS g
       FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS u(s)
       WHERE len(tk) >= 2),
c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
a2 AS (SELECT doc_id, sum(c) AS t2, max(c) AS m2 FROM c2 GROUP BY 1),
g3 AS (SELECT doc_id, tk[s] || ' ' || tk[s+1] || ' ' || tk[s+2] AS g
       FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(s)
       WHERE len(tk) >= 3),
c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
a3 AS (SELECT doc_id, sum(c) AS t3,
              sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS d3 FROM c3 GROUP BY 1)
SELECT b.doc_id, b.n_tokens,
  round(CASE WHEN b.n_tokens > 0 THEN b.n_distinct / b.n_tokens::DOUBLE
             ELSE 0.0 END, 6) AS uniq_token_ratio,
  round(CASE WHEN coalesce(t2, 0) > 0 THEN m2 / t2::DOUBLE ELSE 0.0 END, 6)
    AS top2gram_frac,
  round(CASE WHEN coalesce(t3, 0) > 0 THEN d3 / t3::DOUBLE ELSE 0.0 END, 6)
    AS dup3gram_frac,
  (CASE WHEN (CASE WHEN coalesce(t2, 0) > 0 THEN m2 / t2::DOUBLE ELSE 0.0 END)
               > {REP_TOP2_THRESHOLD}
          OR (CASE WHEN coalesce(t3, 0) > 0 THEN d3 / t3::DOUBLE ELSE 0.0 END)
               > {REP_DUP3_THRESHOLD}
        THEN 1 ELSE 0 END)::BIGINT AS repetitive
FROM base b LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
"""


def _pii_synth_col():
    """Deterministic synthetic PII appended to each doc (the corpus
    itself contains none, and the testdata is read-only): one email,
    one IPv4, one phone per doc, plus a second email on every 4th doc
    so the counts aren't constant."""
    d = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" contact u"), d.cast("string"), F.lit("@example.com at 10."),
        (d % 256).cast("string"), F.lit(".0.1 tel 555-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.when(d % 4 == 0, F.lit(" cc bob.smith+x@test.org")).otherwise(F.lit("")),
    )


def q_pii_redact(spark, sf_dir):
    from .textops import pii_redact

    docs = _docs(spark, sf_dir).select("doc_id", _pii_synth_col().alias("text"))
    return pii_redact(docs)


def _sql_pii():
    """The oracle chains the same rules over the same synthesized text;
    each count is taken on the text as it stood before that rule."""
    from .textops import PII_RULES

    synth = (
        "text || ' contact u' || doc_id::VARCHAR || '@example.com at 10.'"
        " || (doc_id % 256)::VARCHAR || '.0.1 tel 555-'"
        " || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
        " || CASE WHEN doc_id % 4 = 0 THEN ' cc bob.smith+x@test.org'"
        " ELSE '' END"
    )
    cur, cols = synth, []
    for name, pat, repl in PII_RULES:
        p = pat.replace("'", "''")
        cols.append(f"len(regexp_extract_all({cur}, '{p}'))::BIGINT AS n_{name}")
        cur = f"regexp_replace({cur}, '{p}', '{repl}', 'g')"
    return f"SELECT doc_id, {', '.join(cols)}, {cur} AS redacted FROM documents"


SQL_PII_REDACT = _sql_pii()


def q_stratified_sample(spark, sf_dir):
    from .textops import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir, "lang"),
        STRATA_RATES, STRATA_DEFAULT_RATE, denom=STRATA_DENOM,
    )


_STRATA_CASE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(STRATA_RATES.items()))
    + f" ELSE {STRATA_DEFAULT_RATE} END"
)

SQL_STRATIFIED_SAMPLE = f"""
WITH base AS (SELECT doc_id, lang, {_NORM_SQL} AS norm FROM documents),
fp AS (SELECT doc_id, lang,
  ('0x' || substring(md5(norm), 1, 8))::BIGINT % {STRATA_DENOM} AS bucket
  FROM base)
SELECT doc_id, stratum, bucket, keep_rate FROM (
  SELECT doc_id, lang AS stratum, bucket,
         ({_STRATA_CASE_SQL})::BIGINT AS keep_rate
  FROM fp
) WHERE bucket < keep_rate
"""


# ---------------------------------------------------------------------------
# conversation assembly (transcript payload: turns -> docs -> windows)
# ---------------------------------------------------------------------------

#: context-window chunking knobs for the gate (chars); the sf0.01 docs
#: assemble to a few KB, so every conversation yields several windows
#: including a short tail chunk
CONV_WINDOW = 500
CONV_STRIDE = 400


def _conv_turns(spark, sf_dir):
    """Deterministic transcript-shaped derivation of the documents
    table (the oracle views only cover the testdata tables): each
    document becomes a 3-turn user/assistant/user conversation via
    floor-third substrings — same derivation as the streaming
    conv-state gate, with varied roles so role tags are exercised.
    NOTE: floor-division before the INT cast on BOTH sides (DuckDB
    casts double->INT by ROUNDING, Spark truncates)."""
    d = _docs(spark, sf_dir).select(
        F.format_string("c%08d", F.col("doc_id").cast("int")).alias("conv_id"),
        "text",
        F.floor(F.length("text") / 3).cast("int").alias("third"),
    )

    def turn(i, role, expr):
        return d.select(
            "conv_id",
            F.lit(i).alias("turn_idx"),
            F.lit(role).alias("role"),
            F.expr(expr).alias("text"),
        )

    return (
        turn(0, "user", "substring(text, 1, third)")
        .unionByName(turn(1, "assistant", "substring(text, third + 1, third)"))
        .unionByName(turn(2, "user", "substring(text, 2 * third + 1)"))
    )


_CONV_TURNS_SQL = """
d AS (SELECT printf('c%08d', doc_id::INT) AS conv_id, text,
             (length(text) // 3)::INT AS third FROM documents),
turns AS (
  SELECT conv_id, 0 AS turn_idx, 'user' AS role,
         substring(text, 1, third) AS text FROM d
  UNION ALL
  SELECT conv_id, 1, 'assistant', substring(text, third + 1, third) FROM d
  UNION ALL
  SELECT conv_id, 2, 'user', substring(text, 2 * third + 1) FROM d),
conv_docs AS (
  SELECT conv_id,
         string_agg(role || ': ' || coalesce(text, ''), chr(10)
                    ORDER BY turn_idx) AS doc,
         count(*)::BIGINT AS n_turns
  FROM turns GROUP BY conv_id)
"""


def q_conv_docs(spark, sf_dir):
    from .convops import conversation_docs

    return conversation_docs(_conv_turns(spark, sf_dir))


SQL_CONV_DOCS = f"""
WITH {_CONV_TURNS_SQL}
SELECT conv_id, n_turns, length(doc)::BIGINT AS n_chars, doc FROM conv_docs
"""


def q_conv_windows(spark, sf_dir):
    from .convops import conversation_docs, conversation_windows

    return conversation_windows(
        conversation_docs(_conv_turns(spark, sf_dir)),
        window=CONV_WINDOW,
        stride=CONV_STRIDE,
    )


SQL_CONV_WINDOWS = f"""
WITH {_CONV_TURNS_SQL}
SELECT conv_id,
       ((u.s - 1) // {CONV_STRIDE})::INT AS window_idx,
       u.s::BIGINT AS "start",
       length(substring(doc, u.s, {CONV_WINDOW}))::BIGINT AS n_chars,
       substring(doc, u.s, {CONV_WINDOW}) AS chunk
FROM conv_docs,
     UNNEST(generate_series(1, greatest(length(doc), 1), {CONV_STRIDE}))
       AS u(s)
"""


# ---------------------------------------------------------------------------
# structured search: boolean / phrase / prefix-suggest (searchops.py)
# ---------------------------------------------------------------------------


def _word_index(spark, sf_dir):
    """Shared word-token index bundle for the structured-search gates:
    (postings, dl, stats_df, stats) — built once per session/sf_dir.
    Deliberately separate from q_bm25_topk's un-memoized build so the
    long-green j6 gate's plan and timing are untouched."""

    def build():
        from .postings import (
            build_postings, corpus_stats, doc_lengths, term_stats,
        )

        docs = _tokenized_docs(spark, sf_dir)
        postings = build_postings(docs, "tokens").persist()
        dl = doc_lengths(docs, "tokens").persist()
        stats_df = term_stats(postings).persist()
        stats = corpus_stats(dl)
        return postings, dl, stats_df, stats

    return _memo(spark, sf_dir, "word_index", build)


def q_boolean_topk(spark, sf_dir):
    from .searchops import boolean_topk

    postings, dl, stats_df, stats = _word_index(spark, sf_dir)
    rows = [(qid, t, c) for qid, terms in BOOL_QUERIES for t, c in terms]
    return boolean_topk(
        rows, postings, dl, stats_df, stats, BM25_K1, BM25_B, SEARCH_K
    )


def _sql_boolean():
    qvals = ",\n    ".join(
        f"('{qid}', '{t}', '{c}')"
        for qid, terms in BOOL_QUERIES
        for t, c in terms
    )
    nmvals = ",\n    ".join(
        f"('{qid}', {sum(1 for _, c in terms if c == 'must')})"
        for qid, terms in BOOL_QUERIES
    )
    return f"""
WITH {_BM25_PROLOG},
q(query_id, term, clause) AS (VALUES
    {qvals}),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         (ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)))) AS c
  FROM q
  JOIN df USING (term)
  JOIN tf USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st
  WHERE q.clause <> 'must_not'
),
scores AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
mh AS (
  SELECT q.query_id, tf.doc_id, count(DISTINCT tf.term) AS mh
  FROM q JOIN tf USING (term) WHERE q.clause = 'must'
  GROUP BY q.query_id, tf.doc_id
),
nm(query_id, n_must) AS (VALUES
    {nmvals}),
neg AS (
  SELECT DISTINCT q.query_id, tf.doc_id
  FROM q JOIN tf USING (term) WHERE q.clause = 'must_not'
),
cand AS (
  SELECT s.query_id, s.doc_id, s.score
  FROM scores s
  JOIN nm USING (query_id)
  LEFT JOIN mh ON mh.query_id = s.query_id AND mh.doc_id = s.doc_id
  WHERE coalesce(mh.mh, 0) = nm.n_must
    AND NOT EXISTS (
      SELECT 1 FROM neg
      WHERE neg.query_id = s.query_id AND neg.doc_id = s.doc_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM cand
)
SELECT query_id, rank::BIGINT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {SEARCH_K}
"""


SQL_BOOLEAN_TOPK = _sql_boolean()


def q_phrase_topk(spark, sf_dir):
    from .searchops import phrase_topk

    docs = _tokenized_docs(spark, sf_dir)
    return phrase_topk(
        PHRASE_QUERIES, docs.select("doc_id", "tokens"), SEARCH_K
    )


def _sql_phrase():
    qvals = ",\n    ".join(
        f"('{qid}', '{w}', {off}, {len(ws)})"
        for qid, ws in PHRASE_QUERIES
        for off, w in enumerate(ws)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
pos AS (
  SELECT doc_id, u.i::INT - 1 AS pos, tk[u.i::INT] AS term
  FROM toks, UNNEST(range(1, len(tk) + 1)) AS u(i)
),
q(query_id, term, off, n) AS (VALUES
    {qvals}),
m AS (
  SELECT q.query_id, pos.doc_id, pos.pos - q.off AS st, q.off, q.n
  FROM pos JOIN q USING (term)
  WHERE pos.pos - q.off >= 0
),
occ AS (
  SELECT query_id, doc_id, st, n, count(DISTINCT off) AS hits
  FROM m GROUP BY query_id, doc_id, st, n
),
ptf AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS phrase_tf
  FROM occ WHERE hits = n GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, phrase_tf,
         row_number() OVER (PARTITION BY query_id ORDER BY phrase_tf DESC, doc_id ASC) AS rank
  FROM ptf
)
SELECT query_id, rank::BIGINT AS rank, doc_id, phrase_tf
FROM ranked WHERE rank <= {SEARCH_K}
"""


SQL_PHRASE_TOPK = _sql_phrase()


def q_prefix_suggest(spark, sf_dir):
    from .searchops import prefix_suggest

    _postings, _dl, stats_df, _stats = _word_index(spark, sf_dir)
    return prefix_suggest(SUGGEST_PREFIXES, stats_df, SEARCH_K)


def _sql_suggest():
    pvals = ",".join(f"('{p}')" for p in SUGGEST_PREFIXES)
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
tf AS (
  SELECT doc_id, term
  FROM (SELECT doc_id, unnest(tk) AS term FROM toks) GROUP BY doc_id, term
),
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
p(prefix) AS (VALUES {pvals}),
cand AS (
  SELECT p.prefix, v.term, v.df
  FROM vocab v JOIN p ON substr(v.term, 1, length(p.prefix)) = p.prefix
),
ranked AS (
  SELECT prefix, term, df,
         row_number() OVER (PARTITION BY prefix ORDER BY df DESC, term ASC) AS rank
  FROM cand
)
SELECT prefix, rank::BIGINT AS rank, term, df
FROM ranked WHERE rank <= {SEARCH_K}
"""


SQL_PREFIX_SUGGEST = _sql_suggest()


# ---------------------------------------------------------------------------
# fuzzy search: SymSpell expansion + typo-tolerant BM25 (searchops.py)
# ---------------------------------------------------------------------------


def q_fuzzy_expand(spark, sf_dir):
    from .searchops import fuzzy_expand

    _postings, _dl, stats_df, _stats = _word_index(spark, sf_dir)
    rows = [(qid, t) for qid, ts in FUZZY_QUERIES for t in ts]
    return fuzzy_expand(rows, stats_df)


def _sql_fuzzy_expand():
    qvals = ",\n    ".join(
        f"('{qid}', '{t}')" for qid, ts in FUZZY_QUERIES for t in ts
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
tf AS (
  SELECT doc_id, term
  FROM (SELECT doc_id, unnest(tk) AS term FROM toks) GROUP BY doc_id, term
),
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
q(query_id, qterm) AS (VALUES
    {qvals})
SELECT q.query_id, q.qterm, v.term,
       levenshtein(q.qterm, v.term)::BIGINT AS dist, v.df
FROM q JOIN vocab v ON levenshtein(q.qterm, v.term) <= 1
"""


SQL_FUZZY_EXPAND = _sql_fuzzy_expand()


def q_fuzzy_topk(spark, sf_dir):
    from .searchops import fuzzy_topk

    postings, dl, stats_df, stats = _word_index(spark, sf_dir)
    rows = [(qid, t) for qid, ts in FUZZY_QUERIES for t in ts]
    return fuzzy_topk(
        rows, postings, dl, stats_df, stats, BM25_K1, BM25_B, SEARCH_K
    )


def _sql_fuzzy_topk():
    qvals = ",\n    ".join(
        f"('{qid}', '{t}')" for qid, ts in FUZZY_QUERIES for t in ts
    )
    return f"""
WITH {_BM25_PROLOG},
q(query_id, qterm) AS (VALUES
    {qvals}),
exp AS (
  SELECT DISTINCT q.query_id, v.term
  FROM q JOIN df v ON levenshtein(q.qterm, v.term) <= 1
),
contrib AS (
  SELECT e.query_id, tf.doc_id,
         (ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)))) AS c
  FROM exp e
  JOIN df USING (term)
  JOIN tf USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st
),
scores AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scores
)
SELECT query_id, rank::BIGINT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {SEARCH_K}
"""


SQL_FUZZY_TOPK = _sql_fuzzy_topk()


# ---------------------------------------------------------------------------
# BM25F: role-weighted conversation ranking (searchops.py)
# ---------------------------------------------------------------------------


def q_bm25f_roles(spark, sf_dir):
    from .searchops import bm25f_topk

    turn_tokens = _conv_turns(spark, sf_dir).select(
        "conv_id", "role", word_tokens_col(F.col("text")).alias("tokens")
    )
    return bm25f_topk(
        _bm25_qrows(), turn_tokens, BM25F_ROLE_WEIGHTS, BM25_K1, BM25_B,
        SEARCH_K,
    )


def _sql_bm25f():
    qvals = ",\n    ".join(
        f"('{qid}', '{t}', {c})" for qid, t, c in _bm25_qrows()
    )
    wcase = " ".join(
        f"WHEN '{r}' THEN {w}" for r, w in sorted(BM25F_ROLE_WEIGHTS.items())
    )
    return f"""
WITH {_CONV_TURNS_SQL},
ttoks AS (
  SELECT conv_id, CASE role {wcase} END AS w, {_TOKS_SQL} AS tk FROM turns
),
wtf AS (
  SELECT conv_id, term, sum(w) AS wtf
  FROM (SELECT conv_id, w, unnest(tk) AS term FROM ttoks)
  GROUP BY conv_id, term
),
dl AS (SELECT conv_id, sum(w * len(tk)) AS dl FROM ttoks GROUP BY conv_id),
st AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM wtf GROUP BY term),
q(query_id, term, qtf) AS (VALUES
    {qvals}),
contrib AS (
  SELECT q.query_id, wtf.conv_id,
         q.qtf * (ln((st.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
           * (wtf.wtf * ({BM25_K1} + 1.0)
              / (wtf.wtf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)))) AS c
  FROM q
  JOIN dfr USING (term)
  JOIN wtf USING (term)
  JOIN dl ON dl.conv_id = wtf.conv_id
  CROSS JOIN st
),
scores AS (SELECT query_id, conv_id, sum(c) AS score FROM contrib GROUP BY query_id, conv_id),
ranked AS (
  SELECT query_id, conv_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, conv_id ASC) AS rank
  FROM scores
)
SELECT query_id, rank::BIGINT AS rank, conv_id, round(score, 6) AS score
FROM ranked WHERE rank <= {SEARCH_K}
"""


SQL_BM25F_ROLES = _sql_bm25f()


# ---------------------------------------------------------------------------
# snippets: first-match windows for the BM25 top-k (searchops.py)
# ---------------------------------------------------------------------------


def q_search_snippets(spark, sf_dir):
    from .bm25 import score_bm25, topk
    from .searchops import _pruned_postings_dl, snippets_for_topk

    postings, dl, stats_df, stats = _word_index(spark, sf_dir)
    rows = _bm25_qrows()
    qterms = spark.createDataFrame(rows, "query_id string, term string, qtf int")
    top = topk(
        score_bm25(
            qterms, _pruned_postings_dl(postings, dl, qterms), stats_df,
            stats, BM25_K1, BM25_B,
        ),
        BM25_K,
    )
    docs_tokens = _tokenized_docs(spark, sf_dir).select("doc_id", "tokens")
    return snippets_for_topk(
        top, [(q, t) for q, t, _c in rows], docs_tokens, SNIPPET_W
    )


def _sql_snippets():
    values = ",\n    ".join(
        f"('{qid}', '{t}', {c})" for qid, t, c in _bm25_qrows()
    )
    return f"""
WITH {_BM25_PROLOG},
q(query_id, term, qtf) AS (VALUES
    {values}),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         q.qtf * (ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)))) AS c
  FROM q
  JOIN df USING (term)
  JOIN tf USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st
),
scores AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scores
),
top AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {BM25_K}),
pos AS (
  SELECT doc_id, u.i::INT - 1 AS pos, tk[u.i::INT] AS term
  FROM toks, UNNEST(range(1, len(tk) + 1)) AS u(i)
),
fp AS (
  SELECT q.query_id, pos.doc_id, min(pos.pos) AS first_pos
  FROM pos JOIN (SELECT DISTINCT query_id, term FROM q) q USING (term)
  GROUP BY q.query_id, pos.doc_id
)
SELECT top.query_id, top.rank::BIGINT AS rank, top.doc_id,
       fp.first_pos::BIGINT AS first_pos,
       array_to_string(
         toks.tk[fp.first_pos + 1 : fp.first_pos + {SNIPPET_W}], ' '
       ) AS snippet
FROM top
JOIN fp ON fp.query_id = top.query_id AND fp.doc_id = top.doc_id
JOIN toks ON toks.doc_id = top.doc_id
"""


SQL_SEARCH_SNIPPETS = _sql_snippets()


# ---------------------------------------------------------------------------
# more-like-this + collocation mining (searchops.py / textops.py)
# ---------------------------------------------------------------------------


def q_more_like_this(spark, sf_dir):
    from .searchops import more_like_this

    postings, dl, stats_df, stats = _word_index(spark, sf_dir)
    return more_like_this(
        MLT_SEEDS, postings, dl, stats_df, stats, BM25_K1, BM25_B,
        MLT_M_TERMS, SEARCH_K,
    )


def _sql_mlt():
    seeds = ",".join(f"({s})" for s in MLT_SEEDS)
    return f"""
WITH {_BM25_PROLOG},
seeds(seed) AS (VALUES {seeds}),
sel AS (
  SELECT s.seed, tf.term,
         row_number() OVER (
           PARTITION BY s.seed
           ORDER BY tf.tf DESC, df.df ASC, tf.term ASC
         ) AS rn
  FROM seeds s
  JOIN tf ON tf.doc_id = s.seed
  JOIN df USING (term)
),
q AS (SELECT seed, term FROM sel WHERE rn <= {MLT_M_TERMS}),
contrib AS (
  SELECT q.seed, tf.doc_id,
         (ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)))) AS c
  FROM q
  JOIN df USING (term)
  JOIN tf USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st
  WHERE tf.doc_id <> q.seed
),
scores AS (SELECT seed, doc_id, sum(c) AS score FROM contrib GROUP BY seed, doc_id),
ranked AS (
  SELECT seed, doc_id, score,
         row_number() OVER (PARTITION BY seed ORDER BY score DESC, doc_id ASC) AS rank
  FROM scores
)
SELECT seed::BIGINT AS seed_doc_id, rank::BIGINT AS rank, doc_id,
       round(score, 6) AS score
FROM ranked WHERE rank <= {SEARCH_K}
"""


SQL_MORE_LIKE_THIS = _sql_mlt()


# ---------------------------------------------------------------------------
# LM-Dirichlet ranking / facets / proximity / PRF / keywords
# ---------------------------------------------------------------------------


def _bm25_contrib_sql(qrel: str) -> str:
    """The frozen BM25 contribution expression (one SQL definition,
    matching bm25.score_bm25's float-op order), parametrized by the
    query-relation name so multi-pass oracles (PRF) reuse it."""
    return f"""
  SELECT {qrel}.query_id, tf.doc_id,
         {qrel}.qtf * (ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)))) AS c
  FROM {qrel}
  JOIN df USING (term)
  JOIN tf USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st"""


def q_lm_dirichlet(spark, sf_dir):
    from .searchops import lm_dirichlet_topk

    postings, dl, stats_df, _stats = _word_index(spark, sf_dir)
    return lm_dirichlet_topk(
        _bm25_qrows(), postings, dl, stats_df, LM_MU, SEARCH_K
    )


def _sql_lm_dirichlet():
    values = ",\n    ".join(
        f"('{qid}', '{t}', {c})" for qid, t, c in _bm25_qrows()
    )
    return f"""
WITH {_BM25_PROLOG},
cfc AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf GROUP BY term),
ct AS (SELECT sum(dl)::DOUBLE AS c FROM dl),
q(query_id, term, qtf) AS (VALUES
    {values}),
qe AS (SELECT q.query_id, q.term, q.qtf, cfc.cf FROM q JOIN cfc USING (term)),
ql AS (SELECT query_id, sum(qtf)::DOUBLE AS qlen FROM qe GROUP BY query_id),
contrib AS (
  SELECT qe.query_id, tf.doc_id,
         qe.qtf * ln(1.0 + tf.tf / ({LM_MU} * (qe.cf / ct.c))) AS c
  FROM qe JOIN tf USING (term) CROSS JOIN ct
),
s AS (SELECT query_id, doc_id, sum(c) AS s FROM contrib GROUP BY query_id, doc_id),
scored AS (
  SELECT s.query_id, s.doc_id,
         s.s + ql.qlen * ln({LM_MU} / (dl.dl + {LM_MU})) AS score
  FROM s JOIN dl USING (doc_id) JOIN ql USING (query_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {SEARCH_K}
"""


SQL_LM_DIRICHLET = _sql_lm_dirichlet()


def q_search_facets(spark, sf_dir):
    from .searchops import facet_counts

    postings, _dl, _stats_df, _stats = _word_index(spark, sf_dir)
    meta = _docs(spark, sf_dir, *FACET_FIELDS).drop("text")
    rows = [(qid, t) for qid, t, _c in _bm25_qrows()]
    return facet_counts(rows, postings, meta, FACET_FIELDS)


def _sql_search_facets():
    values = ",\n    ".join(
        f"('{qid}', '{t}')"
        for qid, t in sorted({(q, t) for q, t, _ in _bm25_qrows()})
    )
    branches = "\nUNION ALL\n".join(
        f"SELECT query_id, '{c}' AS facet, {c} AS value, "
        f"count(*)::BIGINT AS n_docs FROM m GROUP BY query_id, {c}"
        for c in FACET_FIELDS
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(tk) AS term FROM toks) GROUP BY doc_id, term
),
q(query_id, term) AS (VALUES
    {values}),
matched AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term)),
m AS (
  SELECT matched.query_id, d.lang, d.source
  FROM matched JOIN documents d USING (doc_id)
)
{branches}
"""


SQL_SEARCH_FACETS = _sql_search_facets()


def q_near_topk(spark, sf_dir):
    from .searchops import near_topk

    docs = _tokenized_docs(spark, sf_dir)
    return near_topk(NEAR_QUERIES, docs.select("doc_id", "tokens"), SEARCH_K)


def _sql_near():
    values = ",\n    ".join(
        f"('{qid}', '{a}', '{b}', {w})" for qid, a, b, w in NEAR_QUERIES
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
pos AS (
  SELECT doc_id, u.i::INT - 1 AS pos, tk[u.i::INT] AS term
  FROM toks, UNNEST(range(1, len(tk) + 1)) AS u(i)
),
q(query_id, ta, tb, win) AS (VALUES
    {values}),
mind AS (
  SELECT q.query_id, a.doc_id, q.win,
         min(abs(a.pos - b.pos))::BIGINT AS min_dist
  FROM q
  JOIN pos a ON a.term = q.ta
  JOIN pos b ON b.term = q.tb AND b.doc_id = a.doc_id
  GROUP BY q.query_id, a.doc_id, q.win
),
cand AS (SELECT query_id, doc_id, min_dist FROM mind WHERE min_dist <= win),
ranked AS (
  SELECT query_id, doc_id, min_dist,
         row_number() OVER (PARTITION BY query_id ORDER BY min_dist ASC, doc_id ASC) AS rank
  FROM cand
)
SELECT query_id, rank::BIGINT AS rank, doc_id, min_dist
FROM ranked WHERE rank <= {SEARCH_K}
"""


SQL_NEAR_TOPK = _sql_near()


def q_prf_topk(spark, sf_dir):
    from .searchops import prf_topk

    postings, dl, stats_df, stats = _word_index(spark, sf_dir)
    return prf_topk(
        _bm25_qrows(), postings, dl, stats_df, stats, BM25_K1, BM25_B,
        PRF_FB_K, PRF_M_TERMS, SEARCH_K,
    )


def _sql_prf():
    values = ",\n    ".join(
        f"('{qid}', '{t}', {c})" for qid, t, c in _bm25_qrows()
    )
    return f"""
WITH {_BM25_PROLOG},
q(query_id, term, qtf) AS (VALUES
    {values}),
contrib0 AS ({_bm25_contrib_sql("q")}
),
scores0 AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib0 GROUP BY query_id, doc_id),
fb AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
    FROM scores0
  ) WHERE rank <= {PRF_FB_K}
),
cand AS (
  SELECT fb.query_id, tf.term, sum(tf.tf) AS fbtf
  FROM fb JOIN tf USING (doc_id)
  GROUP BY fb.query_id, tf.term
),
sel AS (
  SELECT query_id, term FROM (
    SELECT c.query_id, c.term,
           row_number() OVER (
             PARTITION BY c.query_id
             ORDER BY c.fbtf DESC, df.df ASC, c.term ASC
           ) AS rn
    FROM cand c JOIN df USING (term)
    WHERE NOT EXISTS (
      SELECT 1 FROM q WHERE q.query_id = c.query_id AND q.term = c.term)
  ) WHERE rn <= {PRF_M_TERMS}
),
q2 AS (
  SELECT query_id, term, qtf FROM q
  UNION ALL
  SELECT query_id, term, 1 AS qtf FROM sel
),
contrib AS ({_bm25_contrib_sql("q2")}
),
scores AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scores
)
SELECT query_id, rank::BIGINT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {SEARCH_K}
"""


SQL_PRF_TOPK = _sql_prf()


def q_text_keywords(spark, sf_dir):
    from .textops import keywords_per_doc

    postings, _dl, stats_df, _stats = _word_index(spark, sf_dir)
    return keywords_per_doc(postings, stats_df, KEYWORDS_M)


SQL_TEXT_KEYWORDS = f"""
WITH {_BM25_PROLOG},
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf DESC, df.df ASC, tf.term ASC
         ) AS rank
  FROM tf JOIN df USING (term)
)
SELECT doc_id, rank::BIGINT AS rank, term, tf::BIGINT AS tf, df::BIGINT AS df
FROM ranked WHERE rank <= {KEYWORDS_M}
"""


def _hybrid_qrows() -> list[tuple]:
    return _qrows([(qid, qtext) for qid, qtext, _v in HYBRID_QUERIES])


def q_hybrid_rrf(spark, sf_dir):
    from .embedops import load_embeddings
    from .searchops import hybrid_rrf_topk

    postings, dl, stats_df, stats = _word_index(spark, sf_dir)
    emb = load_embeddings(spark, sf_dir).select("vec_id", "vec")
    qvecs = [(qid, v) for qid, _t, v in HYBRID_QUERIES]
    return hybrid_rrf_topk(
        _hybrid_qrows(), qvecs, postings, dl, stats_df, stats, emb,
        BM25_K1, BM25_B, HYBRID_K_LEX, HYBRID_K_DENSE, RRF_K, SEARCH_K,
    )


def _sql_hybrid():
    tvals = ",\n    ".join(
        f"('{qid}', '{t}', {c})" for qid, t, c in _hybrid_qrows()
    )
    vvals = ",\n    ".join(
        f"('{qid}', {v})" for qid, _t, v in HYBRID_QUERIES
    )
    return f"""
WITH {_BM25_PROLOG},
q(query_id, term, qtf) AS (VALUES
    {tvals}),
contrib AS ({_bm25_contrib_sql("q")}
),
scores AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
lex AS (
  SELECT query_id, doc_id, lrank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS lrank
    FROM scores
  ) WHERE lrank <= {HYBRID_K_LEX}
),
qv(query_id, qvec) AS (VALUES
    {vvals}),
e AS (
  SELECT vec_id::BIGINT AS vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
qe AS (SELECT qv.query_id, qv.qvec, e.v AS qv_v FROM qv JOIN e ON e.vec_id = qv.qvec),
flat AS (
  SELECT qe.query_id, e.vec_id, unnest(qe.qv_v) AS a, unnest(e.v) AS b
  FROM qe CROSS JOIN e WHERE e.vec_id <> qe.qvec
),
cos AS (
  SELECT query_id, vec_id,
         sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b))) AS cosine
  FROM flat GROUP BY query_id, vec_id
),
dense AS (
  SELECT query_id, doc_id, drank FROM (
    SELECT query_id, vec_id AS doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS drank
    FROM cos
  ) WHERE drank <= {HYBRID_K_DENSE}
),
fused AS (
  SELECT coalesce(l.query_id, d.query_id) AS query_id,
         coalesce(l.doc_id, d.doc_id) AS doc_id,
         coalesce(1.0 / ({RRF_K} + l.lrank), 0.0)
           + coalesce(1.0 / ({RRF_K} + d.drank), 0.0) AS score
  FROM lex l
  FULL OUTER JOIN dense d
    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, rank::BIGINT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {SEARCH_K}
"""


SQL_HYBRID_RRF = _sql_hybrid()


EXPLAIN_K = 3


def q_explain_topk(spark, sf_dir):
    from .searchops import explain_topk

    postings, dl, stats_df, stats = _word_index(spark, sf_dir)
    return explain_topk(
        _bm25_qrows(), postings, dl, stats_df, stats, BM25_K1, BM25_B,
        EXPLAIN_K,
    )


def _sql_explain():
    values = ",\n    ".join(
        f"('{qid}', '{t}', {c})" for qid, t, c in _bm25_qrows()
    )
    return f"""
WITH {_BM25_PROLOG},
q(query_id, term, qtf) AS (VALUES
    {values}),
contrib AS (
  SELECT q.query_id, tf.doc_id, q.term, tf.tf, df.df,
         ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0) AS idf,
         q.qtf * (ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * ({BM25_K1} + 1.0)
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl)))) AS c
  FROM q
  JOIN df USING (term)
  JOIN tf USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st
),
scores AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
top AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
    FROM scores
  ) WHERE rank <= {EXPLAIN_K}
)
SELECT c.query_id, top.rank::BIGINT AS rank, c.doc_id, c.term,
       c.tf::BIGINT AS tf, c.df::BIGINT AS df,
       round(c.idf, 6) AS idf, round(c.c, 6) AS contrib
FROM contrib c JOIN top USING (query_id, doc_id)
"""


SQL_EXPLAIN_TOPK = _sql_explain()


def q_percolate(spark, sf_dir):
    from .searchops import percolate

    docs = _tokenized_docs(spark, sf_dir)
    return percolate(PERC_QUERIES, docs.select("doc_id", "tokens"))


def _sql_percolate():
    from .searchops import normalize_stored_queries

    rows = []
    for q in normalize_stored_queries(PERC_QUERIES):
        rows.extend(
            f"('{q['query_id']}', '{t}', '{c}', {len(q['must'])}, "
            f"{q['min_should']})"
            for t, c in q["clause_of"].items()
        )
    values = ",\n    ".join(rows)
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
dt AS (SELECT DISTINCT doc_id, term
       FROM (SELECT doc_id, unnest(tk) AS term FROM toks)),
q(query_id, term, clause, n_must, min_should) AS (VALUES
    {values}),
a AS (
  SELECT q.query_id, dt.doc_id,
         count(CASE WHEN q.clause = 'must' THEN 1 END) AS mh,
         count(CASE WHEN q.clause = 'should' THEN 1 END) AS sh,
         count(CASE WHEN q.clause = 'must_not' THEN 1 END) AS ng,
         any_value(q.n_must) AS n_must,
         any_value(q.min_should) AS min_should
  FROM dt JOIN q USING (term) GROUP BY 1, 2
)
SELECT query_id, doc_id FROM a
WHERE mh = n_must AND sh >= min_should AND ng = 0
"""


SQL_PERCOLATE = _sql_percolate()


def q_winnow_fingerprints(spark, sf_dir):
    from .textops import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), k=WINNOW_K, w=WINNOW_W)


_WINNOW_FP_SQL = f"""nrm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
grams AS (
  SELECT doc_id, u.i::BIGINT AS pos, substring(t, u.i::INT, {WINNOW_K}) AS g
  FROM nrm, UNNEST(range(1, greatest(length(t) - {WINNOW_K - 1}, 0) + 1)) AS u(i)
),
keys AS (
  SELECT doc_id, pos,
         ('0x' || substring(md5(g), 1, 8))::BIGINT * {WINNOW_POS_CAP}
           + ({WINNOW_POS_CAP - 1} - pos) AS key
  FROM grams
),
wins AS (
  SELECT doc_id,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS mk,
         count(*) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS cnt
  FROM keys
),
fps AS (
  SELECT DISTINCT doc_id,
         ({WINNOW_POS_CAP - 1} - (mk % {WINNOW_POS_CAP}))::BIGINT AS pos,
         (mk // {WINNOW_POS_CAP})::BIGINT AS fp
  FROM wins WHERE cnt = {WINNOW_W}
)"""

SQL_WINNOW_FINGERPRINTS = f"""
WITH {_WINNOW_FP_SQL}
SELECT doc_id, pos, fp FROM fps
"""


def q_winnow_pairs(spark, sf_dir):
    from .textops import winnow_pairs

    return winnow_pairs(
        _docs(spark, sf_dir), k=WINNOW_K, w=WINNOW_W,
        min_shared=WINNOW_MIN_SHARED,
    )


SQL_WINNOW_PAIRS = f"""
WITH {_WINNOW_FP_SQL},
fpd AS (SELECT DISTINCT doc_id, fp FROM fps)
SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*)::BIGINT AS shared
FROM fpd a JOIN fpd b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


def q_collocations(spark, sf_dir):
    from .textops import collocations

    return collocations(_docs(spark, sf_dir), min_count=COLL_MIN_COUNT)


SQL_COLLOCATIONS = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
t AS (SELECT sum(len(tk))::DOUBLE AS t1,
             sum(greatest(len(tk) - 1, 0))::DOUBLE AS t2 FROM toks),
uni AS (
  SELECT term, count(*)::DOUBLE AS c
  FROM (SELECT unnest(tk) AS term FROM toks) GROUP BY term
),
big AS (
  SELECT tk[s] AS w1, tk[s+1] AS w2, count(*)::BIGINT AS c12
  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS u(s)
  WHERE len(tk) >= 2
  GROUP BY 1, 2
  HAVING count(*) >= {COLL_MIN_COUNT}
)
SELECT big.w1, big.w2, big.c12,
       round(ln((big.c12 / t.t2) / ((u1.c / t.t1) * (u2.c / t.t1))), 6) AS pmi
FROM big
JOIN uni u1 ON u1.term = big.w1
JOIN uni u2 ON u2.term = big.w2
CROSS JOIN t
"""


# ---------------------------------------------------------------------------
# curation composition: redact -> repetition-filter -> dedup (textops.py)
# ---------------------------------------------------------------------------

#: exemption threshold baked into the gate (curate_docs default): short
#: docs are a length-filter concern, not a repetition one
CURATE_MIN_TOKENS = 30


def q_curate_pipeline(spark, sf_dir):
    """Full pre-index curation composition (textops.curate_docs) on a
    corpus derived to EXERCISE every stage: each document yields TWO
    twins that differ only in a synthetic email address, so after PII
    redaction the twins are byte-identical and the exact-dedup stage
    must collapse each pair to its min-doc_id ('a…' < 'b…') copy, while
    the repetition filter drops the same repetitive docs it flags in
    the text_repetition gate."""
    from .textops import curate_docs

    d = _docs(spark, sf_dir)

    def variant(pfx, local, host):
        return d.select(
            F.format_string(
                pfx + "%08d", F.col("doc_id").cast("int")
            ).alias("doc_id"),
            F.concat(
                F.col("text"),
                F.lit(f" contact {local}"),
                F.col("doc_id").cast("string"),
                F.lit(f"@{host}"),
            ).alias("text"),
        )

    pairs = variant("a", "u", "example.com").unionByName(
        variant("b", "support.team", "other-host.org")
    )
    return curate_docs(
        pairs,
        top2_threshold=REP_TOP2_THRESHOLD,
        dup3_threshold=REP_DUP3_THRESHOLD,
        min_tokens=CURATE_MIN_TOKENS,
    )


def _sql_curate():
    from .textops import PII_RULES

    def synth(pfx, local, host):
        return (
            f"SELECT printf('{pfx}%08d', doc_id::INT) AS cid, "
            f"text || ' contact {local}' || doc_id::VARCHAR || '@{host}' "
            f"AS raw FROM documents"
        )

    cur = "raw"
    for _name, pat, repl in PII_RULES:
        p = pat.replace("'", "''")
        cur = f"regexp_replace({cur}, '{p}', '{repl}', 'g')"
    t2 = "CASE WHEN coalesce(t2, 0) > 0 THEN m2 / t2::DOUBLE ELSE 0.0 END"
    d3 = "CASE WHEN coalesce(t3, 0) > 0 THEN d3 / t3::DOUBLE ELSE 0.0 END"
    return f"""
WITH d AS (
  {synth('a', 'u', 'example.com')}
  UNION ALL
  {synth('b', 'support.team', 'other-host.org')}),
red AS (SELECT cid, {cur} AS text FROM d),
toks AS (SELECT cid, {_TOKS_SQL} AS tk FROM red),
base AS (SELECT cid, len(tk)::BIGINT AS n_tokens FROM toks),
g2 AS (SELECT cid, tk[s] || ' ' || tk[s+1] AS g
       FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS u(s)
       WHERE len(tk) >= 2),
c2 AS (SELECT cid, g, count(*) AS c FROM g2 GROUP BY 1, 2),
a2 AS (SELECT cid, sum(c) AS t2, max(c) AS m2 FROM c2 GROUP BY 1),
g3 AS (SELECT cid, tk[s] || ' ' || tk[s+1] || ' ' || tk[s+2] AS g
       FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS u(s)
       WHERE len(tk) >= 3),
c3 AS (SELECT cid, g, count(*) AS c FROM g3 GROUP BY 1, 2),
a3 AS (SELECT cid, sum(c) AS t3,
              sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS d3 FROM c3 GROUP BY 1),
kept AS (
  SELECT red.cid, red.text
  FROM red JOIN base USING (cid)
  LEFT JOIN a2 USING (cid) LEFT JOIN a3 USING (cid)
  WHERE NOT (({t2}) > {REP_TOP2_THRESHOLD} OR ({d3}) > {REP_DUP3_THRESHOLD})
     OR base.n_tokens < {CURATE_MIN_TOKENS}
),
hashed AS (SELECT cid, md5({_NORM_SQL}) AS h, text FROM kept),
keepers AS (SELECT h, min(cid) AS cid FROM hashed GROUP BY h)
SELECT hashed.cid AS doc_id, hashed.text AS text
FROM hashed JOIN keepers ON keepers.h = hashed.h AND keepers.cid = hashed.cid
"""


SQL_CURATE_PIPELINE = _sql_curate()


# ---------------------------------------------------------------------------
# index audit: decode-and-verify the compressed segments (auditops.py)
# ---------------------------------------------------------------------------


def q_index_audit(spark, sf_dir):
    """Full decode of the WAND gates' segment table: every varbyte blob
    is decompressed, internal invariants (lengths, doc range, strict
    monotonicity, bit-exact block maxes) are verified in-flight, and
    the decoded per-term (df, cf) must equal the corpus-level SQL
    ground truth — the strongest whole-index consistency check the
    registry has."""
    from .auditops import audit_segment_stats

    _serving, segments = _lno_index(spark, sf_dir)
    return audit_segment_stats(segments)


SQL_INDEX_AUDIT = f"""
WITH {_LNO_CTES},
p AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM feats GROUP BY doc_id, term)
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM p GROUP BY term
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

#: Ordered so the 24 gates the driver's 50-query cap did NOT reach in
#: round 5 (everything after search_hybrid_rrf in the r5 ordering) lead
#: the dict this round — the driver checks the first 50 entries, so
#: coverage rotates across rounds (VERDICT r5 item 7). The set and
#: semantics of every entry are unchanged; only dict insertion order
#: moved.
QUERIES = {
    # -- r6 rotation: the 24 gates CORRECTNESS_r05 lacked -------------
    "search_percolate": q_percolate,
    "search_explain": q_explain_topk,
    "text_keywords": q_text_keywords,
    "text_collocations": q_collocations,
    "index_audit_stats": q_index_audit,
    "ann_cosine_topk": q_ann_bruteforce,
    "events_window5m": q_events_window,
    "stream_events_window5m": q_stream_events_window,
    "stream_user_state": q_stream_user_state,
    "stream_conv_state": q_stream_conv_state,
    "stream_percolate": q_stream_percolate,
    "autotune_grid": q_autotune,
    "mm_image_features": q_multimodal_features,
    "a8_otsu_threshold": q_otsu_threshold,
    "wand_topk_lno": q_wand_topk_lno,
    "wand_serve_batch": q_wand_serve_batch,
    "wand_dirichlet_lno": q_wand_dirichlet_lno,
    "wand_boolean_lno": q_wand_boolean_lno,
    "wand_boolean_serve": q_wand_boolean_serve,
    "ann_ivf_topk": q_ann_ivf,
    "t3_bpe_tokens": q_bpe_tokens,
    "inc_merge_segments": q_incremental_merge,
    "inc_extend_segments": q_incremental_extend,
    "inc_delete_segments": q_incremental_delete,
    # -- the 50 gates CORRECTNESS_r05 checked -------------------------
    "s2_normalize": q_s2_normalize,
    "p2_mufi_fold": q_p2_mufi_fold,
    "p7_phonetic": q_p7_phonetic,
    "a4_word_counts": q_word_counts,
    "a1_tf": q_a1_tf,
    "a3_term_stats": q_a3_term_stats,
    "o4_vocab": q_o4_vocab,
    "t5_shingles3": q_t5_shingles,
    "t5_lno31_postings": q_lno31_postings,
    "j6_bm25_topk": q_bm25_topk,
    "j1_tfidf_cosine_pairs": q_tfidf_cosine_pairs,
    "j1_cosine_inter": q_cosine_inter,
    "o1_top_pairs": q_top_pairs,
    "a9_percentile99": q_percentile99,
    "dedup_exact_groups": q_exact_hash_groups,
    "dedup_jaccard3_pairs": q_jaccard_pairs,
    "dedup_minhash_sigs": q_minhash_sigs,
    "dedup_minhash_lsh_pairs": q_minhash_lsh_pairs,
    "dedup_simhash": q_simhash,
    "dedup_winnow_fps": q_winnow_fingerprints,
    "dedup_winnow_pairs": q_winnow_pairs,
    "dedup_embed_cosine_pairs": q_embed_cosine_pairs,
    "dedup_embed_lsh_pairs": q_embed_near_dup_lsh,
    "dedup_embed_groups": q_embed_dedup_groups,
    "dedup_minhash_groups": q_minhash_dedup_groups,
    "s3_corpus_filter": q_corpus_filter,
    "text_langid": q_langid,
    "text_quality": q_quality,
    "text_token_counts": q_token_counts,
    "text_fingerprints": q_fingerprints,
    "text_decontaminate": q_decontaminate,
    "text_repetition": q_repetition,
    "text_pii_redact": q_pii_redact,
    "text_stratified_sample": q_stratified_sample,
    "text_curate_pipeline": q_curate_pipeline,
    "transcript_conv_docs": q_conv_docs,
    "transcript_conv_windows": q_conv_windows,
    "search_boolean_topk": q_boolean_topk,
    "search_phrase_topk": q_phrase_topk,
    "search_prefix_suggest": q_prefix_suggest,
    "search_fuzzy_expand": q_fuzzy_expand,
    "search_fuzzy_topk": q_fuzzy_topk,
    "search_bm25f_roles": q_bm25f_roles,
    "search_snippets": q_search_snippets,
    "search_more_like_this": q_more_like_this,
    "search_lm_dirichlet": q_lm_dirichlet,
    "search_facets": q_search_facets,
    "search_near_topk": q_near_topk,
    "search_prf_topk": q_prf_topk,
    "search_hybrid_rrf": q_hybrid_rrf,
}

ORACLE_SQL = {
    "s2_normalize": SQL_S2_NORMALIZE,
    "p2_mufi_fold": SQL_P2_MUFI_FOLD,
    "p7_phonetic": SQL_P7_PHONETIC,
    "a4_word_counts": SQL_WORD_COUNTS,
    "a1_tf": SQL_A1_TF,
    "a3_term_stats": SQL_A3_TERM_STATS,
    "o4_vocab": SQL_O4_VOCAB,
    "t5_shingles3": SQL_T5_SHINGLES,
    "t5_lno31_postings": SQL_LNO31_POSTINGS,
    "j6_bm25_topk": SQL_BM25_TOPK,
    "j1_tfidf_cosine_pairs": SQL_TFIDF_COSINE_PAIRS,
    "j1_cosine_inter": SQL_COSINE_INTER,
    "o1_top_pairs": SQL_TOP_PAIRS,
    "a9_percentile99": SQL_PERCENTILE99,
    "dedup_exact_groups": SQL_EXACT_HASH_GROUPS,
    "dedup_jaccard3_pairs": SQL_JACCARD_PAIRS,
    "dedup_minhash_sigs": SQL_MINHASH_SIGS,
    "dedup_minhash_lsh_pairs": SQL_MINHASH_LSH_PAIRS,
    "dedup_simhash": SQL_SIMHASH,
    "dedup_winnow_fps": SQL_WINNOW_FINGERPRINTS,
    "dedup_winnow_pairs": SQL_WINNOW_PAIRS,
    "dedup_embed_cosine_pairs": SQL_EMBED_COSINE_PAIRS,
    "dedup_embed_lsh_pairs": SQL_EMBED_NEAR_DUP_LSH,
    "dedup_embed_groups": SQL_EMBED_DEDUP_GROUPS,
    "dedup_minhash_groups": SQL_MINHASH_DEDUP_GROUPS,
    "s3_corpus_filter": SQL_CORPUS_FILTER,
    "text_langid": SQL_LANGID,
    "text_quality": SQL_QUALITY,
    "text_token_counts": SQL_TOKEN_COUNTS,
    "text_fingerprints": SQL_FINGERPRINTS,
    "text_decontaminate": SQL_DECONTAMINATE,
    "text_repetition": SQL_REPETITION,
    "text_pii_redact": SQL_PII_REDACT,
    "text_stratified_sample": SQL_STRATIFIED_SAMPLE,
    "text_curate_pipeline": SQL_CURATE_PIPELINE,
    "transcript_conv_docs": SQL_CONV_DOCS,
    "transcript_conv_windows": SQL_CONV_WINDOWS,
    "search_boolean_topk": SQL_BOOLEAN_TOPK,
    "search_phrase_topk": SQL_PHRASE_TOPK,
    "search_prefix_suggest": SQL_PREFIX_SUGGEST,
    "search_fuzzy_expand": SQL_FUZZY_EXPAND,
    "search_fuzzy_topk": SQL_FUZZY_TOPK,
    "search_bm25f_roles": SQL_BM25F_ROLES,
    "search_snippets": SQL_SEARCH_SNIPPETS,
    "search_more_like_this": SQL_MORE_LIKE_THIS,
    "search_lm_dirichlet": SQL_LM_DIRICHLET,
    "search_facets": SQL_SEARCH_FACETS,
    "search_near_topk": SQL_NEAR_TOPK,
    "search_prf_topk": SQL_PRF_TOPK,
    "search_hybrid_rrf": SQL_HYBRID_RRF,
    "search_percolate": SQL_PERCOLATE,
    "search_explain": SQL_EXPLAIN_TOPK,
    "text_keywords": SQL_TEXT_KEYWORDS,
    "text_collocations": SQL_COLLOCATIONS,
    "index_audit_stats": SQL_INDEX_AUDIT,
    "ann_cosine_topk": SQL_ANN_BRUTEFORCE,
    "events_window5m": SQL_EVENTS_WINDOW,
    # the streaming variant must equal the batch aggregation, so it
    # shares the batch oracle — Structured Streaming under the gate
    "stream_events_window5m": SQL_EVENTS_WINDOW,
    # stateful (applyInPandasWithState) running per-user aggregates:
    # final emissions must equal the batch GROUP BY
    "stream_user_state": SQL_STREAM_USER_STATE,
    "stream_conv_state": SQL_STREAM_CONV_STATE,
    "stream_percolate": SQL_STREAM_PERCOLATE,
    # the WAND engine path is score-identical to exhaustive BM25, so
    # the full normalize->LNO->segments->WAND chain gets a value oracle
    "wand_topk_lno": SQL_WAND_TOPK_LNO,
    # the batch SERVING path is defined to equal the distributed WAND
    # result, so it shares the same exhaustive-BM25 oracle — cache
    # layout, shared decode and per-query merge are value-checked
    "wand_serve_batch": SQL_WAND_TOPK_LNO,
    # boolean retrieval over the segment index IS SQL-expressible
    # (exhaustive boolean BM25 over the LNO term space) — full oracle;
    # the batched boolean SERVING path is defined to equal it, so it
    # shares the same oracle (as wand_serve_batch does for plain WAND)
    "wand_dirichlet_lno": SQL_WAND_DIRICHLET_LNO,
    "wand_boolean_lno": SQL_WAND_BOOLEAN_LNO,
    "wand_boolean_serve": SQL_WAND_BOOLEAN_LNO,
    # deterministic engine paths with committed fixture-parquet oracles
    # (tools/gen_fixture_oracles.py): mm features are seeded constants;
    # the autotune row is keyed by a live digest of its 30-doc sample,
    # so a changed corpus produces a visible mismatch, never stale pass
    "mm_image_features": SQL_MM_IMAGE_FEATURES,
    "autotune_grid": SQL_AUTOTUNE_GRID,
    "inc_merge_segments": SQL_INCREMENTAL_MERGE,
    "inc_extend_segments": SQL_INCREMENTAL_EXTEND,
    "inc_delete_segments": SQL_INCREMENTAL_DELETE,
    # independent-recomputation fixture oracles: k-means IVF and BPE
    # replayed from scratch in NumPy / naive Python by the generator
    "ann_ivf_topk": SQL_ANN_IVF,
    "t3_bpe_tokens": SQL_BPE_TOKENS,
    # np.histogram/Otsu semantics replicated exactly in SQL (linspace
    # edges, closed last bin, reverse-order suffix sums, first-max)
    "a8_otsu_threshold": SQL_OTSU_THRESHOLD,
}
