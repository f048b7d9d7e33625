"""Generate value-oracle fixture parquets for the deterministic engine
paths that are not SQL-expressible. Two kinds, labeled honestly:

INDEPENDENT RECOMPUTATIONS (a from-scratch driver-side NumPy / naive-
Python replay of the documented protocol, sharing no code with the
engine path under test — catches distributed-plumbing, join, ordering,
Arrow and tie-break bugs; the protocol itself is shared by definition):
- ann_ivf_topk: seeded k-means quantizer + probe + exact rerank,
  replayed on the whole embedding table in one NumPy array.
- t3_bpe_tokens: BPE trained with a naive full-recount loop and encoded
  with a fresh greedy merger (flame_spark.bpe uses incremental pair
  indexes + a rank dict; this shares none of that code). Normalized
  text comes from DuckDB SQL (the s2_normalize oracle expression), not
  from the engine.
- mm_image_features: plain-NumPy replay of the documented synthetic-
  media + fake-decode + 4x4-pool protocol (gen_mm, no flame_spark
  imports); the generator additionally asserts the engine agrees
  BEFORE writing the fixture.

- autotune_grid: the reference's seeded 5%-token-drop perturbation,
  Mersenne-61 LNO-gram hashing (pure-Python ints, no engine hashing
  code), Counter-based TF cosine and SNR grid selection replayed from
  the documented protocol (flame.py:582-673); tokens come from the
  DuckDB word-token oracle expression, not the engine. The generator
  asserts the engine agrees BEFORE writing.

Every fixture row is keyed by a digest the oracle SQL recomputes from
the LIVE table and joins on, so a changed corpus yields zero rows (a
visible mismatch), never a stale pass.

Run from the repo root: python tools/gen_fixture_oracles.py
Rewrites tests/fixtures/*.parquet (single-file parquet via duckdb).
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXDIR = os.path.join(REPO, "tests", "fixtures")
SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

EMB_DIGEST_SQL = (
    "md5(string_agg(vec_id::VARCHAR || ':' || "
    "round(embedding[1]::DOUBLE, 6)::VARCHAR, ',' ORDER BY vec_id))"
)


def _round6_half_up(x: float) -> float:
    """Spark F.round semantics: BigDecimal(double) HALF_UP at 1e-6 of
    the exact binary value (NOT repr, NOT banker's rounding)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def gen_ann_ivf(con) -> pd.DataFrame:
    """Independent NumPy replay of cosine_topk_ivf's documented
    protocol (embedops.py): deterministic vec_id-ordered train sample,
    seeded k-means (rng call order: one choice, then integers only on
    empty clusters in cluster order), full-table nearest-centroid
    assignment, n_probe=6 probed clusters per query, exact rerank with
    the sequential float64 fold, (cosine desc, vec_id asc) top-5."""
    from flame_spark.queries import ANN_K, ANN_QUERY_IDS

    N_PROBE, TRAIN_SAMPLE, SEED, ITERS = 6, 20000, 42, 15
    out_rows = []
    for sf in SF_DIRS:
        tbl = con.sql(
            f"SELECT vec_id, embedding FROM '{sf}/embeddings.parquet' "
            "ORDER BY vec_id"
        ).fetchall()
        ids = np.array([r[0] for r in tbl], dtype=np.int64)
        V = np.array([r[1] for r in tbl], dtype=np.float64)
        digest = con.sql(
            f"SELECT {EMB_DIGEST_SQL} FROM '{sf}/embeddings.parquet'"
        ).fetchone()[0]

        sample = V[:TRAIN_SAMPLE]
        k_clusters = min(max(4, int(np.sqrt(sample.shape[0]))), sample.shape[0])
        rng = np.random.default_rng(SEED)
        sn = np.linalg.norm(sample, axis=1, keepdims=True)
        x = sample / np.where(sn > 0, sn, 1.0)
        cent = x[rng.choice(x.shape[0], size=k_clusters, replace=False)]
        for _ in range(ITERS):
            assign = (x @ cent.T).argmax(axis=1)
            for c in range(k_clusters):
                members = x[assign == c]
                if members.shape[0]:
                    m = members.mean(axis=0)
                    n = np.linalg.norm(m)
                    cent[c] = m / n if n > 0 else cent[c]
                else:
                    cent[c] = x[int(rng.integers(0, x.shape[0]))]

        vn_ = np.linalg.norm(V, axis=1, keepdims=True)
        Vn = V / np.where(vn_ > 0, vn_, 1.0)
        cluster_of = (Vn @ cent.T).argmax(axis=1)

        def seq_fold_dot(q, M):
            acc = np.zeros(M.shape[0], dtype=np.float64)
            for d in range(M.shape[1]):
                acc = acc + q[d] * M[:, d]
            return acc

        def seq_fold_norm(M):
            acc = np.zeros(M.shape[0], dtype=np.float64)
            for d in range(M.shape[1]):
                acc = acc + M[:, d] * M[:, d]
            return np.sqrt(acc)

        for qid in ANN_QUERY_IDS:
            qi = int(np.searchsorted(ids, qid))
            qv = V[qi]
            n = np.linalg.norm(qv)
            qn = qv / n if n > 0 else qv
            top_c = np.argsort(-(cent @ qn), kind="stable")[:N_PROBE]
            cand = np.nonzero(np.isin(cluster_of, top_c) & (ids != qid))[0]
            M = V[cand]
            cos = seq_fold_dot(qv, M) / (
                seq_fold_norm(qv[None, :])[0] * seq_fold_norm(M)
            )
            order = np.lexsort((ids[cand], -cos))[:ANN_K]
            for rank, i in enumerate(order, start=1):
                out_rows.append(
                    (
                        digest,
                        int(qid),
                        int(rank),
                        int(ids[cand[i]]),
                        _round6_half_up(float(cos[i])),
                    )
                )
        print(f"ann_ivf {sf}: digest={digest[:12]} rows={len(ANN_QUERY_IDS) * ANN_K}")
    return pd.DataFrame(
        out_rows, columns=["emb_md5", "query_id", "rank", "vec_id", "cosine"]
    )


def _naive_bpe(train_texts: list[str], vocab_size: int):
    """From-scratch BPE (full pair recount per merge, no incremental
    index, no shared code with flame_spark.bpe) implementing the same
    documented protocol: HF-Whitespace pretokenizer, most-frequent pair
    with lexicographically-smallest tie-break, stop at vocab_size or
    pair count < 2."""
    import re
    from collections import Counter

    from flame_spark.constants import BPE_SPECIAL_TOKENS

    pretok = re.compile(r"\w+|[^\w\s]+")
    wc = Counter(w for t in train_texts for w in pretok.findall(t))
    seqs = {w: tuple(w) for w in wc}
    vocab = list(BPE_SPECIAL_TOKENS) + sorted({c for w in wc for c in w})
    vocab_set = set(vocab)
    merges: list[tuple[str, str]] = []
    while len(vocab) < vocab_size:
        pc: Counter = Counter()
        for w, seq in seqs.items():
            c = wc[w]
            for i in range(len(seq) - 1):
                pc[(seq[i], seq[i + 1])] += c
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pc[best] < 2:
            break
        merges.append(best)
        new = best[0] + best[1]
        if new not in vocab_set:
            vocab.append(new)
            vocab_set.add(new)
        a, b = best
        for w, seq in seqs.items():
            if a not in seq:  # cheap skip
                continue
            out, i = [], 0
            while i < len(seq):
                if i < len(seq) - 1 and seq[i] == a and seq[i + 1] == b:
                    out.append(new)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seqs[w] = tuple(out)
    ranks = {p: i for i, p in enumerate(merges)}

    cache: dict[str, int] = {}

    def n_sub_word(word: str) -> int:
        got = cache.get(word)
        if got is not None:
            return got
        syms = list(word)
        while len(syms) > 1:
            best_rank, best_i = None, -1
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        cache[word] = len(syms)
        return len(syms)

    def n_subwords(text: str) -> int:
        return sum(n_sub_word(w) for w in pretok.findall(text))

    return n_subwords


def gen_bpe_tokens(con) -> pd.DataFrame:
    """Independent t3_bpe_tokens expectations: normalized text from the
    DuckDB s2 oracle expression, naive-BPE train on the first 2000
    docs, per-doc subword counts for the whole table."""
    from flame_spark.queries import _NORM_SQL

    out = []
    for sf in SF_DIRS:
        rows = con.sql(
            f"SELECT doc_id, {_NORM_SQL} AS norm "
            f"FROM '{sf}/documents.parquet' ORDER BY doc_id"
        ).fetchall()
        train = [r[1] for r in rows[:2000]]
        digest = con.sql(
            f"SELECT md5(string_agg(norm, '' ORDER BY doc_id)) FROM ("
            f"SELECT doc_id, {_NORM_SQL} AS norm "
            f"FROM '{sf}/documents.parquet' ORDER BY doc_id LIMIT 2000)"
        ).fetchone()[0]
        n_subwords = _naive_bpe(train, 800)
        for doc_id, norm in rows:
            out.append((digest, int(doc_id), int(n_subwords(norm))))
        print(f"bpe_tokens {sf}: digest={digest[:12]} docs={len(rows)}")
    return pd.DataFrame(out, columns=["corpus_md5", "doc_id", "n_subwords"])


def gen_autotune(con) -> pd.DataFrame:
    """Independent replay of the auto-tune grid search (documented
    protocol, flame.py:582-673): word tokens via the DuckDB oracle
    expression, the reference's np.random.seed(42) perturbation call
    sequence, LNO-gram hashes as pure-Python Mersenne-61 arithmetic
    (no engine hashing code), TF vectors as Counters with
    intersection-sum cosine (the engine uses dense normalized NumPy
    vectors), and the SNR = mean(matched) - mean(mismatched) selection
    with the signal > 0.05 floor, first-max in grid order."""
    import math
    from collections import Counter
    from itertools import combinations

    M61 = (1 << 61) - 1
    GRID = [
        (4, 0), (4, 1), (5, 0), (5, 1), (5, 2),
        (6, 0), (6, 1), (6, 2), (7, 1), (7, 2),
    ]

    from flame_spark.queries import _TOKS_SQL

    def lno_hashes(ids: list[int], V: int, ngram: int, n_out: int):
        keep = ngram - n_out
        if keep < 1 or len(ids) < ngram or V == 0:
            return []
        powers = [pow(V, p, M61) for p in range(keep)]
        out = []
        for combo in combinations(range(ngram), keep):
            for w in range(len(ids) - ngram + 1):
                h = 0
                for p, c in enumerate(combo):
                    h = (h + powers[p] * ids[w + c]) % M61
                out.append(h)
        return out

    def cosine(c1: Counter, c2: Counter) -> float:
        n1 = math.sqrt(sum(v * v for v in c1.values()))
        n2 = math.sqrt(sum(v * v for v in c2.values()))
        if n1 == 0 or n2 == 0:
            return 0.0
        return sum(v * c2[k] for k, v in c1.items() if k in c2) / (n1 * n2)

    out_rows = []
    for sf in SF_DIRS:
        rows = con.sql(
            f"SELECT doc_id, {_TOKS_SQL} AS toks "
            f"FROM '{sf}/documents.parquet' ORDER BY doc_id LIMIT 30"
        ).fetchall()
        digest = con.sql(
            "SELECT md5(string_agg(text, '' ORDER BY doc_id)) FROM ("
            f"SELECT doc_id, text FROM '{sf}/documents.parquet' "
            "ORDER BY doc_id LIMIT 30)"
        ).fetchone()[0]
        sample = [list(r[1]) for r in rows]
        enc = {
            t: i for i, t in enumerate(sorted({x for s in sample for x in s}))
        }
        V = len(enc)

        # the reference's exact RNG call sequence: one rand() per kept
        # token, a second rand() only when the first fired (drop), pop
        # short-circuit on the second
        np.random.seed(42)
        perturbed = []
        for toks in sample:
            kept: list[str] = []
            for t in toks:
                if np.random.rand() < 0.05:
                    if np.random.rand() < 0.5 and len(kept) > 0:
                        kept.pop()
                    continue
                kept.append(t)
            perturbed.append(kept)

        n = len(sample)
        best_snr, best = -float("inf"), (6, 1)
        for ngram, n_out in GRID:
            if ngram - n_out < 1:
                continue
            ov = [
                Counter(lno_hashes([enc[t] for t in s], V, ngram, n_out))
                for s in sample
            ]
            pv = [
                Counter(lno_hashes([enc[t] for t in s], V, ngram, n_out))
                for s in perturbed
            ]
            if not any(ov) and not any(pv):
                continue
            signal = float(np.mean([cosine(ov[i], pv[i]) for i in range(n)]))
            noises = [
                cosine(ov[i], pv[j])
                for i in range(n)
                for j in range(n)
                if i != j
            ]
            noise = float(np.mean(noises)) if noises else 0.0
            snr = signal - noise
            if snr > best_snr and signal > 0.05:
                best_snr, best = snr, (ngram, n_out)
        out_rows.append(
            (digest, int(best[0]), int(best[1]), float(round(best_snr, 6)))
        )
        print(f"autotune {sf}: digest={digest[:12]} -> {out_rows[-1][1:]}")
    return pd.DataFrame(
        out_rows, columns=["corpus_md5", "best_ngram", "best_n_out", "snr"]
    ).astype({"best_ngram": "int32", "best_n_out": "int32"})


def gen_mm() -> pd.DataFrame:
    """INDEPENDENT recomputation of mm_image_features — plain NumPy,
    no flame_spark imports. Replays the DOCUMENTED synthetic-media
    protocol (multimodal.py): media ids 0..89 cycle image/audio/video;
    an image i has w = 32 + (i%7)*16, h = 24 + (i%5)*16; the fake
    decoder seeds default_rng with the little-endian (w, h) header
    bytes and draws an (h, w, 3) uint8 image; features = 4x4
    mean-pooled grayscale (channel mean first), row-major; the gate's
    mean_feature is the LEFT-FOLD sum over the feature array (Spark
    F.aggregate order == Python sum order) / 16, Spark-rounded at 1e-6.
    An engine bug in any of those steps now shows as a fixture
    mismatch instead of being frozen in as 'expected'."""
    import struct

    rows = []
    for i in range(90):
        if i % 3 != 0:  # kinds cycle image, audio, video
            continue
        w, h = 32 + (i % 7) * 16, 24 + (i % 5) * 16
        seed = int.from_bytes(struct.pack("<II", w, h), "little")
        img = (
            np.random.default_rng(seed)
            .integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            .astype(np.float64)
            .mean(axis=2)
        )
        gh, gw = max(h // 4, 1), max(w // 4, 1)
        pooled = [
            float(img[r * gh : (r + 1) * gh, c * gw : (c + 1) * gw].mean())
            for r in range(4)
            for c in range(4)
        ]
        acc = 0.0
        for x in pooled:  # left fold, F.aggregate's order
            acc += x
        rows.append((i, len(pooled), _round6_half_up(acc / len(pooled))))
    return pd.DataFrame(
        rows, columns=["media_id", "n_features", "mean_feature"]
    ).astype({"media_id": "int64", "n_features": "int64"})


def main():
    os.makedirs(FIXDIR, exist_ok=True)
    from flame_spark.queries import q_autotune, q_multimodal_features
    from flame_spark.session import get_spark

    spark = get_spark("gen_fixtures", cpus=8)
    con = duckdb.connect()

    mm = gen_mm()
    # cross-check: the engine must agree with the independent replay
    # BEFORE the fixture is written — a divergence aborts generation
    eng = (
        q_multimodal_features(spark, SF_DIRS[0])
        .toPandas()
        .sort_values("media_id")
        .reset_index(drop=True)
        .astype({"media_id": "int64", "n_features": "int64"})
    )
    pd.testing.assert_frame_equal(eng, mm)
    con.register("mm", mm)
    con.sql(
        f"COPY (SELECT media_id, n_features, mean_feature FROM mm ORDER BY media_id)"
        f" TO '{FIXDIR}/mm_image_features_expected.parquet' (FORMAT PARQUET)"
    )
    print(f"mm_image_features: {len(mm)} rows")

    at = gen_autotune(con)
    # cross-check: the engine must agree with the independent replay
    # BEFORE the fixture is written — a divergence aborts generation
    for sf, (_, ng, no, snr) in zip(SF_DIRS, at.itertuples(index=False)):
        r = q_autotune(spark, sf).collect()[0]
        got = (int(r["best_ngram"]), int(r["best_n_out"]), float(r["snr"]))
        assert got == (int(ng), int(no), float(snr)), (sf, got, (ng, no, snr))
    con.register("at", at)
    con.sql(
        f"COPY (SELECT * FROM at) TO '{FIXDIR}/autotune_expected.parquet'"
        " (FORMAT PARQUET)"
    )
    spark.stop()

    ann = gen_ann_ivf(con)
    con.register("ann", ann)
    con.sql(
        f"COPY (SELECT * FROM ann) TO '{FIXDIR}/ann_ivf_expected.parquet'"
        " (FORMAT PARQUET)"
    )
    bpe = gen_bpe_tokens(con)
    con.register("bpe", bpe)
    con.sql(
        f"COPY (SELECT * FROM bpe) TO '{FIXDIR}/bpe_tokens_expected.parquet'"
        " (FORMAT PARQUET)"
    )
    print("fixtures written")


if __name__ == "__main__":
    main()
