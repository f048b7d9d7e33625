"""Correctness checks on the program's answers, run outside the timed
region. Each check returns a list of problems (empty = passed)."""

from __future__ import annotations

import math

from flame_spark.oracle import (
    build_oracle_index,
    oracle_bm25_topk,
    oracle_query_terms,
)

import gen


def ranking_problems(answer: list[tuple], k: int) -> list[str]:
    """An answer [(rank, doc_id, score), ...]: at most k rows, ranks
    1..n, scores that do not increase, ties by ascending doc id."""
    out = []
    if len(answer) > k:
        out.append(f"{len(answer)} rows > k={k}")
    for i, (rank, doc, score) in enumerate(answer):
        if rank != i + 1:
            out.append(f"rank {rank} at position {i + 1}")
        if i:
            _, pdoc, pscore = answer[i - 1]
            if score > pscore:
                out.append(f"score rises at rank {rank}")
            elif score == pscore and doc <= pdoc:
                out.append(f"tie at rank {rank} not broken by ascending doc id")
    return out


def by_query(rows: list[tuple]) -> dict[str, list[tuple]]:
    """[(query_id, rank, doc_id, score)] -> {query_id: [(rank, doc, score)]}"""
    out: dict[str, list[tuple]] = {}
    for qid, rank, doc, score in rows:
        out.setdefault(qid, []).append((rank, doc, score))
    return out


class Oracle:
    """``flame_spark.oracle`` over generated rows; doc ids as the
    engine assigns them (dense over raw rows in (conv_id, turn_idx)
    order, continued across ingest batches)."""

    def __init__(self, docs: list[tuple[int, str]], cfg):
        self.cfg = cfg
        self.idx = build_oracle_index(docs, cfg)

    def topk(self, text: str, k: int) -> list[tuple]:
        qtf = oracle_query_terms(self.idx, text, self.cfg)
        ranked = oracle_bm25_topk(self.idx, qtf, k, self.cfg.bm25_k1,
                                  self.cfg.bm25_b)
        return [(i + 1, int(d), float(s)) for i, (d, s) in enumerate(ranked)]


def oracle_problems(oracle: Oracle, texts: list[str],
                    answers: list[list[tuple]], k: int) -> list[str]:
    """Same doc ids, ranks and scores (exact float equality)."""
    out = []
    for text, got in zip(texts, answers):
        want = oracle.topk(text, k)
        if got != want:
            out.append(f"oracle mismatch for {text!r}: got {got[:3]}... "
                       f"want {want[:3]}...")
    return out


def marker_problems(answer: list[tuple], expected_docs: set[int],
                    text: str) -> list[str]:
    got = {d for _, d, _ in answer}
    if got != expected_docs:
        return [f"marker {text!r} served {sorted(got)}, "
                f"expected {sorted(expected_docs)}"]
    return []


def corruption_self_test(oracle: Oracle, texts: list[str],
                         answers: list[list[tuple]], k: int) -> list[str]:
    """Nudge one score and swap one doc of a real multi-row answer; the
    oracle comparison must reject both corruptions."""
    for text, ans in zip(texts, answers):
        if len(ans) < 2:
            continue
        rank, doc, score = ans[0]
        nudged = [(rank, doc, math.nextafter(score, math.inf))] + ans[1:]
        (r0, d0, s0), (r1, d1, s1) = ans[0], ans[1]
        swapped = [(r0, d1, s0), (r1, d0, s1)] + ans[2:]
        out = []
        if not oracle_problems(oracle, [text], [nudged], k):
            out.append("self-test: a nudged score passed the oracle check")
        if not oracle_problems(oracle, [text], [swapped], k):
            out.append("self-test: a swapped doc passed the oracle check")
        return out
    return ["self-test: no answer with two rows to corrupt"]


def marker_docs(id_rows: list[tuple[int, tuple]], conv_id: str) -> set[int]:
    """Indexed doc ids of one conversation (the marker's docs)."""
    return {
        d for d, r in id_rows
        if r[0] == conv_id and gen.canonical_length(r[3]) >= gen.MIN_TEXT_LENGTH
    }
