"""Seeded transcript generator for the benchmark.

Everything the program indexes or answers comes from here, so a change
to the program cannot change the workload. Rows follow the canonical
transcript schema ``(conv_id, turn_idx, role, text, tool, ts)``.

Make-up of a turn:

- formulaic stock phrases (hot n-grams shared by many turns);
- filler words drawn from a fixed synthetic vocabulary with Zipf
  ranks, so posting lengths run from very long to singletons;
- ligature / diacritic / case / whitespace perturbations that the
  engine's normaliser folds back onto the plain word;
- short turns that the ``min_text_length`` filter drops;
- planted marker conversations whose tokens (``zzq...``) occur
  nowhere else; filler and stock words never contain ``z``.

Conv ids are ``c`` + a zero-padded counter that successive batches of
one generator continue, so they stay lexicographically increasing (the
append contract of ``IncrementalIndexer.ingest``).

Ingest batches (``corpus(..., known_only=True)``) draw filler only from
words that indexed turns of earlier batches used, and use only
perturbation characters the initial corpus planted. Their only new tokens are then
the marker tokens, which sort after every other token, so the
extended vocabulary keeps the alphabetical token order that a
from-scratch oracle over the same rows assigns.
"""

from __future__ import annotations

import datetime as _dt
import random
import re

import numpy as np

#: fixed make-up of the inputs (the seed varies only the draws)
VOCAB_SIZE = 6000
ZIPF_S = 1.1
MIN_TEXT_LENGTH = 80
SHORT_TURN_SHARE = 0.12
PERTURB_SHARE = 0.25
MARKER_EVERY = 25  # one marker conversation per this many conversations
#: turns per conversation by position in its batch (marker
#: conversations have MARKER_TURNS), so every batch of one size has the
#: same number of turns whatever the seed
TURN_PATTERN = (2, 7, 12, 6, 11, 5, 10, 4, 9, 3, 8)
MARKER_TURNS = 3

_SYLLABLES = [
    c + v
    for c in "bcdfghjklmnprstvw"
    for v in ("a", "e", "i", "o", "u", "ai", "ou", "ea")
]

STOCK_PHRASES = [
    "thank you for reaching out to support",
    "let me look into that for you",
    "is there anything else i can help with",
    "please run the following command and share the output",
    "i understand your concern about this",
    "could you share the full error message",
    "the request completed successfully",
    "sorry for the inconvenience this has caused",
    "here is a summary of what changed",
    "i have updated the configuration file",
    "the build failed with the following error",
    "let me know if that resolves the issue",
    "can you confirm which version you are running",
    "the tool returned an empty result",
    "i will check the logs and get back to you",
    "that should fix the problem for now",
    "please restart the service and try again",
    "the test suite passed on the second attempt",
    "here are the steps to reproduce the bug",
    "we can roll back to the previous release",
    "the file was not found in the expected location",
    "your account settings have been saved",
    "i could not find a matching record",
    "the query returned more rows than expected",
    "great thanks that worked",
    "the deployment is waiting for approval",
    "i recommend upgrading to the latest version",
    "the permissions on that folder look wrong",
    "please attach a screenshot of the dialog",
    "this looks like a known issue",
]

SHORT_TURNS = [
    "ok", "thanks!", "yes please", "no", "sure, go ahead", "great",
    "one moment", "done.", "got it, thank you", "that worked",
]

ROLES = ("user", "assistant")
TOOLS = ["shell", "search", "python", "browser", "editor", "sql"]

#: perturbations the normaliser folds back (ligatures via the MUFI
#: table, diacritics via learned NFKD rules, case via lowercasing)
LIGATURES = {"fi": "ﬁ", "fl": "ﬂ", "ffi": "ﬃ", "ffl": "ﬄ", "st": "ﬆ"}
DIACRITICS = {"e": "é", "a": "à", "u": "ü", "o": "ö", "n": "ñ", "c": "ç", "i": "î"}

#: planted once in every initial corpus so each perturbation character
#: is part of the pinned normalisation artifacts before any ingest
SHOWCASE_TEXT = (
    "Café naïve résumé à la carte: "
    + " ".join(DIACRITICS.values())
    + " and ligatures "
    + " ".join(LIGATURES.values())
    + " in the ﬁnal ﬂow of the ﬃce ﬄe ﬆep, "
    "über öl mañana façade île"
)

_BASE_TS = _dt.datetime(2024, 1, 1)


def vocabulary() -> list[str]:
    """Fixed filler vocabulary (independent of the seed), rank order."""
    rng = random.Random(20240101)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w) / w.sum()
    cdf[-1] = 1.0  # a uniform draw in [0, 1) always lands in range
    return cdf


def _code(prefix: str, x: int) -> str:
    """``prefix`` + a 4-letter base-26 code of ``x`` (sorts like x)."""
    code = ""
    for _ in range(4):
        code = chr(ord("a") + x % 26) + code
        x //= 26
    return prefix + code


def marker_tokens(marker_no: int) -> list[str]:
    """Three tokens unique to marker conversation ``marker_no``; they
    sort after every filler/stock token and increase with the number."""
    return [_code("zzq", marker_no) + s for s in ("a", "b", "c")]


def marker_query_text(marker_no: int) -> str:
    return " ".join(marker_tokens(marker_no))


def canonical_length(text: str) -> int:
    """Length after the whitespace canonicalisation the min-length
    filter applies (strip + collapse whitespace runs)."""
    return len(re.sub(r"\s+", " ", text.strip()))


class Generator:
    """Seeded row source. One instance per run; successive ``corpus``
    calls continue the conversation counter and the marker counter."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.np_rng = np.random.default_rng(seed)
        self.vocab = vocabulary()
        self.cdf = _zipf_cdf(len(self.vocab), ZIPF_S)
        self.next_conv = 0
        self.next_marker = 0
        #: filler ranks of indexed turns so far (ingest batches draw
        #: only these)
        self.used_ranks: set[int] = set()
        self._turn_ranks: list[int] = []

    # -- words ---------------------------------------------------------------

    def _filler(self, n: int, known_only: bool) -> list[str]:
        ranks = np.searchsorted(self.cdf, self.np_rng.random(n))
        if known_only:
            known = self._known_sorted
            pos = np.searchsorted(known, ranks).clip(0, known.size - 1)
            ranks = known[pos]
        self._turn_ranks.extend(int(r) for r in ranks)
        return [self.vocab[int(r)] for r in ranks]

    def _perturb(self, text: str) -> str:
        words = text.split(" ")
        for _ in range(self.rng.randint(1, 3)):
            i = self.rng.randrange(len(words))
            w = words[i]
            kind = self.rng.randrange(4)
            if kind == 0:
                for plain, lig in LIGATURES.items():
                    if plain in w:
                        w = w.replace(plain, lig, 1)
                        break
            elif kind == 1:
                for plain, acc in DIACRITICS.items():
                    if plain in w:
                        w = w.replace(plain, acc, 1)
                        break
            elif kind == 2:
                w = w.capitalize() if self.rng.random() < 0.5 else w.upper()
            else:
                w = w + self.rng.choice(["  ", "\n", ",", ".", "?"])
            words[i] = w
        return " ".join(words)

    def _turn_text(self, known_only: bool, marker: list[str] | None) -> str:
        if marker is None and self.rng.random() < SHORT_TURN_SHARE:
            return self.rng.choice(SHORT_TURNS)
        parts: list[str] = []
        for _ in range(self.rng.randint(0, 2)):
            parts.append(self.rng.choice(STOCK_PHRASES))
        parts.append(" ".join(self._filler(self.rng.randint(8, 40), known_only)))
        if marker is not None:
            parts.insert(self.rng.randrange(len(parts) + 1), " ".join(marker))
        self.rng.shuffle(parts)
        text = " ".join(parts)
        if self.rng.random() < PERTURB_SHARE:
            text = self._perturb(text)
        if marker is not None and canonical_length(text) < MIN_TEXT_LENGTH:
            text += " " + " ".join(self._filler(12, known_only))
        return text

    # -- conversations -------------------------------------------------------

    def corpus(
        self, n_convs: int, known_only: bool = False, showcase: bool = False,
        marker_every: int = MARKER_EVERY,
    ) -> tuple[list[tuple], dict[int, str]]:
        """-> (rows, markers): rows in (conv_id, turn_idx) order; markers
        maps each planted marker number to its conv_id. One conversation
        in every ``marker_every`` is a marker conversation."""
        if known_only:
            self._known_sorted = np.array(sorted(self.used_ranks), dtype=np.int64)
        rows: list[tuple] = []
        markers: dict[int, str] = {}
        for j in range(n_convs):
            conv_no = self.next_conv
            self.next_conv += 1
            conv_id = f"c{conv_no:08d}"
            marker = None
            if j % marker_every == marker_every // 2:
                markers[self.next_marker] = conv_id
                marker = marker_tokens(self.next_marker)
                self.next_marker += 1
            n_turns = MARKER_TURNS if marker else TURN_PATTERN[j % len(TURN_PATTERN)]
            t0 = _BASE_TS + _dt.timedelta(minutes=conv_no)
            for t in range(n_turns):
                role = ROLES[t % 2]
                tool = None
                if role == "assistant" and self.rng.random() < 0.2:
                    role, tool = "tool", self.rng.choice(TOOLS)
                self._turn_ranks = []
                if showcase and j == 0 and t == 0:
                    text = SHOWCASE_TEXT
                else:
                    text = self._turn_text(known_only, marker)
                if canonical_length(text) >= MIN_TEXT_LENGTH:
                    self.used_ranks.update(self._turn_ranks)
                rows.append(
                    (conv_id, t, role, text, tool,
                     t0 + _dt.timedelta(seconds=5 * t))
                )
        return rows, markers


def indexed(rows: list[tuple]) -> list[tuple]:
    """The rows the engine indexes: canonical text length at least
    MIN_TEXT_LENGTH (counted here from the generated text)."""
    return [r for r in rows if canonical_length(r[3]) >= MIN_TEXT_LENGTH]


def doc_ids(rows: list[tuple], first_doc_id: int = 0) -> list[tuple[int, tuple]]:
    """Dense doc ids over (conv_id, turn_idx) order, as ``add_doc_id``
    assigns them over the raw rows (before the length filter)."""
    ordered = sorted(rows, key=lambda r: (r[0], r[1]))
    return [(first_doc_id + i, r) for i, r in enumerate(ordered)]


class QueryStream:
    """Zipf query stream over a fixed class cycle.

    Classes: ``head`` (a window of a stock phrase: long posting lists),
    ``tail`` (a window of consecutive words from an indexed turn: short
    lists), ``oov`` (tokens no turn contains: empty answers) and
    ``marker`` (a planted marker conversation's tokens). The cycle
    fixes the class mix of every run; within a class, queries follow a
    Zipf law over a seeded pool, so hot queries repeat."""

    CYCLE = ("head", "tail", "head", "tail", "marker", "head", "tail", "oov")

    POOL = 200  # head and tail queries per pool; a quarter as many oov

    def __init__(self, seed: int, rows: list[tuple], markers: dict[int, str]):
        rng = self.rng = random.Random(seed * 7919 + 17)
        pool = self.POOL
        head = []
        for _ in range(pool):
            words = rng.choice(STOCK_PHRASES).split()
            w = rng.randint(3, min(6, len(words)))
            s = rng.randrange(len(words) - w + 1)
            head.append(" ".join(words[s:s + w]))
        long_rows = [r for r in indexed(rows) if r[3] != SHOWCASE_TEXT]
        tail = []
        for _ in range(pool):
            words = rng.choice(long_rows)[3].split()
            w = rng.randint(3, 6)
            s = rng.randrange(max(1, len(words) - w + 1))
            tail.append(" ".join(words[s:s + w]))
        oov = [" ".join(_code("zzv", 3 * i + j) for j in range(3))
               for i in range(pool // 4)]
        self.pools = {
            "head": head, "tail": tail, "oov": oov,
            "marker": [marker_query_text(m) for m in sorted(markers)],
        }
        self.cdfs = {k: _zipf_cdf(len(v), 1.0) for k, v in self.pools.items()}
        self.n = 0

    def next(self) -> tuple[str, str]:
        """-> (class, query_text) of the next query of the stream"""
        cls = self.CYCLE[self.n % len(self.CYCLE)]
        self.n += 1
        i = int(np.searchsorted(self.cdfs[cls], self.rng.random()))
        return cls, self.pools[cls][i]
