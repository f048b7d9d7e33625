"""Artifact persistence (S10): tokenizer model + normalization rules +
encoder saved as JSON next to the segment warehouse, reloadable for the
query path of a previously-built index (resume/serving)."""

from __future__ import annotations

import json
import os

from .bpe import BpeModel
from .corpus import CorpusArtifacts
from .lineage import atomic_write
from .normalize import NormArtifacts


def save_artifacts(artifacts: CorpusArtifacts, path: str) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    payload = {
        "norm": {
            "alphabet": artifacts.norm.alphabet,
            "bigram_enabled": artifacts.norm.bigram_enabled,
            "bigram_rules": artifacts.norm.bigram_rules,
            "learned_rules": artifacts.norm.learned_rules,
            "phonetic_enabled": artifacts.norm.phonetic_enabled,
            "phonetic_alphabet": artifacts.norm.phonetic_alphabet,
            "phonetic_rules": artifacts.norm.phonetic_rules,
            "unknown_chr": artifacts.norm.unknown_chr,
        },
        "bpe": artifacts.bpe.to_dict() if artifacts.bpe else None,
        # distributed-encoder artifacts (vocab > max_collect_vocab, or
        # the incremental OOV-extend path) persist the token->id table
        # as parquet next to this file, not JSON: encoder is null here
        # and the loader re-attaches the table via ``vocab_df``.
        "encoder": artifacts.encoder,
        "vocab_size": artifacts.vocab_size,
        "n_vocab": artifacts.n_vocab,
        "hash_base": artifacts.hash_base,
    }
    atomic_write(path, json.dumps(payload))


def load_artifacts(path: str, vocab_df=None) -> CorpusArtifacts:
    """``vocab_df``: DataFrame(tok, tid) to attach as the distributed
    encoder when the JSON holds no collected one (or to override it)."""
    with open(path, encoding="utf-8") as f:
        payload = json.load(f)
    norm = NormArtifacts(**payload["norm"])
    bpe = BpeModel.from_dict(payload["bpe"]) if payload["bpe"] else None
    encoder = (
        {k: int(v) for k, v in payload["encoder"].items()}
        if payload["encoder"] is not None
        else None
    )
    n_vocab = int(payload.get("n_vocab", len(encoder or {})))
    return CorpusArtifacts(
        norm=norm,
        bpe=bpe,
        encoder=encoder if vocab_df is None else None,
        vocab_size=int(payload["vocab_size"]),
        encoder_df=vocab_df,
        n_vocab=n_vocab,
        hash_base=int(payload.get("hash_base", 0)),
    )
