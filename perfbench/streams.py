"""Seeded query streams over the eight query shapes of the frozen
``bench.py``.  The corpus itself is fixed; only the seed varies the
words asked for."""

from __future__ import annotations

import random
from typing import Dict, List, Optional, Tuple

SHAPES = ("term", "match_or", "match_and", "prefix", "filtered",
          "dis_max", "not", "count_all")


def make_query(shape: str, rng: random.Random, vocab: List[str],
               langs: List[str]) -> Optional[dict]:
    """One query of ``shape`` with words drawn from the corpus
    vocabulary (the shapes of the frozen ``bench.py`` query set);
    ``None`` stands for ``_count`` of match_all."""
    if shape == "term":
        return {"term": {"text": rng.choice(vocab)}}
    if shape == "match_or":
        return {"match": {"text": " ".join(rng.sample(vocab, 3))}}
    if shape == "match_and":
        return {"match": {"text": {"query": " ".join(rng.sample(vocab, 2)),
                                   "operator": "and"}}}
    if shape == "prefix":
        return {"prefix": {"text": rng.choice(
            [w for w in vocab if len(w) >= 3])[:2]}}
    if shape == "filtered":
        return {"filtered": {
            "query": {"match": {"text": " ".join(rng.sample(vocab, 2))}},
            "filter": {"term": {"lang": rng.choice(langs)}}}}
    if shape == "dis_max":
        return {"multi_match": {"query": " ".join(rng.sample(vocab, 2)),
                                "fields": ["text^2", "lang"]}}
    if shape == "not":
        return {"not": {"term": {"lang": rng.choice(langs)}}}
    if shape == "count_all":
        return None
    raise ValueError(shape)


def query_stream(seed: int, n: int, vocab: List[str], langs: List[str],
                 weights: Optional[Dict[str, int]] = None
                 ) -> List[Tuple[str, Optional[dict]]]:
    """``n`` (shape, query) pairs.  The stream is a sequence of blocks,
    each holding every shape ``weights.get(shape, 1)`` times in a
    seeded order, so any prefix of whole blocks has the same shape mix
    on every seed and only the words change."""
    weights = weights or {}
    rng = random.Random(seed)
    out: List[Tuple[str, Optional[dict]]] = []
    while len(out) < n:
        order = [s for s in SHAPES for _ in range(weights.get(s, 1))]
        rng.shuffle(order)
        out.extend((s, make_query(s, rng, vocab, langs)) for s in order)
    return out[:n]
