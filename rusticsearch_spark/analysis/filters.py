"""Token filters: lowercase, ASCII folding, ngram.

The reference's ASCIIFoldingFilter
(/root/reference/src/analysis/filters/asciifolding.rs, backed by the
~2,400-line ``lucene_asciifold.rs`` transcription of Lucene's
character table) is driven here by the SAME table, transcribed
mechanically into ``lucene_folding.FOLD_TABLE`` (1,242 codepoint →
ASCII entries).  Characters outside the table (Greek, Cyrillic, kana
with dakuten, CJK, ...) are left untouched, which is exactly the
Lucene/reference behavior for non-Latin scripts
(asciifolding.rs:69-83 golden: こんにちは unchanged).  Parity is
pinned by the ported goldens in ``tests/test_analysis.py`` plus a
full-table enumeration test and an independent NFKD cross-check
(the table must agree with a decomposition-based fold wherever both
apply, and hand-pinned goldens cover non-decomposable entries).

NOTE — analyzer versioning: swapping the fold implementation (as
round 3 did, NFKD → full Lucene table) changes analysis output for
some characters, so an index built under an older pipeline is
analyzer-mismatched with queries analyzed by a newer one.  The
pipeline version is stamped into ``IndexConfig.analysis_version`` at
build time and checked whenever the index is opened; bump
``analysis.ANALYSIS_VERSION`` whenever tokenizer/filter behavior
changes, which forces a reindex instead of silent mismatches.
"""

from __future__ import annotations

from typing import List

from .lucene_folding import FOLD_TABLE
from .ngram_generator import Edge, ngram_generate
from .tokenizers import Token

_FOLD_TRANS = str.maketrans(FOLD_TABLE)


def ascii_fold(text: str) -> str:
    """Fold Latin diacritics/ligatures to ASCII per the full Lucene
    table; other scripts untouched."""
    if text.isascii():
        return text
    return text.translate(_FOLD_TRANS)


def lowercase_filter(tokens: List[Token]) -> List[Token]:
    """Unicode lowercase per token (filters/lowercase.rs:22-42)."""
    return [Token(t.term.lower(), t.position) for t in tokens]


def ascii_folding_filter(tokens: List[Token]) -> List[Token]:
    return [Token(ascii_fold(t.term), t.position) for t in tokens]


def ngram_filter(tokens: List[Token], min_size: int, max_size: int,
                 edge: Edge = Edge.NEITHER) -> List[Token]:
    """Per-token ngram expansion preserving the source token's position
    (filters/ngram.rs:33-60)."""
    out: List[Token] = []
    for t in tokens:
        for gram in ngram_generate(t.term, min_size, max_size, edge):
            out.append(Token(gram, t.position))
    return out
