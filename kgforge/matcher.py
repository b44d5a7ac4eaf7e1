"""Leftmost-longest dictionary matcher: the semantics of mention extraction.

Semantics (shared contract with tests/oracle_ref.py, which reimplements them
independently): tokenize text on ``\\w+`` (word boundaries are therefore
inherent), lowercase, then scan left→right; at each token position match the
longest dictionary surface (in tokens) starting there; on a match, emit and
jump past it (non-overlapping). This mirrors the reference bot's dictionary
field-matching (SURVEY.md §2.A A2/A5) re-expressed for free text.

Extraction runs these semantics in the JVM (kgforge/jvm/LexiconMatch.java,
tested for equality against this class and the oracle). This class is the
Python reference, the ``mapInPandas`` fallback of kgforge.extract, and the
tokenizer of dictionary surfaces for both: ``surface_words`` builds the
lexicon file the JVM matcher reads.

Measured dead ends for the Python side: batching a whole Arrow
batch into one \\x00-joined mega-string (ONE C-level finditer pass, numpy
searchsorted to map offsets back per doc) benched 0.67x the per-row loop,
and ``mapInArrow`` instead of ``mapInPandas`` gained nothing (8.11 against
8.10 s): the cost is the per-token Python loop. The JVM matcher is 7x faster.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

_TOKEN_RE = re.compile(r"\w+")


def surface_words(surfaces: Iterable[str]) -> set[tuple[str, ...]]:
    """Each surface as its lowercased ``\\w+`` tokens; surfaces without a
    token are dropped."""
    return {
        words
        for s in surfaces
        if (words := tuple(w.lower() for w in _TOKEN_RE.findall(s)))
    }


class LexiconMatcher:
    """Word-level leftmost-longest matcher over a closed surface lexicon.

    Two-tier layout: single-word surfaces live in a plain set (one hash
    lookup per token — the hot path: corpus-derived dictionaries are 100%
    single-token), multi-word surfaces in a first-token index probed only
    when a token can start one. Semantics are identical to the flat
    longest-first scan (equality-tested against tests/oracle_ref.py, which
    keeps the naive implementation).
    """

    __slots__ = ("single", "multi_first")

    def __init__(self, surfaces: Iterable[str]):
        self._index(surface_words(surfaces))

    @classmethod
    def from_words(cls, words: Iterable[tuple[str, ...]]) -> LexiconMatcher:
        """A matcher over already-tokenized surfaces (``surface_words``)."""
        m = cls.__new__(cls)
        m._index(words)
        return m

    def _index(self, lexicon: Iterable[tuple[str, ...]]) -> None:
        single: set[str] = set()
        multi_first: dict[str, list[tuple[str, ...]]] = {}
        for words in lexicon:
            if len(words) == 1:
                single.add(words[0])
            else:
                multi_first.setdefault(words[0], []).append(words)
        # longest candidate first => leftmost-LONGEST on first-match-wins scan
        for cands in multi_first.values():
            cands.sort(key=lambda w: (-len(w), w))
        self.single = single
        self.multi_first = multi_first

    def find(self, text: str) -> list[tuple[str, int, int]]:
        """Return [(surface, begin_char, end_char)] non-overlapping matches."""
        if not text:
            return []
        single = self.single
        if not self.multi_first:
            # Pure single-token lexicon: one finditer pass + set membership,
            # no token-tuple list, no candidate loop (~2x the general path).
            return [
                (tok, m.start(), m.end())
                for m in _TOKEN_RE.finditer(text)
                if (tok := m.group(0).lower()) in single
            ]
        tokens = [
            (m.group(0).lower(), m.start(), m.end()) for m in _TOKEN_RE.finditer(text)
        ]
        out: list[tuple[str, int, int]] = []
        i, n = 0, len(tokens)
        multi_first = self.multi_first
        while i < n:
            tok = tokens[i][0]
            cands = multi_first.get(tok)
            if cands:
                matched = False
                for cand in cands:
                    k = len(cand)
                    if i + k <= n and all(
                        tokens[i + j][0] == cand[j] for j in range(k)
                    ):
                        out.append((" ".join(cand), tokens[i][1], tokens[i + k - 1][2]))
                        i += k
                        matched = True
                        break
                if matched:
                    continue
            if tok in single:
                out.append((tok, tokens[i][1], tokens[i][2]))
            i += 1
        return out
