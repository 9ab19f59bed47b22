"""Pure-Python reference BPE (Sennrich et al. 2016) — the textbook
algorithm the distributed learner in ocr_spark/operators/bpe.py must
match exactly (same normalization, same end-of-word marker, same
deterministic tie-break: count desc, then (left, right) lexicographic).

Used by tests/test_bpe.py (direct equality) and tools/gen_bpe_golden.py
(golden parquets for the catalog rows) — one implementation, two
consumers, so the pin and the test can never drift apart.
"""

from __future__ import annotations

import re
from collections import Counter

END_WORD = "</w>"


def normalize(text: str) -> str:
    r"""Python's Unicode ``\s`` and ``str.lower``, where the Spark side
    (``dedup.normalized``) uses Java's ASCII ``\s`` and JVM lower-casing:
    equal only on text without non-ASCII whitespace, which
    tests/test_bpe.py checks for the golden corpus."""
    return re.sub(r"\s+", " ", text.lower()).strip()


def word_counts(texts) -> Counter:
    c: Counter = Counter()
    for t in texts:
        for w in normalize(t).split(" "):
            if w:
                c[w] += 1
    return c


def _pair_counts(vocab: dict) -> Counter:
    pc: Counter = Counter()
    for syms, cnt in vocab.values():
        for a, b in zip(syms, syms[1:]):
            pc[(a, b)] += cnt
    return pc


def _merge_word(syms: list, left: str, right: str) -> list:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def learn(wc: Counter, n_merges: int = 40, min_count: int = 2):
    """Returns (merges, vocab): merges = [(rank, left, right, count)],
    vocab = {word: (symbol list, cnt)} after all merges."""
    vocab = {w: (list(w) + [END_WORD], c) for w, c in wc.items()}
    merges = []
    for rank in range(n_merges):
        pc = _pair_counts(vocab)
        if not pc:
            break
        (left, right), c = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < min_count:
            break
        merges.append((rank, left, right, c))
        vocab = {
            w: (_merge_word(syms, left, right), cnt)
            for w, (syms, cnt) in vocab.items()
        }
    return merges, vocab


def segment(wc: Counter, merges) -> dict:
    """{word: (tokens list, cnt)} under the frozen merge list."""
    vocab = {w: (list(w) + [END_WORD], c) for w, c in wc.items()}
    for _rank, left, right, _c in merges:
        vocab = {
            w: (_merge_word(syms, left, right), cnt)
            for w, (syms, cnt) in vocab.items()
        }
    return vocab
