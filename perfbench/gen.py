"""The benchmark's seeded input generator and input fingerprints.

``write_corpus`` writes the word-count text corpus (Zipf vocabulary, mixed
case and punctuation) and returns the exact token multiset it contains. It
is a pure function of its seed: the same seed writes byte-identical files, a
different seed different ones. Nothing here imports the engine, so inputs
can be built (and fingerprinted) before Spark starts.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter
from itertools import chain

import numpy as np

# ----------------------------------------------------- word-count corpus ----

_ALNUM = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
_SEPS = np.array([" ", " ", " ", " ", " ", ", ", ". ", "-", "'", "_", "; ", "! ", "\t", " (", ") "])


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        length = int(rng.integers(1, 11))
        # letters mostly; one word in 20 is numeric
        pool = _ALNUM[26:] if rng.random() < 0.05 else _ALNUM[:26]
        words.add("".join(rng.choice(pool, length)))
    # Zipf rank is the position in this list: shuffle so rank is not
    # alphabetical (which would make the digit words the most frequent)
    return rng.permutation(sorted(words)).tolist()


_CORPUS_FILES = 4
_VOCAB = 20_000
_ZIPF_S = 1.1


def write_corpus(out_dir: str, seed: int, n_bytes: int) -> Counter:
    """Write about ``n_bytes`` of text over four files under ``out_dir`` and
    return the Counter of its ``[A-Za-z0-9]+`` tokens.

    Tokens are drawn by Zipf rank from a seeded vocabulary; one in ten is
    Capitalized and one in fifty UPPER-cased (counting is case-sensitive).
    Separators are never alphanumeric, so the drawn tokens are exactly the
    runs the reference tokenizer finds; a newline follows about every
    twelfth token. The last file ends without a trailing newline."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x3C0])
    words = np.array(_vocabulary(rng, _VOCAB), dtype=object)
    weights = 1.0 / np.arange(1, _VOCAB + 1) ** _ZIPF_S
    weights /= weights.sum()
    counts: Counter = Counter()
    per_file = n_bytes // _CORPUS_FILES
    batch = 1 << 16
    for f in range(_CORPUS_FILES):
        chunks: list[str] = []
        size = 0
        while size < per_file:
            toks = words[rng.choice(_VOCAB, batch, p=weights)]
            case = rng.random(batch)
            upper, cap = case < 0.02, (case >= 0.02) & (case < 0.12)
            toks[upper] = [t.upper() for t in toks[upper]]
            toks[cap] = [t.capitalize() for t in toks[cap]]
            seps = rng.choice(_SEPS, batch)
            seps[rng.random(batch) < 1 / 12] = "\n"
            toks, seps = toks.tolist(), seps.tolist()
            ends = size + np.cumsum([len(t) + len(s) for t, s in zip(toks, seps)])
            take = min(int(np.searchsorted(ends, per_file)) + 1, batch)
            toks, seps = toks[:take], seps[:take]
            counts.update(toks)
            chunks.append("".join(chain.from_iterable(zip(toks, seps))))
            size = int(ends[take - 1])
        text = "".join(chunks)
        if f == _CORPUS_FILES - 1:
            text = text[: len(text) - len(seps[-1])]  # EOF terminates the last token
        with open(os.path.join(out_dir, f"part-{f:02d}.txt"), "w") as fh:
            fh.write(text)
    return counts


def fingerprint(path: str) -> str:
    """sha256 over the names and bytes of every file under ``path``."""
    h = hashlib.sha256()
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for name in sorted(names):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]
