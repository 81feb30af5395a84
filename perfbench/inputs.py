"""Seeded inputs of the workloads, and the closed form their extracted
text must equal.

The closed form is written out here on purpose instead of being imported
from the program: it is the same rule the golden tests and the DuckDB
oracles pin (nine spaces + line + newline per 60-char chunk of
``"Doc {id}: " + sanitized text``, at most 8 chunks), so a change to the
program's own sanitize/chunk helpers shows up as a mismatch.
"""
from __future__ import annotations

import random
import re
from dataclasses import dataclass

# word soup in the shape of the sf0.1 `documents.text` column
# (44..577 chars of lower-case words)
VOCAB = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window vector table "
         "customer stream merge join data the row merge index shard page "
         "font xref token").split()
# characters that the sanitizer must blank (parens and backslash would
# break a PDF literal string if they leaked through)
NOISE = "()\\#%/<>[]{}éü'\"_*"
LANGS = ("en", "de", "fr", "zh", "es")
SMALL_CHARS = (40, 580)

_SANITIZE = re.compile(r"[^a-zA-Z0-9 .,:;!?-]")
PAD = " " * 9          # 12pt text at x=72: nine leading spaces


def expected_small(doc_id: int, text: str) -> str:
    """Extracted text of a `make_cc_table` document."""
    s = f"Doc {doc_id}: " + _SANITIZE.sub(" ", text or "")
    lines = [s[i:i + 60] for i in range(0, min(len(s), 8 * 60), 60)]
    return "".join(PAD + ln + "\n" for ln in lines)


def _words(rng: random.Random, n_chars: int) -> str:
    """Exactly `n_chars` characters of words, some with noise attached."""
    out, size = [], 0
    while size <= n_chars:
        w = rng.choice(VOCAB)
        if rng.random() < 0.05:
            w += rng.choice(NOISE)
        out.append(w)
        size += len(w) + 1
    return " ".join(out)[:n_chars]


@dataclass(frozen=True)
class SmallDoc:
    doc_id: int
    text: str
    lang: str

    @property
    def url(self) -> str:
        return f"doc://{self.doc_id}"

    @property
    def expected(self) -> str:
        return expected_small(self.doc_id, self.text)


def small_docs(seed: int, n: int) -> list[SmallDoc]:
    """`n` crawl-style docs. The seed picks the words, a contiguous range
    of seven-digit doc ids and the row order. Text lengths and the
    fixture class of each position (``doc_id % 25``, rotating over every
    class) do not depend on the seed, so page, byte and element counts
    repeat across seeds."""
    rng = random.Random(f"small-{seed}")
    shape = random.Random("small-shape")
    base = 25 * rng.randrange(40_000, 399_000)
    docs = [SmallDoc(base + i, _words(rng, shape.randint(*SMALL_CHARS)),
                     rng.choice(LANGS)) for i in range(n)]
    rng.shuffle(docs)
    return docs
