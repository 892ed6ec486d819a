"""Seeded synthetic document corpus for the corpus-ingest workload.

Same shape as the repository's ``documents`` test table (doc_id, text,
lang, source, n_chars): space-separated words from a 30-word
vocabulary that includes the stopwords "the" and "a", 10-100 words per
document, 20 sources. About 5% of documents are near-copies of an
earlier one (one word appended or replaced), so the near-dedup stage
finds pairs, and 0.2% are exact copies.
"""

from __future__ import annotations

import random

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def documents(seed: int, n: int, first_id: int = 0) -> list[tuple]:
    """``n`` documents as tuples in ``SCHEMA`` order."""
    rng = random.Random(f"docs:{seed}:{first_id}")
    out: list[tuple] = []
    for i in range(n):
        doc_id = first_id + i
        r = rng.random()
        if out and r < 0.05:
            words = rng.choice(out)[1].split()
            if rng.random() < 0.5:
                words = words + ["dup"]
            else:
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
        elif out and r < 0.052:
            words = rng.choice(out)[1].split()
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
        text = " ".join(words)
        out.append((doc_id, text, rng.choice(LANGS), f"src{doc_id % 20}", len(text)))
    return out
