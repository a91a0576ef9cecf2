"""Seeded input generation.

The program only ever sees a ``documents``-shaped parquet table
(doc_id, text, lang, source, n_chars), which ``synth_source_files`` maps to
source files. Text is drawn from the test vocabulary plus ``symNNN`` tail
identifiers; doc ids start at 0 so the mega-repo share, the 30 KB
chunk-gate documents and the fuzzy-name variants keyed on doc_id are all
present.
"""

from __future__ import annotations

import os
import random

HEAD_VOCAB = (
    "spark", "query", "table", "merge", "join", "sort", "scan", "filter",
    "window", "hash", "group", "batch", "stream", "vector", "column",
    "order", "value", "customer", "data", "line", "part", "key", "row",
    "small", "fast", "slow", "big", "agg", "dup", "the", "a",
)
# head words long enough to be extracted as entities (MIN_LEN 4/5)
ENTITY_HEAD = tuple(w for w in HEAD_VOCAB if len(w) >= 5)
LANGS = ("en", "es", "de", "fr", "zh")
MEGA_REPO = "megacorp/monorepo"  # synth_source_files puts every 5th doc id here
TAIL_SHARE = 1 / 7


def documents(n: int, seed: int, first_id: int = 0) -> list[dict]:
    """``n`` documents with ids ``first_id..first_id+n-1``; same seed, same rows.

    Document lengths are the same spread of 20..70 words for every seed,
    shuffled, so seeds change the text but not the amount of input."""
    rng = random.Random(seed)
    tail_card = max(n // 5, 100)
    lengths = [20 + 50 * i // max(n - 1, 1) for i in range(n)]
    rng.shuffle(lengths)
    rows = []
    for doc_id, n_words in zip(range(first_id, first_id + n), lengths):
        words = [
            f"sym{rng.randrange(tail_card)}" if rng.random() < TAIL_SHARE
            else rng.choice(HEAD_VOCAB)
            for _ in range(n_words)
        ]
        text = " ".join(words)
        rows.append({
            "doc_id": doc_id, "text": text, "lang": rng.choice(LANGS),
            "source": f"src{doc_id % 20}", "n_chars": len(text),
        })
    return rows


def write_documents(rows: list[dict], directory: str) -> str:
    """Write ``rows`` as ``<directory>/documents.parquet``; returns the dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(directory, "documents.parquet"))
    return directory


def tail_terms(rows: list[dict]) -> list[str]:
    """Distinct ``symNNN`` identifiers present in ``rows``, sorted."""
    return sorted({w for r in rows for w in r["text"].split() if w.startswith("sym")})
