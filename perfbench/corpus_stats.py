"""Measure the corpus statistics that ``gen.py`` commits as constants.

    python3 perfbench/corpus_stats.py <sf-dir>/documents.parquet

Reads the seed documents that ``sources.corpus.build_docs_table`` wraps (the
program's bench input) and prints the word frequencies, the words-per-doc
quantiles, the mean bytes per word and the entity rate.  The benchmark never
runs this: it reads only its own checkout, so the measured numbers live in
``gen.py`` (``WORD_COUNTS``, ``WORDS_PER_DOC_Q``).
"""

from __future__ import annotations

import collections
import sys

import numpy as np
import pyarrow.parquet as pq


def measure(path: str) -> dict:
    texts = pq.read_table(path, columns=["text"]).column(0).to_pylist()
    words = [t.split(" ") for t in texts]
    freq = collections.Counter(w for ws in words for w in ws)
    per_doc = [len(ws) for ws in words]
    return {
        "docs": len(texts),
        "word_counts": sorted(freq.items()),
        "words_per_doc_q": np.quantile(per_doc, np.linspace(0, 1, 21))
        .round().astype(int).tolist(),
        "bytes_per_word": sum(len(t) + 1 for t in texts) / sum(per_doc),
        "mean_text_bytes": sum(len(t) for t in texts) / len(texts),
        "ampersands_per_word": sum(t.count("&") for t in texts) / sum(per_doc),
        "markup_chars": sum(t.count("<") + t.count(">") for t in texts),
    }


if __name__ == "__main__":
    for k, v in measure(sys.argv[1]).items():
        print(f"{k}: {v}")
