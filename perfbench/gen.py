"""Seeded input generator for the benchmark workloads.

Each ``(workload, seed)`` input is written once into the benchmark's work
directory as ``docs.parquet`` plus ``expect.parquet``; the program only ever
reads ``docs.parquet``.  Generation happens before any timed or set-up
interval.

Extraction docs (``extract_web``, ``extract_small``) use the corpus wrapper's
constructs (``ksoup_spark.sources.corpus``): a head span with ``<base>``, a
body span that is ``<p>`` / ``<ul><li>`` every 6 words / ``<h1>`` + ``<pre>``
by ``doc index mod 3``, a rotating image/video/object media span and a tail
span.  Each doc's body is a seed text repeated ``repeat`` times, as the
wrapper's ``repeat`` does; seed texts draw their words and lengths from the
seed corpus's measured statistics (``WORD_COUNTS``, ``WORDS_PER_DOC_Q``).
Lengths sit at fixed quantiles shuffled by the seed, so every seed has the
same size multiset (same total bytes, same giants) and only the words and the
order change.

Beside each extraction input sits a small node-query side input: ``(doc_id,
html)`` docs with one ``div.b`` block per word, the shape of the
``q_nodequery_has`` oracle query.

Expectations are fixed here, from the words, never from program output:
extraction keeps each doc's ordered ``(kind, value)`` span sequence (value =
whitespace-normalized text, or the media ref resolved against ``<base>``);
the node-query side input keeps the six selector counts per doc.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Measured once from the seed corpus that ``sources.corpus.build_docs_table``
# wraps (sf0.1 ``documents.parquet``, 5,000 docs) with ``corpus_stats.py``:
# word frequencies, and words per seed text at 5% quantile steps.  The seed
# texts hold no entities and no markup (0 ``&``, 0 ``<``); the wrapper's own
# ``<h1>Doc &amp; ...`` heading is the only entity in a doc.
WORD_COUNTS = (
    ("a", 8877), ("agg", 8912), ("batch", 8829), ("big", 9057),
    ("column", 9127), ("customer", 9017), ("data", 9104), ("dup", 255),
    ("fast", 8926), ("filter", 9063), ("group", 9040), ("hash", 9024),
    ("join", 9080), ("key", 8893), ("line", 8951), ("merge", 9157),
    ("order", 8971), ("part", 8929), ("query", 8881), ("row", 8925),
    ("scan", 8863), ("slow", 8960), ("small", 9100), ("sort", 9005),
    ("spark", 9182), ("stream", 9117), ("table", 9144), ("the", 8925),
    ("value", 9112), ("vector", 9119), ("window", 9159),
)
WORDS_PER_DOC_Q = (10, 14, 19, 23, 28, 32, 37, 41, 45, 49, 54, 58, 63, 67, 72,
                   76, 80, 85, 90, 94, 100)
VOCAB = tuple(w for w, _ in WORD_COUNTS)
_P = np.array([c for _, c in WORD_COUNTS], dtype=float)
_P /= _P.sum()

MEDIA_KINDS = ("image", "video", "object")

# (docs, repeat, giant docs of ~0.5 MB).  ``repeat`` is the wrapper's
# ``repeat``: each doc's body is its seed text repeated that many times.  The
# web shape is the program's bench shape (sf0.1 x repeat 24, ~7.6 KB mean);
# the small shape is the corpus itself (repeat 1, ~0.57 KB).
SHAPES = {
    "extract_web": (6000, 24, 3),
    "extract_small": (24000, 1, 0),
}
GIANT_BYTES = (450_000, 500_000)
NODE_QUERY_DOCS = 400
NODE_QUERY_MEAN_WORDS = 60

# the q_nodequery_has selector batch: name -> (css, word-index predicate)
NODE_QUERY_SELECTORS = (
    ("n_has", "div.b:has(div p)", lambda i: i % 3 == 1),
    ("n_nested", "div.b:has(div:has(p))", lambda i: i % 3 == 1),
    ("n_sibhas", "div.b:has(div p) + div.b", lambda i: i % 3 == 2),
    ("n_or", "div.b:has(> p, > span)", lambda i: i % 3 != 1),
    ("n_root", "> html > body > main > div.b", lambda i: True),
    ("n_lt", "div.b:has(div:not(:lt(99)) p)", lambda i: i % 3 == 1),
)

SPAN_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
]))


def _seed_words(rng, n: int, repeat: int,
                giants: int) -> tuple[np.ndarray, np.ndarray]:
    """Words per seed text and repeat per doc.

    Word counts sit at fixed quantiles of ``WORDS_PER_DOC_Q``, so every seed
    has the same size multiset and only the words and the order change.
    Giants take the place of the shortest docs: a longest seed text repeated
    up to ~0.5 MB.
    """
    q = (np.arange(n) + 0.5) / n
    counts = np.interp(q, np.linspace(0, 1, len(WORDS_PER_DOC_Q)),
                       WORDS_PER_DOC_Q).round().astype(np.int64)
    repeats = np.full(n, repeat, dtype=np.int64)
    if giants:
        seed_bytes = WORDS_PER_DOC_Q[-1] * sum(
            len(w) + 1 for w in VOCAB) / len(VOCAB)
        counts[:giants] = WORDS_PER_DOC_Q[-1]
        repeats[:giants] = (np.linspace(*GIANT_BYTES, giants)
                            / seed_bytes).round()
    perm = rng.permutation(n)
    return counts[perm], repeats[perm]


def _extraction(rng, n, repeat, giants):
    counts, repeats = _seed_words(rng, n, repeat, giants)
    word_idx = rng.choice(len(VOCAB), int(counts.sum()), p=_P)
    ids, spans, kinds, values, n_bytes = [], [], [], [], []
    pos = 0
    for i, (c, r) in enumerate(zip(counts, repeats)):
        words = [VOCAB[j] for j in word_idx[pos:pos + c]] * int(r)
        pos += c
        plain = " ".join(words)
        sid = f"doc-{i:08d}"
        mod = i % 3
        head = (f'<html><head><title>Doc {sid}</title><base href="'
                f'http://corpus.example/{sid}/"></head><body>'
                f'<div id="main" class="content doc">')
        if mod == 0:
            body = "<p>" + plain + "</p>"
            text = plain
        elif mod == 1:
            body = ('<ul><li class="first">'
                    + "".join("<li>" + " ".join(words[k:k + 6])
                              for k in range(0, len(words), 6))
                    + "</ul>")
            text = plain
        else:
            body = (f"<h1>Doc &amp; {sid}</h1><pre>" + "\n".join(words)
                    + "</pre>")
            text = f"Doc & {sid} {plain}"
        ref = f"media/{sid}.bin"
        tail = f'<p class="tail">tail of {sid}</p></div></body></html>'
        kind = MEDIA_KINDS[mod]
        ids.append(sid)
        spans.append([
            {"kind": "html", "text": head, "media_ref": None, "offset": 0},
            {"kind": "html", "text": body, "media_ref": None, "offset": 1},
            {"kind": kind, "text": None, "media_ref": ref, "offset": 2},
            {"kind": "html", "text": tail, "media_ref": None, "offset": 3},
        ])
        n_bytes.append(len(head) + len(body) + len(tail))
        kinds.append(["text", kind, "text"])
        values.append([text, f"http://corpus.example/{sid}/{ref}",
                       f"tail of {sid}"])
    docs = pa.table({"doc_id": pa.array(ids, pa.string()),
                     "spans": pa.array(spans, SPAN_TYPE)})
    expect = pa.table({"doc_id": ids, "kinds": kinds, "values": values,
                       "html_bytes": pa.array(n_bytes, pa.int64())})
    return docs, expect


def _node_query(rng, n):
    counts = rng.integers(NODE_QUERY_MEAN_WORDS // 2,
                          NODE_QUERY_MEAN_WORDS * 3 // 2 + 1, n)
    word_idx = rng.choice(len(VOCAB), int(counts.sum()), p=_P)
    ids, htmls = [], []
    cols = {name: [] for name, _, _ in NODE_QUERY_SELECTORS}
    pos = 0
    for i, c in enumerate(counts):
        idx = word_idx[pos:pos + c]
        pos += c
        blocks = [
            f'<div class="b"><div><p>{VOCAB[j]}</p></div></div>' if k % 3 == 1
            else f'<div class="b"><span>{VOCAB[j]}</span></div>'
            for k, j in enumerate(idx)
        ]
        ids.append(f"doc-{i:08d}")
        htmls.append("<main>" + "".join(blocks) + "</main>")
        for name, _, pred in NODE_QUERY_SELECTORS:
            cols[name].append(sum(1 for k in range(c) if pred(k)))
    docs = pa.table({"doc_id": ids, "html": htmls})
    expect = pa.table({"doc_id": ids,
                       **{k: pa.array(v, pa.int32()) for k, v in cols.items()},
                       "html_bytes": pa.array([len(h) for h in htmls],
                                              pa.int64())})
    return docs, expect


def generate(workload: str, seed: int, out_dir: str) -> str:
    """Write ``docs.parquet`` + ``expect.parquet`` once; returns the dir."""
    # keyed by this file's contents too, so an edited generator never reuses
    # inputs (or expectations) an older version wrote
    with open(__file__, "rb") as f:
        version = hashlib.blake2b(f.read(), digest_size=4).hexdigest()
    d = os.path.join(out_dir, f"{workload}-{seed}-{version}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    rng = np.random.default_rng(seed)
    _write(d, *_extraction(rng, *SHAPES[workload]))
    # the node-query side input the traced run measures kernel.dom and
    # operators.nodequery on
    _write(os.path.join(d, "nodeq"), *_node_query(rng, NODE_QUERY_DOCS))
    open(done, "w").close()
    return d


def _write(d: str, docs: pa.Table, expect: pa.Table) -> None:
    os.makedirs(d, exist_ok=True)
    pq.write_table(docs, os.path.join(d, "docs.parquet"), row_group_size=4096)
    pq.write_table(expect, os.path.join(d, "expect.parquet"))
