"""The flagship's plan-side jobs around its one kernel (operators/extract.py).

* ``assembled_html``, the Spark SQL payload assembly, equals the Python
  reference ``assemble_html`` row for row on generated span lists;
* media refs survive the round trip through the payload and the kernel;
* a NULL span element adds nothing, at every flagship entry point;
* ``span_counts``, the counts the pipeline commits and the stream
  aggregates, equal Python's rule on kernel outputs.
"""

from __future__ import annotations

import random

import pytest

from ksoup_spark.operators import extract
from ksoup_spark.plans import pipeline
from ksoup_spark.streaming import stream

_SPANS_DDL = "doc_id string, spans " + extract.SPANS_TYPE.simpleString()
_KINDS = ["html", "text", "image", "video", "object", "audio", None]
_TEXTS = [None, "", "a", "<p>x &amp; y</p>", "<b>中文</b>", "😀 𝒳", " \n"]
_REFS = [None, "", "m.png", "media/7.bin", 'http://m.example/a"b.png',
         "http://m.example/x?a=1&amp;b=2", "ü/😀.png"]
_OFFSETS = [None, 0, 0, 1, 1, 2, -3, 2**31 - 1]

# absolute refs whose characters a quoted attribute must carry unchanged
_ODD_REFS = ['http://m.example/a"b.png', "http://m.example/x?a=1&amp;b=2",
             "http://m.example/x?a&lt=1", "http://m.example/it's.png",
             "http://m.example/<a>.png"]


def _span_lists(rng: random.Random, n: int) -> list:
    """n span lists: every kind and an unknown one, NULL fields, NULL
    elements, NULL and empty lists, duplicate / NULL / negative offsets and
    non-ASCII text."""
    def span():
        if rng.random() < 0.1:
            return None
        return {"kind": rng.choice(_KINDS), "text": rng.choice(_TEXTS),
                "media_ref": rng.choice(_REFS),
                "offset": rng.choice(_OFFSETS)}

    return [None if rng.random() < 0.08 else
            [span() for _ in range(rng.randint(0, 8))] for _ in range(n)]


# tied and NULL offsets: the order must be e, c, a, b, d
_TIES = [{"kind": "text", "text": t, "media_ref": None, "offset": o}
         for t, o in [("b", 1), ("c", None), ("d", 1), ("a", 0), ("e", -1)]]


def test_assembly_matches_reference(spark):
    rows = [(str(i), s) for i, s in
            enumerate(_span_lists(random.Random(20261020), 400))]
    rows.append(("ties", _TIES))
    df = spark.createDataFrame(rows, _SPANS_DDL)
    got = dict(df.select("doc_id", extract.assembled_html("spans")).collect())
    assert len(got) == len(rows)
    for doc_id, spans in rows:
        assert got[doc_id] == extract.assemble_html(spans or []), spans
    assert got["ties"] == "ecabd"


@pytest.mark.parametrize("ref", _ODD_REFS)
def test_media_ref_round_trips(spark, ref):
    spans = [{"kind": "text", "text": "<p>x</p>", "media_ref": None,
              "offset": 0}] + [
        {"kind": k, "text": None, "media_ref": ref, "offset": 1}
        for k in ("image", "video", "object")]
    want = [("image", ref), ("video", ref), ("object", ref)]
    python = extract.extract_spans_from_html(extract.assemble_html(spans))
    assert [(s["kind"], s["media_ref"]) for s in python
            if s["kind"] != "text"] == want
    df = spark.createDataFrame([("x", spans)], _SPANS_DDL)
    out = extract.extract_spans_df(df).first()["spans"]
    assert [(s["kind"], s["media_ref"]) for s in out
            if s["kind"] != "text"] == want


_WITH = [{"kind": "html", "text": "<p>one <b>two</b></p>", "media_ref": None,
          "offset": 0},
         None,
         {"kind": "image", "text": None, "media_ref": "media/1.bin",
          "offset": 1}]
_WITHOUT = [s for s in _WITH if s is not None]


def test_null_span_element_adds_nothing(spark, tmp_path):
    """``[span, None, span]`` gives the same output as the list without the
    NULL, through the batch operator, the column function and the
    pipeline."""
    df = spark.createDataFrame([("with", _WITH), ("without", _WITHOUT)],
                               _SPANS_DDL)
    batch = {r["doc_id"]: r["spans"]
             for r in extract.extract_spans_df(df).collect()}
    col = dict(df.select("doc_id", stream.extract_spans_col()("spans"))
               .collect())
    assert batch["with"] == batch["without"] == col["with"] == \
        col["without"]
    assert [s["kind"] for s in batch["with"]] == ["text", "image"]
    out = str(tmp_path / "spans")
    pipeline.run_extraction_pipeline(spark, df, out, str(tmp_path / "m"),
                                     num_parts=2, parts_per_batch=2)
    written = {r["doc_id"]: r["spans"]
               for r in spark.read.parquet(out).collect()}
    assert written == batch


def test_span_counts_match_python_rule(spark):
    """On kernel outputs with NULL text (every media span), every media
    kind and non-BMP text, the shared count expressions equal ``len(text)``
    summed over non-NULL text, the span count, and the spans whose kind is
    not "text"."""
    pages = ["<p>😀 𝒳 a</p><img src=a.png><video src=v.mp4></video>"
             "<object data=o.swf></object><p>中文 <b>b</b></p>",
             "", "<img src=x>", "<p>𝄞</p>" * 3,
             "<video><source src=s.mp4></video> tail 🎉"]
    df = spark.createDataFrame(list(enumerate(pages)), "doc_id long, html "
                               "string")
    spans = extract.extract_spans_from_html_df(df)
    counts = extract.span_counts("spans")
    rows = spans.select("spans", *(c.alias(n) for n, c in counts.items())) \
        .collect()
    kinds = {s["kind"] for r in rows for s in r["spans"]}
    assert {"text", "image", "video", "object"} <= kinds
    assert any(s["text"] is None for r in rows for s in r["spans"])
    assert any(ord(ch) > 0xFFFF for r in rows for s in r["spans"]
               for ch in s["text"] or "")
    for r in rows:
        sp = r["spans"]
        assert (r["n_spans"], r["n_text_chars"], r["n_media"]) == (
            len(sp),
            sum(len(s["text"]) for s in sp if s["text"] is not None),
            sum(s["kind"] != "text" for s in sp)), sp
