"""Core extraction operators: interleaved docs -> ordered span sequences,
and HTML -> exploded node table.

Physical plan (SURVEY.md §4): read -> plan-side assembly (``assembled_html``,
one Spark SQL expression that turns the interleaved input spans into the
HTML payload) -> salted repartition on hash(doc_id) (defuses giant-document
skew by scattering rows uniformly; one doc is one row, so skew is row-size
skew, not key skew) -> extract kernel (``extract_spans_from_html``, html in
and spans out, a mapInArrow behind boundary.map_docs) -> columnar spans.
The kernel is the only per-document Python: it receives Arrow record batches
of one string column and returns Arrow record batches; the per-document
parse loop runs inside the batch (the same document-at-a-time model as the
reference, Parser.kt:13-14 — parallelism lives BETWEEN documents). The
per-doc counts the pipeline commits (``span_counts``) are plan expressions
over the kernel's output too.

At 100 TB scale: extraction is embarrassingly parallel (no shuffle needed
beyond the optional salting pass and, in the resumable pipeline
(plans/pipeline.py), the write's rebalance by checkpoint partition, which
lays out one file per partition per write task), the parse kernel is
CPU-bound per core, and Arrow batch size is bounded by
spark.sql.execution.arrow.maxRecordsPerBatch so a multi-MB document cannot
balloon executor memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..kernel import dom
from ..kernel.textops import extract_spans as _kernel_extract_spans
from ..kernel.treebuilder import parse as _parse
from .boundary import map_docs

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)
SPANS_TYPE = ArrayType(SPAN_STRUCT)

SPANS_SCHEMA = StructType(
    [StructField("doc_id", StringType()), StructField("spans", SPANS_TYPE)]
)

NODE_TABLE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("node_id", IntegerType()),
        StructField("parent_id", IntegerType()),
        StructField("depth", IntegerType()),
        StructField("kind", IntegerType()),
        StructField("tag", StringType()),
        StructField("ns", IntegerType()),
        StructField("sibling_index", IntegerType()),
        StructField("elem_sibling_index", IntegerType()),
        StructField("first_child", IntegerType()),
        StructField("next_sibling", IntegerType()),
        StructField("subtree_end", IntegerType()),
        StructField("text", StringType()),
        StructField("attrs", MapType(StringType(), StringType())),
    ]
)

NODE_TABLE_TEXT_SCHEMA = StructType(
    NODE_TABLE_SCHEMA.fields + [StructField("elem_text", StringType())]
)

# media kind -> the markup around its (escaped) ref
_MEDIA_HTML = {"image": ('<img src="', '">'),
               "video": ('<video src="', '"></video>'),
               "object": ('<object data="', '"></object>')}


def assemble_html(spans: list) -> str:
    """Interleaved input spans -> one HTML payload: the reference that
    ``assembled_html``, which the program runs, is tested against.

    Text-kind spans ('html'/'text') concatenate in offset order; media spans
    become media elements at their stream position (the "interleaved
    placeholders resolved against DOM positions" contract), with ``&`` and
    ``"`` escaped so the parser reads the ref back unchanged. NULL elements
    and spans of other kinds add nothing.
    """
    parts: list[str] = []
    for s in sorted(filter(None, spans),
                    key=lambda x: x["offset"] if x["offset"] is not None else 0):
        kind = s["kind"]
        if kind in ("html", "text"):
            parts.append(s["text"] or "")
        elif kind in _MEDIA_HTML:
            head, tail = _MEDIA_HTML[kind]
            ref = (s["media_ref"] or "").replace("&", "&amp;") \
                .replace('"', "&quot;")
            parts.append(head + ref + tail)
    return "".join(parts)


def assembled_html(spans: str = "spans") -> Column:
    """``assemble_html`` as one Spark SQL expression over the input spans
    column named ``spans``, so the payload is built in the plan and the
    kernel reads one string column. NULL elements are dropped, the sort key
    (offset, NULL as 0; then position in the list) keeps ties in input
    order, and a NULL list gives ''. One SQL string, so building it is one
    JVM call."""
    ref = ("replace(replace(coalesce(s.media_ref, ''), '&', '&amp;'), "
           "'\"', '&quot;')")
    media = " ".join(f"WHEN s.kind = '{k}' THEN concat('{head}', {ref}, "
                     f"'{tail}')" for k, (head, tail) in _MEDIA_HTML.items())
    piece = (f"CASE WHEN s.kind IN ('html', 'text') THEN coalesce(s.text, '') "
             f"{media} ELSE '' END")
    keyed = (f"transform(array_compact({spans}), (s, i) -> "
             f"struct(coalesce(s.offset, 0) AS o, i AS i, {piece} AS p))")
    return F.expr(f"coalesce(array_join(sort_array({keyed}).p, ''), '')")


# per-doc counts over an output spans column, as Spark SQL: spans, code
# points of non-NULL text (Spark's ``length``), and spans whose kind is not
# "text". Lambda-free, so they run as generated code.
SPAN_COUNTS = {
    "n_spans": "size({})",
    "n_text_chars": "length(array_join({}.text, ''))",
    "n_media": "size(array_remove({}.kind, 'text'))",
}


def span_counts(spans: str = "spans") -> dict[str, Column]:
    """``SPAN_COUNTS`` over the column named ``spans``."""
    return {n: F.expr(sql.format(spans)) for n, sql in SPAN_COUNTS.items()}


def spans_to_rows(spans: list[tuple]) -> list[dict]:
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for k, t, m, o in spans
    ]


def extract_spans_from_html(html: str, base_uri: str = "") -> list[dict]:
    """The flagship kernel: one HTML payload -> its output spans."""
    return spans_to_rows(_kernel_extract_spans(_parse(html, base_uri)))


def salted_repartition(df: DataFrame, num_partitions: int | None = None,
                       id_col: str = "doc_id") -> DataFrame:
    """Scatter rows uniformly by hash(doc_id) so giant documents spread
    across partitions instead of clumping (north-rule skew defusal)."""
    if num_partitions:
        return df.repartition(num_partitions, F.xxhash64(F.col(id_col)))
    return df.repartition(F.xxhash64(F.col(id_col)))


def extract_spans_df(docs: DataFrame, repartition: int | None = None) -> DataFrame:
    """(doc_id, spans<input>) -> (doc_id, spans<output>): the payload is
    assembled in the plan, then the kernel runs on it."""
    return extract_spans_from_html_df(
        docs.select("doc_id", assembled_html("spans").alias("html")),
        repartition=repartition)


def extract_spans_from_html_df(docs: DataFrame, html_col: str = "html",
                               id_col: str = "doc_id",
                               repartition: int | None = None) -> DataFrame:
    """(doc_id, html) -> (doc_id, spans)."""
    docs = docs.select(F.col(id_col).cast("string").alias("doc_id"),
                       F.col(html_col).alias("html"))
    if repartition:
        docs = salted_repartition(docs, repartition)
    return map_docs(docs, SPANS_SCHEMA, extract_spans_from_html)


_TEXT_COLUMN_NAMES = {"text": "elem_text", "own": "elem_own_text",
                      "whole": "elem_whole_text",
                      "whole_own": "elem_whole_own_text",
                      "data": "elem_data"}


def node_table_df(docs: DataFrame, html_col: str = "html",
                  id_col: str = "doc_id",
                  include_elem_text: bool = False,
                  text_columns: tuple = (),
                  match_text: bool = False) -> DataFrame:
    """(doc_id, html) -> exploded node table (SURVEY.md §1.2): one row per
    DOM node with preorder ids, int parent/child/sibling indices, and a
    subtree interval enabling descendant joins
    (ancestor iff anc.node_id < d.node_id <= anc.subtree_end).

    include_elem_text adds a normalized per-element ``elem_text`` column so
    nodequery can compile :contains/:matches as JVM string predicates.
    text_columns generalizes it to the other per-element text views the
    text pseudos read: any of "text", "own" (elem_own_text), "whole"
    (elem_whole_text), "whole_own" (elem_whole_own_text), "data"
    (elem_data). Opt-in: each text fragment is stored once per ancestor
    element, so at corpus scale request only what the query set needs.

    match_text builds the table from the :matchText-rewritten tree
    (selector.prepare_match_text — every text-node child wrapped in a
    PseudoTextElement carrying the parent's tag+attrs, Evaluator.kt:816-829)
    and adds a 0/1 ``pseudo`` column, so nodequery compiles :matchText as a
    plain column predicate. Opt-in because the rewrite changes tree shape
    for EVERY selector evaluated over the table — exactly the reference's
    own semantics, where a :matchText query mutates the document."""
    from ..kernel.selector import prepare_match_text

    docs = docs.select(F.col(id_col).cast("string").alias("doc_id"),
                       F.col(html_col).alias("html"))
    tcols = tuple(dict.fromkeys(
        (("text",) if include_elem_text else ()) + tuple(text_columns)))
    text_names = tuple(_TEXT_COLUMN_NAMES[k] for k in tcols)
    extra_fields = [StructField(n, StringType()) for n in text_names]
    if match_text:
        extra_fields.append(StructField("pseudo", IntegerType()))
    schema = StructType(NODE_TABLE_SCHEMA.fields + extra_fields)
    out_keys = schema.fieldNames()[1:]

    def table(h: str) -> list:
        doc = _parse(h)
        if match_text:
            prepare_match_text(doc)
        t = doc.to_table(text_columns=tcols, include_pseudo=match_text)
        return [t[k] for k in out_keys]

    return map_docs(docs, schema, table, explode=True)


# node-kind codes re-exported for DataFrame-side filters
KIND_DOCUMENT = dom.DOCUMENT
KIND_ELEMENT = dom.ELEMENT
KIND_TEXT = dom.TEXT
KIND_DATA = dom.DATA
KIND_COMMENT = dom.COMMENT
KIND_CDATA = dom.CDATA


def extract_spans_from_bytes_df(docs: DataFrame, bytes_col: str = "content",
                                id_col: str = "doc_id",
                                charset_col: str | None = None) -> DataFrame:
    """(doc_id, content:binary[, charset hint]) -> (doc_id, spans).

    Runs the full charset pipeline per document before parsing: gzip magic,
    BOM sniff (overrides everything), declared-charset detection from the
    first 5KB (meta/xml-decl trial scan), hint fallback, then UTF-8 —
    DataUtil.load semantics (helper/DataUtil.kt:38-259). Pairs with
    spark.read.format("binaryFile") for raw crawl archives.
    """
    from ..kernel.charset import decode_html_bytes

    cols = [F.col(id_col).cast("string").alias("doc_id"),
            F.col(bytes_col).alias("content")]
    if charset_col:
        cols.append(F.col(charset_col).alias("charset"))
    docs = docs.select(*cols)

    def spans(b: bytes, hint: str | None = None) -> list[dict]:
        return extract_spans_from_html(decode_html_bytes(b, hint))

    return map_docs(docs, SPANS_SCHEMA, spans)


SELECTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("match_index", IntegerType()),
        StructField("tag", StringType()),
        StructField("text", StringType()),
        StructField("own_text", StringType()),
        StructField("attrs", MapType(StringType(), StringType())),
    ]
)


def select_elements_df(docs: DataFrame, css: str, html_col: str = "html",
                       id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide Element.select: one output row per matched element in
    document order, carrying tag/text()/ownText()/attrs.

    The CSS query compiles once on the driver (validated eagerly) and again
    per executor from the broadcast closure's string (QueryParser caches).
    """
    from ..kernel import selector as _sel
    from ..kernel import textops as _tx

    _sel.parse_query(css)  # validate on driver
    docs = docs.select(F.col(id_col).cast("string").alias("doc_id"),
                       F.col(html_col).alias("html"))

    def matches(h: str) -> tuple:
        d = _parse(h)
        nodes = _sel.select(d, css)
        return (range(len(nodes)), [d.tag[n] for n in nodes],
                [_tx.element_text(d, n) for n in nodes],
                [_tx.own_text(d, n) for n in nodes],
                [d.attrs[n] for n in nodes])

    return map_docs(docs, SELECTED_SCHEMA, matches, explode=True)
