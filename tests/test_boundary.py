"""The Spark <-> Python boundary (operators/boundary.py).

Every kernel reaches Spark through one module, so the boundary's rules hold
everywhere at once. Two tests pin that:

* the null rule — a NULL document gives the same output as an empty one —
  checked on every public column function, every row-emitting operator and
  the streaming column UDF;
* the structure — no other module under ksoup_spark/ opens its own Arrow or
  pandas boundary or hand-writes an Arrow type.
"""

from __future__ import annotations

import ast
import inspect
import pathlib

import pytest

import ksoup_spark
from ksoup_spark.functions import html as H
from ksoup_spark.operators import extract, multimodal
from ksoup_spark.streaming import stream

_HTML = ("<html><head><title>T</title><meta name=description content=d>"
         "<link rel=icon href=f.ico></head><body><div id=m class=x>"
         "<p>one <b>two</b></p><img src='i.png'><a href='/l'>l</a>"
         "<form><input name=q></form></div></body></html>")
_SPANS = [{"kind": "html", "text": _HTML, "media_ref": None, "offset": 0},
          {"kind": "image", "text": None, "media_ref": "m.png", "offset": 1}]
_PNG = (b"\x89PNG\r\n\x1a\n\x00\x00\x00\rIHDR\x00\x00\x00\x10\x00\x00\x00\x20"
        + bytes(64))
_PDF = (b"%PDF-1.4\n1 0 obj <</Length 99>> stream\n"
        b"BT /F1 12 Tf 72 720 Td (line one) Tj ET\nendstream endobj")

# extra arguments of the column functions that take more than the column
_COLUMN_ARGS = {
    "html_select_text": ("p",),
    "html_css_selector": ("*",),
    "html_select_own_text": ("p",),
    "html_select_attr": ("img", "src", True),
    "html_select_count": ("*",),
    "html_select_html": ("p",),
    "xml_select_text": ("*",),
    "html_remove": ("p",),
    "html_set_attr": ("p", "k", "v"),
    "html_wrap": ("p", "<section></section>"),
    "html_unwrap": ("b",),
    "html_src_positions": ("*",),
    "html_src_ranges": ("p",),
    "html_attr_src_range": ("img", "src"),
}
COLUMN_FNS = sorted(
    name for name, f in vars(H).items()
    if inspect.isfunction(f) and f.__module__ == H.__name__
    and not name.startswith("_"))

# operator -> (input column type, real value, empty value, call)
OPERATORS = {
    "extract_spans_df": (
        extract.SPANS_TYPE.simpleString(), _SPANS, [],
        lambda df: extract.extract_spans_df(
            df.withColumnRenamed("v", "spans"))),
    "extract_spans_from_html_df": (
        "string", _HTML, "",
        lambda df: extract.extract_spans_from_html_df(df, html_col="v")),
    "extract_spans_from_bytes_df": (
        "binary", _HTML.encode(), b"",
        lambda df: extract.extract_spans_from_bytes_df(df, bytes_col="v")),
    "node_table_df": (
        "string", _HTML, "",
        lambda df: extract.node_table_df(df, html_col="v",
                                         include_elem_text=True)),
    "select_elements_df": (
        "string", _HTML, "",
        lambda df: extract.select_elements_df(df, "*", html_col="v")),
    "media_metadata": (
        "binary", _PNG, b"",
        lambda df: multimodal.media_metadata(df, id_col="doc_id",
                                             payload_col="v")),
    "media_features": (
        "binary", _PNG, b"",
        lambda df: multimodal.media_features(df, id_col="doc_id",
                                             payload_col="v")),
    "sample_frames": (
        "binary", _PNG, b"",
        lambda df: multimodal.sample_frames(df, every_n_bytes=16,
                                            id_col="doc_id", payload_col="v")),
    "pdf_layout": (
        "binary", _PDF, b"",
        lambda df: multimodal.pdf_layout(df, id_col="doc_id",
                                         payload_col="v")),
}


def _frame(spark, col_type: str, real, empty):
    return spark.createDataFrame(
        [("real", real), ("empty", empty), ("null", None)],
        f"doc_id string, v {col_type}")


@pytest.fixture(scope="module")
def column_outputs(spark):
    """Every column function and the streaming span UDF over the html (or
    spans) frame, in two Spark jobs."""
    assert set(_COLUMN_ARGS) <= set(COLUMN_FNS)
    html = _frame(spark, "string", _HTML, "")
    cols = [getattr(H, n)("v", *_COLUMN_ARGS.get(n, ())).alias(n)
            for n in COLUMN_FNS]
    out = {r["doc_id"]: r.asDict(recursive=True)
           for r in html.select("doc_id", *cols).collect()}
    spans = _frame(spark, OPERATORS["extract_spans_df"][0], _SPANS, [])
    for r in spans.select("doc_id", stream.extract_spans_col()("v")
                          .alias("extract_spans_col")).collect():
        out[r["doc_id"]]["extract_spans_col"] = r.asDict(recursive=True)[
            "extract_spans_col"]
    return out


@pytest.mark.parametrize("name", COLUMN_FNS + ["extract_spans_col"])
def test_column_null_reads_as_empty(column_outputs, name):
    assert column_outputs["null"][name] == column_outputs["empty"][name]


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_null_reads_as_empty(spark, name):
    col_type, real, empty, op = OPERATORS[name]
    out = op(_frame(spark, col_type, real, empty))
    key = out.columns[0]
    rows: dict[str, list] = {"real": [], "empty": [], "null": []}
    for r in out.collect():
        d = r.asDict(recursive=True)
        rows[d.pop(key)].append(d)
    assert rows["real"]
    assert rows["null"] == rows["empty"]


_BOUNDARY = {"mapInArrow", "mapInPandas", "pandas_udf", "arrow_udf"}
_ARROW_TYPES = {"list_", "large_list", "struct", "map_"}


def test_one_boundary_module():
    """Only operators/boundary.py opens a Spark <-> Python batch boundary
    or writes an Arrow type by hand; applyInPandasWithState (stateful,
    another shape) is not one of them."""
    root = pathlib.Path(ksoup_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "operators" / "boundary.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute):
                name = node.attr
                if (name in _ARROW_TYPES and isinstance(node.value, ast.Name)
                        and node.value.id in ("pa", "pyarrow")):
                    name = "pa." + name
            elif isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.alias):
                name = node.name
            else:
                continue
            if name in _BOUNDARY or name.startswith("pa."):
                found.append(f"{path.relative_to(root)}:{node.lineno} {name}")
    assert found == []
