"""The Spark <-> Python boundary (operators/boundary.py).

Every kernel reaches Spark through one module, so the boundary's rules hold
everywhere at once. Two tests pin that:

* the null rule — a NULL document gives the same output as an empty one —
  checked on every public column function, every row-emitting operator and
  the streaming column UDF;
* the structure — no other module under ksoup_spark/ opens its own Arrow or
  pandas boundary or hand-writes an Arrow type.

The worker-side import-cache guard (``boundary._guard_zip_refresh``) is
checked in a fresh interpreter, and through Spark: workers run it, the
driver does not.
"""

from __future__ import annotations

import ast
import inspect
import pathlib
import subprocess
import sys
import textwrap
import zipimport

import pytest
from pyspark.sql.types import StringType, StructField, StructType

import ksoup_spark
from ksoup_spark.functions import html as H
from ksoup_spark.operators import boundary, extract, multimodal
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


_ROOT = pathlib.Path(ksoup_spark.__file__).parent.parent


def _run_fresh(code: str) -> None:
    """Run ``code`` in a fresh interpreter; it asserts on its own."""
    done = subprocess.run([sys.executable, "-c", textwrap.dedent(code)],
                          cwd=_ROOT, capture_output=True, text=True,
                          timeout=120)
    assert done.returncode == 0, done.stderr


def test_zip_guard_rereads_changed_archives_only(tmp_path):
    _run_fresh(f"""
        import importlib, sys, zipfile, zipimport
        from ksoup_spark.operators import boundary

        z = {str(tmp_path / "mods.zip")!r}

        def write(*mods):
            with zipfile.ZipFile(z, "w") as f:
                for m in mods:
                    f.writestr(m + ".py", f"NAME = {{m!r}}\\n")

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: (reads.append(p), real(p))[1]

        write("m1")
        sys.path.insert(0, z)
        import m1
        assert m1.NAME == "m1"
        importlib.invalidate_caches()
        assert reads.count(z) == 2  # the import and the stdlib's re-read

        boundary._guard_zip_refresh()
        boundary._guard_zip_refresh()
        assert zipimport.zipimporter.invalidate_caches \\
            is boundary._stamped_invalidate
        importlib.invalidate_caches()  # first guarded refresh: one stamped read
        del reads[:]
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(z) == 0

        write("m1", "m2")
        importlib.invalidate_caches()
        assert reads.count(z) == 1
        import m2
        assert m2.NAME == "m2"
    """)


def test_zip_guard_defers_to_lazy_stdlib():
    _run_fresh("""
        import zipimport
        from ksoup_spark.operators import boundary

        stdlib = zipimport.zipimporter.invalidate_caches
        zipimport.zipimporter._get_files = lambda self: {}
        boundary._guard_zip_refresh()
        assert zipimport.zipimporter.invalidate_caches is stdlib
    """)


@pytest.mark.parametrize("loop", ["rows", "exploded", "column"])
def test_worker_loops_install_zip_guard(loop):
    """Each worker-side loop installs the guard itself: map_docs' ``rows``
    and ``exploded`` and column_fn's ``batch``, each in a fresh process."""
    _run_fresh(f"""
        import zipimport
        import pyarrow as pa
        from pyspark.sql.types import StringType, StructField, StructType
        from ksoup_spark.operators import boundary

        class Frame:  # hands back the function mapInArrow would ship
            def mapInArrow(self, f, schema):
                return f

        schema = StructType([StructField("k", StringType()),
                             StructField("v", StringType())])
        batch = pa.record_batch([pa.array(["a"]), pa.array(["x"])],
                                names=["k", "v"])
        guarded = boundary._stamped_invalidate
        assert zipimport.zipimporter.invalidate_caches is not guarded
        if {loop!r} == "column":
            boundary.column_fn(StringType(), str.upper).func(batch.column(1))
        else:
            explode = {loop!r} == "exploded"
            fn = (lambda v: ([v],)) if explode else str.upper
            list(boundary.map_docs(Frame(), schema, fn, explode)(iter([batch])))
        assert zipimport.zipimporter.invalidate_caches is guarded
    """)


def test_workers_run_zip_guard(spark):
    def guard_name(_) -> str:
        m = zipimport.zipimporter.invalidate_caches
        return f"{m.__module__}.{m.__qualname__}"

    html = spark.range(64).selectExpr("CAST(id AS STRING) AS doc_id",
                                      "'<p>x</p>' AS v").repartition(8)
    schema = StructType([StructField("doc_id", StringType()),
                         StructField("guard", StringType())])
    spark.range(8).repartition(8).count()  # warm-up job
    by_op = boundary.map_docs(html, schema, guard_name)
    by_col = boundary.column_fn(StringType(), guard_name)("v").alias("guard")
    guarded = {"ksoup_spark.operators.boundary._stamped_invalidate"}
    assert by_op.rdd.getNumPartitions() >= 8
    assert {r.guard for r in by_op.collect()} == guarded
    assert {r.guard for r in html.select(by_col).collect()} == guarded
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert zipimport.zipimporter.invalidate_caches \
        is not boundary._stamped_invalidate
