"""C to_table_ints vs the pure-Python to_table (exact parity).

The C path (py_to_table_ints in _ctok_src.c) builds the preorder integer
columns; the Python construction in dom.Doc.to_table stays the semantics
reference. Any divergence in order, remapped ids, sibling indices, or
subtree intervals breaks node-table joins silently — pin them equal on
adversarial tag soup.
"""

import random

import pytest

from ksoup_spark.kernel import ctokenizer, mutate, selector as S
from ksoup_spark.kernel import treebuilder as tb

_BITS = ["<div>", "</div>", "<p>", "<span class=x>", "</span>", "text ",
         "<table>", "<tr>", "<td>", "</table>", "<li>", "<ul>", "</ul>",
         "<b>", "<i>", "</b>", "</i>", "<!--c-->", "<pre> x </pre>",
         "<img src=u>", "<template>", "</template>", "<svg><g/></svg>",
         "<select><option>o", "&amp;", "<br>"]


def _soup(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(_BITS) for _ in range(n))


def _py_table(d, include_elem_text=False):
    """to_table with the C accessor reporting the module unavailable."""
    looked_up = []
    saved = ctokenizer.c_function
    ctokenizer.c_function = looked_up.append  # records the name, returns None
    try:
        table = d.to_table(include_elem_text=include_elem_text)
    finally:
        ctokenizer.c_function = saved
    assert "to_table_ints" in looked_up
    return table


@pytest.mark.skipif(ctokenizer.c_function("to_table_ints") is None,
                    reason="C extension not buildable here")
def test_to_table_c_parity_on_tag_soup():
    rng = random.Random(20260817)
    for i in range(120):
        html = _soup(rng, rng.randint(1, 120))
        d = tb.parse(html)
        assert d.to_table(include_elem_text=True) == \
            _py_table(d, include_elem_text=True), html[:120]


@pytest.mark.skipif(ctokenizer.c_function("to_table_ints") is None,
                    reason="C extension not buildable here")
def test_to_table_c_parity_after_mutation():
    d = tb.parse("<div><p id=a>1</p><p id=b>2</p><span>3</span></div>")
    mutate.remove(d, S.select(d, "#a")[0])
    mutate.append_html(d, S.select(d, "div")[0], "<em>new</em>")
    assert d.to_table() == _py_table(d)


@pytest.mark.skipif(ctokenizer.c_function("to_table_ints") is None,
                    reason="C extension not buildable here")
def test_to_table_c_parity_empty_and_deep():
    for html in ("", "<p>solo", "<div>" * 80 + "x" + "</div>" * 80):
        d = tb.parse(html)
        assert d.to_table() == _py_table(d), html[:40]
