"""Differential parity: the C text walk vs the pure-Python one.

The C walk (text_walk in _ctok_src.c, behind extract_spans and element_text)
must emit byte-identical span sequences to textops._extract_spans_py and
identical text to textops._element_text_py on every document shape the
corpus and the fuzz campaign's tag soup exercise — media interleave, pre
depth rules, block boundary spaces, CDATA, entities, deep nesting. The C
whitespace normalizer (norm_ws) must equal textops._norm_ws_py on any string.
"""

from __future__ import annotations

import hypothesis.strategies as st
import pytest
from hypothesis import given, settings

from ksoup_spark.kernel import dom
from ksoup_spark.kernel.ctokenizer import c_function
from ksoup_spark.kernel.textops import (
    _extract_spans_py, _norm_ws_py, extract_spans)
from ksoup_spark.kernel.treebuilder import parse

pytestmark = pytest.mark.skipif(c_function("extract_spans") is None,
                                reason="C module unavailable")


def both(html: str):
    d = parse(html)
    root = d.body()
    if root == -1:
        root = d.html_el()
    if root == -1:
        root = 0
    got = extract_spans(d)
    want = _extract_spans_py(d, root)
    assert got == want, html[:120]
    return got


CASES = [
    "<p>Hello  world</p>",
    "<div><p>a</p><p>b</p></div>",
    "<div>a<img src='x.png'>b</div>",
    "<base href='http://e.x/d/'><img src='i.png'><object data='o.swf'></object>",
    "<video><source src='v.mp4'>fallback <b>text</b></video>",
    "<video src='direct.mp4'><source src='v.mp4'></video>",
    "<img>",  # no src: empty ref
    "<pre>  spaces\n\tkept  </pre>after",
    "<pre><div><div><div><div><div><div><div>  deep: normalized?  "
    "</div></div></div></div></div></div></div></pre>",
    "<textarea>  rc\ndata  </textarea>",
    # text whose parent is 5 and 6 levels below a pre: the edge of the
    # 6-level raw rule
    "<pre>" + "<i>" * 5 + "  five  up  " + "</i>" * 5 + "</pre>",
    "<pre>" + "<i>" * 6 + "  six  up  " + "</i>" * 6 + "</pre>",
    "<p>a&nbsp;&nbsp;b</p>",
    "<p>a&#x200b;b&shy;c</p>",
    "<p>x</p> <span>y</span>",
    "<ul><li>one<li>two<li>three</ul>",
    "<table><tr><td>c1<td>c2<tr><td>c3</table>tail",
    "<div>a<br>b</div>",
    "<button>b1</button><output>o1</output>inline",
    "<script>var x = 1;</script><style>.a{}</style>visible",
    "<body><img src='top.png'>",  # media as first body child
    "<p>" + "word " * 500 + "</p>",
    "<div>" * 80 + "deep" + "</div>" * 80,
    "<b><i>unclosed <p>adoption",
    "<svg><text>svg text</text></svg>",
    "<math><mi>x</mi></math>",
    "<p> </p><p>​</p>",  # whitespace-only -> no span
    "",
    "plain text only",
    "<!-- comment -->text<!-- more -->",
    "<div><![CDATA[not cdata in html]]></div>",
    "<h1>title</h1><h2>sub</h2>para",
    "<p>téxt uniçode 中文</p>",
    "<div title='attr'>a<wbr>b</div>",
    "<object><param name='x'><p>fb</p></object>mid<img src='i2.png'>",
]


@pytest.mark.parametrize("html", CASES, ids=range(len(CASES)))
def test_parity(html):
    both(html)


def test_media_span_shape():
    spans = both(
        "<base href='http://h.x/'><p>a</p><img src='1.png'>"
        "<video src='2.mp4'></video><object data='3.swf'></object><p>z</p>")
    kinds = [s[0] for s in spans]
    assert kinds == ["text", "image", "video", "object", "text"]
    refs = [s[2] for s in spans if s[0] != "text"]
    assert refs == ["http://h.x/1.png", "http://h.x/2.mp4",
                    "http://h.x/3.swf"]
    assert [s[3] for s in spans] == list(range(len(spans)))


def test_lone_surrogate_falls_back():
    # lone surrogates can't view as UTF-8: wrapper must fall back, not raise
    d = parse("<p>ok</p>")
    t = d.new_node(dom.TEXT, text="bad \udcff surrogate")
    d.children[d.body()].append(t)
    d.parent.append(d.body())
    spans = extract_spans(d)
    assert any("surrogate" in (s[1] or "") for s in spans)


def test_corpus_page_parity(corpus_pages, soup_pages):
    assert len(corpus_pages) >= 500 and len(soup_pages) >= 300
    for html in corpus_pages + soup_pages:
        both(html)


def test_element_text_parity():
    from ksoup_spark.kernel import textops as T

    if c_function("element_text") is None:
        pytest.skip("C module unavailable")
    for html in CASES:
        d = parse(html)
        for node in range(len(d.kind)):
            if d.kind[node] == dom.ELEMENT:
                assert T.element_text(d, node) == \
                    T._element_text_py(d, node), (html[:80], node)


def test_element_text_corpus_page_parity(corpus_pages, soup_pages):
    from ksoup_spark.kernel import textops as T

    if c_function("element_text") is None:
        pytest.skip("C module unavailable")
    assert len(corpus_pages) >= 500 and len(soup_pages) >= 300
    for html in corpus_pages + soup_pages:
        d = parse(html)
        for node in range(len(d.kind)):
            if d.kind[node] == dom.ELEMENT:
                assert T.element_text(d, node) == \
                    T._element_text_py(d, node), (html[:80], node)


# spaces, tabs, CR, LF, FF, nbsp, the two invisibles (U+200B, U+00AD),
# ASCII letters and CJK
_WS_TEXT = st.text(alphabet=st.sampled_from(
    list(" \t\r\n\f\u00a0\u200b\u00ad") + list("abcXYZ") + list("中文字")),
    max_size=40)


@given(_WS_TEXT, st.booleans())
@settings(max_examples=500, deadline=None)
def test_norm_ws_matches_python(s, strip_leading):
    assert c_function("norm_ws")(s, strip_leading) == \
        _norm_ws_py(s, strip_leading)


@pytest.mark.parametrize("s", ["", " ", "\t\r\n\f", "\u00a0 \u00a0",
                               "\u200b\u00ad", " \u200b "])
@pytest.mark.parametrize("strip_leading", [False, True])
def test_norm_ws_matches_python_on_blank_input(s, strip_leading):
    assert c_function("norm_ws")(s, strip_leading) == \
        _norm_ws_py(s, strip_leading)
