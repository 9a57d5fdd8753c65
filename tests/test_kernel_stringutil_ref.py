"""StringUtil.resolve parity (internal/StringUtilTest.kt:119-164): the full
published resolve table including the RFC 3986 §5.4.2 examples, plus
control-char stripping and the absUrl contract over it."""

from ksoup_spark.kernel.dom import resolve_url
from ksoup_spark.kernel.selector import select_first
from ksoup_spark.kernel.treebuilder import parse

RESOLVE_TABLE = [
    ("http://example.com", "./one/two?three", "http://example.com/one/two?three"),
    ("http://example.com?one", "./one/two?three", "http://example.com/one/two?three"),
    ("http://example.com", "./one/two?three#four",
     "http://example.com/one/two?three#four"),
    ("http://example.com/", "https://example.com/one", "https://example.com/one"),
    ("http://example.com/two/", "../one/two.html",
     "http://example.com/one/two.html"),
    ("https://example.com/", "//example2.com/one", "https://example2.com/one"),
    ("https://example.com:8080", "./one", "https://example.com:8080/one"),
    ("http://example.com/", "https://example2.com/one", "https://example2.com/one"),
    ("wrong", "https://example.com/one", "https://example.com/one"),
    ("https://example.com/one", "", "https://example.com/one"),
    ("https://example.com/one/two/", "../two.c", "https://example.com/one/two.c"),
    ("https://example.com/one/two", "../two.c", "https://example.com/two.c"),
    ("wrong", "also wrong", ""),
    ("ftp://example.com/two/", "../one", "ftp://example.com/one"),
    ("ftp://example.com/one/", "./two.c", "ftp://example.com/one/two.c"),
    ("ftp://example.com/one/", "two.c", "ftp://example.com/one/two.c"),
    # rfc3986 section 5.4.2
    ("http://example.com/b/c/d;p?q", "../../../g", "http://example.com/g"),
    ("http://example.com/b/c/d;p?q", "../../../../g", "http://example.com/g"),
    ("http://example.com/b/c/d;p?q", "/./g", "http://example.com/g"),
    ("http://example.com/b/c/d;p?q", "/../g", "http://example.com/g"),
    ("http://example.com/b/c/d;p?q", "g.", "http://example.com/b/c/g."),
    ("http://example.com/b/c/d;p?q", ".g", "http://example.com/b/c/.g"),
    ("http://example.com/b/c/d;p?q", "g..", "http://example.com/b/c/g.."),
    ("http://example.com/b/c/d;p?q", "..g", "http://example.com/b/c/..g"),
    ("http://example.com/b/c/d;p?q", "./../g", "http://example.com/b/g"),
    ("http://example.com/b/c/d;p?q", "./g/.", "http://example.com/b/c/g/"),
    ("http://example.com/b/c/d;p?q", "g/./h", "http://example.com/b/c/g/h"),
    ("http://example.com/b/c/d;p?q", "g/../h", "http://example.com/b/c/h"),
    ("http://example.com/b/c/d;p?q", "g;x=1/./y", "http://example.com/b/c/g;x=1/y"),
    ("http://example.com/b/c/d;p?q", "g;x=1/../y", "http://example.com/b/c/y"),
    ("http://example.com/b/c/d;p?q", "g?y/./x", "http://example.com/b/c/g?y/./x"),
    ("http://example.com/b/c/d;p?q", "g?y/../x", "http://example.com/b/c/g?y/../x"),
    ("http://example.com/b/c/d;p?q", "g#s/./x", "http://example.com/b/c/g#s/./x"),
    ("http://example.com/b/c/d;p?q", "g#s/../x", "http://example.com/b/c/g#s/../x"),
]


def test_resolves_relative_urls():
    for base, rel, want in RESOLVE_TABLE:
        assert resolve_url(base, rel) == want, (base, rel)


def test_strips_control_chars_from_urls():
    # StringUtilTest.stripsControlCharsFromUrls
    assert resolve_url("\nhttps://\texample.com/", "\r\nfo\to:ba\br") == "foo:bar"


def test_abs_url_unresolvable_relative_is_empty():
    # Node.absUrl (Node.kt:234-244): no base + relative href -> ""
    d = parse('<a href="/rel">x</a>')
    a = select_first(d, "a")
    assert d.abs_url(a, "href") == ""
    assert d.get_attr(a, "href") == "/rel"


def test_abs_url_absolute_value_without_base():
    d = parse('<a href="https://example.com/one">x</a>')
    a = select_first(d, "a")
    assert d.abs_url(a, "href") == "https://example.com/one"


# ---------------------------------------------------------------------------
# resolve_url's plain-join fast path vs the urljoin merge it skips
# ---------------------------------------------------------------------------

import re  # noqa: E402
from urllib.parse import urljoin  # noqa: E402

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from ksoup_spark.kernel import dom  # noqa: E402


def _urljoin_resolve(base, rel):
    """resolve_url as it reads without the fast path: every merge through
    urljoin."""
    ctl = re.compile(r"[\x00-\x1f]+")
    base = ctl.sub("", base) if base else ""
    rel = ctl.sub("", rel) if rel else ""
    if not rel:
        return base
    if len(rel) > 2 and ":" in rel:
        return rel
    if not (len(base) > 2 and ":" in base):
        return ""
    try:
        return urljoin(base, rel)
    except ValueError:
        return ""


_SCHEMES = st.sampled_from(["http://", "https://", "HTTP://", "Https://",
                            "ftp://", "file://", "mailto:", "http:/",
                            "http:", "data:", "x-y://", " http://", ""])
_HOSTS = st.sampled_from(["corpus.example", "a.b", "h:8080", "h:", "u@h",
                          "[::1]", "[::1]:80", "[::1", "::1]", "é.example",
                          "ex\\am", "h h", "", ".", "h?q", "h#f", "h;p"])
_SEGS = st.sampled_from(["a", "doc-1", "media", "b c", "%20", "x.bin", ".",
                         "..", "", ".g", "g.", "..g", ";p", "a;b", "?q", "#f",
                         "a?b", "b#c", "\\", "a\\b", ":", "a:b", " ", " a",
                         "a ", "\x01", "\t", "\n", "é", "中", "\x7f", "~"])
_PATHS = st.lists(_SEGS, max_size=6).map("/".join)
_LEADS = st.sampled_from(["", "", "", "/", "//", " ", "./", "../", "\x00",
                          "\\", "?", "#"])
_TRAILS = st.sampled_from(["", "", "/", " ", "/.", "/..", "?x", "#y", ";z"])


@st.composite
def _bases(draw):
    return (draw(_SCHEMES) + draw(_HOSTS) + draw(_LEADS)
            + draw(_PATHS) + draw(_TRAILS))


@st.composite
def _rels(draw):
    return draw(_LEADS) + draw(_PATHS) + draw(_TRAILS)


_FREE = st.text(alphabet=st.sampled_from(list("ab./\\?#;:[]@% é\x00\t")),
                max_size=24)


@settings(max_examples=3000, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(base=st.one_of(_bases(), _FREE), rel=st.one_of(_rels(), _FREE))
def test_resolve_url_matches_urljoin(base, rel):
    assert resolve_url(base, rel) == _urljoin_resolve(base, rel)


@settings(max_examples=1000, deadline=None)
@given(base=_bases(), rel=_rels())
def test_plain_join_is_urljoin_where_taken(base, rel):
    """Where the fast path answers, its answer is urljoin's (on inputs
    already stripped of control chars, as resolve_url hands them over)."""
    base, rel = dom._strip_ctl(base), dom._strip_ctl(rel)
    joined = dom._plain_join(base, rel)
    if joined is not None:
        assert joined == urljoin(base, rel)


def test_media_ref_shape_takes_the_fast_path():
    assert dom._plain_join("http://corpus.example/doc-1/",
                           "media/doc-1.bin") \
        == "http://corpus.example/doc-1/media/doc-1.bin"
    assert dom._plain_join("https://h/a/b", "c d/e.png") == "https://h/a/c d/e.png"
    for base, rel in [("http://h/a/./", "x"), ("http://h/a//b", "x"),
                      ("http://h", "x"), ("HTTP://h/", "x"),
                      ("http://[::1]/", "x"), ("http://h/?q", "x"),
                      ("http://h/", "./x"), ("http://h/", "a/../x"),
                      ("http://h/", "a//x"), ("http://h/", " x"),
                      ("http://h/", "x;p"), ("http://h/", "x\\y")]:
        assert dom._plain_join(base, rel) is None, (base, rel)
