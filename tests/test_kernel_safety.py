"""Sanitizer goldens — semantics from safety/CleanerTest.kt / SafelistTest."""

from ksoup_spark.kernel.safety import Safelist, clean_html, is_valid_html


def test_simple_text_keeps_formatting():
    out = clean_html("<p>Hello <b>world</b>!</p>", Safelist.simple_text())
    assert out == "Hello <b>world</b>!"


def test_basic_drops_script_payload():
    out = clean_html("<div><script>alert(1)</script><b>ok</b></div>",
                     Safelist.basic())
    assert "alert" not in out
    assert "<b>ok</b>" in out


def test_children_of_dropped_element_promoted():
    out = clean_html("<div><p>keep</p></div>", Safelist.basic())
    assert out == "<p>keep</p>"


def test_enforced_rel_nofollow():
    out = clean_html('<a href="http://x.com/">x</a>', Safelist.basic())
    assert 'rel="nofollow"' in out
    assert 'href="http://x.com/"' in out


def test_protocol_filtering():
    out = clean_html('<a href="javascript:alert(1)">x</a>', Safelist.basic())
    assert "href" not in out
    out2 = clean_html('<a href="mailto:a@b.c">m</a>', Safelist.basic())
    assert 'href="mailto:a@b.c"' in out2


def test_disallowed_attrs_dropped():
    out = clean_html('<p class="x" onclick="evil()">t</p>', Safelist.basic())
    assert "onclick" not in out and "class" not in out
    assert "<p>t</p>" == out


def test_none_safelist_text_only():
    out = clean_html("<div><p>a<b>b</b></p></div>", Safelist.none())
    assert out == "ab"


def test_basic_with_images():
    out = clean_html('<img src="http://i.co/a.png" onerror=x>',
                     Safelist.basic_with_images())
    assert 'src="http://i.co/a.png"' in out and "onerror" not in out


def test_relaxed_keeps_tables():
    out = clean_html("<table><tr><td>c</td></tr></table>", Safelist.relaxed())
    assert "<td>c</td>" in out


def test_is_valid():
    assert is_valid_html("<p>fine <b>text</b></p>", Safelist.basic())
    assert not is_valid_html("<p onclick=x>bad</p>", Safelist.basic())
    assert not is_valid_html("<script>x</script>", Safelist.basic())


# -- customization API goldens (CleanerTest.kt:66-124, 80-105) ---------------

import re as _re


def _norm(s: str) -> str:
    s = _re.sub(r"\s+<", "<", s)
    s = _re.sub(r">\s+", ">", s)
    return _re.sub(r"\s+", " ", s).strip()

def test_remove_tags():
    h = "<div><p><A HREF='HTTP://nice.com'>Nice</a></p><blockquote>Hello</blockquote>"
    got = clean_html(h, Safelist.basic().remove_tags("a"))
    assert _norm(got) == "<p>Nice</p><blockquote>Hello</blockquote>"


def test_remove_attributes():
    h = "<div><p>Nice</p><blockquote cite='http://example.com/quotations'>Hello</blockquote>"
    got = clean_html(h, Safelist.basic().remove_attributes("blockquote", "cite"))
    assert _norm(got) == "<p>Nice</p><blockquote>Hello</blockquote>"


def test_remove_enforced_attributes():
    h = "<div><p><A HREF='http://nice.com'>Nice</a></p><blockquote>Hello</blockquote>"
    got = clean_html(h, Safelist.basic().remove_enforced_attribute("a", "rel"))
    assert _norm(got) == \
        '<p><a href="http://nice.com">Nice</a></p><blockquote>Hello</blockquote>'


def test_remove_protocols():
    h = "<p>Contact me <a href='mailto:info@example.com'>here</a></p>"
    got = clean_html(h, Safelist.basic().remove_protocols("a", "href", "ftp", "mailto"))
    assert _norm(got) == '<p>Contact me<a rel="nofollow">here</a></p>'


def test_all_attributes_pseudo_tag():
    h = ("<div class=foo data=true><p class=bar>Text</p></div>"
         "<blockquote cite='https://example.com'>Foo</blockquote>")
    sl = Safelist.relaxed().add_attributes(":all", "class") \
        .add_attributes("div", "data")
    got = clean_html(h, sl)
    assert 'class="foo"' in got and 'class="bar"' in got and 'data="true"' in got


def test_add_tags_and_protocols():
    h = "<p><custom x=1>keep</custom><a href='ftp://x/f'>f</a></p>"
    sl = Safelist.basic().add_tags("custom").add_attributes("custom", "x") \
        .add_protocols("a", "href", "ftp")
    got = clean_html(h, sl)
    assert '<custom x="1">keep</custom>' in got and 'href="ftp://x/f"' in got


def test_preserve_relative_links():
    # Reference semantics (Safelist.kt:423-451): the protocol test always
    # runs against the abs-resolved value; preserveRelativeLinks only
    # controls whether the OUTPUT keeps the relative form. Unresolvable
    # relative links (no base URI) are dropped either way.
    h = "<a href='/relative/path'>rel</a>"
    assert "href" not in clean_html(h, Safelist.basic())
    assert "href" not in clean_html(
        h, Safelist.basic().preserve_relative_links(True))
    # with a base URI: kept relative when preserving, rewritten to abs when not
    got = clean_html(h, Safelist.basic().preserve_relative_links(True),
                     base_uri="http://example.com/dir/")
    assert 'href="/relative/path"' in got
    got = clean_html(h, Safelist.basic(), base_uri="http://example.com/dir/")
    assert 'href="http://example.com/relative/path"' in got


def test_clean_control_char_protocol_bypass():
    # C0-prefixed javascript: has no urlparse-able scheme but executes in
    # browsers; prefix matching must reject it (preserve flag or not)
    h = "<a href='\x01javascript:alert(1)'>x</a>"
    assert "javascript" not in clean_html(h, Safelist.basic())
    assert "javascript" not in clean_html(
        h, Safelist.basic().preserve_relative_links(True))


def test_clean_anchor_protocol():
    sl = Safelist.basic().add_protocols("a", "href", "#")
    assert 'href="#frag"' in clean_html("<a href='#frag'>x</a>", sl)
    assert "href" not in clean_html("<a href='#fr ag'>x</a>", sl)


def test_basic_q_cite_unconstrained_reference_quirk():
    # Safelist.kt:595 registers the cite-protocol constraint on the `cite`
    # TAG, not on q — so q[cite] passes any value in basic()
    got = clean_html("<q cite='ftp://weird/x'>t</q>", Safelist.basic())
    assert 'cite="ftp://weird/x"' in got
    # blockquote[cite] IS constrained to http/https
    got2 = clean_html("<blockquote cite='ftp://w/x'>t</blockquote>",
                      Safelist.basic())
    assert "cite" not in got2.replace("blockquote", "bq")


def test_deep_chain_serializes_and_cleans():
    """A 50,000-deep <div> chain: serialization and cleaning walk the tree
    with explicit stacks, so depth is no RecursionError."""
    from ksoup_spark.kernel.serialize import outer_html
    from ksoup_spark.kernel.treebuilder import parse

    depth = 50_000
    html = "<div>" * depth + "x" + "</div>" * depth
    out = outer_html(parse(html), pretty=False)
    assert out.count("<div>") == depth and out.count("</div>") == depth
    assert "<div>x</div>" in out
    keep_divs = Safelist.basic().add_tags("div")
    cleaned = clean_html(html, keep_divs)
    assert cleaned.count("<div>") == depth and cleaned.count("</div>") == depth
    assert is_valid_html(html, keep_divs)
    assert clean_html(html) == "x"
    assert not is_valid_html(html)
