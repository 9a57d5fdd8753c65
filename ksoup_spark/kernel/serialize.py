"""HTML serialization (outerHtml) — used for parse-golden tests & debugging.

Follows the reference's pretty-printing model
(/root/reference/ksoup/src/com/fleeksoft/ksoup/nodes/Element.kt:1650-1714,
TextNode.kt:61-91, Entities.kt:132-302): block-format elements indent onto
new lines, inline content stays flat, text is whitespace-normalized unless a
preserve-whitespace ancestor applies, and the base entity escapes are applied
(&amp; &lt; &gt; in text; plus &quot; in attributes; nbsp -> &nbsp;).

The span pipeline does not depend on this module; it exists for test parity
with the reference's expected-html assertions.
"""

from __future__ import annotations

import re

from . import dom
from .dom import Doc
from .tags import BLOCK_TAGS as _BLOCK, VOID_TAGS, format_as_block
from .textops import _preserves_ws


# output charset for the encodability fallback; None = no fallback (UTF).
# Set by outer_html for the duration of one serialization — the kernel is
# single-threaded per document (Parser.kt:13-14), so a module slot is safe.
_OUT_CHARSET: str | None = None
# escape mode (Entities.EscapeMode, Entities.kt:36-63): "xhtml" = the 4 XML
# entities only (nbsp goes numeric), "base" = HTML 4 core set (default),
# "extended" = prefer a named entity for chars the charset can't encode
_OUT_MODE: str = "base"


# ascii control chars < 0x20 other than \t \n \r escape numerically for XML
# compliance / readability (Entities.kt:236-243)
_CTRL_RE = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")


def _escape_ctrl(s: str) -> str:
    return _CTRL_RE.sub(lambda m: f"&#x{ord(m.group()):x};", s)


def _nbsp_ref() -> str:
    # xhtml escape mode has no &nbsp; entity -> numeric (Entities.kt:40-44)
    return "&#xa0;" if _OUT_MODE == "xhtml" else "&nbsp;"


def _escape_text(s: str) -> str:
    s = (
        s.replace("&", "&amp;")
        .replace("\xa0", _nbsp_ref())
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )
    if _CTRL_RE.search(s):
        s = _escape_ctrl(s)
    if _OUT_CHARSET:
        s = _escape_unencodable(s, _OUT_CHARSET)
    return s


def _escape_attr(s: str, xml: bool = False) -> str:
    s = (
        s.replace("&", "&amp;")
        .replace("\xa0", _nbsp_ref())
        .replace('"', "&quot;")
    )
    if xml:
        # XML syntax requires &lt; in attribute values (Entities.kt:33-42);
        # HTML attribute values keep a literal '<'
        s = s.replace("<", "&lt;")
    if _CTRL_RE.search(s):
        s = _escape_ctrl(s)
    if _OUT_CHARSET:
        s = _escape_unencodable(s, _OUT_CHARSET)
    return s


# invalid chars in serialized HTML attribute names; runs are coerced to "_",
# un-coercible keys are dropped (Attribute.getValidKey, nodes/Attribute.kt:
# 256-315)
_BAD_ATTR_KEY = re.compile("[\x00-\x1f\x7f-\x9f \"'/=]+")


def _valid_key(k: str) -> str | None:
    if _BAD_ATTR_KEY.search(k):
        k = _BAD_ATTR_KEY.sub("_", k)
    return k or None


# HTML5 boolean attributes — under html syntax these collapse to bare keys
# when the value is empty or case-insensitively equals the key
# (Attribute.shouldCollapseAttribute, nodes/Attribute.kt:202-233,336-349)
_BOOLEAN_ATTRS = frozenset(
    """allowfullscreen async autofocus checked compact declare default defer
    disabled formnovalidate hidden inert ismap itemscope multiple muted
    nohref noresize noshade novalidate nowrap open readonly required
    reversed seamless selected sortable truespeed typemustmatch""".split()
)


def _attrs_html(attrs: dict | None, xml: bool = False) -> str:
    if not attrs:
        return ""
    parts = []
    for k, v in attrs.items():
        if k.startswith("/"):
            continue
        k = _valid_key(k)
        if k is None:
            continue
        if v is None:
            # xml syntax: boolean attributes get an explicit empty value
            parts.append(f' {k}=""' if xml else f" {k}")
        elif not xml and (v == "" or v.lower() == k.lower()) \
                and k.lower() in _BOOLEAN_ATTRS:
            parts.append(f" {k}")  # shouldCollapseAttribute
        else:
            parts.append(f' {k}="{_escape_attr(v, xml)}"')
    return "".join(parts)


# remaining OutputSettings knobs (nodes/Document.kt:368-470): spaces per
# indent level, the padding cap (-1 = uncapped), outline mode (every node
# formats as block), and output syntax (html | xml)
_OUT_INDENT: int = 1
_OUT_MAXPAD: int = 30
_OUT_OUTLINE: bool = False
_OUT_SYNTAX: str = "html"


def outer_html(doc: Doc, node: int = 0, pretty: bool = True,
               charset: str | None = None,
               escape_mode: str | None = None,
               indent_amount: int = 1,
               max_padding_width: int = 30,
               outline: bool = False,
               syntax: str = "html") -> str:
    """Serialize to HTML with OutputSettings semantics
    (nodes/Document.kt:368-470):

    - ``charset``: for non-UTF output charsets, characters they cannot
      encode escape as references — the charset-encodability fallback
      (nodes/Entities.kt:206-302, canEncode + ``&#x...;``);
    - ``escape_mode``: "xhtml" (4 XML entities, nbsp numeric), "base"
      (HTML core set, default), or "extended" (prefer named entities for
      unencodable chars) — Entities.EscapeMode (Entities.kt:36-63).
      Defaults to "xhtml" under xml syntax, "base" otherwise;
    - ``indent_amount`` / ``max_padding_width``: spaces per pretty-print
      level and the padding cap (-1 = uncapped; StringUtil.padding);
    - ``outline``: format every element as block;
    - ``syntax``: "html" (default) or "xml" (childless void/self-closing
      tags serialize "<x />", attribute values escape '<', boolean
      attributes get ="").
    """
    return _serialize(doc, [node], pretty, charset, escape_mode,
                      indent_amount, max_padding_width, outline, syntax,
                      strip="\n" if pretty else None)


def _serialize(doc: Doc, nodes: list[int], pretty: bool,
               charset: str | None, escape_mode: str | None,
               indent_amount: int, max_padding_width: int,
               outline: bool, syntax: str,
               strip: str | None = "\n") -> str:
    global _OUT_CHARSET, _OUT_MODE, _OUT_INDENT, _OUT_MAXPAD, \
        _OUT_OUTLINE, _OUT_SYNTAX
    if escape_mode is None:
        # syntax(xml) auto-selects EscapeMode.xhtml (Document.kt:471-480)
        escape_mode = "xhtml" if syntax == "xml" else "base"
    if charset and charset.lower().replace("_", "-") not in (
            "utf-8", "utf8", "utf-16", "utf-32"):
        _OUT_CHARSET = charset
    _OUT_MODE = escape_mode
    _OUT_INDENT = indent_amount
    _OUT_MAXPAD = max_padding_width
    _OUT_OUTLINE = outline
    _OUT_SYNTAX = syntax
    out: list[str] = []
    try:
        for n in nodes:
            _emit(doc, n, 0, out, pretty)
    finally:
        _OUT_CHARSET = None
        _OUT_MODE = "base"
        _OUT_INDENT = 1
        _OUT_MAXPAD = 30
        _OUT_OUTLINE = False
        _OUT_SYNTAX = "html"
    s = "".join(out)
    return s.strip(strip) if strip is not None else s


def _escape_unencodable(s: str, charset: str) -> str:
    """Replace chars the target charset cannot encode with a named entity
    (extended escape mode) or ``&#xN;`` (Entities.kt:246-276 fallback)."""
    try:
        s.encode(charset)
        return s
    except LookupError:
        return s  # unknown charset name: no encodability constraint to apply
    except UnicodeEncodeError:
        pass
    rev = _extended_rev() if _OUT_MODE == "extended" else None
    out: list[str] = []
    for ch in s:
        try:
            ch.encode(charset)
            out.append(ch)
        except UnicodeEncodeError:
            name = rev.get(ch) if rev else None
            out.append(f"&{name};" if name else f"&#x{ord(ch):x};")
    return "".join(out)


_EXTENDED_REV: dict[str, str] | None = None


def _extended_rev() -> dict[str, str]:
    """char -> entity name, from the full WHATWG table (the reference's
    extended EscapeMode map, Entities.kt:393-408; 2125 names). Deterministic
    choice: lexicographically smallest name per char."""
    global _EXTENDED_REV
    if _EXTENDED_REV is None:
        from html.entities import html5

        rev: dict[str, str] = {}
        for name, value in html5.items():
            if not name.endswith(";") or len(value) != 1:
                continue
            n = name[:-1]
            if value not in rev or (not n.islower(), n) < \
                    (not rev[value].islower(), rev[value]):
                rev[value] = n
        _EXTENDED_REV = rev
    return _EXTENDED_REV


def inner_html(doc: Doc, node: int, pretty: bool = True,
               **settings) -> str:
    # pretty inner html trims edge whitespace (Element.html(): trim <= ' ')
    return _serialize(doc, list(doc.children[node]), pretty,
                      settings.get("charset"), settings.get("escape_mode"),
                      settings.get("indent_amount", 1),
                      settings.get("max_padding_width", 30),
                      settings.get("outline", False),
                      settings.get("syntax", "html"),
                      strip=" \t\n\r\f" if pretty else None)


# serialization-time whitespace collapse (Entities.escape Normalise flag):
# only HTML whitespace collapses — nbsp is NOT whitespace here (it escapes
# as &nbsp;), unlike text() extraction's isActuallyWhitespace
_HTML_WS_RUN = re.compile("[ \t\n\f\r]+")


def _serial_normalise(s: str) -> str:
    return _HTML_WS_RUN.sub(" ", s)


def _is_blank(s: str) -> bool:
    return not s.strip(" \t\n\r\f")


def _indent_str(depth: int) -> str:
    """'\n' + StringUtil.padding(depth * indentAmount, maxPaddingWidth)."""
    width = depth * _OUT_INDENT
    if _OUT_MAXPAD != -1:
        width = min(width, _OUT_MAXPAD)
    return "\n" + " " * width


def _parent_el(doc: Doc, node: int) -> int:
    """Parent as an element id; the document node counts (it IS an Element
    in the reference — tag "#root", isBlock false, formatAsBlock true)."""
    return doc.parent[node]


def _p_format_as_block(doc: Doc, p: int) -> bool:
    if p == -1:
        return False
    if doc.kind[p] == dom.DOCUMENT:
        return True  # #root: unknown tag, formatAsBlock defaults true
    return format_as_block(doc.tag[p] or "")


def _p_is_block(doc: Doc, p: int) -> bool:
    if p == -1 or doc.kind[p] == dom.DOCUMENT:
        return False  # #root: isBlock false (Tag.valueOf unknown)
    return (doc.tag[p] or "") in _BLOCK


def _effectively_first(doc: Doc, node: int) -> bool:
    """Node.isEffectivelyFirst (Node.kt:747-754): first child, or second
    behind a blank text node."""
    p = doc.parent[node]
    if p == -1:
        return True
    sibs = doc.children[p]
    i = sibs.index(node)
    if i == 0:
        return True
    if i == 1:
        prev = sibs[0]
        return doc.kind[prev] == dom.TEXT and _is_blank(doc.text[prev] or "")
    return False


def _should_indent(doc: Doc, node: int, pretty: bool) -> bool:
    """Element.shouldIndent (Element.kt:1645-1648, 1814-1830)."""
    if not pretty:
        return False
    tag = doc.tag[node] or ""
    p = doc.parent[node]
    # isFormatAsBlock: own block tag, block-formatting parent, or outline
    if not (tag in _BLOCK or _p_format_as_block(doc, p) or _OUT_OUTLINE):
        return False
    # isInlineable: an inline tag directly in a block parent that is not
    # effectively-first stays inline (no break), except br / outline
    if tag not in _BLOCK:
        parent_is_block = p == -1 or _p_is_block(doc, p)
        if (parent_is_block and not _effectively_first(doc, node)
                and not _OUT_OUTLINE and tag != "br"):
            return False
    if p != -1 and _preserves_ws(doc, p):
        return False
    return True


def _self_closes(doc: Doc, node: int) -> bool:
    """tag.isSelfClosing: void, or a name seen self-closing in source."""
    tag = doc.tag[node] or ""
    return tag in VOID_TAGS or (
        doc.self_closing is not None and tag in doc.self_closing)


def _emit(doc: Doc, node: int, depth: int, out: list[str], pretty: bool) -> None:
    """Serialize ``node``'s subtree into ``out``: a preorder walk over an
    explicit stack, so depth is bounded by memory, not by the interpreter's
    recursion limit. An element's closing tag is a stack entry of its own,
    popped after its children."""
    stack = [(node, depth, False)]
    pop = stack.pop
    push = stack.append
    while stack:
        node, depth, close = pop()
        if close:
            _emit_close(doc, node, depth, out, pretty)
            continue
        k = doc.kind[node]
        if k == dom.DOCUMENT or (k == dom.ELEMENT and doc.pseudo is not None
                                 and node in doc.pseudo):
            # the document, and a PseudoTextElement, serialize transparently
            # (children only) — outerHtmlHead/Tail are no-ops
            # (nodes/PseudoTextElement.kt:12-24)
            stack.extend((c, depth, False) for c in reversed(doc.children[node]))
            continue
        if k == dom.ELEMENT:
            if _emit_open(doc, node, depth, out, pretty):
                push((node, depth, True))
                stack.extend((c, depth + 1, False)
                             for c in reversed(doc.children[node]))
            continue
        _emit_leaf(doc, node, k, depth, out, pretty)


def _display_tag(doc: Doc, node: int) -> str:
    tag = doc.tag[node] or ""
    if doc.tag_display is not None:
        # ParseSettings.preserveCase: serialize source-cased names;
        # matching/layout/void decisions still use the normalized name
        tag = doc.tag_display.get(node, tag)
    return tag


def _emit_open(doc: Doc, node: int, depth: int, out: list[str],
               pretty: bool) -> bool:
    """Element.outerHtmlHead; True when the element has content and a
    closing tag to come, False when the head closed it."""
    norm_tag = doc.tag[node] or ""
    tag = _display_tag(doc, node)
    if _should_indent(doc, node, pretty) and out:
        out.append(_indent_str(depth))
    xml_attrs = doc.ns[node] == dom.NS_XML or _OUT_SYNTAX == "xml"
    out.append(f"<{tag}{_attrs_html(doc.attrs[node], xml_attrs)}")
    kids = doc.children[node]
    if doc.ns[node] == dom.NS_XML:
        # XML-parsed docs keep their parse-time serialization: only
        # tags seen self-closing collapse; voids keep children
        if not kids and doc.self_closing and norm_tag in doc.self_closing:
            out.append(" />")
            return False
        if not kids:
            out.append("></" + tag + ">")
            return False
    elif not kids and (_self_closes(doc, node)
                       or (norm_tag in VOID_TAGS)):
        # Element.outerHtmlHead (Element.kt:1665-1674): childless
        # self-closing: ">" under html syntax for true voids,
        # " />" otherwise (incl. the whole xml syntax)
        if _OUT_SYNTAX == "html" and norm_tag in VOID_TAGS:
            out.append(">")
        else:
            out.append(" />")
        return False
    out.append(">")
    return True


def _emit_close(doc: Doc, node: int, depth: int, out: list[str],
                pretty: bool) -> None:
    """Element.outerHtmlTail (Element.kt:1679-1694)."""
    norm_tag = doc.tag[node] or ""
    kids = doc.children[node]
    if pretty and kids and (
        (format_as_block(norm_tag)
         and not (doc.parent[node] != -1
                  and _preserves_ws(doc, doc.parent[node])))
        or (_OUT_OUTLINE and (len(kids) > 1 or (
            len(kids) == 1 and doc.kind[kids[0]] == dom.ELEMENT))
            # the indent lands INSIDE this element's content: under a
            # whitespace-preserving element it would become literal
            # text on reparse and grow on every reprint
            and not _preserves_ws(doc, node))
    ):
        out.append(_indent_str(depth))
    out.append(f"</{_display_tag(doc, node)}>")


def _emit_leaf(doc: Doc, node: int, k: int, depth: int, out: list[str],
               pretty: bool) -> None:
    """Text, data, cdata, comment, doctype and XML-declaration nodes."""
    if k in (dom.TEXT,):
        # TextNode.outerHtmlHead (TextNode.kt:61-93)
        t = doc.text[node] or ""
        p = doc.parent[node]
        if pretty and not (p != -1 and _preserves_ws(doc, p)):
            sibs = doc.children[p] if p != -1 else [node]
            i = sibs.index(node)
            prev = sibs[i - 1] if i > 0 else -1
            nxt = sibs[i + 1] if i + 1 < len(sibs) else -1
            trim_like_block = p != -1 and (
                _p_is_block(doc, p) or _p_format_as_block(doc, p))
            trim_leading = (trim_like_block and i == 0) or (
                p != -1 and doc.kind[p] == dom.DOCUMENT)
            trim_trailing = trim_like_block and nxt == -1
            blank = _is_blank(t)
            could_skip = (
                (nxt != -1 and doc.kind[nxt] == dom.ELEMENT
                 and _should_indent(doc, nxt, pretty))
                or (nxt != -1 and doc.kind[nxt] == dom.TEXT
                    and _is_blank(doc.text[nxt] or ""))
                or (prev != -1 and doc.kind[prev] == dom.ELEMENT
                    and ((doc.tag[prev] or "") in _BLOCK
                         or (doc.tag[prev] or "") == "br"))
            )
            if could_skip and blank:
                return
            if ((prev == -1 and p != -1 and _p_format_as_block(doc, p)
                 and not blank)
                    or (_OUT_OUTLINE and len(sibs) > 1 and not blank)
                    or (prev != -1 and doc.kind[prev] == dom.ELEMENT
                        and (doc.tag[prev] or "") == "br")):
                out.append(_indent_str(depth))
            t = _serial_normalise(t)
            if trim_leading:
                t = t.lstrip(" ")
            if trim_trailing:
                t = t.rstrip(" ")
        out.append(_escape_text(t))
        return
    if k == dom.CDATA:
        out.append(f"<![CDATA[{doc.text[node] or ''}]]>")
        return
    if k == dom.DATA:
        out.append(doc.text[node] or "")
        return
    if k == dom.COMMENT:
        # Comment.outerHtmlHead: indent when effectively-first in a block-
        # formatting element, or under outline — but never inside a
        # preserve-whitespace ancestor: the injected indent would become
        # literal text on reparse and GROW on every reprint (the
        # prettyPrint-does-not-grow contract)
        p = doc.parent[node]
        if pretty and ((_effectively_first(doc, node) and p != -1
                        and doc.kind[p] == dom.ELEMENT
                        and format_as_block(doc.tag[p] or ""))
                       or _OUT_OUTLINE) and out \
                and not (p != -1 and _preserves_ws(doc, p)):
            out.append(_indent_str(depth))
        out.append(f"<!--{doc.text[node] or ''}-->")
        return
    if k == dom.DOCTYPE:
        a = doc.attrs[node] or {}
        name = a.get("name", "")
        pub = a.get("publicid", "")
        sysid = a.get("systemid", "")
        # XML syntax preserves the DOCTYPE keyword form
        kw = ("<!DOCTYPE" if doc.ns[node] == dom.NS_XML
              or _OUT_SYNTAX == "xml" else "<!doctype")
        s = f"{kw} {name}" if name else kw
        if pub:
            s += f' PUBLIC "{pub}"'
        if sysid:
            s += f' "{sysid}"'
        out.append(s + ">")
        return
    if k == dom.XMLDECL:
        # <?name attrs?> or <!name attrs!> (XmlDeclaration.outerHtmlHead,
        # nodes/XmlDeclaration.kt:58-70); legacy text payload as fallback
        tag = doc.tag[node]
        if tag:
            a = doc.attrs[node] or {}
            lead = "!" if "/bang" in a else "?"
            out.append(f"<{lead}{tag}{_attrs_html(a, xml=True)}{lead}>")
        else:
            out.append(f"<?{doc.text[node] or ''}?>")
        return
