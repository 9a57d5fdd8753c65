"""Text extraction and span emission.

Reimplements the reference's (ksoup) text assembly semantics:

- ``text()``: preorder traversal appending normalized text; a space is
  inserted at a block/``br`` head boundary when the accumulator is non-empty
  and doesn't end in whitespace, and after a block element followed by a text
  node or non-format-as-block element (Element.kt:1312-1351).
- whitespace collapse treats U+00A0 (nbsp) as whitespace and drops U+200B /
  U+00AD (internal/StringUtil.kt:137-191); text inside ``pre``-like elements
  (checked ≤6 ancestor levels up, Element.kt:1885-1898) and CDATA is appended
  raw.
- ``wholeText()``: raw concatenation of text nodes with ``br`` -> "\\n"
  (Element.kt:1860-1868).
- ``ownText()``: direct children only, ``br`` -> space (Element.kt:1389-1404).

One walk, ``_walk_py``, applies the ``text()`` rules for both
``element_text`` and the span emitter, the graft's flagship operator. Its
media switch makes it segment at media elements (img/video/object),
emitting the ordered (kind, text, media_ref, offset) sequence with media
refs resolved against the document base URI (absUrl semantics,
Node.kt:234-244). The C walk (``text_walk`` in _ctok_src.c) mirrors it with
the same switch; the Python walk stays the semantics reference and the
fallback.
"""

from __future__ import annotations

import re

from . import dom
from .ctokenizer import c_function
from .dom import Doc
from .tags import BLOCK_TAGS, PRESERVE_WS_TAGS, format_as_block

_ACTUAL_WS = frozenset(" \t\n\f\r ")
_TRIM = " \t\n\r\f\v"
# regex forms of the isActuallyWhitespace (incl. nbsp) / isInvisibleChar sets
_WS_RUN = re.compile("[ \t\n\f\r\u00a0]+")
_INVIS_RE = re.compile("[\u200b\u00ad]")


# C accelerators (same .so as the tokenizer); the Python code below stays
# the semantics reference and the fallback (lone-surrogate strings can't
# take the UTF-8 C path)
_cnorm = c_function("norm_ws")
_ctext = c_function("element_text")
_cspans = c_function("extract_spans")


MEDIA_KIND = {"img": "image", "video": "video", "object": "object"}
_MEDIA_REF_ATTR = {"img": "src", "video": "src", "object": "data"}

def _media_ref(doc: Doc, node: int, key: str) -> str:
    """Span-operator media ref: absUrl when resolvable, else the raw
    attribute. The raw fallback is the span pipeline's own contract (keep
    un-resolvable relative refs for downstream joining), distinct from
    Node.absUrl which returns "" there."""
    v = doc.abs_url(node, key)
    if v:
        return v
    return doc.get_attr(node, key) or ""


def _span_ref(doc: Doc, node: int, tag: str) -> str:
    """A media span's ref: the tag's ref attribute, or for a ``video``
    without one, its first ``<source src>`` child that has one."""
    ref = _media_ref(doc, node, _MEDIA_REF_ATTR[tag])
    if not ref and tag == "video":
        for c in doc.children[node]:
            if doc.kind[c] == dom.ELEMENT and doc.tag[c] == "source":
                ref = _media_ref(doc, c, "src")
                if ref:
                    break
    return ref


def normalise_whitespace(s: str) -> str:
    out: list[str] = []
    append_normalised(out, s, False)
    return "".join(out)


def append_normalised(accum: list[str], s: str, strip_leading: bool) -> None:
    """StringUtil.appendNormalisedWhitespace over a list-of-chunks accumulator.

    Regex formulation of the same algorithm: drop invisible chars, collapse
    actually-whitespace runs to single spaces, strip one leading space when
    the accumulator already ends in whitespace.
    """
    s = _norm(s, strip_leading)
    if s:
        accum.append(s)


def _norm(s: str, strip_leading: bool) -> str:
    if _cnorm is not None:
        try:
            return _cnorm(s, strip_leading)
        except UnicodeEncodeError:  # lone surrogates: regex path
            pass
    return _norm_ws_py(s, strip_leading)


def _norm_ws_py(s: str, strip_leading: bool) -> str:
    if _INVIS_RE.search(s):
        s = _INVIS_RE.sub("", s)
    s = _WS_RUN.sub(" ", s)
    if strip_leading and s.startswith(" "):
        s = s[1:]
    return s


class _Accum:
    """Accumulator tracking whether the last char is whitespace."""

    __slots__ = ("parts", "last_char")

    def __init__(self) -> None:
        self.parts: list[str] = []
        self.last_char = ""

    def last_is_ws(self) -> bool:
        return self.last_char in _ACTUAL_WS

    def append(self, s: str) -> None:
        if s:
            self.parts.append(s)
            self.last_char = s[-1]

    def append_normalised(self, s: str) -> None:
        self.append(_norm(s, self.last_char in _ACTUAL_WS))

    def take(self) -> str:
        """The accumulated text stripped of _TRIM; empties the accumulator."""
        text = "".join(self.parts).strip(_TRIM)
        self.parts = []
        self.last_char = ""
        return text


def _preserves_ws(doc: Doc, node: int) -> bool:
    """preserveWhitespace: element & ≤5 ancestors up (Element.kt:1885-1898)."""
    el = node
    i = 0
    while el != -1 and i < 6:
        if doc.kind[el] == dom.ELEMENT and doc.tag[el] in PRESERVE_WS_TAGS:
            return True
        el = doc.parent[el]
        i += 1
    return False


def _append_text_node(doc: Doc, accum: _Accum, node: int) -> None:
    t = doc.text[node] or ""
    if doc.kind[node] == dom.CDATA or _preserves_ws(doc, doc.parent[node]):
        accum.append(t)
    else:
        accum.append_normalised(t)


def _traverse(doc: Doc, root: int):
    """Yield ('head'|'tail', node_id) events in document order, skipping root
    tail/head text semantics mirror NodeTraversor.traverse."""
    stack: list[tuple[int, int]] = [(root, 0)]
    children = doc.children
    while stack:
        node, ci = stack[-1]
        kids = children[node]
        if ci == 0:
            yield "head", node
        if ci < len(kids):
            stack[-1] = (node, ci + 1)
            stack.append((kids[ci], 0))
        else:
            yield "tail", node
            stack.pop()


def _walk_py(doc: Doc, root: int, media: bool):
    """The Element.text() walk over root's subtree.

    Without ``media`` it returns the normalized text stripped of _TRIM;
    media elements are ordinary elements there, their fallback content
    contributes. With ``media`` it returns the span list: each img/video/
    object below root flushes the text so far as a span, adds its media
    span and skips its subtree (the fallback content).

    A single non-recursive DFS; the stack frame carries the child cursor so
    tail-boundary next-sibling checks are O(1), and open preserve-whitespace
    elements are tracked by depth (≤6-level rule) instead of ancestor walks.
    """
    spans: list[tuple] = []
    accum = _Accum()
    kind = doc.kind
    tagv = doc.tag
    textv = doc.text
    children = doc.children
    stack: list[list] = [[root, 0]]
    pre_depths: list[int] = []
    while stack:
        frame = stack[-1]
        node, ci = frame
        kids = children[node]
        if ci == 0:
            k = kind[node]
            if k == dom.TEXT:
                t = textv[node] or ""
                # parent depth minus nearest preserve-element depth ≤5
                # == the reference's 6-level lookup (Element.kt:1885-1898)
                if pre_depths and (len(stack) - 2) - pre_depths[-1] < 6:
                    accum.append(t)
                else:
                    accum.append_normalised(t)
            elif k == dom.CDATA:
                accum.append(textv[node] or "")
            elif k == dom.ELEMENT:
                tag = tagv[node] or ""
                if media and tag in MEDIA_KIND and node != root:
                    text = accum.take()
                    if text:
                        spans.append(("text", text, None, len(spans)))
                    spans.append((MEDIA_KIND[tag], None,
                                  _span_ref(doc, node, tag), len(spans)))
                    stack.pop()
                    continue
                if accum.parts and (tag in BLOCK_TAGS or tag == "br") \
                        and not accum.last_is_ws():
                    accum.append(" ")
                if tag in PRESERVE_WS_TAGS:
                    pre_depths.append(len(stack) - 1)
        if ci < len(kids):
            frame[1] = ci + 1
            stack.append([kids[ci], 0])
            continue
        # tail
        stack.pop()
        if kind[node] == dom.ELEMENT:
            if pre_depths and pre_depths[-1] == len(stack):
                pre_depths.pop()
            if (tagv[node] or "") in BLOCK_TAGS and stack \
                    and not accum.last_is_ws():
                pframe = stack[-1]
                pkids = children[pframe[0]]
                if pframe[1] < len(pkids):
                    nxt = pkids[pframe[1]]
                    nk = kind[nxt]
                    if nk == dom.TEXT or nk == dom.CDATA or (
                        nk == dom.ELEMENT
                        and not format_as_block(tagv[nxt] or "")
                    ):
                        accum.append(" ")
    text = accum.take()
    if not media:
        return text
    if text:
        spans.append(("text", text, None, len(spans)))
    return spans


def element_text(doc: Doc, root: int) -> str:
    """Element.text(): normalized combined text of root's subtree.

    Hot path: the C walk (py_element_text in _ctok_src.c); any C-side
    failure (lone-surrogate text can't view as UTF-8) falls back to
    _walk_py.
    """
    if _ctext is not None:
        try:
            return _ctext(doc.kind, doc.tag, doc.text, doc.children, root)
        except Exception:
            pass
    return _element_text_py(doc, root)


def _element_text_py(doc: Doc, root: int) -> str:
    return _walk_py(doc, root, False)


def whole_text(doc: Doc, root: int) -> str:
    out: list[str] = []
    is_text = (dom.TEXT, dom.CDATA)
    for ev, node in _traverse(doc, root):
        if ev != "head":
            continue
        k = doc.kind[node]
        if k in is_text:
            out.append(doc.text[node] or "")
        elif k == dom.ELEMENT and doc.tag[node] == "br":
            out.append("\n")
    return "".join(out)


def own_text(doc: Doc, root: int) -> str:
    accum = _Accum()
    is_text = (dom.TEXT, dom.CDATA)
    for c in doc.children[root]:
        k = doc.kind[c]
        if k in is_text:
            _append_text_node(doc, accum, c)
        elif k == dom.ELEMENT and doc.tag[c] == "br" and not accum.last_is_ws():
            accum.append(" ")
    return accum.take()


def whole_own_text(doc: Doc, root: int) -> str:
    """Element.wholeOwnText(): direct TEXT/CDATA children verbatim, <br>
    contributing a newline (Element.kt wholeOwnText; no normalization)."""
    parts: list[str] = []
    for c in doc.children[root]:
        k = doc.kind[c]
        if k in (dom.TEXT, dom.CDATA):
            parts.append(doc.text[c] or "")
        elif k == dom.ELEMENT and doc.tag[c] == "br":
            parts.append("\n")
    return "".join(parts)


def data_text(doc: Doc, root: int) -> str:
    """Element.data(): concat of data/comment/cdata payloads (Element.kt:1463-1483)."""
    out: list[str] = []
    for node, _ in doc.preorder(root):
        if node == root:
            continue
        k = doc.kind[node]
        if k in (dom.DATA, dom.COMMENT, dom.CDATA):
            out.append(doc.text[node] or "")
    return "".join(out)


def doc_title(doc: Doc) -> str:
    t = doc.find_first("title")
    if t == -1:
        return ""
    return normalise_whitespace(element_text(doc, t)).strip(_TRIM)


# ---------------------------------------------------------------------------
# span emission (the flagship extraction operator)
# ---------------------------------------------------------------------------

def extract_spans(doc: Doc, root: int | None = None) -> list[tuple]:
    """Emit the ordered (kind, text, media_ref, offset) span sequence.

    Applies Element.text() normalization, flushing the text accumulator at
    each media element (img/video/object) so media spans interleave at their
    DOM positions. Media descendants' fallback content (inside video/object)
    is skipped; refs resolve via absUrl against the doc base URI.

    Hot path: the C walk (py_extract_spans in _ctok_src.c) returns media
    spans carrying node ids; refs are resolved here (absUrl + <video>
    <source> fallback). A typical page has a few media spans, each a plain
    relative path against an http(s) ``<base href>``: ``dom.resolve_url``
    joins those by string slicing, and urljoin runs only for the rest. Any
    C-side failure falls back to _walk_py.
    """
    if root is None:
        root = doc.body()
        if root == -1:
            root = doc.html_el()
        if root == -1:
            root = 0
    if _cspans is not None:
        try:
            raw = _cspans(doc.kind, doc.tag, doc.text, doc.children, root)
        except Exception:
            return _extract_spans_py(doc, root)
        for i, sp in enumerate(raw):
            if sp[0] != "text":
                node = sp[2]
                raw[i] = (sp[0], None,
                          _span_ref(doc, node, doc.tag[node] or ""), sp[3])
        return raw
    return _extract_spans_py(doc, root)


def _extract_spans_py(doc: Doc, root: int) -> list[tuple]:
    return _walk_py(doc, root, True)
