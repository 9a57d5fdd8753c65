"""Arrow-serializable DOM: a per-document node table.

Replaces the reference's pointer-based object graph
(/root/reference/ksoup/src/com/fleeksoft/ksoup/nodes/Node.kt:20-22,
Element.kt:28-37) with structure-of-arrays storage: node ids are ints,
children are int lists, attributes are dicts. The builder mutates children
lists (adoption agency / foster parenting need that); ``to_table`` freezes
the tree into preorder columnar arrays for the Spark node-table operator.

Document order = depth-first preorder (select/NodeTraversor.kt:22-65).
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

from . import ctokenizer
from . import tags as T

_URL_CTL = re.compile(r"[\x00-\x1f]+")  # ascii 0-31, stripped from URLs


def _is_abs_url(url: str) -> bool:
    """The reference's deliberately crude absoluteness probe
    (internal/URLUtil.kt:76-78): anything longer than 2 chars containing a
    colon counts, so unknown custom schemes pass through unresolved."""
    return len(url) > 2 and ":" in url


def _strip_ctl(url: str | None) -> str:
    # isprintable() is False for every control char, so the sub runs only
    # when there may be one to strip
    if not url:
        return ""
    return url if url.isprintable() else _URL_CTL.sub("", url)


def resolve_url(base: str, rel: str) -> str:
    """StringUtil.resolve (internal/StringUtil.kt:226-237 +
    internal/URLUtil.kt:6-73): strip ASCII control chars from both inputs,
    return ``rel`` as-is when it already carries a scheme, ``base`` when
    ``rel`` is empty, and "" when neither side is absolute. The RFC 3986
    merge itself is stdlib urljoin, which matches the reference's
    normalization on its own published test table (StringUtilTest.kt
    resolvesRelativeUrls, replayed in tests/test_kernel_stringutil_ref.py).

    The common media-ref shape — a plain relative path against an http(s)
    base with a plain path — skips urljoin: ``_plain_join`` returns the
    base up to its last "/" plus ``rel``, which is exactly what urljoin
    returns for those inputs (a differential property test pins it)."""
    base = _strip_ctl(base)
    rel = _strip_ctl(rel)
    if not rel:
        return base
    if _is_abs_url(rel):
        return rel
    if not _is_abs_url(base):
        return ""
    joined = _plain_join(base, rel)
    if joined is not None:
        return joined
    try:
        return urljoin(base, rel)
    except ValueError:
        return ""


def _plain_join(base: str, rel: str) -> str | None:
    """``base[:last "/" + 1] + rel`` when that is urljoin's answer: a
    lower-case http(s) base with an ASCII host and a path, neither holding
    ? # ; (query, fragment, params), IPv6 brackets or empty / dot segments,
    and a relative path with no leading space or "/", none of \\ ? # ; :,
    and no empty or dot segments. None when any condition fails. Both
    inputs come without control chars (``_strip_ctl``)."""
    if base.startswith("http://"):
        h = 7
    elif base.startswith("https://"):
        h = 8
    else:
        return None
    slash = base.find("/", h)
    if slash <= h or not base[h:slash].isascii():
        return None
    rest = base[h:]  # host + path
    for bad in ("?", "#", ";", "[", "]", "//"):
        if bad in rest:
            return None
    if not rel or rel[0] in " /":
        return None
    for bad in ("\\", "?", "#", ";", ":", "//"):
        if bad in rel:
            return None
    for path in (rest + "/", "/" + rel + "/"):
        if "/./" in path or "/../" in path:  # a dot segment
            return None
    return base[:base.rindex("/") + 1] + rel


DOCUMENT = 0
ELEMENT = 1
TEXT = 2
DATA = 3
COMMENT = 4
CDATA = 5
DOCTYPE = 6
XMLDECL = 7

KIND_NAMES = {
    DOCUMENT: "#document",
    TEXT: "#text",
    DATA: "#data",
    COMMENT: "#comment",
    CDATA: "#cdata",
    DOCTYPE: "#doctype",
    XMLDECL: "#xmldecl",
}

NS_HTML = 0
NS_SVG = 1
NS_MATHML = 2
NS_XML = 3


class Doc:
    """A parsed document as parallel arrays indexed by node id.

    Node 0 is the document node. kind/tag/attrs/text/parent/children/ns are
    parallel lists. ``quirks``: 0 noQuirks, 1 quirks, 2 limitedQuirks.
    """

    __slots__ = (
        "kind", "tag", "attrs", "text", "parent", "children", "ns",
        "base_uri", "quirks", "errors", "pseudo", "self_closing",
        "parse_errors", "tag_display", "src_pos",
        "src_range", "src_end_range", "attr_src", "src_text", "_nl_index",
        "form_links",
    )

    def __init__(self) -> None:
        self.kind: list[int] = [DOCUMENT]
        self.tag: list[str | None] = [None]
        self.attrs: list[dict | None] = [None]
        self.text: list[str | None] = [None]
        self.parent: list[int] = [-1]
        self.children: list[list[int]] = [[]]
        self.ns: list[int] = [NS_HTML]
        self.base_uri: str = ""
        self.quirks: int = 0
        self.errors: int = 0
        # formatted "<line:col>: msg" strings when track_errors was set at
        # parse time (Parser.setTrackErrors / ParseErrorList semantics)
        self.parse_errors: list[str] = []
        # ParseSettings.preserveCase: sparse {nid: source-cased tag name};
        # doc.tag stays NORMALIZED (the Tag.name vs normalName split) so the
        # tree algorithm and selectors match unchanged
        self.tag_display: dict[int, str] | None = None
        # Parser.setTrackPosition: {nid: source start offset} when enabled
        self.src_pos: dict[int, int] | None = None
        # Full Range semantics (nodes/Range.kt): per-node (start, end)
        # offsets of the opening construct, per-element (start, end) of the
        # closing construct, and per-element {attr key: (name_start,
        # name_end, val_start, val_end)}. src_text retains the source for
        # line/column derivation (1-based, via the lazy newline index).
        self.src_range: dict[int, tuple[int, int]] | None = None
        self.src_end_range: dict[int, tuple[int, int]] | None = None
        self.attr_src: dict[int, dict] | None = None
        self.src_text: str | None = None
        self._nl_index: list[int] | None = None
        # form-owner association recorded during parsing (FormElement.kt:
        # linkedEls): {form nid: [form-listed control nids in parse order]},
        # including controls foster-parented OUT of the form's subtree
        self.form_links: dict[int, list[int]] | None = None
        # ids of PseudoTextElements created by :matchText (nodes/
        # PseudoTextElement.kt); None until prepare_match_text runs
        self.pseudo: set[int] | None = None
        # tag NAMES seen self-closing (unknown/foreign/XML tags): childless
        # elements of these names serialize as "<x />" — mirrors the interned
        # Tag.selfClosing flag (parser/Tag.kt:42-43, 102-105)
        self.self_closing: set[str] | None = None

    # -- construction -------------------------------------------------------

    def new_node(self, kind: int, tag: str | None = None,
                 attrs: dict | None = None, text: str | None = None,
                 ns: int = NS_HTML) -> int:
        k = self.kind
        nid = len(k)
        k.append(kind)
        self.tag.append(tag)
        self.attrs.append(attrs)
        self.text.append(text)
        self.parent.append(-1)
        self.children.append([])
        self.ns.append(ns)
        return nid

    def append_child(self, parent: int, child: int) -> None:
        self.detach(child)
        self.children[parent].append(child)
        self.parent[child] = parent

    def insert_before(self, ref: int, child: int) -> None:
        p = self.parent[ref]
        self.detach(child)
        sibs = self.children[p]
        sibs.insert(sibs.index(ref), child)
        self.parent[child] = p

    def detach(self, node: int) -> None:
        p = self.parent[node]
        if p != -1:
            try:
                self.children[p].remove(node)
            except ValueError:
                pass
            self.parent[node] = -1

    # -- views --------------------------------------------------------------

    def element_children(self, node: int) -> list[int]:
        k = self.kind
        return [c for c in self.children[node] if k[c] == ELEMENT]

    def html_el(self) -> int:
        for c in self.children[0]:
            if self.kind[c] == ELEMENT:
                return c
        return -1

    def find_first(self, name: str, root: int = 0) -> int:
        stack = [root]
        while stack:
            n = stack.pop()
            if self.kind[n] == ELEMENT and self.tag[n] == name:
                return n
            stack.extend(reversed(self.children[n]))
        return -1

    def body(self) -> int:
        h = self.html_el()
        if h != -1:
            for c in self.children[h]:
                if self.kind[c] == ELEMENT and self.tag[c] in ("body", "frameset"):
                    return c
        return self.find_first("body")

    def head(self) -> int:
        h = self.html_el()
        if h != -1:
            for c in self.children[h]:
                if self.kind[c] == ELEMENT and self.tag[c] == "head":
                    return c
        return self.find_first("head")

    def preorder(self, root: int = 0):
        """Yield (node_id, depth) in document order, root included."""
        stack = [(root, 0)]
        children = self.children
        while stack:
            n, d = stack.pop()
            yield n, d
            d1 = d + 1
            for c in reversed(children[n]):
                stack.append((c, d1))

    def get_attr(self, node: int, key: str) -> str | None:
        a = self.attrs[node]
        if not a:
            return None
        v = a.get(key)
        if v is None and key in a:
            return ""  # boolean attribute -> "" like jsoup attr()
        if v is None:
            # case-insensitive fallback (Attributes case-insensitive lookup)
            kl = key.lower()
            for k, vv in a.items():
                if k.lower() == kl:
                    return vv if vv is not None else ""
            return None
        return v

    def abs_url(self, node: int, key: str) -> str:
        v = self.get_attr(node, key)
        if v is None:
            return ""
        return resolve_url(self.base_uri, v)

    def is_block(self, node: int) -> bool:
        return self.kind[node] == ELEMENT and self.tag[node] in T.BLOCK_TAGS

    # -- freeze to columnar table --------------------------------------------

    def to_table(self, include_elem_text: bool = False,
                 text_columns: tuple = (),
                 include_pseudo: bool = False) -> dict[str, list]:
        """Preorder SoA node table (SURVEY.md §1.2 schema).

        include_elem_text adds a normalized element-text column (document
        and element rows only) so corpus-side plans can evaluate text
        pseudos (:contains) as JVM string predicates. Opt-in: it stores
        each text fragment once per ancestor, so at corpus scale request
        it only when the query needs it.

        text_columns generalizes this to the other per-element text views
        the selector pseudos read — any of "text" (elem_text), "own"
        (elem_own_text), "whole" (elem_whole_text), "whole_own"
        (elem_whole_own_text), "data" (elem_data).

        include_pseudo adds a 0/1 ``pseudo`` column flagging the
        PseudoTextElements created by selector.prepare_match_text, so
        :matchText compiles to a plain column predicate over a table
        built from the rewritten tree."""
        if include_elem_text:
            text_columns = ("text",) + tuple(
                k for k in text_columns if k != "text")
        kind = self.kind
        # the C integer-column builder; _table_ints stays the semantics
        # reference and the fallback
        ctab = ctokenizer.c_function("to_table_ints")
        (order, depth_of, par_col, sib, esib, first, nxt, send) = (
            ctab(kind, self.parent, self.children) if ctab is not None
            else self._table_ints())
        out = {
            "node_id": list(range(len(order))),
            "parent_id": par_col,
            "depth": depth_of,
            "kind": [kind[o] for o in order],
            "tag": [self.tag[o] for o in order],
            "ns": [self.ns[o] for o in order],
            "sibling_index": sib,
            "elem_sibling_index": esib,
            "first_child": first,
            "next_sibling": nxt,
            "subtree_end": send,
            "text": [self.text[o] for o in order],
            "attrs": [self.attrs[o] for o in order],
        }
        self._append_text_columns(out, order, text_columns)
        if include_pseudo:
            self._append_pseudo_column(out, order)
        return out

    def _table_ints(self) -> tuple[list[int], ...]:
        """to_table's eight integer columns: preorder node order, depth,
        parent_id, sibling_index, elem_sibling_index, first_child,
        next_sibling, subtree_end (the C to_table_ints' results)."""
        kind = self.kind
        children = self.children
        # inline preorder walk (generator + tuple per node is the hot cost)
        order: list[int] = []
        depth_of: list[int] = []
        stack: list[tuple[int, int]] = [(0, 0)]
        pop = stack.pop
        push = stack.append
        while stack:
            n, d = pop()
            order.append(n)
            depth_of.append(d)
            kids = children[n]
            if kids:
                d1 = d + 1
                for c in reversed(kids):
                    push((c, d1))
        n_nodes = len(order)
        # dense remap array beats a dict for int keys
        remap = [0] * len(kind)
        for new_id, old in enumerate(order):
            remap[old] = new_id
        parent = self.parent
        par_col = [remap[parent[o]] if parent[o] != -1 else -1
                   for o in order]
        sib = [0] * n_nodes
        esib = [-1] * n_nodes
        first = [-1] * n_nodes
        nxt = [-1] * n_nodes
        for new_id, old in enumerate(order):
            kids = children[old]
            if not kids:
                continue
            first[new_id] = remap[kids[0]]
            elem_i = 0
            prev_rc = -1
            for si, c in enumerate(kids):
                rc = remap[c]
                sib[rc] = si
                if prev_rc != -1:
                    nxt[prev_rc] = rc
                prev_rc = rc
                if kind[c] == ELEMENT:
                    esib[rc] = elem_i
                    elem_i += 1
        # subtree_end: last preorder id in the subtree (inclusive interval)
        send = [0] * n_nodes
        dstack: list[int] = []
        for new_id in range(n_nodes):
            d = depth_of[new_id]
            while len(dstack) > d:
                send[dstack.pop()] = new_id - 1
            dstack.append(new_id)
        while dstack:
            send[dstack.pop()] = n_nodes - 1
        return order, depth_of, par_col, sib, esib, first, nxt, send

    def _append_pseudo_column(self, out: dict, order: list) -> None:
        ps = self.pseudo or ()
        out["pseudo"] = [1 if o in ps else 0 for o in order]

    def _append_text_columns(self, out: dict, order: list,
                             text_columns: tuple) -> None:
        if not text_columns:
            return
        # local import: avoids a module cycle with textops
        from .textops import (element_text, own_text, whole_text,
                              whole_own_text, data_text)

        fns = {"text": ("elem_text", element_text),
               "own": ("elem_own_text", own_text),
               "whole": ("elem_whole_text", whole_text),
               "whole_own": ("elem_whole_own_text", whole_own_text),
               "data": ("elem_data", data_text)}
        kind = self.kind
        for key in text_columns:
            name, fn = fns[key]
            out[name] = [
                fn(self, o) if kind[o] in (DOCUMENT, ELEMENT) else None
                for o in order
            ]


# ---------------------------------------------------------------------------
# node accessor helpers (Node/Element API surface, nodes/Node.kt:589-613,
# nodes/Element.kt:304-312, 542-562, 905-993, 1490-1631)
# ---------------------------------------------------------------------------

def next_sibling(doc: "Doc", node: int) -> int:
    p = doc.parent[node]
    if p == -1:
        return -1
    sibs = doc.children[p]
    i = sibs.index(node)
    return sibs[i + 1] if i + 1 < len(sibs) else -1


def previous_sibling(doc: "Doc", node: int) -> int:
    p = doc.parent[node]
    if p == -1:
        return -1
    sibs = doc.children[p]
    i = sibs.index(node)
    return sibs[i - 1] if i > 0 else -1


def next_element_sibling(doc: "Doc", node: int) -> int:
    n = next_sibling(doc, node)
    while n != -1 and doc.kind[n] != ELEMENT:
        n = next_sibling(doc, n)
    return n


def previous_element_sibling(doc: "Doc", node: int) -> int:
    n = previous_sibling(doc, node)
    while n != -1 and doc.kind[n] != ELEMENT:
        n = previous_sibling(doc, n)
    return n


def element_sibling_index(doc: "Doc", node: int) -> int:
    p = doc.parent[node]
    if p == -1:
        return 0
    i = 0
    for c in doc.children[p]:
        if c == node:
            return i
        if doc.kind[c] == ELEMENT:
            i += 1
    return 0


def parents(doc: "Doc", node: int) -> list[int]:
    """Ancestor elements, nearest first (Element.parents)."""
    out = []
    p = doc.parent[node]
    while p != -1 and doc.kind[p] == ELEMENT:
        out.append(p)
        p = doc.parent[p]
    return out


def closest(doc: "Doc", node: int, css: str) -> int:
    """Nearest self-or-ancestor element matching css (Element.closest)."""
    from .selector import EvalCtx, parse_query

    ev = parse_query(css)
    ctx = EvalCtx(doc, 0)
    n = node
    while n != -1 and doc.kind[n] == ELEMENT:
        if ev.matches(ctx, n):
            return n
        n = doc.parent[n]
    return -1


def class_names(doc: "Doc", node: int) -> list[str]:
    v = doc.get_attr(node, "class")
    return v.split() if v else []


def has_class(doc: "Doc", node: int, name: str) -> bool:
    """ASCII-case-insensitive whitespace-token membership (Element.kt:1528-1577)."""
    v = doc.get_attr(node, "class")
    if not v:
        return False
    name = name.lower()
    return name in v.lower().split()


def sibling_elements(doc: "Doc", node: int) -> list[int]:
    """Element.siblingElements (Element.kt:886-895): the parent's element
    children, excluding this element."""
    p = doc.parent[node]
    if p == -1:
        return []
    return [c for c in doc.children[p]
            if c != node and doc.kind[c] == ELEMENT]


_DATA_PREFIX = "data-"


class Dataset:
    """Attributes.Dataset (nodes/Attributes.kt:535-566): a live view over
    the element's data-* attributes — writes go straight to the attrs map."""

    def __init__(self, doc: "Doc", node: int):
        self._doc, self._node = doc, node

    def _attrs(self) -> dict:
        a = self._doc.attrs[self._node]
        if a is None:
            a = {}
            self._doc.attrs[self._node] = a
        return a

    def __len__(self) -> int:
        return sum(1 for k in (self._doc.attrs[self._node] or {})
                   if k.startswith(_DATA_PREFIX) and len(k) > len(_DATA_PREFIX))

    def __getitem__(self, key: str) -> str | None:
        if not key:
            return None
        v = (self._doc.attrs[self._node] or {}).get(_DATA_PREFIX + key)
        return "" if v is None and _DATA_PREFIX + key in (
            self._doc.attrs[self._node] or {}) else v

    def __setitem__(self, key: str, value: str) -> None:
        self._attrs()[_DATA_PREFIX + key] = value

    def remove(self, key: str) -> None:
        self._attrs().pop(_DATA_PREFIX + key, None)

    def keys(self) -> list[str]:
        return [k[len(_DATA_PREFIX):]
                for k in (self._doc.attrs[self._node] or {})
                if k.startswith(_DATA_PREFIX) and len(k) > len(_DATA_PREFIX)]


def dataset(doc: "Doc", node: int) -> Dataset:
    """Element.dataset (Element.kt:292-294)."""
    return Dataset(doc, node)


def form_value(doc: "Doc", node: int) -> str:
    """Element.value(): textarea -> text(), else value attr (Element.kt:1619-1631)."""
    from .textops import element_text

    if doc.tag[node] == "textarea":
        return element_text(doc, node)
    return doc.get_attr(node, "value") or ""


# -- source positions (nodes/Range.kt) ---------------------------------------

def line_col(doc: "Doc", pos: int) -> tuple[int, int]:
    """1-based (line, column) of a 0-based source offset, derived lazily
    from a newline index over doc.src_text (CharacterReader.trackNewlines)."""
    import bisect

    if doc.src_text is None or pos < 0:
        return (-1, -1)
    if doc._nl_index is None:
        idx = []
        s = doc.src_text
        i = s.find("\n")
        while i != -1:
            idx.append(i)
            i = s.find("\n", i + 1)
        doc._nl_index = idx
    nl = doc._nl_index
    line = bisect.bisect_right(nl, pos - 1)
    line_start = 0 if line == 0 else nl[line - 1] + 1
    return (line + 1, pos - line_start + 1)


def position_str(doc: "Doc", pos: int) -> str:
    """Range.Position.toString: "line,column:pos"."""
    ln, col = line_col(doc, pos)
    return f"{ln},{col}:{pos}"


def range_str(doc: "Doc", rng: tuple[int, int] | None) -> str:
    """Range.toString: "line,column:pos-line,column:pos" ("-1,-1:-1-..."
    when untracked, matching the reference's Untracked sentinel)."""
    if rng is None:
        rng = (-1, -1)
    return f"{position_str(doc, rng[0])}-{position_str(doc, rng[1])}"


def source_range(doc: "Doc", node: int) -> tuple[int, int] | None:
    """Node.sourceRange() as (start, end) offsets; None if untracked."""
    return None if doc.src_range is None else doc.src_range.get(node)


def end_source_range(doc: "Doc", node: int) -> tuple[int, int] | None:
    """Element.endSourceRange() as (start, end); None if untracked."""
    return None if doc.src_end_range is None else doc.src_end_range.get(node)


def attr_source_range(doc: "Doc", node: int, key: str):
    """Attributes.sourceRange(key) as (name_start, name_end, val_start,
    val_end); None if untracked (Range.AttributeRange)."""
    if doc.attr_src is None:
        return None
    per = doc.attr_src.get(node)
    return None if per is None else per.get(key)


def range_is_implicit(rng: tuple[int, int] | None) -> bool:
    """Range.isImplicit: tracked and start == end."""
    return rng is not None and rng[0] == rng[1]


# -- form control association (nodes/FormElement.kt) -------------------------

FORM_SUBMIT_TAGS = ("input", "keygen", "object", "select", "textarea")


def node_attached(doc: "Doc", node: int) -> bool:
    """True if node's parent chain reaches the document (ownerDocument)."""
    seen = 0
    while node != -1:
        if node == 0:
            return True
        node = doc.parent[node]
        seen += 1
        if seen > len(doc.kind):  # defensive: cyclic corruption
            return False
    return False


def form_elements(doc: "Doc", form: int) -> list[int]:
    """FormElement.elements(): submittable elements currently inside the
    form, unioned with the controls LINKED during the parse that are still
    attached to the document — covering controls that parse rules (foster
    parenting, early form close) placed outside the form's subtree
    (FormElement.kt:28-37)."""
    els = [n for n, _ in doc.preorder(form)
           if n != form and doc.kind[n] == ELEMENT
           and doc.tag[n] in FORM_SUBMIT_TAGS]
    seen = set(els)
    for linked in (doc.form_links or {}).get(form, ()):
        if linked not in seen and node_attached(doc, linked):
            els.append(linked)
    return els
