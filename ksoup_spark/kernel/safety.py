"""Sanitizer: Safelist presets + Cleaner.

Semantics from the reference's safety plane
(/root/reference/ksoup/src/com/fleeksoft/ksoup/safety/Safelist.kt:550-623,
Cleaner.kt:38-43): a safelist defines allowed tags, per-tag allowed
attributes, URL-protocol constraints, and enforced attributes; cleaning
copies only safelisted nodes into a fresh document — children of a
discarded element are promoted to its nearest kept ancestor, text nodes are
always kept, data nodes (script/style payloads) never are.
"""

from __future__ import annotations

import re

from . import dom
from .dom import Doc

_WS_ANY = re.compile(r"\s")


class Safelist:
    def __init__(self, tags=(), attributes=None, protocols=None,
                 enforced=None):
        self.tags = set(tags)
        self.attributes: dict[str, set[str]] = {
            k: set(v) for k, v in (attributes or {}).items()
        }
        # (tag, attr) -> allowed protocol set; relative URLs rejected unless
        # '#' sentinel present (jsoup semantics simplified: relative allowed
        # only when protocols empty)
        self.protocols: dict[tuple[str, str], set[str]] = {
            k: set(v) for k, v in (protocols or {}).items()
        }
        self.enforced: dict[str, dict[str, str]] = {
            k: dict(v) for k, v in (enforced or {}).items()
        }

    # -- presets (Safelist.kt:550-623) ------------------------------------

    @staticmethod
    def none() -> "Safelist":
        return Safelist()

    @staticmethod
    def simple_text() -> "Safelist":
        return Safelist(tags=["b", "em", "i", "strong", "u"])

    @staticmethod
    def basic() -> "Safelist":
        return Safelist(
            tags=["a", "b", "blockquote", "br", "cite", "code", "dd", "dl",
                  "dt", "em", "i", "li", "ol", "p", "pre", "q", "small",
                  "span", "strike", "strong", "sub", "sup", "u", "ul"],
            attributes={
                "a": ["href"],
                "blockquote": ["cite"],
                "q": ["cite"],
            },
            protocols={
                ("a", "href"): ["ftp", "http", "https", "mailto"],
                ("blockquote", "cite"): ["http", "https"],
                # reference quirk preserved (Safelist.kt:595): the protocol
                # constraint is registered for the `cite` TAG's cite attr,
                # not q's — q[cite] values are unconstrained
                ("cite", "cite"): ["http", "https"],
            },
            enforced={"a": {"rel": "nofollow"}},
        )

    @staticmethod
    def basic_with_images() -> "Safelist":
        s = Safelist.basic()
        s.tags.add("img")
        s.attributes["img"] = {"align", "alt", "height", "src", "title", "width"}
        s.protocols[("img", "src")] = {"http", "https"}
        return s

    @staticmethod
    def relaxed() -> "Safelist":
        return Safelist(
            tags=["a", "b", "blockquote", "br", "caption", "cite", "code",
                  "col", "colgroup", "dd", "div", "dl", "dt", "em", "h1",
                  "h2", "h3", "h4", "h5", "h6", "i", "img", "li", "ol", "p",
                  "pre", "q", "small", "span", "strike", "strong", "sub",
                  "sup", "table", "tbody", "td", "tfoot", "th", "thead",
                  "tr", "u", "ul"],
            attributes={
                "a": ["href", "title"],
                "blockquote": ["cite"],
                "col": ["span", "width"],
                "colgroup": ["span", "width"],
                "img": ["align", "alt", "height", "src", "title", "width"],
                "ol": ["start", "type"],
                "q": ["cite"],
                "table": ["summary", "width"],
                "td": ["abbr", "axis", "colspan", "rowspan", "width"],
                "th": ["abbr", "axis", "colspan", "rowspan", "scope", "width"],
                "ul": ["type"],
            },
            protocols={
                ("a", "href"): ["ftp", "http", "https", "mailto"],
                ("blockquote", "cite"): ["http", "https"],
                ("cite", "cite"): ["http", "https"],
                ("q", "cite"): ["http", "https"],
                ("img", "src"): ["http", "https"],
            },
        )

    # -- checks -------------------------------------------------------------

    # -- customization builder API (Safelist.kt:92-365) -------------------

    def add_tags(self, *tags: str) -> "Safelist":
        """Safelist.addTags (Safelist.kt:92-101)."""
        self.tags.update(t.lower() for t in tags)
        return self

    def remove_tags(self, *tags: str) -> "Safelist":
        """Safelist.removeTags (Safelist.kt:110-131)."""
        for t in tags:
            self.tags.discard(t.lower())
        return self

    def add_attributes(self, tag: str, *keys: str) -> "Safelist":
        """Safelist.addAttributes; tag ':all' applies to every tag
        (Safelist.kt:140-170)."""
        self.attributes.setdefault(tag.lower(), set()).update(
            k.lower() for k in keys)
        return self

    def remove_attributes(self, tag: str, *keys: str) -> "Safelist":
        """Safelist.removeAttributes (Safelist.kt:178-218); removing via
        ':all' drops the keys from every tag's allowance."""
        tag = tag.lower()
        targets = list(self.attributes) if tag == ":all" else [tag]
        for t in targets:
            allowed = self.attributes.get(t)
            if allowed:
                for k in keys:
                    allowed.discard(k.lower())
        return self

    def add_enforced_attribute(self, tag: str, key: str,
                               value: str) -> "Safelist":
        """Safelist.addEnforcedAttribute (Safelist.kt:227-248)."""
        self.enforced.setdefault(tag.lower(), {})[key.lower()] = value
        return self

    def remove_enforced_attribute(self, tag: str, key: str) -> "Safelist":
        """Safelist.removeEnforcedAttribute (Safelist.kt:257-283)."""
        self.enforced.get(tag.lower(), {}).pop(key.lower(), None)
        return self

    def add_protocols(self, tag: str, key: str,
                      *protocols: str) -> "Safelist":
        """Safelist.addProtocols (Safelist.kt:315-340)."""
        self.protocols.setdefault((tag.lower(), key.lower()), set()).update(
            p.lower() for p in protocols)
        return self

    def remove_protocols(self, tag: str, key: str,
                         *protocols: str) -> "Safelist":
        """Safelist.removeProtocols (Safelist.kt:347-365); removing the
        last protocol removes the constraint entirely (all values pass)."""
        k = (tag.lower(), key.lower())
        protos = self.protocols.get(k)
        if protos:
            for p in protocols:
                protos.discard(p.lower())
            if not protos:
                del self.protocols[k]
        return self

    def preserve_relative_links(self, preserve: bool = True) -> "Safelist":
        """Safelist.preserveRelativeLinks (Safelist.kt:292-306)."""
        self._preserve_relative = preserve
        return self

    # -- predicates --------------------------------------------------------

    def is_safe_tag(self, tag: str) -> bool:
        return tag in self.tags

    def is_safe_attr(self, tag: str, key: str, value: str | None,
                     abs_value: str | None = None) -> bool:
        """Reference Safelist.isSafeAttribute + testValidProtocol
        (Safelist.kt:393-451): the protocol test runs against the
        abs-resolved URL when resolvable, else the raw value, and matches by
        lowercase ``proto:`` PREFIX — never by parsed scheme, so values like
        ``\\x01javascript:alert(1)`` (no parseable scheme, but executable in
        browsers that strip C0 controls) cannot sneak through. The ``#``
        pseudo-protocol admits whitespace-free anchors. Unresolvable relative
        links are dropped regardless of preserveRelativeLinks (that flag only
        controls output rewriting, see clean())."""
        allowed = self.attributes.get(tag, set())
        if key not in allowed and key not in self.attributes.get(":all", set()):
            return False
        protos = self.protocols.get((tag, key))
        if protos and value is not None:
            test = abs_value if abs_value else value
            low = test.lower()
            for prot in protos:
                if prot == "#":
                    if test.startswith("#") and not _WS_ANY.search(test):
                        return True
                    continue
                if low.startswith(prot + ":"):
                    return True
            return False
        return True


def clean(doc: Doc, safelist: Safelist, root: int | None = None) -> Doc:
    """Copy only-safelisted nodes into a fresh body-rooted document.

    Returns a new Doc whose body holds the cleaned fragment. Children of a
    discarded element attach to the nearest kept ancestor; text survives,
    data/comments don't.
    """
    if root is None:
        root = doc.body()
        if root == -1:
            root = 0
    out = Doc()
    html_el = out.new_node(dom.ELEMENT, "html", {})
    out.append_child(0, html_el)
    body = out.new_node(dom.ELEMENT, "body", {})
    out.append_child(html_el, body)
    num_discarded = 0
    preserve_rel = getattr(safelist, "_preserve_relative", False)
    # preorder over an explicit stack of (children iterator, kept parent):
    # depth is bounded by memory, not by the recursion limit
    stack = [(iter(doc.children[root]), body)]
    while stack:
        kids, dst = stack[-1]
        c = next(kids, -1)
        if c == -1:
            stack.pop()
            continue
        k = doc.kind[c]
        if k == dom.TEXT or k == dom.CDATA:
            nid = out.new_node(dom.TEXT, text=doc.text[c])
            out.append_child(dst, nid)
        elif k == dom.ELEMENT:
            tag = doc.tag[c] or ""
            if safelist.is_safe_tag(tag):
                attrs = {}
                for ak, av in (doc.attrs[c] or {}).items():
                    protos = safelist.protocols.get((tag, ak))
                    abs_v = doc.abs_url(c, ak) if protos else None
                    if safelist.is_safe_attr(tag, ak, av, abs_v):
                        # testValidProtocol (Safelist.kt:435): unless
                        # preserveRelativeLinks, the kept value is the
                        # resolved one
                        if protos and not preserve_rel and abs_v:
                            attrs[ak] = abs_v
                        else:
                            attrs[ak] = av
                    else:
                        num_discarded += 1
                attrs.update(safelist.enforced.get(tag, {}))
                nid = out.new_node(dom.ELEMENT, tag, attrs)
                out.append_child(dst, nid)
                stack.append((iter(doc.children[c]), nid))
            else:
                num_discarded += 1
                # promote children to the kept ancestor
                stack.append((iter(doc.children[c]), dst))
        # comments / data / doctypes are dropped

    out.errors = num_discarded
    return out


def is_valid(doc: Doc, safelist: Safelist) -> bool:
    """True iff cleaning would discard nothing (Cleaner.isValid)."""
    return clean(doc, safelist).errors == 0


def clean_html(html: str, safelist: Safelist | None = None,
               base_uri: str = "") -> str:
    """Ksoup.clean equivalent: parse body fragment, clean, re-serialize."""
    from .serialize import inner_html
    from .treebuilder import parse_body_fragment

    safelist = safelist or Safelist.basic()
    doc = parse_body_fragment(html, base_uri)
    cleaned = clean(doc, safelist)
    return inner_html(cleaned, cleaned.body(), pretty=False)


def is_valid_html(html: str, safelist: Safelist | None = None) -> bool:
    """Ksoup.isValid equivalent (body-fragment parse, nothing discarded)."""
    from .treebuilder import parse_body_fragment

    return is_valid(parse_body_fragment(html), safelist or Safelist.basic())
