"""HTML5 tree construction (insertion-mode algorithm).

From-scratch Python implementation of the HTML5 tree-construction algorithm
with the reference engine's semantics
(/root/reference/ksoup/src/com/fleeksoft/ksoup/parser/HtmlTreeBuilderState.kt,
HtmlTreeBuilder.kt): implicit html/head/body, per-tag InBody rules, the
adoption agency algorithm, foster parenting in tables, active-formatting
reconstruction with the Noah's-Ark cap, implied end tags, scope queries with
the reference's search-depth caps (semantics-affecting — HtmlTreeBuilder.kt:
1095-1097, HtmlTreeBuilderState.kt:974), RCDATA/Rawtext/ScriptData/PLAINTEXT
tokenizer switching, and a simplified foreign-content (SVG/MathML) mode with
the spec breakout-tag list.

Output is a dom.Doc (int-indexed node table), never Kotlin-style objects.
"""

from __future__ import annotations

from . import dom
from .dom import Doc
from .parse_errors import ParseErrorList
from .parse_settings import HTML_DEFAULT, ParseSettings
from .tags import (
    BUTTON_SCOPE_BOUND as _BUTTON_SCOPE_BOUND,
    FORMATTING_TAGS,
    HEADINGS,
    IMPLIED_END,
    IMPLIED_END_THOROUGH,
    IN_SCOPE_BASE as _IN_SCOPE_BASE,
    INBODY_SPECIAL_START as _INBODY_SPECIAL_START,
    KNOWN_TAGS,
    LIST_SCOPE_BOUND as _LIST_SCOPE_BOUND,
    P_CLOSERS as _P_CLOSERS,
    SPECIAL_TAGS,
    TABLE_SCOPE as _TABLE_SCOPE,
    VOID_TAGS,
)
from .ctokenizer import CTokenizer, make_tokenizer, tree_module
from .tokenizer import (
    DATA as TOK_DATA,
    PLAINTEXT as TOK_PLAINTEXT,
    RAWTEXT as TOK_RAWTEXT,
    RCDATA as TOK_RCDATA,
    SCRIPT_DATA as TOK_SCRIPT,
    Tokenizer,
)

# insertion modes
(INITIAL, BEFORE_HTML, BEFORE_HEAD, IN_HEAD, IN_HEAD_NOSCRIPT, AFTER_HEAD,
 IN_BODY, TEXT, IN_TABLE, IN_TABLE_TEXT, IN_CAPTION, IN_COLUMN_GROUP,
 IN_TABLE_BODY, IN_ROW, IN_CELL, IN_SELECT, IN_SELECT_IN_TABLE, IN_TEMPLATE,
 AFTER_BODY, IN_FRAMESET, AFTER_FRAMESET, AFTER_AFTER_BODY,
 AFTER_AFTER_FRAMESET, FOREIGN) = range(24)

_WS = "\t\n\r\f "


_FOREIGN_BREAKOUT = frozenset(
    """b big blockquote body br center code dd div dl dt em embed h1 h2 h3 h4
    h5 h6 head hr i img li listing menu meta nobr ol p pre ruby s small span
    strong strike sub sup table tt u ul var""".split()
)

# spec case adjustments for SVG tag names
_SVG_TAG_ADJUST = {
    t.lower(): t
    for t in (
        "altGlyph altGlyphDef altGlyphItem animateColor animateMotion "
        "animateTransform clipPath feBlend feColorMatrix feComponentTransfer "
        "feComposite feConvolveMatrix feDiffuseLighting feDisplacementMap "
        "feDistantLight feDropShadow feFlood feFuncA feFuncB feFuncG feFuncR "
        "feGaussianBlur feImage feMerge feMergeNode feMorphology feOffset "
        "fePointLight feSpecularLighting feSpotLight feTile feTurbulence "
        "foreignObject glyphRef linearGradient radialGradient textPath"
    ).split()
}

MARKER = -1  # active-formatting-list scope marker

# tags associated to the open form during parsing (Tag.kt:247-249
# formListedTags; linked via doInsertElement, HtmlTreeBuilder.kt:341-343)
FORM_LISTED = frozenset((
    "button", "fieldset", "input", "keygen", "object", "output", "select",
    "textarea",
))

# reference HtmlTreeBuilderState names, indexed by insertion-mode constant
_MODE_NAMES = (
    "Initial", "BeforeHtml", "BeforeHead", "InHead", "InHeadNoscript",
    "AfterHead", "InBody", "Text", "InTable", "InTableText", "InCaption",
    "InColumnGroup", "InTableBody", "InRow", "InCell", "InSelect",
    "InSelectInTable", "InTemplate", "AfterBody", "InFrameset",
    "AfterFrameset", "AfterAfterBody", "AfterAfterFrameset",
    "ForeignContent",
)

# reference Token.tokenType() names (Token.kt:19-21)
_TOK_TYPE = {
    "text": "Character", "cdata": "Character", "start": "StartTag",
    "end": "EndTag", "comment": "Comment", "doctype": "Doctype",
    "eof": "EOF",
}


def _tok_str(tok) -> str:
    """Token.toString() formats (Token.kt:78-481) for error messages."""
    k = tok[0]
    if k == "doctype":
        return f"<!doctype {tok[1] or ''}>"
    if k == "start":
        name = tok[1].lower()
        if tok[2]:
            attrs = " ".join(
                k2 if v is None else f'{k2}="{v}"' for k2, v in tok[2])
            return f"<{name} {attrs}{'/>' if tok[3] else '>'}"
        return f"<{name}{'/>' if tok[3] else '>'}"
    if k == "end":
        return f"</{tok[1].lower()}>"
    if k == "comment":
        return f"<!--{tok[1]}-->"
    if k == "cdata":
        return f"<![CDATA[{tok[1]}]]>"
    if k == "text":
        return tok[1]
    return ""

MAX_SCOPE_SEARCH = 100          # HtmlTreeBuilder.kt:1095-1097
MAX_ADOPTION_STACK_SCAN = 64    # HtmlTreeBuilderState.kt:974
MAX_QUEUE_DEPTH = 256           # li/dd-dt stack walk cap


class HtmlTreeBuilder:
    def __init__(self) -> None:
        self.doc = Doc()
        self.tok: Tokenizer | None = None
        self.stack: list[int] = []
        self.formatting: list[int] = []  # node ids, MARKER for scope markers
        self.mode = INITIAL
        self.original_mode = INITIAL
        self.template_modes: list[int] = []
        self.head_id = -1
        self.form_id = -1
        self.frameset_ok = True
        self.foster_inserts = False
        self.pending_table_text: list[str] = []
        self._pending_text_start: int | None = None
        self._pending_text_end: int = 0
        self.skip_next_lf = False
        self.base_latched = False
        self.fragment_context: str | None = None
        self.has_foreign = False
        # tags ever pushed onto the open-elements stack; a scope query for a
        # tag never pushed is False without scanning (monotone latch — pops
        # don't remove, so membership is conservative, absence is exact)
        self.pushed_tags: set = set()
        # parse-error tracking (Parser.kt:92-107): None = disabled
        self.perrs = None
        self._cur_tok = None
        # case handling (ParseSettings.kt): HTML default lower-cases
        self.settings: ParseSettings = HTML_DEFAULT
        # source-position tracking (Parser.setTrackPosition /
        # TreeBuilder.trackNodePosition, TreeBuilder.kt:295-333): when on,
        # each created node records the START offset of the token that
        # produced it; implicit opens get the triggering token's start
        # (the reference's collapsed-range start semantics)
        self.src_track = False

    # ------------------------------------------------------------------ util

    def parse_setup(self, html: str, base_uri: str = "",
                    track_errors: int = 0,
                    settings: ParseSettings | None = None,
                    track_positions: bool = False,
                    use_c: bool = True) -> "HtmlTreeBuilder":
        """Prepare an incremental parse (StreamParser support): state is
        initialized but no tokens are consumed. Drive with parse_step().

        use_c=False forces the pure-Python tokenizer (the StreamParser
        meters tok.p per step and needs character-exact offsets); tracked
        parses (errors/positions) fall back automatically."""
        self.doc.base_uri = base_uri
        if base_uri:
            self.base_latched = False
        if track_errors > 0:
            self.perrs = ParseErrorList(track_errors, html)
        if settings is not None:
            self.settings = settings
        if track_positions:
            self.src_track = True
            self.doc.src_pos = {}
            self.doc.src_range = {}
            self.doc.src_end_range = {}
            self.doc.attr_src = {}
            self.doc.src_text = html
            # the document node opens on the virtual start token
            # (TreeBuilder.kt:61-63: currentToken = start → implicit 0-0)
            self.doc.src_range[0] = (0, 0)
            self.doc.src_pos[0] = 0
        if use_c and self.perrs is None and not self.src_track:
            self.tok = make_tokenizer(html)
        else:
            self.tok = Tokenizer(html, self.perrs)
        self.tok.track = self.src_track
        return self

    def parse_step(self) -> bool:
        """Process ONE token; returns False once EOF has been processed.
        The within-doc incremental surface (reference StreamParser.kt:16-140
        suspension points map to the caller's step loop)."""
        tok = self.tok.next_token()
        self.process(tok)
        if tok[0] == "eof":
            if self.perrs is not None:
                self.doc.parse_errors = list(self.perrs)
            self._finalize_positions()
            return False
        return True

    def parse(self, html: str, base_uri: str = "",
              track_errors: int = 0,
              settings: ParseSettings | None = None,
              track_positions: bool = False) -> Doc:
        self.parse_setup(html, base_uri, track_errors, settings,
                         track_positions)
        mod = None
        if type(self.tok) is CTokenizer and self.perrs is None \
                and not self.src_track \
                and not self.settings.preserve_tag_case \
                and not self.settings.preserve_attribute_case:
            mod = tree_module()
        if mod is not None:
            self._parse_ctree(mod)
        else:
            # parse_step's loop, inlined (parse_step itself stays for the
            # incremental StreamParser surface)
            process = self.process
            tok_next = self.tok.next_token
            while True:
                tok = tok_next()
                process(tok)
                if tok[0] == "eof":
                    break
        if self.perrs is not None:
            self.doc.parse_errors = list(self.perrs)
        self._finalize_positions()
        return self.doc

    def _parse_ctree(self, mod) -> None:
        """Main parse loop over the C tree-construction engine.

        tree_run handles the common insertion-mode cases directly in C,
        from the document preamble (doctype, html/head/title/base/meta/link,
        body) through the body modes to the postamble (</body>, </html>,
        EOF), mutating the SAME doc/stack/formatting lists this builder
        owns, and reading and writing the builder's scalar state (mode,
        frameset_ok, head_id, base_latched, ...) and the doc's quirks /
        errors / base_uri itself. A typical document is one tree_run call
        and no process() call. Tokens outside the handled subset come back
        as tuples and run through the full Python process() — then the loop
        re-enters C with whatever mode/tokenizer state those handlers set.
        ``midbail`` flags a MID-CHAIN bail: C already ran part of the first
        bailed token's redispatch chain (implied html/head/body, cell close,
        row exit, table-text flush), so that token must resume at the
        current mode handler — reprocess() semantics — NOT re-enter
        process(), whose foreign-content dispatch would re-run against the
        mutated stack."""
        d = self.doc
        tok = self.tok  # CTokenizer: carries .state/.rawtext_tag for handlers
        html = tok.s
        shared = (d.kind, d.tag, d.attrs, d.text, d.ns, d.children,
                  d.parent, self.stack, self.formatting, self.pushed_tags,
                  self.pending_table_text)
        bp = 0
        tree_run = mod.tree_run
        while True:
            toks, bp, done, midbail = tree_run(
                html, bp, tok.state, tok.rawtext_tag, shared, self)
            # C always returns in DATA; bail-token handlers may set the
            # rawtext/RCDATA state for the next entry (same contract as
            # CTokenizer.next_token's batches)
            tok.state = TOK_DATA
            tok.rawtext_tag = None
            if toks:
                start = 0
                if midbail:
                    self._dispatch(toks[0], self.mode)
                    start = 1
                for ti in range(start, len(toks)):
                    self.process(toks[ti])
            if done:
                break

    def parse_fragment(self, html: str, context: str = "body",
                       base_uri: str = "",
                       track_errors: int = 0,
                       settings: ParseSettings | None = None,
                       track_positions: bool = False) -> list[int]:
        """Fragment parse (Parser.parseFragment semantics): returns the
        child node ids of the synthetic context root."""
        self.fragment_context = context
        self.doc.base_uri = base_uri
        if track_errors > 0:
            self.perrs = ParseErrorList(track_errors, html)
        if settings is not None:
            self.settings = settings
        if track_positions:
            self.src_track = True
            self.doc.src_pos = {}
            self.doc.src_range = {}
            self.doc.src_end_range = {}
            self.doc.attr_src = {}
            self.doc.src_text = html
        if self.perrs is None and not self.src_track:
            self.tok = make_tokenizer(html)
        else:
            self.tok = Tokenizer(html, self.perrs)
        self.tok.track = self.src_track
        html_el = self.doc.new_node(dom.ELEMENT, "html", {})
        self.doc.append_child(0, html_el)
        root = self.doc.new_node(dom.ELEMENT, context, {})
        self.doc.append_child(html_el, root)
        self.stack = [html_el, root]
        self.pushed_tags.add("html")
        self.pushed_tags.add(context)
        if context in ("title", "textarea"):
            self.tok.state = TOK_RCDATA
            self.tok.rawtext_tag = context
        elif context in ("iframe", "noembed", "noframes", "style", "xmp"):
            self.tok.state = TOK_RAWTEXT
            self.tok.rawtext_tag = context
        elif context == "script":
            self.tok.state = TOK_SCRIPT
            self.tok.rawtext_tag = context
        elif context == "plaintext":
            self.tok.state = TOK_PLAINTEXT
        self.mode = IN_BODY
        self.reset_insertion_mode_for_fragment(context)
        while True:
            tok = self.tok.next_token()
            self.process(tok)
            if tok[0] == "eof":
                break
        if self.perrs is not None:
            self.doc.parse_errors = list(self.perrs)
        self._finalize_positions()
        return list(self.doc.children[root])

    def reset_insertion_mode_for_fragment(self, context: str) -> None:
        m = IN_BODY
        if context in ("td", "th"):
            m = IN_CELL
        elif context == "tr":
            m = IN_ROW
        elif context in ("tbody", "thead", "tfoot"):
            m = IN_TABLE_BODY
        elif context == "caption":
            m = IN_CAPTION
        elif context == "colgroup":
            m = IN_COLUMN_GROUP
        elif context == "table":
            m = IN_TABLE
        elif context == "select":
            m = IN_SELECT
        elif context == "head":
            m = IN_BODY
        elif context == "frameset":
            m = IN_FRAMESET
        self.mode = m

    def current(self) -> int:
        return self.stack[-1] if self.stack else 0

    def current_tag(self) -> str | None:
        if not self.stack:
            return None
        return self.doc.tag[self.stack[-1]]

    def error(self) -> None:
        """Count a parse error; when tracking (Parser.setTrackErrors), also
        record the reference's formatted message for the current token
        (HtmlTreeBuilder.kt:220-228: "Unexpected <type> token [<tok>] when
        in state [<state>]") at the tokenizer's cursor position."""
        self.doc.errors += 1
        el = self.perrs
        tok = self._cur_tok
        if el is not None and el.can_add() and tok is not None \
                and self.tok is not None:
            el.add_at(
                self.tok.p,
                f"Unexpected {_TOK_TYPE[tok[0]]} token [{_tok_str(tok)}] "
                f"when in state [{_MODE_NAMES[self.mode]}]")

    # -- attribute normalization (HtmlTreeBuilder.kt:231-262) ---------------

    def norm_attrs(self, attrs: list, lower: bool = True) -> dict:
        if self.settings.preserve_attribute_case:
            lower = False  # ParseSettings.normalizeAttributes no-op
        # fast paths for the dominant shapes (≥80% of tags on real pages)
        if not attrs:
            return {}
        if len(attrs) == 1:
            k, v = attrs[0]
            if lower:
                k = k.lower()
            return {k: v} if k else {}
        out: dict = {}
        dropped = False
        for k, v in attrs:
            if lower:
                k = k.lower()
            if k and k not in out:  # first duplicate kept
                out[k] = v
            elif k:
                dropped = True
        if dropped and self.perrs is not None and self.perrs.can_add() \
                and self.tok is not None:
            tok = self._cur_tok
            name = tok[1].lower() if tok and tok[0] == "start" else ""
            # HtmlTreeBuilder.kt:242
            self.perrs.add_at(
                self.tok.p, f"Dropped duplicate attribute(s) in tag [{name}]")
        return out

    # -- insertion ------------------------------------------------------------

    def _insertion_parent(self) -> tuple[int, int]:
        """Return (parent, before_ref) honoring foster parenting.

        before_ref == -1 means append.
        """
        d = self.doc
        if self.foster_inserts and self.stack and \
                d.tag[self.current()] in ("table", "tbody", "tfoot", "thead", "tr"):
            # foster parent: before the last table in the stack
            for nid in reversed(self.stack):
                if d.tag[nid] == "table":
                    p = d.parent[nid]
                    if p != -1:
                        return p, nid
                    idx = self.stack.index(nid)
                    return self.stack[idx - 1], -1
            return self.stack[0], -1
        return self.current() if self.stack else 0, -1

    def _attach(self, nid: int) -> None:
        parent, before = self._insertion_parent()
        if before != -1:
            self.doc.insert_before(before, nid)
        else:
            self.doc.append_child(parent, nid)

    def _track(self, nid: int) -> None:
        """Record the current token's source range for nid, with the
        reference's implicit-collapse rules (TreeBuilder.kt:295-333): an
        element not created by a matching start tag gets an implicit
        (start, start) range; attribute name/value spans ride the creating
        start token."""
        d = self.doc
        tok = self.tok
        if tok is None:
            d.src_pos[nid] = 0
            d.src_range[nid] = (0, 0)
            return
        cur = self._cur_tok
        if cur is not None and cur[0] == "eof":
            n = tok.n
            d.src_pos[nid] = n
            d.src_range[nid] = (n, n)
            return
        start, end = tok.tok_start, tok.tok_end
        if d.kind[nid] == dom.TEXT and self._pending_text_start is not None:
            start, end = self._pending_text_start, self._pending_text_end
        if d.kind[nid] == dom.ELEMENT:
            if not (cur is not None and cur[0] == "start"
                    and cur[1].lower() == (d.tag[nid] or "").lower()):
                end = start  # implicitly created (e.g. <html> from <p>)
            elif tok.last_attr_pos:
                ap: dict = {}
                lower = not self.settings.preserve_attribute_case
                for (raw, _), pos in zip(cur[2], tok.last_attr_pos):
                    key = raw.lower() if lower else raw
                    if key and key not in ap:  # first-dup-wins, as stored
                        ap[key] = pos
                if ap:
                    d.attr_src[nid] = ap
        d.src_pos[nid] = start
        d.src_range[nid] = (start, end)

    def _track_end(self, nid: int) -> None:
        """Record the closing source range for nid — the onNodeClosed
        analogue (TreeBuilder.kt:289-333). Explicit matching end tags keep
        the token range; empty/self-closing elements keep their start
        token's range; everything else closes implicitly at the current
        token's start. At EOF, ranges collapse to the input length, except
        for elements (body/html) whose explicit close was already seen."""
        d = self.doc
        er = d.src_end_range
        tok = self.tok
        if tok is None:
            return
        cur = self._cur_tok
        if cur is None or cur[0] == "eof":
            if nid in er:
                return  # /body, /html stay on stack till EOF; don't reset
            n = tok.n
            er[nid] = (n, n)
            return
        start, end = tok.tok_start, tok.tok_end
        name = (d.tag[nid] or "").lower()
        sc = d.self_closing
        if name in VOID_TAGS or (sc is not None and name in sc) or (
                cur[0] == "start" and cur[3] and cur[1].lower() == name):
            pass  # empty / self-closing: the start token IS the close
        elif not (cur[0] == "end" and cur[1].lower() == name):
            end = start  # implicit close (e.g. <p>One<p>Two)
        er[nid] = (start, end)

    def _link_form_control(self, nid: int) -> None:
        """Connect a form-listed control to the open form element
        (HtmlTreeBuilder.kt:341-343 doInsertElement)."""
        d = self.doc
        if d.form_links is None:
            d.form_links = {}
        d.form_links.setdefault(self.form_id, []).append(nid)

    def _record_display_case(self, nid: int, name: str) -> None:
        """ParseSettings.preserveCase: stash the source-cased tag name when
        it differs from the normalized one the algorithm matched on."""
        tok = self._cur_tok
        if tok is not None and tok[0] == "start":
            raw = self.settings.normalize_tag(tok[1])
            if raw != name and raw.lower() == name:
                d = self.doc
                if d.tag_display is None:
                    d.tag_display = {}
                d.tag_display[nid] = raw

    def insert_element(self, name: str, attrs: dict, ns: int = dom.NS_HTML,
                       push: bool = True) -> int:
        d = self.doc
        # inlined d.new_node(ELEMENT, ...) — this is the hottest allocation
        nid = len(d.kind)
        d.kind.append(dom.ELEMENT)
        d.tag.append(name)
        if self.settings.preserve_tag_case:
            self._record_display_case(nid, name)
        if self.src_track:
            self._track(nid)
        d.attrs.append(attrs)
        d.text.append(None)
        d.ns.append(ns)
        d.children.append([])
        self.pushed_tags.add(name)
        if not self.foster_inserts:  # common case: append to current element
            parent = self.stack[-1] if self.stack else 0
            d.children[parent].append(nid)
            d.parent.append(parent)
        else:
            d.parent.append(-1)
            self._attach(nid)
        if push:
            self.stack.append(nid)
        if self.form_id != -1 and name in FORM_LISTED and ns == dom.NS_HTML:
            self._link_form_control(nid)
        return nid

    def insert_empty(self, name: str, attrs: dict) -> int:
        nid = self.doc.new_node(dom.ELEMENT, name, attrs)
        if self.settings.preserve_tag_case:
            self._record_display_case(nid, name)
        if self.src_track:
            self._track(nid)
            self._track_end(nid)  # empty element: inserted closed
        self._attach(nid)
        if self.form_id != -1 and name in FORM_LISTED:
            self._link_form_control(nid)
        if name == "base" and not self.base_latched:
            href = attrs.get("href")
            if href:
                self.doc.base_uri = href
                self.base_latched = True
        return nid

    def insert_char(self, text: str, kind: int | None = None) -> None:
        if not text:
            return
        d = self.doc
        if kind is None:
            # inlined current_tag(): this runs once per character token
            stk = self.stack
            cur = d.tag[stk[-1]] if stk else None
            kind = dom.DATA if cur in ("script", "style") else dom.TEXT
        if not self.foster_inserts:  # common case: append to current element
            parent = self.stack[-1] if self.stack else 0
            sibs = d.children[parent]
            if sibs and d.kind[sibs[-1]] == kind and kind != dom.CDATA:
                d.text[sibs[-1]] = (d.text[sibs[-1]] or "") + text
                if self.src_track:
                    self._extend_text_range(sibs[-1])
                return
            # inlined d.new_node(kind, text=text)
            nid = len(d.kind)
            d.kind.append(kind)
            d.tag.append(None)
            d.attrs.append(None)
            d.text.append(text)
            d.ns.append(dom.NS_HTML)
            d.children.append([])
            d.parent.append(parent)
            sibs.append(nid)
            if self.src_track:
                self._track(nid)
            return
        parent, before = self._insertion_parent()
        sibs = d.children[parent]
        if before == -1:
            if sibs and d.kind[sibs[-1]] == kind and kind != dom.CDATA:
                d.text[sibs[-1]] = (d.text[sibs[-1]] or "") + text
                if self.src_track:
                    self._extend_text_range(sibs[-1])
                return
        else:
            i = sibs.index(before)
            if i > 0 and d.kind[sibs[i - 1]] == kind and kind != dom.CDATA:
                d.text[sibs[i - 1]] = (d.text[sibs[i - 1]] or "") + text
                if self.src_track:
                    self._extend_text_range(sibs[i - 1])
                return
        nid = d.new_node(kind, text=text)
        if self.src_track:
            self._track(nid)
        if before != -1:
            d.insert_before(before, nid)
        else:
            d.append_child(parent, nid)

    def _extend_text_range(self, nid: int) -> None:
        """Adjacent character tokens merged into one text node span the
        union of their source ranges (the reference accumulates them into
        ONE char token before insert; same observable node + range)."""
        d = self.doc
        r = d.src_range.get(nid)
        if r is not None and self.tok is not None:
            d.src_range[nid] = (r[0], self.tok.tok_end)

    def _finalize_positions(self) -> None:
        """EOF step: close everything left on the stack, then the document
        (TreeBuilder.kt:117-127 — pops hit nodeRemoved, then the root doc
        closes at the reader position)."""
        if not self.src_track:
            return
        while self.stack:
            self.pop()
        if self.tok is not None and 0 not in self.doc.src_end_range:
            n = self.tok.n
            self.doc.src_end_range[0] = (n, n)

    def _append_char_to(self, parent: int, text: str) -> None:
        d = self.doc
        sibs = d.children[parent]
        if sibs and d.kind[sibs[-1]] == dom.TEXT:
            d.text[sibs[-1]] = (d.text[sibs[-1]] or "") + text
        else:
            nid = d.new_node(dom.TEXT, text=text)
            d.append_child(parent, nid)

    def insert_comment(self, data: str, parent: int | None = None) -> None:
        nid = self.doc.new_node(dom.COMMENT, text=data)
        if self.src_track:
            self._track(nid)
        if parent is not None:
            self.doc.append_child(parent, nid)
        else:
            self._attach(nid)

    # -- stack helpers ----------------------------------------------------------

    def pop(self) -> int:
        nid = self.stack.pop()
        if self.src_track:
            self._track_end(nid)
        return nid

    def pop_until(self, *names: str) -> None:
        d = self.doc
        track = self.src_track
        while self.stack:
            nid = self.stack.pop()
            if track:
                self._track_end(nid)
            if d.tag[nid] in names:
                break

    def pop_until_before(self, *names: str) -> None:
        # clearStackToContext (HtmlTreeBuilder.kt): the reference removes
        # these directly WITHOUT onNodeClosed — no end-range tracking here
        d = self.doc
        while self.stack and d.tag[self.stack[-1]] not in names:
            self.stack.pop()

    def on_stack(self, name: str) -> bool:
        if name not in self.pushed_tags:
            return False
        d = self.doc
        return any(d.tag[n] == name for n in self.stack)

    def remove_from_stack(self, nid: int) -> None:
        try:
            self.stack.remove(nid)
        except ValueError:
            return
        if self.src_track:  # removeFromStack hits onNodeClosed (kt:421-430)
            self._track_end(nid)

    def _in_scope(self, targets, bound) -> bool:
        # hot path (runs for most block start/end tags): boundary sets are
        # pre-merged per variant, tag/ns lists hoisted, and the ns!=HTML
        # early-exit folded so each frame costs two lookups + set tests
        d = self.doc
        tag = d.tag
        ns = d.ns
        nsh = dom.NS_HTML
        if targets.__class__ is str:
            if targets not in self.pushed_tags:
                return False
            targets = (targets,)
        stk = self.stack
        if len(stk) > MAX_SCOPE_SEARCH + 1:  # kt:1095-1097 bail cap
            stk = stk[-(MAX_SCOPE_SEARCH + 1):]
        for nid in reversed(stk):
            if ns[nid] != nsh:
                return False
            t = tag[nid]
            if t in targets:
                return True
            if t in bound:
                return False
        return False

    def in_scope(self, targets) -> bool:
        return self._in_scope(targets, _IN_SCOPE_BASE)

    def in_button_scope(self, targets) -> bool:
        return self._in_scope(targets, _BUTTON_SCOPE_BOUND)

    def in_list_scope(self, targets) -> bool:
        return self._in_scope(targets, _LIST_SCOPE_BOUND)

    def in_table_scope(self, targets) -> bool:
        # table scope: name-only boundary, no foreign-content early exit
        d = self.doc
        tag = d.tag
        ns = d.ns
        nsh = dom.NS_HTML
        if targets.__class__ is str:
            if targets not in self.pushed_tags:
                return False
            targets = (targets,)
        stk = self.stack
        if len(stk) > MAX_SCOPE_SEARCH + 1:
            stk = stk[-(MAX_SCOPE_SEARCH + 1):]
        for nid in reversed(stk):
            t = tag[nid]
            if ns[nid] == nsh and t in targets:
                return True
            if t in _TABLE_SCOPE:
                return False
        return False

    def in_select_scope(self, target) -> bool:
        d = self.doc
        for nid in reversed(self.stack):
            t = d.tag[nid]
            if t == target:
                return True
            if t not in ("optgroup", "option"):
                return False
        return False

    def generate_implied_end(self, exclude: str | None = None,
                             thorough: bool = False) -> None:
        d = self.doc
        search = IMPLIED_END_THOROUGH if thorough else IMPLIED_END
        track = self.src_track
        while self.stack:
            t = d.tag[self.stack[-1]]
            if t in search and t != exclude:
                nid = self.stack.pop()
                if track:
                    self._track_end(nid)
            else:
                break

    def close_p(self) -> None:
        self.generate_implied_end("p")
        if self.current_tag() != "p":
            self.error()
        self.pop_until("p")

    # -- active formatting list -------------------------------------------------

    def push_formatting(self, nid: int) -> None:
        # Noah's Ark: max 3 entries with same tag+attrs since last marker
        # (HtmlTreeBuilder.kt:824-837)
        d = self.doc
        count = 0
        for fid in reversed(self.formatting):
            if fid == MARKER:
                break
            if d.tag[fid] == d.tag[nid] and d.attrs[fid] == d.attrs[nid]:
                count += 1
                if count == 3:
                    self.formatting.remove(fid)
                    break
        self.formatting.append(nid)

    def clear_formatting_to_marker(self) -> None:
        while self.formatting:
            if self.formatting.pop() == MARKER:
                break

    def remove_formatting(self, nid: int) -> None:
        try:
            self.formatting.remove(nid)
        except ValueError:
            pass

    def last_formatting(self, name: str) -> int:
        d = self.doc
        for fid in reversed(self.formatting):
            if fid == MARKER:
                break
            if d.tag[fid] == name:
                return fid
        return -1

    def _on_stack_capped(self, nid: int) -> bool:
        # stack membership scan capped at 256 from the top, like the
        # reference's maxQueueDepth (HtmlTreeBuilder.kt:1095-1097) — keeps
        # adversarial deep stacks from making every check O(stack)
        s = self.stack
        return nid in (s if len(s) <= 256 else s[-256:])

    def reconstruct_formatting(self) -> None:
        # HtmlTreeBuilder.kt:839-881; rewind capped at 12 entries
        # (maxUsedFormattingElements) so adversarial formatting floods don't
        # turn every text insertion quadratic
        if not self.formatting:
            return
        last = self.formatting[-1]
        if last == MARKER or self._on_stack_capped(last):
            return
        i = len(self.formatting) - 1
        floor = max(0, i - 12)
        entry = last
        while True:
            if i == floor:
                break
            i -= 1
            entry = self.formatting[i]
            if entry == MARKER or self._on_stack_capped(entry):
                i += 1
                entry = self.formatting[i]
                break
        d = self.doc
        while i < len(self.formatting):
            entry = self.formatting[i]
            new_el = self.insert_element(d.tag[entry],
                                         dict(d.attrs[entry] or {}))
            self.formatting[i] = new_el
            i += 1

    # -- main dispatch -------------------------------------------------------

    def process(self, tok) -> None:
        self._cur_tok = tok
        # foreign-content dispatch (simplified adjusted-current-node rules);
        # has_foreign is a one-way latch so HTML-only docs skip the ns check
        if self.has_foreign and self.stack \
                and self.doc.ns[self.stack[-1]] != dom.NS_HTML:
            if self._process_foreign(tok):
                return
        if tok[0] == "start" and tok[3]:
            # self-closing non-void tag: process the start, then synthesize
            # an end tag — known tags are force-closed (out-of-spec allow),
            # unknown tags additionally remember self-closing for "<x />"
            # output (HtmlTreeBuilder.insertElementFor, kt:265-287)
            name = tok[1].lower()
            if name not in VOID_TAGS:
                if name in KNOWN_TAGS and self.perrs is not None \
                        and self.perrs.can_add() and self.tok is not None:
                    # HtmlTreeBuilder.kt:273
                    self.perrs.add_at(
                        self.tok.p,
                        f"Tag [{name}] cannot be self closing; "
                        "not a void tag")
                _MODE_HANDLERS[self.mode](self, tok)
                if name not in KNOWN_TAGS:
                    d = self.doc
                    if d.self_closing is None:
                        d.self_closing = set()
                    d.self_closing.add(name)
                _MODE_HANDLERS[self.mode](self, ("end", name))
                return
        _MODE_HANDLERS[self.mode](self, tok)

    def _dispatch(self, tok, mode: int) -> None:
        handler = _MODE_HANDLERS[mode]
        handler(self, tok)

    def reprocess(self, tok, mode: int) -> None:
        self.mode = mode
        self._dispatch(tok, mode)

    # -- foreign content (SVG / MathML), simplified --------------------------

    def _html_integration_point(self, nid: int) -> bool:
        """HTML integration points only (HtmlTreeBuilder.isHtmlIntegration):
        svg foreignObject/desc/title, html-encoded annotation-xml."""
        d = self.doc
        t = d.tag[nid]
        if d.ns[nid] == dom.NS_SVG and t in ("foreignObject", "desc", "title"):
            return True
        if d.ns[nid] == dom.NS_MATHML and t == "annotation-xml":
            enc = (d.get_attr(nid, "encoding") or "").lower()
            return enc in ("text/html", "application/xhtml+xml")
        return False

    def _integration_point(self, nid: int) -> bool:
        """Any integration point (MathML text or HTML) — used by the
        foreign-breakout pop loop."""
        d = self.doc
        if d.ns[nid] == dom.NS_MATHML and \
                d.tag[nid] in ("mi", "mo", "mn", "ms", "mtext"):
            return True
        return self._html_integration_point(nid)

    def _process_foreign(self, tok) -> bool:
        """Returns True if handled here; False to fall through to HTML modes.

        Dispatch exceptions per HtmlTreeBuilder.useCurrentOrForeignInsert
        (kt:126-171): integration points route START and CHARACTER tokens to
        the HTML rules; END tags are always handled as foreign content (so
        </mi> / </foreignObject> pop their foreign element).
        """
        d = self.doc
        cur = self.current()
        kind = tok[0]
        if kind == "eof":
            return False
        t = d.tag[cur]
        ns = d.ns[cur]
        if ns == dom.NS_MATHML and t in ("mi", "mo", "mn", "ms", "mtext"):
            if kind in ("text", "cdata"):
                return False
            if kind == "start" and tok[1].lower() not in ("mglyph",
                                                          "malignmark"):
                return False
        if ns == dom.NS_MATHML and t == "annotation-xml" \
                and kind == "start" and tok[1].lower() == "svg":
            return False
        if kind in ("start", "text", "cdata") and \
                self._html_integration_point(cur):
            return False
        if kind == "text":
            self.insert_char(tok[1], kind=dom.TEXT)
            if tok[1].strip(_WS):
                self.frameset_ok = False
            return True
        if kind == "comment":
            self.insert_comment(tok[1])
            return True
        if kind == "cdata":
            nid = d.new_node(dom.CDATA, text=tok[1])
            if self.src_track:
                self._track(nid)
            self._attach(nid)
            return True
        if kind == "start":
            name = tok[1].lower()
            attrs_l = tok[2]
            is_font_breakout = name == "font" and any(
                k.lower() in ("color", "face", "size") for k, _ in attrs_l
            )
            if name in _FOREIGN_BREAKOUT or is_font_breakout:
                self.error()
                while self.stack and d.ns[self.current()] != dom.NS_HTML \
                        and not self._integration_point(self.current()):
                    self.pop()
                self.process(tok)
                return True
            ns = d.ns[cur]
            if ns == dom.NS_SVG:
                name = _SVG_TAG_ADJUST.get(name, name)
            attrs = self.norm_attrs(attrs_l, lower=False)
            nid = d.new_node(dom.ELEMENT, name, attrs, ns=ns)
            self._attach(nid)
            if not tok[3] and name not in VOID_TAGS:
                self.stack.append(nid)
                self.pushed_tags.add(name)
            elif tok[3]:
                # foreign self-closing (<image /> in svg): serialize "<x />"
                if d.self_closing is None:
                    d.self_closing = set()
                d.self_closing.add(name)
            return True
        if kind == "end":
            name = tok[1].lower()
            for i in range(len(self.stack) - 1, -1, -1):
                nid = self.stack[i]
                if d.ns[nid] == dom.NS_HTML:
                    return False  # process via HTML rules
                if (d.tag[nid] or "").lower() == name:
                    if self.src_track:  # popStackToCloseAnyNamespace pops
                        for x in reversed(self.stack[i:]):
                            self._track_end(x)
                    del self.stack[i:]
                    return True
            return True
        return False  # doctype/eof -> normal handling

    # ======================================================================
    # mode handlers
    # ======================================================================

    def _initial(self, tok) -> None:
        k = tok[0]
        if k == "text" and not tok[1].strip(_WS):
            return
        if k == "comment":
            self.insert_comment(tok[1], parent=0)
            return
        if k == "doctype":
            name, pub, sysid, force = tok[1], tok[2], tok[3], tok[4]
            d = self.doc
            nid = d.new_node(dom.DOCTYPE, text=name or "")
            if self.src_track:
                self._track(nid)
            d.attrs[nid] = {"name": name or "", "publicid": pub or "",
                            "systemid": sysid or ""}
            d.append_child(0, nid)
            d.quirks = _quirks_mode(name, pub, sysid, force)
            self.mode = BEFORE_HTML
            return
        self.doc.quirks = 1  # no doctype
        self.reprocess(tok, BEFORE_HTML)

    def _before_html(self, tok) -> None:
        k = tok[0]
        if k == "doctype":
            self.error()
            return
        if k == "comment":
            self.insert_comment(tok[1], parent=0)
            return
        if k == "text" and not tok[1].strip(_WS):
            return
        if k == "start" and tok[1].lower() == "html":
            nid = self.doc.new_node(dom.ELEMENT, "html",
                                    self.norm_attrs(tok[2]))
            if self.src_track:
                self._track(nid)
            self.doc.append_child(0, nid)
            self.stack.append(nid)
            self.pushed_tags.add("html")
            self.mode = BEFORE_HEAD
            return
        if k == "end" and tok[1].lower() not in ("head", "body", "html", "br"):
            self.error()
            return
        nid = self.doc.new_node(dom.ELEMENT, "html", {})
        if self.src_track:
            self._track(nid)
        self.doc.append_child(0, nid)
        self.stack.append(nid)
        self.pushed_tags.add("html")
        self.reprocess(tok, BEFORE_HEAD)

    def _before_head(self, tok) -> None:
        k = tok[0]
        if k == "text" and not tok[1].strip(_WS):
            return
        if k == "comment":
            self.insert_comment(tok[1])
            return
        if k == "doctype":
            self.error()
            return
        if k == "start":
            name = tok[1].lower()
            if name == "html":
                self._in_body(tok)
                return
            if name == "head":
                self.head_id = self.insert_element("head", self.norm_attrs(tok[2]))
                self.mode = IN_HEAD
                return
        if k == "end" and tok[1].lower() not in ("head", "body", "html", "br"):
            self.error()
            return
        self.head_id = self.insert_element("head", {})
        self.reprocess(tok, IN_HEAD)

    def _in_head(self, tok) -> None:
        k = tok[0]
        if k == "text":
            t = tok[1]
            lead = _leading_ws(t)
            if lead:
                self.insert_char(lead)
            rest = t[len(lead):]
            if not rest:
                return
            tok = ("text", rest)
            k = "text"
            # fall through to anything-else with the non-ws remainder
            self._in_head_anything_else(tok)
            return
        if k == "comment":
            self.insert_comment(tok[1])
            return
        if k == "cdata":
            self.insert_char(tok[1])
            return
        if k == "doctype":
            self.error()
            return
        if k == "start":
            name = tok[1].lower()
            attrs = self.norm_attrs(tok[2])
            if name == "html":
                self._in_body(tok)
                return
            if name in ("base", "basefont", "bgsound", "command", "link", "meta"):
                self.insert_empty(name, attrs)
                return
            if name == "title":
                self._rcdata(name, attrs, tok[3])
                return
            if name in ("noframes", "style"):
                self._rawtext(name, attrs, tok[3])
                return
            if name == "noscript":
                self.insert_element(name, attrs)
                self.mode = IN_HEAD_NOSCRIPT
                return
            if name == "script":
                self.insert_element(name, attrs)
                self.original_mode = self.mode
                self.mode = TEXT
                if not tok[3]:
                    self.tok.state = TOK_SCRIPT
                    self.tok.rawtext_tag = "script"
                return
            if name == "template":
                self.insert_element(name, attrs)
                self.formatting.append(MARKER)
                self.frameset_ok = False
                self.mode = IN_TEMPLATE
                self.template_modes.append(IN_TEMPLATE)
                return
            if name == "head":
                self.error()
                return
        if k == "end":
            name = tok[1].lower()
            if name == "head":
                self.pop()
                self.mode = AFTER_HEAD
                return
            if name == "template":
                if not self.on_stack("template"):
                    self.error()
                    return
                self.generate_implied_end(thorough=True)
                self.pop_until("template")
                self.clear_formatting_to_marker()
                if self.template_modes:
                    self.template_modes.pop()
                self.reset_insertion_mode()
                return
            if name not in ("body", "html", "br"):
                self.error()
                return
        self._in_head_anything_else(tok)

    def _in_head_anything_else(self, tok) -> None:
        if self.current_tag() == "head":
            self.pop()
        self.reprocess(tok, AFTER_HEAD)

    def _in_head_noscript(self, tok) -> None:
        # reference deviation (HtmlTreeBuilderState.kt:221-266): anything-else
        # tokens are inserted INTO the noscript as literal character data
        # rather than the spec's pop-and-reprocess
        k = tok[0]
        if k == "doctype":
            self.error()
            return
        if k == "start" and tok[1].lower() == "html":
            self._in_body(tok)
            return
        if k == "end" and tok[1].lower() == "noscript":
            self.pop()
            self.mode = IN_HEAD
            return
        if (k == "text" and not tok[1].strip(_WS)) or k == "comment" or (
            k == "start"
            and tok[1].lower() in ("basefont", "bgsound", "link", "meta",
                                   "noframes", "style")
        ):
            self._in_head(tok)
            return
        if k == "start" and tok[1].lower() in ("head", "noscript"):
            self.error()
            return
        if k == "end" and tok[1].lower() != "br":
            self.error()
            return
        if k == "eof":
            return
        # anything else: insert the token's literal text as character data
        self.error()
        self.insert_char(_token_literal(tok), kind=dom.TEXT)

    def _after_head(self, tok) -> None:
        k = tok[0]
        if k == "text":
            lead = _leading_ws(tok[1])
            if lead:
                self.insert_char(lead)
            rest = tok[1][len(lead):]
            if not rest:
                return
            tok = ("text", rest)
            self.insert_element("body", {})
            self.frameset_ok = True
            self.reprocess(tok, IN_BODY)
            return
        if k == "comment":
            self.insert_comment(tok[1])
            return
        if k == "doctype":
            self.error()
            return
        if k == "start":
            name = tok[1].lower()
            attrs = self.norm_attrs(tok[2])
            if name == "html":
                self._in_body(tok)
                return
            if name == "body":
                self.insert_element("body", attrs)
                self.frameset_ok = False
                self.mode = IN_BODY
                return
            if name == "frameset":
                self.insert_element("frameset", attrs)
                self.mode = IN_FRAMESET
                return
            if name in ("base", "basefont", "bgsound", "link", "meta",
                        "noframes", "script", "style", "template", "title"):
                self.error()
                if self.head_id != -1:
                    self.stack.append(self.head_id)
                self._in_head(tok)
                if self.head_id in self.stack:
                    self.remove_from_stack(self.head_id)
                return
            if name == "head":
                self.error()
                return
        if k == "end":
            name = tok[1].lower()
            if name == "template":
                self._in_head(tok)
                return
            if name not in ("body", "html", "br"):
                self.error()
                return
        self.insert_element("body", {})
        self.frameset_ok = True
        self.reprocess(tok, IN_BODY)

    # -- IN_BODY ----------------------------------------------------------------

    def _in_body(self, tok) -> None:
        k = tok[0]
        if k == "text":
            self._in_body_text(tok[1])
            return
        if k == "cdata":
            nid = self.doc.new_node(dom.CDATA, text=tok[1])
            if self.src_track:
                self._track(nid)
            self._attach(nid)
            return
        if k == "comment":
            self.insert_comment(tok[1])
            return
        if k == "doctype":
            self.error()
            return
        if k == "start":
            self._in_body_start(tok)
            return
        if k == "end":
            self._in_body_end(tok)
            return
        if k == "eof":
            if self.template_modes:
                self._in_template(tok)
            return

    def _in_body_text(self, text: str) -> None:
        if self.skip_next_lf:
            self.skip_next_lf = False
            if text.startswith("\n"):
                text = text[1:]
            if not text:
                return
        self.reconstruct_formatting()
        self.insert_char(text)
        if text.strip(_WS):
            self.frameset_ok = False

    def _in_body_start(self, tok) -> None:
        name = tok[1].lower()
        if name not in _INBODY_SPECIAL_START:
            # generic/unknown tag fast path (the common case)
            self.reconstruct_formatting()
            self.insert_element(name, self.norm_attrs(tok[2]))
            return
        attrs = self.norm_attrs(tok[2])
        selfclosing = tok[3]
        d = self.doc

        if name == "a":
            if self.last_formatting("a") != -1:
                self.error()
                self._adoption_agency("a")
                a_el = self.last_formatting("a")
                if a_el != -1:
                    self.remove_formatting(a_el)
                    self.remove_from_stack(a_el)
            self.reconstruct_formatting()
            el = self.insert_element(name, attrs)
            self.push_formatting(el)
            return
        if name in FORMATTING_TAGS:
            if name == "nobr" and self.in_scope("nobr"):
                self.error()
                self._adoption_agency("nobr")
                self.reconstruct_formatting()
            else:
                self.reconstruct_formatting()
            el = self.insert_element(name, attrs)
            self.push_formatting(el)
            return
        if name in _P_CLOSERS and name not in ("pre", "listing", "xmp"):
            if self.in_button_scope("p"):
                self.close_p()
            self.insert_element(name, attrs)
            return
        if name in HEADINGS:
            if self.in_button_scope("p"):
                self.close_p()
            if self.current_tag() in HEADINGS:
                self.error()
                self.pop()
            self.insert_element(name, attrs)
            return
        if name in ("pre", "listing"):
            if self.in_button_scope("p"):
                self.close_p()
            self.insert_element(name, attrs)
            self.skip_next_lf = True
            self.frameset_ok = False
            return
        if name == "form":
            if self.form_id != -1 and not self.on_stack("template"):
                self.error()
                return
            if self.in_button_scope("p"):
                self.close_p()
            el = self.insert_element(name, attrs)
            if not self.on_stack("template"):
                self.form_id = el
            return
        if name == "li":
            self.frameset_ok = False
            for i in range(len(self.stack) - 1, -1, -1):
                if len(self.stack) - 1 - i > MAX_QUEUE_DEPTH:
                    break
                t = d.tag[self.stack[i]]
                if t == "li":
                    self._close_element("li")
                    break
                if t in SPECIAL_TAGS and t not in ("address", "div", "p"):
                    break
            if self.in_button_scope("p"):
                self.close_p()
            self.insert_element(name, attrs)
            return
        if name in ("dd", "dt"):
            self.frameset_ok = False
            for i in range(len(self.stack) - 1, -1, -1):
                if len(self.stack) - 1 - i > 24:  # dd/dt scan cap
                    break
                t = d.tag[self.stack[i]]
                if t in ("dd", "dt"):
                    self._close_element(t)
                    break
                if t in SPECIAL_TAGS and t not in ("address", "div", "p"):
                    break
            if self.in_button_scope("p"):
                self.close_p()
            self.insert_element(name, attrs)
            return
        if name == "plaintext":
            if self.in_button_scope("p"):
                self.close_p()
            self.insert_element(name, attrs)
            self.tok.state = TOK_PLAINTEXT
            return
        if name == "button":
            if self.in_scope("button"):
                self.error()
                self._close_element("button")
                self.process(tok)
                return
            self.reconstruct_formatting()
            self.insert_element(name, attrs)
            self.frameset_ok = False
            return
        if name in ("applet", "marquee", "object"):
            self.reconstruct_formatting()
            self.insert_element(name, attrs)
            self.formatting.append(MARKER)
            self.frameset_ok = False
            return
        if name == "table":
            if self.doc.quirks != 1 and self.in_button_scope("p"):
                self.close_p()
            self.insert_element(name, attrs)
            self.frameset_ok = False
            self.mode = IN_TABLE
            return
        if name in ("area", "br", "embed", "img", "keygen", "wbr"):
            self.reconstruct_formatting()
            self.insert_empty(name, attrs)
            self.frameset_ok = False
            return
        if name == "input":
            self.reconstruct_formatting()
            self.insert_empty(name, attrs)
            if (attrs.get("type") or "").lower() != "hidden":
                self.frameset_ok = False
            return
        if name in ("param", "source", "track"):
            self.insert_empty(name, attrs)
            return
        if name == "hr":
            if self.in_button_scope("p"):
                self.close_p()
            self.insert_empty(name, attrs)
            self.frameset_ok = False
            return
        if name == "image":
            # image -> img rename (HtmlTreeBuilderState.kt:556-561)
            self.error()
            self._in_body_start(("start", "img", tok[2], tok[3]))
            return
        if name == "isindex":
            # legacy expansion (HtmlTreeBuilderState.kt:563-610):
            # form > hr, label("prompt", input[name=isindex]), hr
            self.error()
            if self.form_id != -1:
                return
            self._in_body_start(("start", "form", [("action", attrs["action"])]
                                 if "action" in attrs else [], False))
            self._in_body_start(("start", "hr", [], False))
            self._in_body_start(("start", "label", [], False))
            prompt = attrs.get("prompt") or \
                "This is a searchable index. Enter search keywords: "
            self._in_body_text(prompt)
            input_attrs = [(k, v) for k, v in attrs.items()
                           if k not in ("name", "action", "prompt")]
            input_attrs.append(("name", "isindex"))
            self._in_body_start(("start", "input", input_attrs, False))
            self._in_body_end(("end", "label"))
            self._in_body_start(("start", "hr", [], False))
            self._in_body_end(("end", "form"))
            return
        if name == "textarea":
            self.insert_element(name, attrs)
            if not selfclosing:
                self.tok.state = TOK_RCDATA
                self.tok.rawtext_tag = "textarea"
                self.skip_next_lf = True
                self.original_mode = self.mode
                self.frameset_ok = False
                self.mode = TEXT
            return
        if name == "xmp":
            if self.in_button_scope("p"):
                self.close_p()
            self.reconstruct_formatting()
            self.frameset_ok = False
            self._rawtext(name, attrs, selfclosing)
            return
        if name == "iframe":
            self.frameset_ok = False
            self._rawtext(name, attrs, selfclosing)
            return
        if name in ("noembed", "noframes"):
            self._rawtext(name, attrs, selfclosing)
            return
        if name == "select":
            self.reconstruct_formatting()
            self.insert_element(name, attrs)
            self.frameset_ok = False
            if not selfclosing:
                if self.mode in (IN_TABLE, IN_CAPTION, IN_TABLE_BODY, IN_ROW,
                                 IN_CELL):
                    self.mode = IN_SELECT_IN_TABLE
                else:
                    self.mode = IN_SELECT
            return
        if name in ("optgroup", "option"):
            if self.current_tag() == "option":
                self.pop()
            self.reconstruct_formatting()
            self.insert_element(name, attrs)
            return
        if name in ("rp", "rt"):
            if self.in_scope("ruby"):
                self.generate_implied_end()
                if self.current_tag() != "ruby":
                    self.error()
            self.insert_element(name, attrs)
            return
        if name == "math":
            self.has_foreign = True
            self.reconstruct_formatting()
            nid = d.new_node(dom.ELEMENT, name, self.norm_attrs(tok[2], lower=False),
                             ns=dom.NS_MATHML)
            self._attach(nid)
            if not selfclosing:
                self.stack.append(nid)
                self.pushed_tags.add(name)
            return
        if name == "svg":
            self.has_foreign = True
            self.reconstruct_formatting()
            nid = d.new_node(dom.ELEMENT, name, self.norm_attrs(tok[2], lower=False),
                             ns=dom.NS_SVG)
            self._attach(nid)
            if not selfclosing:
                self.stack.append(nid)
                self.pushed_tags.add(name)
            return
        if name in ("caption", "col", "colgroup", "frame", "head", "tbody",
                    "td", "tfoot", "th", "thead", "tr"):
            self.error()
            return
        if name == "html":
            self.error()
            if self.on_stack("template"):
                return
            root = self.doc.html_el()
            if root != -1:
                a = d.attrs[root] or {}
                for kk, vv in attrs.items():
                    if kk not in a:
                        a[kk] = vv
                d.attrs[root] = a
            return
        if name == "body":
            self.error()
            b = d.body()
            if b == -1 or d.tag[b] != "body":
                return
            self.frameset_ok = False
            a = d.attrs[b] or {}
            for kk, vv in attrs.items():
                if kk not in a:
                    a[kk] = vv
            d.attrs[b] = a
            return
        if name == "frameset":
            self.error()
            b = d.body()
            if b == -1 or not self.frameset_ok or d.tag[b] != "body":
                return
            # replace body with frameset
            d.detach(b)
            while len(self.stack) > 1:
                self.pop()
            self.insert_element("frameset", attrs)
            self.mode = IN_FRAMESET
            return
        if name in ("base", "basefont", "bgsound", "command", "link", "meta",
                    "noscript", "script", "style", "title", "template"):
            self._in_head(tok)
            return
        # any other start tag
        self.reconstruct_formatting()
        self.insert_element(name, attrs)

    def _close_element(self, name: str) -> None:
        self.generate_implied_end(name)
        if self.current_tag() != name:
            self.error()
        self.pop_until(name)

    def _in_body_end(self, tok) -> None:
        name = tok[1].lower()
        d = self.doc
        if name in FORMATTING_TAGS:
            self._adoption_agency(name)
            return
        if name == "body":
            if not self.in_scope("body"):
                self.error()
                return
            if self.src_track:
                # close position of <body>; it stays on stack for trailers
                # (HtmlTreeBuilderState.kt:810)
                for nid in reversed(self.stack):
                    if d.tag[nid] == "body":
                        self._track_end(nid)
                        break
            self.mode = AFTER_BODY
            return
        if name == "html":
            if not self.in_scope("body"):
                self.error()
                return
            self.mode = AFTER_BODY
            self.process(tok)
            return
        if name in _P_CLOSERS and name != "p" or name in (
                "button", "listing", "pre", "fieldset", "form"):
            if name == "form" and not self.on_stack("template"):
                form = self.form_id
                self.form_id = -1
                if form == -1 or not self.in_scope("form"):
                    self.error()
                    return
                self.generate_implied_end()
                if self.current_tag() != "form":
                    self.error()
                self.remove_from_stack(form)
                return
            if not self.in_scope(name):
                self.error()
                return
            self.generate_implied_end()
            if self.current_tag() != name:
                self.error()
            self.pop_until(name)
            return
        if name == "p":
            if not self.in_button_scope("p"):
                self.error()
                self._in_body_start(("start", "p", [], False))
                self.process(tok)
                return
            self.close_p()
            return
        if name == "li":
            if not self.in_list_scope("li"):
                self.error()
                return
            self._close_element("li")
            return
        if name in ("dd", "dt"):
            if not self.in_scope(name):
                self.error()
                return
            self._close_element(name)
            return
        if name in HEADINGS:
            if not self.in_scope(HEADINGS):
                self.error()
                return
            self.generate_implied_end(name)
            if self.current_tag() != name:
                self.error()
            while self.stack:
                nid = self.pop()
                if d.tag[nid] in HEADINGS:
                    break
            return
        if name in ("applet", "marquee", "object"):
            if not self.in_scope(name):
                self.error()
                return
            self.generate_implied_end()
            if self.current_tag() != name:
                self.error()
            self.pop_until(name)
            self.clear_formatting_to_marker()
            return
        if name == "br":
            self.error()
            self._in_body_start(("start", "br", [], False))
            return
        if name == "template":
            self._in_head(tok)
            return
        self._any_other_end_tag(name)

    # -- adoption agency (HtmlTreeBuilderState.kt:944-1041) --------------------

    def _adoption_agency(self, name: str) -> None:
        d = self.doc
        # fast path: current element matches and not in formatting list
        cur = self.current() if self.stack else -1
        if cur != -1 and d.tag[cur] == name and cur not in self.formatting:
            self.generate_implied_end(name)
            self.pop_until(name)
            return
        for _ in range(8):  # outer loop cap
            fmt_el = self.last_formatting(name)
            if fmt_el == -1:
                self._any_other_end_tag(name)
                return
            if fmt_el not in self.stack:
                self.error()
                self.remove_formatting(fmt_el)
                return
            if not self.in_scope(name):
                self.error()
                return
            if fmt_el != self.current():
                self.error()
            stack_idx = self.stack.index(fmt_el)
            furthest = -1
            f_idx = -1
            for i in range(stack_idx + 1, min(len(self.stack),
                                              stack_idx + 1 + MAX_ADOPTION_STACK_SCAN)):
                if d.tag[self.stack[i]] in SPECIAL_TAGS:
                    furthest = self.stack[i]
                    f_idx = i
                    break
            if furthest == -1:
                # no furthest block: pop up to & including fmt element
                if self.src_track:
                    for x in reversed(self.stack[stack_idx:]):
                        self._track_end(x)
                del self.stack[stack_idx:]
                self.remove_formatting(fmt_el)
                return
            common_ancestor = self.stack[stack_idx - 1]
            bookmark = self.formatting.index(fmt_el)
            node = furthest
            node_idx = f_idx
            last_node = furthest
            for _inner in range(3):  # inner loop cap
                node_idx -= 1
                node = self.stack[node_idx]
                if node == fmt_el:
                    break
                if node not in self.formatting:
                    self.remove_from_stack(node)
                    node_idx_stack = node_idx
                    node_idx = node_idx_stack  # removed; index now points at next
                    continue
                # clone node
                clone = d.new_node(dom.ELEMENT, d.tag[node],
                                   dict(d.attrs[node] or {}))
                fpos = self.formatting.index(node)
                self.formatting[fpos] = clone
                spos = self.stack.index(node)
                self.stack[spos] = clone
                node = clone
                node_idx = spos
                if last_node == furthest:
                    bookmark = fpos + 1
                d.detach(last_node)
                d.append_child(node, last_node)
                last_node = node
            # place last_node in common ancestor (foster if table context)
            if d.tag[common_ancestor] in ("table", "tbody", "tfoot", "thead", "tr"):
                d.detach(last_node)
                self._foster_insert(last_node)
            else:
                d.detach(last_node)
                d.append_child(common_ancestor, last_node)
            # new element clone of fmt, take children of furthest
            clone = d.new_node(dom.ELEMENT, name, dict(d.attrs[fmt_el] or {}))
            for c in list(d.children[furthest]):
                d.detach(c)
                d.append_child(clone, c)
            d.append_child(furthest, clone)
            self.remove_formatting(fmt_el)
            if clone not in self.formatting:
                bookmark = min(bookmark, len(self.formatting))
                self.formatting.insert(bookmark, clone)
            self.remove_from_stack(fmt_el)
            f_idx = self.stack.index(furthest)
            self.stack.insert(f_idx + 1, clone)

    def _any_other_end_tag(self, name: str) -> None:
        # HtmlTreeBuilderState.kt:913-942: walk the stack; close on a name
        # match, bail on a special element
        d = self.doc
        for i in range(len(self.stack) - 1, -1, -1):
            nid = self.stack[i]
            t = d.tag[nid]
            if t == name and d.ns[nid] == dom.NS_HTML:
                self.generate_implied_end(name)
                if self.current_tag() != name:
                    self.error()
                while self.stack:
                    if self.pop() == nid:
                        break
                return
            if t in SPECIAL_TAGS:
                self.error()
                return

    def _foster_insert(self, nid: int) -> None:
        d = self.doc
        for sid in reversed(self.stack):
            if d.tag[sid] == "table":
                p = d.parent[sid]
                if p != -1:
                    d.insert_before(sid, nid)
                else:
                    idx = self.stack.index(sid)
                    d.append_child(self.stack[idx - 1], nid)
                return
        d.append_child(self.stack[0], nid)

    # -- TEXT mode ---------------------------------------------------------------

    def _text(self, tok) -> None:
        k = tok[0]
        if k == "text":
            cur = self.current_tag()
            kind = dom.DATA if cur in ("script", "style", "iframe", "noembed",
                                       "noframes", "xmp") else dom.TEXT
            if self.skip_next_lf:
                self.skip_next_lf = False
                t = tok[1]
                if t.startswith("\n"):
                    t = t[1:]
                if t:
                    self.insert_char(t, kind=kind)
                return
            self.insert_char(tok[1], kind=kind)
            return
        if k == "end":
            self.pop()
            self.mode = self.original_mode
            return
        if k == "eof":
            self.error()
            self.pop()
            self.mode = self.original_mode
            self.process(tok)
            return

    def _rcdata(self, name: str, attrs: dict, selfclosing: bool = False) -> None:
        # self-closing: enter Text mode but leave the tokenizer in Data (the
        # unwedging of HtmlTreeBuilder.kt:265-287); the synthesized end tag
        # from process() pops the element and restores the mode
        self.insert_element(name, attrs)
        self.original_mode = self.mode
        self.mode = TEXT
        if not selfclosing:
            self.tok.state = TOK_RCDATA
            self.tok.rawtext_tag = name

    def _rawtext(self, name: str, attrs: dict, selfclosing: bool = False) -> None:
        self.insert_element(name, attrs)
        self.original_mode = self.mode
        self.mode = TEXT
        if not selfclosing:
            self.tok.state = TOK_RAWTEXT
            self.tok.rawtext_tag = name

    # -- tables -------------------------------------------------------------------

    def _in_table(self, tok) -> None:
        k = tok[0]
        d = self.doc
        if k == "text" and d.tag[self.current()] in (
                "table", "tbody", "tfoot", "thead", "tr"):
            # in-place clear: the C tree engine shares this list object
            del self.pending_table_text[:]
            self.original_mode = self.mode
            self.mode = IN_TABLE_TEXT
            self._in_table_text(tok)
            return
        if k == "comment":
            self.insert_comment(tok[1])
            return
        if k == "doctype":
            self.error()
            return
        if k == "start":
            name = tok[1].lower()
            attrs = self.norm_attrs(tok[2])
            if name == "caption":
                self._clear_stack_to_table()
                self.formatting.append(MARKER)
                self.insert_element(name, attrs)
                self.mode = IN_CAPTION
                return
            if name == "colgroup":
                self._clear_stack_to_table()
                self.insert_element(name, attrs)
                self.mode = IN_COLUMN_GROUP
                return
            if name == "col":
                self._clear_stack_to_table()
                self.insert_element("colgroup", {})
                self.reprocess(tok, IN_COLUMN_GROUP)
                return
            if name in ("tbody", "tfoot", "thead"):
                self._clear_stack_to_table()
                self.insert_element(name, attrs)
                self.mode = IN_TABLE_BODY
                return
            if name in ("td", "th", "tr"):
                self._clear_stack_to_table()
                self.insert_element("tbody", {})
                self.reprocess(tok, IN_TABLE_BODY)
                return
            if name == "table":
                self.error()
                if self.in_table_scope("table"):
                    self.pop_until("table")
                    self.reset_insertion_mode()
                    self.process(tok)
                return
            if name in ("style", "script", "template"):
                self._in_head(tok)
                return
            if name == "input":
                if (attrs.get("type") or "").lower() == "hidden":
                    self.error()
                    self.insert_empty(name, attrs)
                    return
            if name == "form":
                self.error()
                if self.form_id == -1 and not self.on_stack("template"):
                    self.form_id = self.insert_empty(name, attrs)
                return
        if k == "end":
            name = tok[1].lower()
            if name == "table":
                if not self.in_table_scope("table"):
                    self.error()
                    return
                self.pop_until("table")
                self.reset_insertion_mode()
                return
            if name in ("body", "caption", "col", "colgroup", "html", "tbody",
                        "td", "tfoot", "th", "thead", "tr"):
                self.error()
                return
            if name == "template":
                self._in_head(tok)
                return
        if k == "eof":
            return
        # anything else: foster-parented InBody processing
        self.error()
        self.foster_inserts = True
        self._in_body(tok)
        self.foster_inserts = False

    def _in_table_text(self, tok) -> None:
        if tok[0] == "text":
            if self.src_track and self.tok is not None:
                # pending chars flush under a LATER token; remember the
                # buffered run's true source span for _track
                if not self.pending_table_text:
                    self._pending_text_start = self.tok.tok_start
                self._pending_text_end = self.tok.tok_end
            self.pending_table_text.append(tok[1])
            return
        text = "".join(self.pending_table_text)
        del self.pending_table_text[:]
        if text:
            if text.strip(_WS):
                # non-ws: foster parent via InBody
                self.error()
                self.foster_inserts = True
                self.reconstruct_formatting()
                self.insert_char(text, kind=dom.TEXT)
                self.foster_inserts = False
                self.frameset_ok = False
            else:
                self.insert_char(text, kind=dom.TEXT)
        self._pending_text_start = None
        self.mode = self.original_mode
        self.process(tok)

    def _clear_stack_to_table(self) -> None:
        self.pop_until_before("table", "template", "html")

    def _clear_stack_to_table_body(self) -> None:
        self.pop_until_before("tbody", "tfoot", "thead", "template", "html")

    def _clear_stack_to_table_row(self) -> None:
        self.pop_until_before("tr", "template", "html")

    def _in_caption(self, tok) -> None:
        k = tok[0]
        if k == "end" and tok[1].lower() == "caption":
            if not self.in_table_scope("caption"):
                self.error()
                return
            self.generate_implied_end()
            if self.current_tag() != "caption":
                self.error()
            self.pop_until("caption")
            self.clear_formatting_to_marker()
            self.mode = IN_TABLE
            return
        if (k == "start" and tok[1].lower() in (
                "caption", "col", "colgroup", "tbody", "td", "tfoot", "th",
                "thead", "tr")) or (k == "end" and tok[1].lower() == "table"):
            if not self.in_table_scope("caption"):
                self.error()
                return
            self.generate_implied_end()
            self.pop_until("caption")
            self.clear_formatting_to_marker()
            self.mode = IN_TABLE
            self.process(tok)
            return
        if k == "end" and tok[1].lower() in (
                "body", "col", "colgroup", "html", "tbody", "td", "tfoot",
                "th", "thead", "tr"):
            self.error()
            return
        self._in_body(tok)

    def _in_column_group(self, tok) -> None:
        k = tok[0]
        if k == "text":
            lead = _leading_ws(tok[1])
            if lead:
                self.insert_char(lead)
            rest = tok[1][len(lead):]
            if not rest:
                return
            tok = ("text", rest)
        if k == "comment":
            self.insert_comment(tok[1])
            return
        if k == "doctype":
            self.error()
            return
        if k == "start":
            name = tok[1].lower()
            if name == "html":
                self._in_body(tok)
                return
            if name == "col":
                self.insert_empty("col", self.norm_attrs(tok[2]))
                return
            if name == "template":
                self._in_head(tok)
                return
        if k == "end":
            name = tok[1].lower()
            if name == "colgroup":
                if self.current_tag() != "colgroup":
                    self.error()
                    return
                self.pop()
                self.mode = IN_TABLE
                return
            if name == "col":
                self.error()
                return
            if name == "template":
                self._in_head(tok)
                return
        if k == "eof":
            return
        if self.current_tag() != "colgroup":
            self.error()
            return
        self.pop()
        self.reprocess(tok, IN_TABLE)

    def _in_table_body(self, tok) -> None:
        k = tok[0]
        if k == "start":
            name = tok[1].lower()
            if name == "tr":
                self._clear_stack_to_table_body()
                self.insert_element(name, self.norm_attrs(tok[2]))
                self.mode = IN_ROW
                return
            if name in ("th", "td"):
                self.error()
                self._clear_stack_to_table_body()
                self.insert_element("tr", {})
                self.reprocess(tok, IN_ROW)
                return
            if name in ("caption", "col", "colgroup", "tbody", "tfoot", "thead"):
                self._table_body_exit(tok)
                return
        if k == "end":
            name = tok[1].lower()
            if name in ("tbody", "tfoot", "thead"):
                if not self.in_table_scope(name):
                    self.error()
                    return
                self._clear_stack_to_table_body()
                self.pop()
                self.mode = IN_TABLE
                return
            if name == "table":
                self._table_body_exit(tok)
                return
            if name in ("body", "caption", "col", "colgroup", "html", "td",
                        "th", "tr"):
                self.error()
                return
        self._in_table(tok)

    def _table_body_exit(self, tok) -> None:
        if not (self.in_table_scope("tbody") or self.in_table_scope("thead")
                or self.in_table_scope("tfoot")):
            self.error()
            return
        self._clear_stack_to_table_body()
        self.pop()
        self.reprocess(tok, IN_TABLE)

    def _in_row(self, tok) -> None:
        k = tok[0]
        if k == "start":
            name = tok[1].lower()
            if name in ("th", "td"):
                self._clear_stack_to_table_row()
                self.insert_element(name, self.norm_attrs(tok[2]))
                self.mode = IN_CELL
                self.formatting.append(MARKER)
                return
            if name in ("caption", "col", "colgroup", "tbody", "tfoot",
                        "thead", "tr"):
                self._row_exit(tok)
                return
        if k == "end":
            name = tok[1].lower()
            if name == "tr":
                if not self.in_table_scope("tr"):
                    self.error()
                    return
                self._clear_stack_to_table_row()
                self.pop()
                self.mode = IN_TABLE_BODY
                return
            if name == "table":
                self._row_exit(tok)
                return
            if name in ("tbody", "tfoot", "thead"):
                if not self.in_table_scope(name):
                    self.error()
                    return
                self._row_exit(tok)
                return
            if name in ("body", "caption", "col", "colgroup", "html", "td", "th"):
                self.error()
                return
        self._in_table(tok)

    def _row_exit(self, tok) -> None:
        if not self.in_table_scope("tr"):
            self.error()
            return
        self._clear_stack_to_table_row()
        self.pop()
        self.reprocess(tok, IN_TABLE_BODY)

    def _in_cell(self, tok) -> None:
        k = tok[0]
        if k == "end":
            name = tok[1].lower()
            if name in ("td", "th"):
                if not self.in_table_scope(name):
                    self.error()
                    return
                self.generate_implied_end()
                if self.current_tag() != name:
                    self.error()
                self.pop_until(name)
                self.clear_formatting_to_marker()
                self.mode = IN_ROW
                return
            if name in ("body", "caption", "col", "colgroup", "html"):
                self.error()
                return
            if name in ("table", "tbody", "tfoot", "thead", "tr"):
                if not self.in_table_scope(name):
                    self.error()
                    return
                self._close_cell()
                self.process(tok)
                return
        if k == "start" and tok[1].lower() in (
                "caption", "col", "colgroup", "tbody", "td", "tfoot", "th",
                "thead", "tr"):
            if not (self.in_table_scope("td") or self.in_table_scope("th")):
                self.error()
                return
            self._close_cell()
            self.process(tok)
            return
        self._in_body(tok)

    def _close_cell(self) -> None:
        name = "td" if self.in_table_scope("td") else "th"
        self.generate_implied_end()
        if self.current_tag() != name:
            self.error()
        self.pop_until(name)
        self.clear_formatting_to_marker()
        self.mode = IN_ROW

    # -- select ----------------------------------------------------------------

    def _in_select(self, tok) -> None:
        k = tok[0]
        if k == "text":
            self.insert_char(tok[1])
            return
        if k == "comment":
            self.insert_comment(tok[1])
            return
        if k == "doctype":
            self.error()
            return
        if k == "start":
            name = tok[1].lower()
            attrs = self.norm_attrs(tok[2])
            if name == "html":
                self._in_body(tok)
                return
            if name == "option":
                if self.current_tag() == "option":
                    self.pop()
                self.insert_element(name, attrs)
                return
            if name == "optgroup":
                if self.current_tag() == "option":
                    self.pop()
                if self.current_tag() == "optgroup":
                    self.pop()
                self.insert_element(name, attrs)
                return
            if name == "select":
                self.error()
                self._end_select()
                return
            if name in ("input", "keygen", "textarea"):
                self.error()
                if not self.in_select_scope("select"):
                    return
                self._end_select()
                self.process(tok)
                return
            if name in ("script", "template"):
                self._in_head(tok)
                return
        if k == "end":
            name = tok[1].lower()
            if name == "option":
                if self.current_tag() == "option":
                    self.pop()
                else:
                    self.error()
                return
            if name == "optgroup":
                if self.current_tag() == "option" and len(self.stack) >= 2 and \
                        self.doc.tag[self.stack[-2]] == "optgroup":
                    self.pop()
                if self.current_tag() == "optgroup":
                    self.pop()
                else:
                    self.error()
                return
            if name == "select":
                if not self.in_select_scope("select"):
                    self.error()
                    return
                self._end_select()
                return
            if name == "template":
                self._in_head(tok)
                return
        if k == "eof":
            return
        self.error()

    def _end_select(self) -> None:
        self.pop_until("select")
        self.reset_insertion_mode()

    def _in_select_in_table(self, tok) -> None:
        k = tok[0]
        if k in ("start", "end") and tok[1].lower() in (
                "caption", "table", "tbody", "tfoot", "thead", "tr", "td", "th"):
            self.error()
            if k == "end" and not self.in_table_scope(tok[1].lower()):
                return
            self._end_select()
            self.process(tok)
            return
        self._in_select(tok)

    # -- template (reduced) -------------------------------------------------------

    def _in_template(self, tok) -> None:
        k = tok[0]
        if k in ("text", "comment", "doctype", "cdata"):
            self._in_body(tok)
            return
        if k == "start":
            name = tok[1].lower()
            if name in ("base", "basefont", "bgsound", "link", "meta",
                        "noframes", "script", "style", "template", "title"):
                self._in_head(tok)
                return
            if name in ("caption", "colgroup", "tbody", "tfoot", "thead"):
                self._template_switch(tok, IN_TABLE)
                return
            if name == "col":
                self._template_switch(tok, IN_COLUMN_GROUP)
                return
            if name == "tr":
                self._template_switch(tok, IN_TABLE_BODY)
                return
            if name in ("td", "th"):
                self._template_switch(tok, IN_ROW)
                return
            self._template_switch(tok, IN_BODY)
            return
        if k == "end":
            if tok[1].lower() == "template":
                self._in_head(tok)
                return
            self.error()
            return
        if k == "eof":
            # iterative unwind: a fuzz doc can nest thousands of templates,
            # so reprocessing EOF recursively would blow the Python stack
            while self.on_stack("template"):
                self.error()
                self.pop_until("template")
                self.clear_formatting_to_marker()
                if self.template_modes:
                    self.template_modes.pop()
                self.reset_insertion_mode()
                if self.mode != IN_TEMPLATE:
                    break
            return

    def _template_switch(self, tok, mode: int) -> None:
        if self.template_modes:
            self.template_modes.pop()
        self.template_modes.append(mode)
        self.reprocess(tok, mode)

    # -- after body / frameset ------------------------------------------------------

    def _after_body(self, tok) -> None:
        k = tok[0]
        if k == "text" and not tok[1].strip(_WS):
            # deviation (HtmlTreeBuilderState.kt:1770-1779): trailing space
            # goes to the <html> element, not body
            root = self.doc.html_el()
            if root != -1:
                self._append_char_to(root, tok[1])
            else:
                self._in_body(tok)
            return
        if k == "comment":
            # comment after body: attach to <html>
            root = self.doc.html_el()
            self.insert_comment(tok[1], parent=root if root != -1 else 0)
            return
        if k == "doctype":
            self.error()
            return
        if k == "start" and tok[1].lower() == "html":
            self._in_body(tok)
            return
        if k == "end" and tok[1].lower() == "html":
            if self.fragment_context:
                self.error()
                return
            if self.src_track:
                # close position of <html>; stays on stack for trailers
                # (HtmlTreeBuilderState.kt:1793)
                for nid in self.stack:
                    if self.doc.tag[nid] == "html":
                        self._track_end(nid)
                        break
            self.mode = AFTER_AFTER_BODY
            return
        if k == "eof":
            return
        self.error()
        self.reprocess(tok, IN_BODY)

    def _in_frameset(self, tok) -> None:
        k = tok[0]
        if k == "text":
            ws = "".join(c for c in tok[1] if c in _WS)
            if ws:
                self.insert_char(ws)
            return
        if k == "comment":
            self.insert_comment(tok[1])
            return
        if k == "doctype":
            self.error()
            return
        if k == "start":
            name = tok[1].lower()
            attrs = self.norm_attrs(tok[2])
            if name == "html":
                self._in_body(tok)
                return
            if name == "frameset":
                self.insert_element(name, attrs)
                return
            if name == "frame":
                self.insert_empty(name, attrs)
                return
            if name == "noframes":
                self._in_head(tok)
                return
        if k == "end" and tok[1].lower() == "frameset":
            if self.current_tag() == "html":
                self.error()
                return
            self.pop()
            if not self.fragment_context and self.current_tag() != "frameset":
                self.mode = AFTER_FRAMESET
            return
        if k == "eof":
            if self.current_tag() != "html":
                self.error()
            return
        self.error()

    def _after_frameset(self, tok) -> None:
        k = tok[0]
        if k == "text":
            ws = "".join(c for c in tok[1] if c in _WS)
            if ws:
                self.insert_char(ws)
            return
        if k == "comment":
            self.insert_comment(tok[1])
            return
        if k == "doctype":
            self.error()
            return
        if k == "start":
            name = tok[1].lower()
            if name == "html":
                self._in_body(tok)
                return
            if name == "noframes":
                self._in_head(tok)
                return
        if k == "end" and tok[1].lower() == "html":
            self.mode = AFTER_AFTER_FRAMESET
            return
        if k == "eof":
            return
        self.error()

    def _after_after_body(self, tok) -> None:
        k = tok[0]
        if k == "comment":
            self.insert_comment(tok[1], parent=0)
            return
        if k == "text" and not tok[1].strip(_WS):
            # deviation (HtmlTreeBuilderState.kt:1890-1893): space after
            # </html> attaches to the document
            self._append_char_to(0, tok[1])
            return
        if k == "doctype" or (
                k == "start" and tok[1].lower() == "html"):
            self._in_body(tok)
            return
        if k == "eof":
            return
        self.error()
        self.reprocess(tok, IN_BODY)

    def _after_after_frameset(self, tok) -> None:
        k = tok[0]
        if k == "comment":
            self.insert_comment(tok[1], parent=0)
            return
        if k == "doctype" or (k == "text" and not tok[1].strip(_WS)) or (
                k == "start" and tok[1].lower() == "html"):
            self._in_body(tok)
            return
        if k == "start" and tok[1].lower() == "noframes":
            self._in_head(tok)
            return
        if k == "eof":
            return
        self.error()

    # -- reset insertion mode (HtmlTreeBuilder.kt:526-618) ------------------------

    def reset_insertion_mode(self) -> None:
        d = self.doc
        for i in range(len(self.stack) - 1, -1, -1):
            nid = self.stack[i]
            name = d.tag[nid] or ""
            last = i == 0
            if last and self.fragment_context:
                name = self.fragment_context
            if name == "select":
                self.mode = IN_SELECT
                return
            if name in ("td", "th") and not last:
                self.mode = IN_CELL
                return
            if name == "tr":
                self.mode = IN_ROW
                return
            if name in ("tbody", "thead", "tfoot"):
                self.mode = IN_TABLE_BODY
                return
            if name == "caption":
                self.mode = IN_CAPTION
                return
            if name == "colgroup":
                self.mode = IN_COLUMN_GROUP
                return
            if name == "table":
                self.mode = IN_TABLE
                return
            if name == "template":
                self.mode = self.template_modes[-1] if self.template_modes \
                    else IN_BODY
                return
            if name == "head" and not last:
                self.mode = IN_HEAD
                return
            if name == "body":
                self.mode = IN_BODY
                return
            if name == "frameset":
                self.mode = IN_FRAMESET
                return
            if name == "html":
                self.mode = BEFORE_HEAD if self.head_id == -1 else AFTER_HEAD
                return
            if last:
                self.mode = IN_BODY
                return
        self.mode = IN_BODY


def _token_literal(tok) -> str:
    """Token.toString()-style literal rendering (for the InHeadNoscript
    insert-as-data deviation)."""
    k = tok[0]
    if k == "text":
        return tok[1]
    if k == "start":
        attrs = "".join(
            f" {a}" if v is None else f' {a}="{v}"' for a, v in tok[2]
        )
        return f"<{tok[1]}{attrs}>"
    if k == "end":
        return f"</{tok[1]}>"
    if k == "comment":
        return f"<!--{tok[1]}-->"
    return ""


def _leading_ws(s: str) -> str:
    i = 0
    n = len(s)
    while i < n and s[i] in _WS:
        i += 1
    return s[:i]


def _quirks_mode(name, pub, sysid, force: bool) -> int:
    if force:
        return 1
    if name is None or name.lower() != "html":
        return 1
    p = (pub or "").lower()
    s = (sysid or "").lower()
    quirky_pub_prefixes = (
        "-//w3c//dtd html 4.01 frameset//", "-//w3c//dtd html 4.01 transitional//",
    )
    quirky_pub = (
        "-//w3o//dtd w3 html strict 3.0//en//", "-/w3c/dtd html 4.0 transitional/en",
        "html",
    )
    if p in quirky_pub or p.startswith((
        "+//silmaril//", "-//advasoft ltd//", "-//as//", "-//ietf//dtd html",
        "-//metrius//", "-//microsoft//", "-//netscape comm. corp.//",
        "-//o'reilly and associates//", "-//spyglass//", "-//sq//",
        "-//sun microsystems corp.//", "-//w3c//dtd html 3",
        "-//w3c//dtd w3 html//", "-//w3o//dtd w3 html//",
        "-//webtechs//",
    )):
        return 1
    if sysid is None and p.startswith(quirky_pub_prefixes):
        return 1
    if s == "http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd":
        return 1
    if p.startswith(("-//w3c//dtd xhtml 1.0 frameset//",
                     "-//w3c//dtd xhtml 1.0 transitional//")):
        return 2
    if sysid is not None and p.startswith(quirky_pub_prefixes):
        return 2
    return 0


_MODE_HANDLERS = {
    INITIAL: HtmlTreeBuilder._initial,
    BEFORE_HTML: HtmlTreeBuilder._before_html,
    BEFORE_HEAD: HtmlTreeBuilder._before_head,
    IN_HEAD: HtmlTreeBuilder._in_head,
    IN_HEAD_NOSCRIPT: HtmlTreeBuilder._in_head_noscript,
    AFTER_HEAD: HtmlTreeBuilder._after_head,
    IN_BODY: HtmlTreeBuilder._in_body,
    TEXT: HtmlTreeBuilder._text,
    IN_TABLE: HtmlTreeBuilder._in_table,
    IN_TABLE_TEXT: HtmlTreeBuilder._in_table_text,
    IN_CAPTION: HtmlTreeBuilder._in_caption,
    IN_COLUMN_GROUP: HtmlTreeBuilder._in_column_group,
    IN_TABLE_BODY: HtmlTreeBuilder._in_table_body,
    IN_ROW: HtmlTreeBuilder._in_row,
    IN_CELL: HtmlTreeBuilder._in_cell,
    IN_SELECT: HtmlTreeBuilder._in_select,
    IN_SELECT_IN_TABLE: HtmlTreeBuilder._in_select_in_table,
    IN_TEMPLATE: HtmlTreeBuilder._in_template,
    AFTER_BODY: HtmlTreeBuilder._after_body,
    IN_FRAMESET: HtmlTreeBuilder._in_frameset,
    AFTER_FRAMESET: HtmlTreeBuilder._after_frameset,
    AFTER_AFTER_BODY: HtmlTreeBuilder._after_after_body,
    AFTER_AFTER_FRAMESET: HtmlTreeBuilder._after_after_frameset,
}


def parse(html: str, base_uri: str = "", track_errors: int = 0,
          settings: ParseSettings | None = None,
          track_positions: bool = False) -> Doc:
    """Parse an HTML string into a Doc (Ksoup.parse semantics).

    track_errors > 0 enables Parser.setTrackErrors semantics: up to that
    many formatted parse errors land in doc.parse_errors. `settings`
    selects case handling (parse_settings.PRESERVE_CASE keeps source
    casing of tags/attributes). track_positions=True records each node's
    source start offset in doc.src_pos (Parser.setTrackPosition start
    semantics) for span -> source provenance."""
    return HtmlTreeBuilder().parse(html, base_uri, track_errors, settings,
                                   track_positions)


def parse_fragment(html: str, context: str = "body", base_uri: str = "",
                   track_errors: int = 0,
                   settings: ParseSettings | None = None,
                   track_positions: bool = False):
    """Fragment parse; returns (Doc, list of top-level node ids)."""
    tb = HtmlTreeBuilder()
    nodes = tb.parse_fragment(html, context, base_uri, track_errors, settings,
                              track_positions)
    return tb.doc, nodes


def parse_body_fragment(html: str, base_uri: str = "",
                        track_errors: int = 0,
                        settings: ParseSettings | None = None) -> Doc:
    """Ksoup.parseBodyFragment semantics: fragment hosted in a fresh body."""
    doc, nodes = parse_fragment(html, "body", base_uri, track_errors, settings)
    return doc
