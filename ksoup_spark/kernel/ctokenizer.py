"""Loader + wrapper for the C-accelerated HTML5 tokenizer (_ctok_src.c).

The C module is an exact byte-level mirror of tokenizer.py's state machine
(itself a from-scratch reimplementation of the reference's
/root/reference/ksoup/src/com/fleeksoft/ksoup/parser/TokeniserState.kt) and
emits the same token tuples. It is built lazily with gcc against the running
CPython's headers, cached under $KSOUP_CTOK_CACHE (default
~/.cache/ksoup-spark-ctok) keyed by a hash of the C source + entity table +
interpreter tag, so executors that receive the package via --py-files each
compile once per machine and share the cached .so afterwards. Anything
missing (gcc, headers, write permissions) degrades silently to the pure
Python tokenizer — correctness never depends on the C path.

Scope: the C path only serves untracked parses (no parse-error collection,
no source-position tracking); tracked parses keep the Python tokenizer whose
offsets are character-exact. Tokens come back in batches; the tree builder's
state switches (RCDATA/RAWTEXT/SCRIPT/PLAINTEXT after title/textarea/style/
script/xmp/iframe/noembed/noframes/plaintext tags) are honored by pausing
the C scan right after any such start tag so Python can set the state before
the next batch.

Set KSOUP_SPARK_NO_CTOK=1 to disable the C path entirely.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import subprocess
import sys
import sysconfig
import tempfile

from .tokenizer import DATA, Tokenizer

_MODULE_NAME = "_ksoup_ctok"
_BATCH = 8192

_c = None  # the loaded C module, or None
_tried = False


def _gen_entities_header() -> str:
    """Generate the C entity table from the same stdlib source
    (html.entities.html5) that entities.py uses, so both paths decode from
    identical data. Octal escapes avoid C hex-escape ambiguity."""
    from html.entities import html5

    base = {n: v for n, v in html5.items() if not n.endswith(";")}
    alls = {n[:-1]: v for n, v in html5.items() if n.endswith(";")}
    names = sorted(set(base) | set(alls))

    def cstr(v: str | None) -> str:
        if v is None:
            return "0"
        out = []
        for b in v.encode("utf-8"):
            if 0x20 <= b < 0x7F and chr(b) not in '"\\':
                out.append(chr(b))
            else:
                out.append("\\%03o" % b)
        return '"' + "".join(out) + '"'

    rows = ",\n".join(
        '    {"%s", %s, %s}' % (n, cstr(base.get(n)), cstr(alls.get(n)))
        for n in names
    )
    return (
        "typedef struct { const char *name; const char *base_val;"
        " const char *semi_val; } Ent;\n"
        "static const Ent ENTS[] = {\n" + rows + "\n};\n"
        f"static const int N_ENTS = {len(names)};\n"
    )


def _gen_tags_header() -> str:
    """Generate the C tag-classification table from tags.py (single source
    of truth for block / format-as-inline / preserve-ws semantics), plus the
    media tags and br used by the span extractor's boundary rules."""
    from .tags import BLOCK_TAGS, FORMAT_AS_INLINE, PRESERVE_WS_TAGS

    from .tags import (
        BUTTON_SCOPE_BOUND,
        FORM_LISTED,
        FORMATTING_TAGS,
        HEADINGS,
        IMPLIED_END,
        IN_SCOPE_BASE,
        INBODY_SPECIAL_START,
        LIST_SCOPE_BOUND,
        P_CLOSERS,
        SPECIAL_TAGS,
        TABLE_SECTION_STARTS,
        VOID_TAGS,
    )

    flags: dict[str, int] = {}

    def mark(names, bit):
        for t in names:
            flags[t] = flags.get(t, 0) | bit

    mark(BLOCK_TAGS, 1)           # TF_BLOCK
    mark(FORMAT_AS_INLINE, 2)     # TF_FMT_INLINE
    mark(PRESERVE_WS_TAGS, 4)     # TF_PRESERVE
    mark(["img"], 8)              # TF_MEDIA_IMG
    mark(["video"], 16)           # TF_MEDIA_VIDEO
    mark(["object"], 32)          # TF_MEDIA_OBJECT
    mark(["br"], 64)              # TF_BR
    mark(SPECIAL_TAGS, 128)       # TF_SPECIAL
    mark(IMPLIED_END, 256)        # TF_IMPLIED_END
    mark(P_CLOSERS, 512)          # TF_P_CLOSER
    mark(HEADINGS, 1024)          # TF_HEADING
    mark(FORMATTING_TAGS, 2048)   # TF_FORMATTING
    mark(IN_SCOPE_BASE, 4096)     # TF_SCOPE_BASE
    mark(BUTTON_SCOPE_BOUND, 8192)    # TF_BUTTON_BOUND
    mark(LIST_SCOPE_BOUND, 16384)     # TF_LIST_BOUND
    mark(INBODY_SPECIAL_START, 32768)  # TF_INBODY_SPECIAL
    mark(FORM_LISTED, 65536)      # TF_FORM_LISTED
    mark(VOID_TAGS, 131072)       # TF_VOID
    mark(TABLE_SECTION_STARTS, 262144)  # TF_TSECTION
    rows = ",\n".join('    {"%s", %d}' % (n, f)
                      for n, f in sorted(flags.items()))
    return (
        "typedef struct { const char *name; int flags; } TagF;\n"
        "static const TagF TAGF[] = {\n" + rows + "\n};\n"
        f"static const int N_TAGF = {len(flags)};\n"
    )


def _cache_dir() -> str:
    d = os.environ.get("KSOUP_CTOK_CACHE")
    if not d:
        d = os.path.join(
            os.environ.get("XDG_CACHE_HOME",
                           os.path.expanduser("~/.cache")),
            "ksoup-spark-ctok")
    return d


def _source() -> str:
    import pkgutil

    data = pkgutil.get_data("ksoup_spark.kernel", "_ctok_src.c")
    if data is None:
        raise FileNotFoundError("_ctok_src.c not packaged")
    return data.decode("utf-8")


def _build() -> str | None:
    """Compile (or reuse) the cached .so; returns its path or None."""
    try:
        src = _source()
        ents = _gen_entities_header()
        tagsh = _gen_tags_header()
    except Exception:
        return None
    tag = sysconfig.get_config_var("SOABI") or sys.implementation.cache_tag
    key = hashlib.sha256(
        (src + ents + tagsh + str(tag)).encode("utf-8")).hexdigest()[:16]
    cache = _cache_dir()
    so_path = os.path.join(cache, f"{_MODULE_NAME}-{key}.so")
    if os.path.exists(so_path):
        return so_path
    include = sysconfig.get_paths()["include"]
    if not os.path.exists(os.path.join(include, "Python.h")):
        return None
    try:
        os.makedirs(cache, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=cache) as tmp:
            cpath = os.path.join(tmp, "ctok.c")
            with open(os.path.join(tmp, "entities_gen.h"), "w") as f:
                f.write(ents)
            with open(os.path.join(tmp, "tags_gen.h"), "w") as f:
                f.write(tagsh)
            with open(cpath, "w") as f:
                f.write(src)
            out = os.path.join(tmp, "out.so")
            r = subprocess.run(
                ["gcc", "-O2", "-shared", "-fPIC", "-fno-strict-aliasing",
                 f"-I{include}", cpath, "-o", out],
                capture_output=True, text=True, timeout=120)
            if r.returncode != 0:
                return None
            # atomic publish: concurrent builders race benignly
            os.replace(out, so_path)
        return so_path
    except Exception:
        return None


def _intern_names() -> list:
    """Common tag + attribute names for C-side string interning."""
    from .tags import KNOWN_TAGS

    attrs = [
        "class", "id", "href", "src", "style", "type", "name", "value",
        "rel", "alt", "title", "width", "height", "target", "lang", "dir",
        "role", "content", "property", "charset", "colspan", "rowspan",
        "placeholder", "method", "action", "data", "aria-label", "onclick",
        "align", "border", "cellpadding", "cellspacing", "color", "size",
        "face", "http-equiv", "media", "async", "defer", "disabled",
        "checked", "selected", "multiple", "readonly", "required", "srcset",
        "loading", "integrity", "crossorigin", "itemprop", "itemtype",
        "itemscope", "datetime", "download", "hidden", "tabindex", "for",
        "max", "min", "step", "pattern", "autocomplete", "autofocus",
    ]
    return sorted(set(KNOWN_TAGS) | set(attrs))


def _load():
    global _c, _tried
    if _tried:
        return _c
    _tried = True
    if os.environ.get("KSOUP_SPARK_NO_CTOK") == "1":
        return None
    so = _build()
    if not so:
        return None
    try:
        spec = importlib.util.spec_from_file_location(_MODULE_NAME, so)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        mod.set_interns(_intern_names())
        _c = mod
    except Exception:
        _c = None
    return _c


def c_function(name: str):
    """The C module's function ``name``, or None when the module is
    unavailable (KSOUP_SPARK_NO_CTOK=1, no compiler, or a failed build).
    Every C accelerator is looked up here; the Python implementation it
    mirrors stays the semantics reference and the fallback."""
    mod = _load()
    return getattr(mod, name, None) if mod is not None else None


_EOF = ("eof",)


class CTokenizer:
    """Drop-in replacement for tokenizer.Tokenizer on the untracked path.

    Exposes the attributes the tree builder touches: next_token(), state,
    rawtext_tag, n, track. Tokens are pulled from the C module in batches;
    a batch ends at EOF, after `_BATCH` tokens (bounded memory), or right
    after a start tag that may switch tokenizer state — at which point the
    tree builder has already had the chance to set .state/.rawtext_tag
    before the next batch is requested.
    """

    __slots__ = ("s", "n", "state", "rawtext_tag", "track", "errors",
                 "_toks", "_i", "_bp", "_done")

    def __init__(self, s: str, errors=None):
        self.s = s
        self.n = len(s)
        self.state = DATA
        self.rawtext_tag: str | None = None
        self.track = False
        self.errors = None
        self._toks: list = []
        self._i = 0
        self._bp = 0  # byte position in the UTF-8 encoding
        self._done = False

    def next_token(self):
        i = self._i
        toks = self._toks
        if i < len(toks):
            self._i = i + 1
            return toks[i]
        if self._done:
            return _EOF
        toks, bp, done = _c.tokenize(self.s, self._bp, self.state,
                                     self.rawtext_tag, _BATCH)
        self._bp = bp
        self._done = done
        # C always returns in/paused-at DATA; special states are entered
        # only when the tree builder sets .state before the next batch
        self.state = DATA
        self._toks = toks
        if toks:
            self._i = 1
            return toks[0]
        return _EOF


_tree = None  # the C module with the tree engine initialized, or None
_tree_tried = False


def tree_module():
    """The C module with the tree-construction engine initialized, or None.

    Resolved once per process, like _load(): passes the Python
    insertion-mode constants to C (they're the shared vocabulary between
    tree_run's C-handled subset and the Python handlers it bails to).
    KSOUP_SPARK_NO_CTREE=1 disables just the tree engine (the C tokenizer
    stays on); it is read at the first call."""
    global _tree, _tree_tried
    if _tree_tried:
        return _tree
    _tree_tried = True
    if os.environ.get("KSOUP_SPARK_NO_CTREE") == "1":
        return None
    mod = _load()
    if mod is None or not hasattr(mod, "tree_run"):
        return None
    from . import treebuilder as tb

    mod.set_tree_modes(tb.IN_BODY, tb.IN_CELL, tb.IN_CAPTION, tb.TEXT,
                       tb.IN_TABLE, tb.IN_TABLE_BODY, tb.IN_ROW,
                       tb.IN_TABLE_TEXT, tb.INITIAL, tb.BEFORE_HTML,
                       tb.BEFORE_HEAD, tb.IN_HEAD, tb.AFTER_HEAD,
                       tb.AFTER_BODY, tb.AFTER_AFTER_BODY)
    _tree = mod
    return mod


def make_tokenizer(s: str, errors=None, track: bool = False):
    """Factory: the C tokenizer when eligible, else the Python one."""
    if errors is None and not track and _load() is not None:
        if s.isascii():
            return CTokenizer(s)
        try:  # lone surrogates can't round-trip UTF-8; fall back
            s.encode("utf-8")
            return CTokenizer(s)
        except UnicodeEncodeError:
            pass
    return Tokenizer(s, errors)
