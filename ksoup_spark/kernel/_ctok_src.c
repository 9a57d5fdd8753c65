/* C-accelerated HTML5 tokenizer scan module.
 *
 * A byte-level mirror of ksoup_spark/kernel/tokenizer.py (which itself
 * reimplements the reference's TokeniserState.kt:8-1768 / Tokeniser.kt:36-227
 * semantics from scratch). This module implements the same state machine over
 * the UTF-8 encoding of the input and emits the SAME Python token tuples:
 *
 *   ("text", data)                      coalesced character runs
 *   ("start", name, attrs, selfclosing) attrs: list[(name, value|None)]
 *   ("end", name)
 *   ("comment", data, bogus)
 *   ("cdata", data)
 *   ("doctype", name, public_id, system_id, force_quirks)
 *   ("eof",)
 *
 * Entry point: tokenize(s, start_byte, state, rawtext_tag, max_tokens)
 *   -> (tokens: list, next_byte: int, done: bool)
 *
 * The scan PAUSES (returns early) right after emitting a start tag whose
 * lowercased name may make the tree builder switch tokenizer state
 * (title/textarea/style/script/xmp/iframe/noembed/noframes/plaintext,
 * plus noscript for safety) so the Python tree builder can set the state
 * before the next batch; it also pauses every max_tokens tokens so the
 * StreamParser-style drivers stay bounded-memory.
 *
 * Only the no-error-tracking, no-position-tracking path runs here; tracked
 * parses use the pure-Python tokenizer (see ctokenizer.py). Entity tables
 * come from the same stdlib source (html.entities.html5) as entities.py,
 * generated into entities_gen.h at build time.
 */
#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <string.h>

#include "entities_gen.h"
#include "tags_gen.h"
#include <stdint.h>

/* tokenizer content states (must match tokenizer.py) */
#define ST_DATA 0
#define ST_RCDATA 1
#define ST_RAWTEXT 2
#define ST_SCRIPT 3
#define ST_PLAINTEXT 4

#define MAX_ATTRS 512

static PyObject *S_text, *S_start, *S_end, *S_comment, *S_cdata, *S_doctype,
    *S_eof, *S_script, *S_empty, *EOF_TOK;

/* ---- interned common tag/attr names (filled by set_interns) ------------- */
#define ITAB 2048
static PyObject *itab_obj[ITAB];
static const char *itab_key[ITAB];
static Py_ssize_t itab_len[ITAB];

static unsigned hash_bytes(const char *s, Py_ssize_t n) {
    unsigned h = 2166136261u;
    for (Py_ssize_t i = 0; i < n; i++) h = (h ^ (unsigned char)s[i]) * 16777619u;
    return h;
}

/* new reference to an interned name, or a fresh str */
static PyObject *name_obj(const char *p, Py_ssize_t len) {
    if (len > 0 && len <= 32) {
        unsigned h = hash_bytes(p, len) & (ITAB - 1);
        while (itab_key[h]) {
            if (itab_len[h] == len && memcmp(itab_key[h], p, (size_t)len) == 0) {
                Py_INCREF(itab_obj[h]);
                return itab_obj[h];
            }
            h = (h + 1) & (ITAB - 1);
        }
    }
    return PyUnicode_DecodeUTF8(p, len, NULL);
}

/* ---- tokenizer context --------------------------------------------------- */
typedef struct {
    const char *s;
    Py_ssize_t n;
    Py_ssize_t p;
    int state;
    PyObject *out;       /* list of token tuples */
    Py_ssize_t ntok;
    Py_ssize_t max;
    int paused;
    PyObject *rawtext_tag; /* borrowed */
    char *needle;          /* "</" + rawtext_tag bytes */
    Py_ssize_t nlen;
    char *buf;             /* scratch decode buffer */
    Py_ssize_t blen, bcap;
} Tok;

static int buf_reserve(Tok *t, Py_ssize_t extra) {
    if (t->blen + extra <= t->bcap) return 0;
    Py_ssize_t cap = t->bcap ? t->bcap : 256;
    while (cap < t->blen + extra) cap *= 2;
    char *nb = (char *)PyMem_Realloc(t->buf, (size_t)cap);
    if (!nb) { PyErr_NoMemory(); return -1; }
    t->buf = nb;
    t->bcap = cap;
    return 0;
}

static int buf_put(Tok *t, const char *p, Py_ssize_t len) {
    if (len <= 0) return 0;
    if (buf_reserve(t, len)) return -1;
    memcpy(t->buf + t->blen, p, (size_t)len);
    t->blen += len;
    return 0;
}

static int buf_fffd(Tok *t) { return buf_put(t, "\xEF\xBF\xBD", 3); }

/* append token (steals reference); returns -1 on error */
static int emit(Tok *t, PyObject *tok) {
    if (!tok) return -1;
    int r = PyList_Append(t->out, tok);
    Py_DECREF(tok);
    if (r) return -1;
    t->ntok++;
    return 0;
}

static int emit_eof(Tok *t) {
    Py_INCREF(EOF_TOK);
    return emit(t, EOF_TOK);
}

static int emit2(Tok *t, PyObject *kind, PyObject *a) {
    /* steals a */
    if (!a) return -1;
    PyObject *tup = PyTuple_Pack(2, kind, a);
    Py_DECREF(a);
    return emit(t, tup);
}

/* emit ("text", ...) from buf + trailing clean span [a,b); skips empty */
static int emit_text_span(Tok *t, Py_ssize_t a, Py_ssize_t b) {
    PyObject *str;
    if (t->blen == 0) {
        if (b <= a) return 0;
        str = PyUnicode_DecodeUTF8(t->s + a, b - a, NULL);
    } else {
        if (buf_put(t, t->s + a, b - a)) return -1;
        str = PyUnicode_DecodeUTF8(t->buf, t->blen, NULL);
    }
    return emit2(t, S_text, str);
}

static int is_ws(char c) {
    return c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == ' ';
}
static int is_ascii_alpha(char c) {
    return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z');
}
static char lc(char c) { return (c >= 'A' && c <= 'Z') ? (char)(c + 32) : c; }

/* Unicode-alpha test at byte i (mirrors Python str.isalpha for 1 char) */
static int uni_alpha_at(const char *s, Py_ssize_t n, Py_ssize_t i) {
    unsigned char c = (unsigned char)s[i];
    if (c < 0x80) return is_ascii_alpha((char)c);
    /* decode one UTF-8 codepoint (input came from a valid str, so trust it) */
    Py_UCS4 cp = 0;
    if ((c & 0xE0) == 0xC0 && i + 1 < n)
        cp = ((Py_UCS4)(c & 0x1F) << 6) | ((unsigned char)s[i + 1] & 0x3F);
    else if ((c & 0xF0) == 0xE0 && i + 2 < n)
        cp = ((Py_UCS4)(c & 0x0F) << 12) |
             (((Py_UCS4)((unsigned char)s[i + 1] & 0x3F)) << 6) |
             ((unsigned char)s[i + 2] & 0x3F);
    else if ((c & 0xF8) == 0xF0 && i + 3 < n)
        cp = ((Py_UCS4)(c & 0x07) << 18) |
             (((Py_UCS4)((unsigned char)s[i + 1] & 0x3F)) << 12) |
             (((Py_UCS4)((unsigned char)s[i + 2] & 0x3F)) << 6) |
             ((unsigned char)s[i + 3] & 0x3F);
    else
        return 0;
    return Py_UNICODE_ISALPHA(cp);
}

/* ---- character references (mirror of entities.consume_charref) ---------- */

static const Py_UCS4 WIN1252[32] = {
    0x20AC, 0x0081, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
    0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, 0x008D, 0x017D, 0x008F,
    0x0090, 0x2018, 0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014,
    0x02DC, 0x2122, 0x0161, 0x203A, 0x0153, 0x009D, 0x017E, 0x0178,
};

static int put_cp(char *out, Py_UCS4 cp) {
    if (cp < 0x80) { out[0] = (char)cp; return 1; }
    if (cp < 0x800) {
        out[0] = (char)(0xC0 | (cp >> 6));
        out[1] = (char)(0x80 | (cp & 0x3F));
        return 2;
    }
    if (cp < 0x10000) {
        out[0] = (char)(0xE0 | (cp >> 12));
        out[1] = (char)(0x80 | ((cp >> 6) & 0x3F));
        out[2] = (char)(0x80 | (cp & 0x3F));
        return 3;
    }
    out[0] = (char)(0xF0 | (cp >> 18));
    out[1] = (char)(0x80 | ((cp >> 12) & 0x3F));
    out[2] = (char)(0x80 | ((cp >> 6) & 0x3F));
    out[3] = (char)(0x80 | (cp & 0x3F));
    return 4;
}

static const Ent *ent_lookup(const char *name, Py_ssize_t len) {
    int lo = 0, hi = N_ENTS - 1;
    while (lo <= hi) {
        int mid = (lo + hi) / 2;
        const Ent *e = &ENTS[mid];
        size_t el = strlen(e->name);
        int c = memcmp(e->name, name, (size_t)((Py_ssize_t)el < len ? (Py_ssize_t)el : len));
        if (c == 0) c = (el < (size_t)len) ? -1 : (el > (size_t)len ? 1 : 0);
        if (c == 0) return e;
        if (c < 0) lo = mid + 1;
        else hi = mid - 1;
    }
    return NULL;
}

/* Try to decode a character reference at s[i] (i points AFTER '&') within
 * [i, limit). additional: extra terminator char or -1. Returns 1 and fills
 * out/outlen/next on success; 0 when '&' stays literal. */
static int charref(const char *s, Py_ssize_t limit, Py_ssize_t i,
                   int additional, int in_attr,
                   Py_ssize_t *next, char out[16], int *outlen) {
    if (i >= limit) return 0;
    char c = s[i];
    if (c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == ' ' ||
        c == '<' || c == '&')
        return 0;
    if (additional >= 0 && c == (char)additional) return 0;
    if (c == '#') {
        Py_ssize_t j = i + 1;
        int hex = (j < limit && (s[j] == 'x' || s[j] == 'X'));
        if (hex) j++;
        Py_ssize_t d0 = j;
        long long cp = 0;
        int over = 0;
        while (j < limit) {
            char d = s[j];
            int v;
            if (d >= '0' && d <= '9') v = d - '0';
            else if (hex && d >= 'a' && d <= 'f') v = d - 'a' + 10;
            else if (hex && d >= 'A' && d <= 'F') v = d - 'A' + 10;
            else break;
            if (!over) {
                cp = cp * (hex ? 16 : 10) + v;
                if (cp > 0x7FFFFFFFLL) over = 1;
            }
            j++;
        }
        if (j == d0) return 0; /* no numerals -> literal '&' */
        if (j < limit && s[j] == ';') j++;
        if (over) cp = -1;
        if (cp == -1 || cp > 0x10FFFF) {
            memcpy(out, "\xEF\xBF\xBD", 3); *outlen = 3; *next = j; return 1;
        }
        if (cp >= 0x80 && cp < 0xA0) cp = WIN1252[cp - 0x80];
        if ((cp >= 0xD800 && cp <= 0xDFFF) || cp == 0) {
            memcpy(out, "\xEF\xBF\xBD", 3); *outlen = 3; *next = j; return 1;
        }
        *outlen = put_cp(out, (Py_UCS4)cp);
        *next = j;
        return 1;
    }
    /* named: [A-Za-z]+[0-9]* */
    Py_ssize_t j = i;
    while (j < limit && is_ascii_alpha(s[j])) j++;
    if (j == i) return 0;
    while (j < limit && s[j] >= '0' && s[j] <= '9') j++;
    Py_ssize_t nlen = j - i;
    const Ent *e = (nlen <= 64) ? ent_lookup(s + i, nlen) : NULL;
    int looks_legit = (j < limit && s[j] == ';');
    const char *val = NULL;
    if (e) {
        if (e->base_val) val = looks_legit && e->semi_val ? e->semi_val
                                                          : e->base_val;
        else if (looks_legit && e->semi_val) val = e->semi_val;
    }
    if (!val) return 0;
    if (in_attr && !looks_legit && j < limit &&
        (s[j] == '=' || s[j] == '-' || s[j] == '_'))
        return 0;
    size_t vl = strlen(val);
    memcpy(out, val, vl);
    *outlen = (int)vl;
    *next = looks_legit ? j + 1 : j;
    return 1;
}

/* ---- pause tags ---------------------------------------------------------- */
static int is_pause_tag(const char *p, Py_ssize_t len) {
    static const char *tags[] = {"title", "textarea", "style", "script",
                                 "xmp", "iframe", "noembed", "noframes",
                                 "plaintext", "noscript", NULL};
    if (len < 3 || len > 9) return 0;
    char low[10];
    for (Py_ssize_t i = 0; i < len; i++) low[i] = lc(p[i]);
    low[len] = 0;
    for (int k = 0; tags[k]; k++)
        if (strcmp(low, tags[k]) == 0) return 1;
    return 0;
}

/* ---- case-insensitive (ASCII) substring search --------------------------- */
static Py_ssize_t ci_find(const char *s, Py_ssize_t n, Py_ssize_t from,
                          const char *needle, Py_ssize_t m) {
    if (m == 0) return from <= n ? from : -1;
    /* semantics: exact match of the needle against the LOWERCASED haystack
     * (mirrors Python's low.find(needle)); a needle containing uppercase
     * ASCII can therefore never match */
    for (Py_ssize_t k = 0; k < m; k++)
        if (needle[k] >= 'A' && needle[k] <= 'Z') return -1;
    char c0 = needle[0];
    for (Py_ssize_t i = from; i + m <= n; i++) {
        if (lc(s[i]) != c0) {
            /* fast skip with memchr on the (usually ASCII-lower) first char */
            const char *hit = memchr(s + i, c0, (size_t)(n - m - i + 1));
            const char *hit2 = (c0 >= 'a' && c0 <= 'z')
                ? memchr(s + i, c0 - 32, (size_t)(n - m - i + 1)) : NULL;
            if (!hit && !hit2) return -1;
            const char *best = hit ? (hit2 && hit2 < hit ? hit2 : hit) : hit2;
            i = best - s;
        }
        Py_ssize_t k = 1;
        while (k < m && lc(s[i + k]) == needle[k]) k++;
        if (k == m) return i;
    }
    return -1;
}

/* exact find */
static Py_ssize_t x_find(const char *s, Py_ssize_t n, Py_ssize_t from,
                         const char *needle, Py_ssize_t m) {
    while (from + m <= n) {
        const char *hit = memchr(s + from, needle[0], (size_t)(n - from - m + 1));
        if (!hit) return -1;
        Py_ssize_t i = hit - s;
        if (memcmp(s + i, needle, (size_t)m) == 0) return i;
        from = i + 1;
    }
    return -1;
}

/* ---- tag parsing ---------------------------------------------------------
 * Mirrors tokenizer.Tokenizer._tag + _attr_value + _decode_value.
 * On entry t->p is unused; p points at the first char of the name (alpha).
 * Emits 0 or 1 token. Returns -1 on error, else 0. Sets t->p past the tag.
 */

static int tagname_stop(char c) {
    return is_ws(c) || c == '/' || c == '>' || c == '<' || c == '\0';
}
static int attrname_stop(char c) {
    return is_ws(c) || c == '/' || c == '=' || c == '>' || c == '<' ||
           c == '\0';
}

/* scan name-ish run with NUL -> U+FFFD splice; returns new p; builds into
 * buf only when a NUL is present, else *span_a/*span_b give the clean span.
 * used_buf set accordingly. */
static Py_ssize_t scan_name(Tok *t, Py_ssize_t p, int (*stop)(char),
                            Py_ssize_t *span_a, Py_ssize_t *span_b,
                            int *used_buf, int *err) {
    const char *s = t->s;
    Py_ssize_t n = t->n;
    Py_ssize_t a = p;
    while (p < n && !stop(s[p])) p++;
    if (p >= n || s[p] != '\0') {
        *span_a = a; *span_b = p; *used_buf = 0;
        return p;
    }
    t->blen = 0;
    if (buf_put(t, s + a, p - a)) { *err = 1; return p; }
    while (p < n && s[p] == '\0') {
        if (buf_fffd(t)) { *err = 1; return p; }
        p++;
        Py_ssize_t a2 = p;
        while (p < n && !stop(s[p])) p++;
        if (buf_put(t, s + a2, p - a2)) { *err = 1; return p; }
    }
    *used_buf = 1;
    return p;
}

/* decode an attribute value chunk [a,b) with '&' (additional, in_attr=1)
 * and NUL handling into a new str. quote: the additional-allowed char
 * terminator for charrefs, or -1. */
static PyObject *decode_value(Tok *t, Py_ssize_t a, Py_ssize_t b, int quote) {
    const char *s = t->s;
    const char *amp = memchr(s + a, '&', (size_t)(b - a));
    const char *nul = memchr(s + a, '\0', (size_t)(b - a));
    if (!amp && !nul) return PyUnicode_DecodeUTF8(s + a, b - a, NULL);
    t->blen = 0;
    Py_ssize_t i = a;
    while (i < b) {
        char c = s[i];
        if (c == '&') {
            char out[16]; int ol; Py_ssize_t nx;
            if (charref(s, b, i + 1, quote, 1, &nx, out, &ol)) {
                if (buf_put(t, out, ol)) return NULL;
                i = nx;
            } else {
                if (buf_put(t, "&", 1)) return NULL;
                i++;
            }
        } else if (c == '\0') {
            if (buf_fffd(t)) return NULL;
            i++;
        } else {
            const char *j = memchr(s + i, '&', (size_t)(b - i));
            const char *k = memchr(s + i, '\0', (size_t)(b - i));
            Py_ssize_t stop = b;
            if (j && j - s < stop) stop = j - s;
            if (k && k - s < stop) stop = k - s;
            if (buf_put(t, s + i, stop - i)) return NULL;
            i = stop;
        }
    }
    return PyUnicode_DecodeUTF8(t->buf, t->blen, NULL);
}

/* push (name, value) onto attrs with <=0x20 edge-trim and the 512 cap.
 * name given as bytes; value is a NEW reference or NULL for boolean
 * (boolean -> Py_None). Steals value. Returns -1 on error. */
static int push_attr(PyObject *attrs, const char *np, Py_ssize_t nl,
                     PyObject *value) {
    while (nl > 0 && (unsigned char)np[0] <= 0x20) { np++; nl--; }
    while (nl > 0 && (unsigned char)np[nl - 1] <= 0x20) nl--;
    if (nl == 0 || PyList_GET_SIZE(attrs) >= MAX_ATTRS) {
        Py_XDECREF(value);
        return 0;
    }
    PyObject *nm = name_obj(np, nl);
    if (!nm) { Py_XDECREF(value); return -1; }
    PyObject *v = value ? value : (Py_INCREF(Py_None), Py_None);
    PyObject *pair = PyTuple_Pack(2, nm, v);
    Py_DECREF(nm);
    Py_DECREF(v);
    if (!pair) return -1;
    int r = PyList_Append(attrs, pair);
    Py_DECREF(pair);
    return r;
}

/* parse tag at p (first char of name); is_start: emit start vs end token.
 * Mirrors _tag: EOF inside tag drops the token (emits nothing). */
static int tagtok(Tok *t, Py_ssize_t p, int is_start) {
    const char *s = t->s;
    Py_ssize_t n = t->n;
    Py_ssize_t na, nb;
    int nbuf = 0, err = 0;
    p = scan_name(t, p, tagname_stop, &na, &nb, &nbuf, &err);
    if (err) return -1;
    PyObject *name = NULL;
    /* fast path: '<name>' — only valid when the name had no NUL splice
     * (mirrors: the Python fast path fires right after the FIRST regex
     * match; a NUL match falls through to the general loop) */
    if (!nbuf && p < n && s[p] == '>') {
        name = name_obj(s + na, nb - na);
        if (!name) return -1;
        t->p = p + 1;
        PyObject *tok;
        if (is_start) {
            PyObject *attrs = PyList_New(0);
            if (!attrs) { Py_DECREF(name); return -1; }
            tok = PyTuple_Pack(4, S_start, name, attrs, Py_False);
            Py_DECREF(attrs);
            if (is_pause_tag(s + na, nb - na)) t->paused = 1;
        } else {
            tok = PyTuple_Pack(2, S_end, name);
        }
        Py_DECREF(name);
        return emit(t, tok);
    }
    if (nbuf)
        name = PyUnicode_DecodeUTF8(t->buf, t->blen, NULL);
    else
        name = name_obj(s + na, nb - na);
    if (!name) return -1;
    /* stash lowercase-pause info before buf gets reused */
    int pause = is_start && (nbuf ? is_pause_tag(t->buf, t->blen)
                                  : is_pause_tag(s + na, nb - na));

    PyObject *attrs = PyList_New(0);
    if (!attrs) { Py_DECREF(name); return -1; }
    int selfclosing = 0;

    for (;;) {
        while (p < n && is_ws(s[p])) p++;
        if (p < n) {
            char c = s[p];
            if (c == '>') { p++; goto emit_tag; }
            if (c == '<') { goto emit_tag; } /* reprocessed as markup */
            if (c == '/') {
                if (p + 1 < n && s[p + 1] == '>') {
                    p += 2; selfclosing = 1; goto emit_tag;
                }
                p++;
                continue;
            }
        }
        if (p >= n) goto drop_tag; /* EOF inside tag */

        /* attribute name */
        char anbuf_prefix = 0;
        Py_ssize_t aa, ab;
        int abuf = 0;
        if (s[p] == '=') {
            anbuf_prefix = '=';
            p++;
            aa = p;
            while (p < n && !attrname_stop(s[p])) p++;
            ab = p;
        } else {
            err = 0;
            p = scan_name(t, p, attrname_stop, &aa, &ab, &abuf, &err);
            if (err) goto fail;
            if ((abuf ? t->blen : ab - aa) == 0) { p++; continue; }
        }
        /* materialize the name bytes (buf may be reused by value decode) */
        char astack[128];
        char *anp;
        Py_ssize_t anl;
        char *aheap = NULL;
        {
            const char *src = abuf ? t->buf : s + aa;
            Py_ssize_t sl = abuf ? t->blen : ab - aa;
            anl = sl + (anbuf_prefix ? 1 : 0);
            if (anl <= (Py_ssize_t)sizeof(astack)) anp = astack;
            else {
                aheap = (char *)PyMem_Malloc((size_t)anl);
                if (!aheap) { PyErr_NoMemory(); goto fail; }
                anp = aheap;
            }
            Py_ssize_t off = 0;
            if (anbuf_prefix) anp[off++] = '=';
            memcpy(anp + off, src, (size_t)sl);
        }

        while (p < n && is_ws(s[p])) p++;
        if (p < n && s[p] == '=') {
            p++;
            while (p < n && is_ws(s[p])) p++;
            if (p >= n) {
                /* EOF in before-attribute-value: emit the pending tag */
                Py_INCREF(S_empty);
                if (push_attr(attrs, anp, anl, S_empty)) {
                    if (aheap) PyMem_Free(aheap);
                    goto fail;
                }
                if (aheap) PyMem_Free(aheap);
                p = n;
                goto emit_tag;
            }
            char c = s[p];
            PyObject *val = NULL;
            if (c == '"' || c == '\'') {
                const char *qh = memchr(s + p + 1, c, (size_t)(n - p - 1));
                Py_ssize_t vend = qh ? qh - s : n;
                val = decode_value(t, p + 1, vend, (int)c);
                if (!val) { if (aheap) PyMem_Free(aheap); goto fail; }
                if (!qh) {
                    /* EOF in quoted value: drop tag */
                    Py_DECREF(val);
                    if (aheap) PyMem_Free(aheap);
                    goto drop_tag;
                }
                p = vend + 1;
            } else {
                /* unquoted: stop at ws / '>' ; '&' and NUL handled inline */
                t->blen = 0;
                Py_ssize_t va = p;
                int dirty = 0;
                for (;;) {
                    Py_ssize_t ca = p;
                    while (p < n && !is_ws(s[p]) && s[p] != '>' &&
                           s[p] != '&' && s[p] != '\0')
                        p++;
                    if (dirty) {
                        if (buf_put(t, s + ca, p - ca)) { if (aheap) PyMem_Free(aheap); goto fail; }
                    }
                    if (p >= n) break;
                    char d = s[p];
                    if (is_ws(d) || d == '>') break;
                    if (!dirty) {
                        /* spill the clean prefix */
                        if (buf_put(t, s + va, p - va)) { if (aheap) PyMem_Free(aheap); goto fail; }
                        dirty = 1;
                    }
                    if (d == '\0') {
                        if (buf_fffd(t)) { if (aheap) PyMem_Free(aheap); goto fail; }
                        p++;
                    } else { /* '&' */
                        char out[16]; int ol; Py_ssize_t nx;
                        if (charref(s, n, p + 1, '>', 1, &nx, out, &ol)) {
                            if (buf_put(t, out, ol)) { if (aheap) PyMem_Free(aheap); goto fail; }
                            p = nx;
                        } else {
                            if (buf_put(t, "&", 1)) { if (aheap) PyMem_Free(aheap); goto fail; }
                            p++;
                        }
                    }
                }
                val = dirty ? PyUnicode_DecodeUTF8(t->buf, t->blen, NULL)
                            : PyUnicode_DecodeUTF8(s + va, p - va, NULL);
                if (!val) { if (aheap) PyMem_Free(aheap); goto fail; }
            }
            if (push_attr(attrs, anp, anl, val)) { if (aheap) PyMem_Free(aheap); goto fail; }
        } else {
            if (push_attr(attrs, anp, anl, NULL)) { if (aheap) PyMem_Free(aheap); goto fail; }
        }
        if (aheap) PyMem_Free(aheap);
    }

emit_tag:
    t->p = p;
    {
        PyObject *tok;
        if (is_start) {
            tok = PyTuple_Pack(4, S_start, name, attrs,
                               selfclosing ? Py_True : Py_False);
            if (pause) t->paused = 1;
        } else {
            tok = PyTuple_Pack(2, S_end, name);
        }
        Py_DECREF(name);
        Py_DECREF(attrs);
        return emit(t, tok);
    }
drop_tag:
    t->p = n;
    Py_DECREF(name);
    Py_DECREF(attrs);
    return 0;
fail:
    Py_DECREF(name);
    Py_DECREF(attrs);
    return -1;
}

/* ---- comments / doctype / cdata ------------------------------------------ */

/* emit ("comment", s[a:b] with NUL->FFFD, bogus) */
static int emit_comment(Tok *t, Py_ssize_t a, Py_ssize_t b, int bogus) {
    PyObject *data;
    const char *nul = memchr(t->s + a, '\0', (size_t)(b - a));
    if (!nul) {
        data = PyUnicode_DecodeUTF8(t->s + a, b - a, NULL);
    } else {
        t->blen = 0;
        Py_ssize_t i = a;
        while (i < b) {
            const char *z = memchr(t->s + i, '\0', (size_t)(b - i));
            Py_ssize_t stop = z ? z - t->s : b;
            if (buf_put(t, t->s + i, stop - i)) return -1;
            i = stop;
            if (i < b) { if (buf_fffd(t)) return -1; i++; }
        }
        data = PyUnicode_DecodeUTF8(t->buf, t->blen, NULL);
    }
    if (!data) return -1;
    PyObject *tok = PyTuple_Pack(3, S_comment, data,
                                 bogus ? Py_True : Py_False);
    Py_DECREF(data);
    return emit(t, tok);
}

static int bogus_comment(Tok *t, Py_ssize_t p) {
    const char *gt = memchr(t->s + p, '>', (size_t)(t->n - p));
    Py_ssize_t b = gt ? gt - t->s : t->n;
    t->p = gt ? b + 1 : t->n;
    return emit_comment(t, p, b, 1);
}

static int comment(Tok *t, Py_ssize_t p) {
    const char *s = t->s;
    Py_ssize_t n = t->n;
    if (p < n && s[p] == '>') { t->p = p + 1; return emit_comment(t, p, p, 0); }
    if (p + 1 < n && s[p] == '-' && s[p + 1] == '>') {
        t->p = p + 2;
        return emit_comment(t, p, p, 0);
    }
    Py_ssize_t e1 = x_find(s, n, p, "-->", 3);
    Py_ssize_t e2 = x_find(s, n, p, "--!>", 4);
    Py_ssize_t b;
    if (e2 != -1 && (e1 == -1 || e2 < e1)) { b = e2; t->p = e2 + 4; }
    else if (e1 != -1) { b = e1; t->p = e1 + 3; }
    else { b = n; t->p = n; }
    return emit_comment(t, p, b, 0);
}

/* doctype identifier in quotes at p; mirrors _doctype_quoted */
static int doctype_quoted(Tok *t, Py_ssize_t *pp, Py_ssize_t *ia,
                          Py_ssize_t *ib, int *ok) {
    const char *s = t->s;
    Py_ssize_t n = t->n, p = *pp;
    if (p >= n || (s[p] != '"' && s[p] != '\'')) {
        *ia = *ib = -1; *ok = 0;
        return 0;
    }
    char q = s[p];
    const char *e = memchr(s + p + 1, q, (size_t)(n - p - 1));
    if (!e) { *ia = p + 1; *ib = n; *pp = n; *ok = 0; return 0; }
    *ia = p + 1; *ib = e - s; *pp = e - s + 1; *ok = 1;
    return 0;
}

static PyObject *slice_or_none(Tok *t, Py_ssize_t a, Py_ssize_t b) {
    if (a < 0) { Py_INCREF(Py_None); return Py_None; }
    return PyUnicode_DecodeUTF8(t->s + a, b - a, NULL);
}

static int emit_doctype(Tok *t, PyObject *name, Py_ssize_t pa, Py_ssize_t pb,
                        Py_ssize_t sa, Py_ssize_t sb, int quirks) {
    /* steals name */
    PyObject *pub = slice_or_none(t, pa, pb);
    PyObject *sys = slice_or_none(t, sa, sb);
    if (!name || !pub || !sys) {
        Py_XDECREF(name); Py_XDECREF(pub); Py_XDECREF(sys);
        return -1;
    }
    PyObject *tok = PyTuple_Pack(5, S_doctype, name, pub, sys,
                                 quirks ? Py_True : Py_False);
    Py_DECREF(name); Py_DECREF(pub); Py_DECREF(sys);
    return emit(t, tok);
}

static int doctype_bogus(Tok *t, Py_ssize_t p, PyObject *name,
                         Py_ssize_t pa, Py_ssize_t pb,
                         Py_ssize_t sa, Py_ssize_t sb, int quirks) {
    const char *gt = memchr(t->s + p, '>', (size_t)(t->n - p));
    t->p = gt ? gt - t->s + 1 : t->n;
    return emit_doctype(t, name, pa, pb, sa, sb, quirks);
}

static int doctype(Tok *t, Py_ssize_t p) {
    const char *s = t->s;
    Py_ssize_t n = t->n;
    while (p < n && is_ws(s[p])) p++;
    if (p >= n) {
        t->p = n;
        Py_INCREF(Py_None);
        return emit_doctype(t, Py_None, -1, -1, -1, -1, 1);
    }
    if (s[p] == '>') {
        t->p = p + 1;
        Py_INCREF(Py_None);
        return emit_doctype(t, Py_None, -1, -1, -1, -1, 1);
    }
    /* name: run until ws or '>', NUL -> FFFD */
    Py_ssize_t q = p;
    while (q < n && !is_ws(s[q]) && s[q] != '>') q++;
    PyObject *name;
    const char *nul = memchr(s + p, '\0', (size_t)(q - p));
    if (!nul) name = PyUnicode_DecodeUTF8(s + p, q - p, NULL);
    else {
        t->blen = 0;
        Py_ssize_t i = p;
        while (i < q) {
            const char *z = memchr(s + i, '\0', (size_t)(q - i));
            Py_ssize_t stop = z ? z - s : q;
            if (buf_put(t, s + i, stop - i)) return -1;
            i = stop;
            if (i < q) { if (buf_fffd(t)) return -1; i++; }
        }
        name = PyUnicode_DecodeUTF8(t->buf, t->blen, NULL);
    }
    if (!name) return -1;
    p = q;
    while (p < n && is_ws(s[p])) p++;
    if (p < n && s[p] == '>') {
        t->p = p + 1;
        return emit_doctype(t, name, -1, -1, -1, -1, 0);
    }
    /* PUBLIC / SYSTEM keyword (ASCII-CI, 6 chars) */
    int is_pub = 0, is_sys = 0;
    if (p + 6 <= n) {
        char kw[7];
        for (int i = 0; i < 6; i++) kw[i] = lc(s[p + i]);
        kw[6] = 0;
        is_pub = strcmp(kw, "public") == 0;
        is_sys = strcmp(kw, "system") == 0;
    }
    if (is_pub || is_sys) {
        p += 6;
        while (p < n && is_ws(s[p])) p++;
        Py_ssize_t ia, ib;
        int ok;
        doctype_quoted(t, &p, &ia, &ib, &ok);
        if (!ok) return doctype_bogus(t, p, name, -1, -1, -1, -1, 1);
        Py_ssize_t pa = -1, pb = -1, sa = -1, sb = -1;
        if (is_pub) {
            pa = ia; pb = ib;
            while (p < n && is_ws(s[p])) p++;
            if (p < n && (s[p] == '"' || s[p] == '\'')) {
                doctype_quoted(t, &p, &ia, &ib, &ok);
                if (!ok)
                    return doctype_bogus(t, p, name, pa, pb, -1, -1, 1);
                sa = ia; sb = ib;
            }
        } else {
            sa = ia; sb = ib;
        }
        while (p < n && is_ws(s[p])) p++;
        if (p < n && s[p] == '>') {
            t->p = p + 1;
            return emit_doctype(t, name, pa, pb, sa, sb, 0);
        }
        return doctype_bogus(t, p, name, pa, pb, sa, sb, 1);
    }
    return doctype_bogus(t, p, name, -1, -1, -1, -1, 1);
}

/* ---- markup dispatch (after '<') ----------------------------------------- */

/* Is the '<' at lt literal text? Mirrors _markup's None returns. */
static int markup_is_literal(Tok *t, Py_ssize_t lt) {
    const char *s = t->s;
    Py_ssize_t n = t->n;
    if (lt + 1 >= n) return 1;
    char c = s[lt + 1];
    if (is_ascii_alpha(c) || c == '!' || c == '?') return 0;
    if (c == '/') return lt + 2 >= n; /* '</' at EOF is literal */
    if ((unsigned char)c >= 0x80) return !uni_alpha_at(s, n, lt + 1);
    return 1;
}

/* run markup at t->p (pointing at '<', guaranteed non-literal);
 * advances t->p, emits 0..1 tokens. */
static int do_markup(Tok *t) {
    const char *s = t->s;
    Py_ssize_t n = t->n;
    Py_ssize_t p = t->p;
    char c = s[p + 1];
    if (is_ascii_alpha(c) || ((unsigned char)c >= 0x80))
        return tagtok(t, p + 1, 1);
    if (c == '!') {
        Py_ssize_t q = p + 2;
        if (q + 1 < n && s[q] == '-' && s[q + 1] == '-')
            return comment(t, q + 2);
        if (q + 7 <= n) {
            char kw[8];
            for (int i = 0; i < 7; i++) kw[i] = lc(s[q + i]);
            kw[7] = 0;
            if (strcmp(kw, "doctype") == 0) return doctype(t, q + 7);
        }
        if (q + 7 <= n && memcmp(s + q, "[CDATA[", 7) == 0) {
            Py_ssize_t e = x_find(s, n, q + 7, "]]>", 3);
            Py_ssize_t b = (e == -1) ? n : e;
            t->p = (e == -1) ? n : e + 3;
            PyObject *data = PyUnicode_DecodeUTF8(s + q + 7, b - (q + 7), NULL);
            if (!data) return -1;
            PyObject *tok = PyTuple_Pack(2, S_cdata, data);
            Py_DECREF(data);
            return emit(t, tok);
        }
        return bogus_comment(t, q);
    }
    if (c == '?') return bogus_comment(t, p + 1);
    /* c == '/' (p+2 < n guaranteed by literal check) */
    {
        char c2 = s[p + 2];
        if (is_ascii_alpha(c2) || ((unsigned char)c2 >= 0x80 &&
                                   uni_alpha_at(s, n, p + 2)))
            return tagtok(t, p + 2, 0);
        if (c2 == '>') { t->p = p + 3; return 0; } /* '</>' dropped */
        return bogus_comment(t, p + 1);
    }
}

/* ---- data state ----------------------------------------------------------
 * Returns 1 when EOF token emitted, 0 when paused / max reached, -1 error.
 */
static int data_state(Tok *t) {
    const char *s = t->s;
    Py_ssize_t n = t->n;
    Py_ssize_t p = t->p;
    Py_ssize_t amp = -2; /* memoized next '&' (-1 none, -2 unknown) */
    for (;;) {
        t->blen = 0;
        Py_ssize_t pend = p;
        for (;;) {
            if (p >= n) {
                t->p = n;
                if (emit_text_span(t, pend, n)) return -1;
                if (emit_eof(t)) return -1;
                return 1;
            }
            const char *ltp = memchr(s + p, '<', (size_t)(n - p));
            Py_ssize_t lt = ltp ? ltp - s : -1;
            if (amp != -1 && amp < p) {
                const char *ap = memchr(s + p, '&', (size_t)(n - p));
                amp = ap ? ap - s : -1;
            }
            if (lt == -1 && amp == -1) { p = n; continue; }
            if (amp != -1 && (lt == -1 || amp < lt)) {
                char out[16]; int ol; Py_ssize_t nx;
                if (charref(s, n, amp + 1, -1, 0, &nx, out, &ol)) {
                    if (buf_put(t, s + pend, amp - pend)) return -1;
                    if (buf_put(t, out, ol)) return -1;
                    p = nx;
                    pend = p;
                } else {
                    p = amp + 1; /* literal '&' stays in the clean span */
                }
                continue;
            }
            /* '<' first */
            if (markup_is_literal(t, lt)) {
                p = lt + 1; /* literal '<' stays in the clean span */
                continue;
            }
            t->p = lt;
            if (emit_text_span(t, pend, lt)) return -1;
            if (do_markup(t)) return -1;
            p = t->p;
            if (t->paused || t->ntok >= t->max) return 0;
            break; /* restart outer loop: fresh buf + pend */
        }
    }
}

/* ---- RCDATA / RAWTEXT ----------------------------------------------------
 * Mirrors _rcdata_or_rawtext + _emit_raw_text. Needle search is ASCII-CI
 * against the haystack (Python lowercases the haystack; ASCII equivalent).
 */

/* emit text [a,b) with NUL->FFFD always and charref decode when wanted */
static int emit_raw_text(Tok *t, Py_ssize_t a, Py_ssize_t b, int decode) {
    const char *s = t->s;
    const char *nul = memchr(s + a, '\0', (size_t)(b - a));
    const char *amp = decode ? memchr(s + a, '&', (size_t)(b - a)) : NULL;
    if (!nul && !amp) {
        if (b <= a) return 0;
        PyObject *str = PyUnicode_DecodeUTF8(s + a, b - a, NULL);
        return emit2(t, S_text, str);
    }
    t->blen = 0;
    Py_ssize_t i = a;
    while (i < b) {
        char c = s[i];
        if (c == '\0') { if (buf_fffd(t)) return -1; i++; continue; }
        if (decode && c == '&') {
            char out[16]; int ol; Py_ssize_t nx;
            if (charref(s, b, i + 1, -1, 0, &nx, out, &ol)) {
                if (buf_put(t, out, ol)) return -1;
                i = nx;
            } else {
                if (buf_put(t, "&", 1)) return -1;
                i++;
            }
            continue;
        }
        const char *z = memchr(s + i, '\0', (size_t)(b - i));
        const char *m = decode ? memchr(s + i, '&', (size_t)(b - i)) : NULL;
        Py_ssize_t stop = b;
        if (z && z - s < stop) stop = z - s;
        if (m && m - s < stop) stop = m - s;
        if (buf_put(t, s + i, stop - i)) return -1;
        i = stop;
    }
    if (t->blen == 0) return 0;
    PyObject *str = PyUnicode_DecodeUTF8(t->buf, t->blen, NULL);
    return emit2(t, S_text, str);
}

static int emit_end_rawtag(Tok *t) {
    PyObject *tag = t->rawtext_tag ? t->rawtext_tag : S_empty;
    Py_INCREF(tag);
    PyObject *tok = PyTuple_Pack(2, S_end, tag);
    Py_DECREF(tag);
    return emit(t, tok);
}

static int rcdata_state(Tok *t, int decode) {
    const char *s = t->s;
    Py_ssize_t n = t->n;
    Py_ssize_t p = t->p, search = p;
    for (;;) {
        Py_ssize_t idx = ci_find(s, n, search, t->needle, t->nlen);
        if (idx == -1) {
            if (decode) {
                /* RCDATA bail-out deviation (TokeniserState.kt:196-209) */
                Py_ssize_t j = p;
                for (;;) {
                    const char *jp = memchr(s + j, '<', (size_t)(n - j));
                    if (!jp) break;
                    j = jp - s;
                    if (j + 1 >= n) break;
                    char c1 = s[j + 1];
                    if (is_ascii_alpha(c1)) {
                        if (emit_raw_text(t, p, j, decode)) return -1;
                        t->p = j;
                        t->state = ST_DATA;
                        return emit_end_rawtag(t) ? -1 : 0;
                    }
                    j++;
                }
            }
            if (emit_raw_text(t, p, n, decode)) return -1;
            t->p = n;
            t->state = ST_DATA;
            if (emit_eof(t)) return -1;
            return 1;
        }
        Py_ssize_t after = idx + t->nlen;
        if (after < n && (is_ws(s[after]) || s[after] == '/' ||
                          s[after] == '>')) {
            if (emit_raw_text(t, p, idx, decode)) return -1;
            const char *gt = memchr(s + after, '>', (size_t)(n - after));
            t->p = gt ? gt - s + 1 : n;
            t->state = ST_DATA;
            return emit_end_rawtag(t) ? -1 : 0;
        }
        if (after >= n) {
            if (emit_raw_text(t, p, n, decode)) return -1;
            t->p = n;
            t->state = ST_DATA;
            if (emit_eof(t)) return -1;
            return 1;
        }
        search = idx + 2;
    }
}

/* ---- script data ---------------------------------------------------------- */

static int script_boundary(Tok *t, Py_ssize_t after) {
    return after >= t->n || is_ws(t->s[after]) || t->s[after] == '/' ||
           t->s[after] == '>';
}

static int finish_script(Tok *t, Py_ssize_t p0, Py_ssize_t idx) {
    if (emit_raw_text(t, p0, idx, 0)) return -1;
    const char *gt = memchr(t->s + idx + 8, '>', (size_t)(t->n - idx - 8));
    t->p = gt ? gt - t->s + 1 : t->n;
    t->state = ST_DATA;
    Py_INCREF(S_script);
    PyObject *tok = PyTuple_Pack(2, S_end, S_script);
    Py_DECREF(S_script);
    return emit(t, tok) ? -1 : 0;
}

static int script_state(Tok *t) {
    const char *s = t->s;
    Py_ssize_t n = t->n;
    Py_ssize_t p0 = t->p, pos = p0;
    int mode = 0; /* 0 plain, 1 escaped, 2 double-escaped */
    while (pos < n) {
        if (mode == 0) {
            Py_ssize_t ie = ci_find(s, n, pos, "</script", 8);
            Py_ssize_t ix = x_find(s, n, pos, "<!--", 4);
            if (ie != -1 && script_boundary(t, ie + 8) &&
                (ix == -1 || ie < ix))
                return finish_script(t, p0, ie);
            if (ix != -1 && (ie == -1 || ix < ie)) { mode = 1; pos = ix + 4; continue; }
            if (ie != -1) { pos = ie + 2; continue; }
            break;
        }
        if (mode == 1) {
            Py_ssize_t ie = ci_find(s, n, pos, "</script", 8);
            Py_ssize_t ic = x_find(s, n, pos, "-->", 3);
            Py_ssize_t io = ci_find(s, n, pos, "<script", 7);
            Py_ssize_t best = -1;
            int kind = 0; /* 1 end, 2 close, 3 open */
            if (ie != -1) { best = ie; kind = 1; }
            if (ic != -1 && (best == -1 || ic < best)) { best = ic; kind = 2; }
            if (io != -1 && (best == -1 || io < best)) { best = io; kind = 3; }
            if (best == -1) break;
            if (kind == 1 && script_boundary(t, best + 8))
                return finish_script(t, p0, best);
            if (kind == 2) { mode = 0; pos = best + 3; }
            else if (kind == 3 && script_boundary(t, best + 7)) {
                mode = 2; pos = best + 7;
            } else pos = best + 2;
            continue;
        }
        /* mode == 2 */
        {
            Py_ssize_t ie = ci_find(s, n, pos, "</script", 8);
            Py_ssize_t ic = x_find(s, n, pos, "-->", 3);
            Py_ssize_t best = -1;
            int kind = 0;
            if (ie != -1) { best = ie; kind = 1; }
            if (ic != -1 && (best == -1 || ic < best)) { best = ic; kind = 2; }
            if (best == -1) break;
            if (kind == 1 && script_boundary(t, best + 8)) {
                mode = 1; pos = best + 8;
            } else if (kind == 2) { mode = 0; pos = best + 3; }
            else pos = best + 2;
        }
    }
    /* EOF: everything is data */
    if (emit_raw_text(t, p0, n, 0)) return -1;
    t->p = n;
    t->state = ST_DATA;
    if (emit_eof(t)) return -1;
    return 1;
}

static int plaintext_state(Tok *t) {
    if (emit_raw_text(t, t->p, t->n, 0)) return -1;
    t->p = t->n;
    t->state = ST_DATA;
    if (emit_eof(t)) return -1;
    return 1;
}

/* ---- entry point ----------------------------------------------------------- */

static PyObject *py_tokenize(PyObject *self, PyObject *args) {
    PyObject *str, *rtag;
    Py_ssize_t start, maxtok;
    int state;
    if (!PyArg_ParseTuple(args, "OniOn", &str, &start, &state, &rtag,
                          &maxtok))
        return NULL;
    Py_ssize_t n;
    const char *s = PyUnicode_AsUTF8AndSize(str, &n);
    if (!s) return NULL;

    Tok t;
    memset(&t, 0, sizeof(t));
    t.s = s;
    t.n = n;
    t.p = start;
    t.state = state;
    t.max = maxtok > 0 ? maxtok : 1;
    t.out = PyList_New(0);
    if (!t.out) return NULL;
    t.rawtext_tag = (rtag == Py_None) ? NULL : rtag;

    char needle_stack[80];
    char *needle_heap = NULL;
    if (state == ST_RCDATA || state == ST_RAWTEXT) {
        Py_ssize_t tl = 0;
        const char *tb = "";
        if (t.rawtext_tag) {
            tb = PyUnicode_AsUTF8AndSize(t.rawtext_tag, &tl);
            if (!tb) { Py_DECREF(t.out); return NULL; }
        }
        char *nd = needle_stack;
        if (tl + 2 > (Py_ssize_t)sizeof(needle_stack)) {
            needle_heap = (char *)PyMem_Malloc((size_t)(tl + 2));
            if (!needle_heap) { Py_DECREF(t.out); return PyErr_NoMemory(); }
            nd = needle_heap;
        }
        nd[0] = '<'; nd[1] = '/';
        memcpy(nd + 2, tb, (size_t)tl);
        t.needle = nd;
        t.nlen = tl + 2;
    }

    int done = 0, r = 0;
    if (t.p >= n && t.state == ST_DATA) {
        /* mirrors next_token's p>=n check */
        r = emit_eof(&t) ? -1 : 1;
    }
    while (r == 0 && !t.paused && t.ntok < t.max) {
        switch (t.state) {
        case ST_DATA: r = data_state(&t); break;
        case ST_RCDATA: r = rcdata_state(&t, 1); break;
        case ST_RAWTEXT: r = rcdata_state(&t, 0); break;
        case ST_SCRIPT: r = script_state(&t); break;
        default: r = plaintext_state(&t); break;
        }
    }
    if (needle_heap) PyMem_Free(needle_heap);
    PyMem_Free(t.buf);
    if (r < 0) { Py_DECREF(t.out); return NULL; }
    done = (r == 1);
    PyObject *res = Py_BuildValue("(NnO)", t.out, t.p,
                                  done ? Py_True : Py_False);
    return res;
}

/* ---- text accumulator and whitespace normalization ----------------------
 *
 * Acc is the UTF-8 byte buffer the text walk below appends to; last_ws
 * tracks whether it ends in whitespace (the strip_leading of the next
 * normalized append). Lone-surrogate text can't view as UTF-8: every
 * caller raises there and the Python wrapper falls back. */
typedef struct { char *b; Py_ssize_t len, cap; int last_ws; } Acc;

static int acc_reserve(Acc *a, Py_ssize_t extra) {
    if (a->len + extra <= a->cap) return 0;
    Py_ssize_t nc = a->cap ? a->cap * 2 : 256;
    while (nc < a->len + extra) nc *= 2;
    char *nb = (char *)PyMem_Realloc(a->b, (size_t)nc);
    if (!nb) { PyErr_NoMemory(); return -1; }
    a->b = nb; a->cap = nc;
    return 0;
}

/* raw append (pre-preserved / CDATA text, boundary spaces) */
static int acc_raw(Acc *a, const char *s, Py_ssize_t n) {
    if (!n) return 0;
    if (acc_reserve(a, n)) return -1;
    memcpy(a->b + a->len, s, (size_t)n);
    a->len += n;
    unsigned char c = (unsigned char)a->b[a->len - 1];
    if (c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r')
        a->last_ws = 1;
    else if (c == 0xA0 && a->len >= 2 &&
             (unsigned char)a->b[a->len - 2] == 0xC2)
        a->last_ws = 1;
    else
        a->last_ws = 0;
    return 0;
}

/* normalized append: StringUtil.appendNormalisedWhitespace
 * (internal/StringUtil.kt:137-191) with strip_leading = the accumulator
 * ends in whitespace: drop U+200B / U+00AD, collapse runs of
 * [ \t\n\f\r U+00A0] to one ' ', and suppress the single space a leading
 * run would produce when strip_leading holds. Works on the UTF-8 view
 * (U+00A0 = C2 A0, U+00AD = C2 AD, U+200B = E2 80 8B; every other byte
 * copies verbatim). */
static int acc_norm(Acc *a, const char *s, Py_ssize_t n) {
    if (!n) return 0;
    if (acc_reserve(a, n + 1)) return -1;
    char *dst = a->b + a->len;
    int strip_leading = a->last_ws;
    Py_ssize_t o = 0, i = 0;
    int pending = 0;
    while (i < n) {
        unsigned char c = (unsigned char)s[i];
        if (c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r') {
            pending = 1; i++; continue;
        }
        if (c == 0xC2 && i + 1 < n) {
            unsigned char d = (unsigned char)s[i + 1];
            if (d == 0xA0) { pending = 1; i += 2; continue; }
            if (d == 0xAD) { i += 2; continue; } /* invisible: drop */
        } else if (c == 0xE2 && i + 2 < n &&
                   (unsigned char)s[i + 1] == 0x80 &&
                   (unsigned char)s[i + 2] == 0x8B) {
            i += 3; continue; /* invisible: drop */
        }
        if (pending) {
            if (o > 0 || !strip_leading) dst[o++] = ' ';
            pending = 0;
        }
        dst[o++] = (char)c;
        i++;
    }
    if (pending && (o > 0 || !strip_leading)) dst[o++] = ' ';
    if (o > 0) {
        a->len += o;
        /* normalization emits ' ' for every ws run, so the only possible
         * trailing ws char is ' ' itself */
        a->last_ws = (dst[o - 1] == ' ');
    }
    return 0;
}

static int is_trim(unsigned char c) {
    return c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' ||
           c == '\v';
}

/* norm_ws(s, strip_leading) mirrors textops.append_normalised exactly: a
 * scan-only check returns the input object untouched when nothing would
 * change; otherwise acc_norm rewrites it. */
static PyObject *py_norm_ws(PyObject *self, PyObject *args) {
    PyObject *str;
    int strip_leading;
    if (!PyArg_ParseTuple(args, "Oi", &str, &strip_leading)) return NULL;
    Py_ssize_t n;
    const char *s = PyUnicode_AsUTF8AndSize(str, &n);
    if (!s) return NULL;

    int dirty = 0, prev_sp = 0;
    for (Py_ssize_t i = 0; i < n; i++) {
        unsigned char c = (unsigned char)s[i];
        if (c == ' ') {
            if (prev_sp || (i == 0 && strip_leading)) { dirty = 1; break; }
            prev_sp = 1;
        } else if (c == '\t' || c == '\n' || c == '\f' || c == '\r') {
            dirty = 1; break;
        } else if (c == 0xC2 && i + 1 < n &&
                   ((unsigned char)s[i + 1] == 0xA0 ||
                    (unsigned char)s[i + 1] == 0xAD)) {
            dirty = 1; break;
        } else if (c == 0xE2 && i + 2 < n &&
                   (unsigned char)s[i + 1] == 0x80 &&
                   (unsigned char)s[i + 2] == 0x8B) {
            dirty = 1; break;
        } else {
            prev_sp = 0;
        }
    }
    if (!dirty) {
        Py_INCREF(str);
        return str;
    }
    Acc a = {NULL, 0, 0, strip_leading};
    PyObject *res = acc_norm(&a, s, n) ? NULL
                  : PyUnicode_DecodeUTF8(a.len ? a.b : "", a.len, NULL);
    PyMem_Free(a.b);
    return res;
}

static PyObject *py_set_interns(PyObject *self, PyObject *arg) {
    if (!PyList_Check(arg)) {
        PyErr_SetString(PyExc_TypeError, "expected list of str");
        return NULL;
    }
    for (Py_ssize_t i = 0; i < PyList_GET_SIZE(arg); i++) {
        PyObject *o = PyList_GET_ITEM(arg, i);
        Py_ssize_t l;
        const char *k = PyUnicode_AsUTF8AndSize(o, &l);
        if (!k) return NULL;
        if (l == 0 || l > 32) continue;
        unsigned h = hash_bytes(k, l) & (ITAB - 1);
        unsigned h0 = h;
        while (itab_key[h]) {
            if (itab_len[h] == l && memcmp(itab_key[h], k, (size_t)l) == 0)
                goto next; /* already present */
            h = (h + 1) & (ITAB - 1);
            if (h == h0) goto next; /* table full: skip */
        }
        Py_INCREF(o);
        itab_obj[h] = o;
        itab_key[h] = k;
        itab_len[h] = l;
    next:;
    }
    Py_RETURN_NONE;
}


/* ---- text walk: Element.text(), optionally segmented at media -----------
 *
 * C mirror of textops._walk_py (Element.kt:1312-1351 text assembly plus the
 * graft's media segmentation): one DFS over the Doc's parallel lists
 * (kind, tag, text, children) applying the normalization, pre-depth and
 * block-boundary rules. element_text runs it plain and returns the trimmed
 * text; extract_spans gives it an output list, and it then flushes the
 * accumulator at img/video/object elements. Media spans come back with
 * the NODE ID in the media_ref slot; the Python wrapper resolves refs
 * (absUrl + <video><source> fallback) — media spans are rare, the URL join
 * is pure Python semantics (urljoin), and this keeps the C side free of
 * any URL logic. */

#define TF_BLOCK 1
#define TF_FMT_INLINE 2
#define TF_PRESERVE 4
#define TF_MEDIA_IMG 8
#define TF_MEDIA_VIDEO 16
#define TF_MEDIA_OBJECT 32
#define TF_BR 64
#define TF_MEDIA (TF_MEDIA_IMG | TF_MEDIA_VIDEO | TF_MEDIA_OBJECT)

static PyObject *S_image, *S_video, *S_object;

typedef struct { PyObject *key[256]; int flags[256]; } TagCache;

static int tag_flags_lookup(const char *s) {
    int lo = 0, hi = N_TAGF - 1;
    while (lo <= hi) {
        int mid = (lo + hi) >> 1;
        int c = strcmp(s, TAGF[mid].name);
        if (c == 0) return TAGF[mid].flags;
        if (c < 0) hi = mid - 1; else lo = mid + 1;
    }
    return 0;
}

static int tag_flags(TagCache *tc, PyObject *tagobj) {
    if (tagobj == Py_None) return 0;
    unsigned idx = (unsigned)(((uintptr_t)tagobj) >> 4) & 255u;
    if (tc->key[idx] == tagobj) return tc->flags[idx];
    Py_ssize_t l;
    const char *s = PyUnicode_AsUTF8AndSize(tagobj, &l);
    if (!s) { PyErr_Clear(); return 0; }
    int f = tag_flags_lookup(s);
    tc->key[idx] = tagobj;
    tc->flags[idx] = f;
    return f;
}

/* the accumulated text stripped of " \t\n\r\f\v", as a str; empties acc */
static PyObject *acc_take(Acc *a) {
    Py_ssize_t s = 0, e = a->len;
    while (s < e && is_trim((unsigned char)a->b[s])) s++;
    while (e > s && is_trim((unsigned char)a->b[e - 1])) e--;
    a->len = 0;
    a->last_ws = 0;
    return PyUnicode_DecodeUTF8(e > s ? a->b + s : "", e - s, NULL);
}

/* flush accumulated text as a ("text", s, None, offset) span */
static int acc_flush(Acc *a, PyObject *out) {
    PyObject *txt = acc_take(a);
    if (!txt) return -1;
    if (PyUnicode_GET_LENGTH(txt) == 0) { Py_DECREF(txt); return 0; }
    PyObject *tup = Py_BuildValue("(ONOn)", S_text, txt, Py_None,
                                  PyList_GET_SIZE(out));
    if (!tup) return -1;
    int r = PyList_Append(out, tup);
    Py_DECREF(tup);
    return r;
}

typedef struct { Py_ssize_t node; Py_ssize_t ci; } Frame;

/* The walk over args = (kind, tag, text, children, root), appending to
 * acc. With out == NULL media elements are ordinary elements whose
 * fallback content contributes; with an output list every img/video/object
 * below root flushes acc into out, appends its media span and skips its
 * subtree. Returns 0, or -1 with an exception set. */
static int text_walk(PyObject *args, Acc *acc, PyObject *out) {
    PyObject *kindL, *tagL, *textL, *chL;
    Py_ssize_t root;
    if (!PyArg_ParseTuple(args, "O!O!O!O!n", &PyList_Type, &kindL,
                          &PyList_Type, &tagL, &PyList_Type, &textL,
                          &PyList_Type, &chL, &root))
        return -1;
    Py_ssize_t nn = PyList_GET_SIZE(kindL);
    if (PyList_GET_SIZE(tagL) < nn || PyList_GET_SIZE(textL) < nn ||
        PyList_GET_SIZE(chL) < nn || root < 0 || root >= nn) {
        PyErr_SetString(PyExc_ValueError, "node table shape mismatch");
        return -1;
    }

    TagCache tc;
    memset(&tc, 0, sizeof(tc));
    int rc = -1;
    Py_ssize_t scap = 256, sp = 0;
    Frame *st = (Frame *)PyMem_Malloc(sizeof(Frame) * (size_t)scap);
    Py_ssize_t pcap = 64, npre = 0;
    Py_ssize_t *pre = (Py_ssize_t *)PyMem_Malloc(sizeof(Py_ssize_t) *
                                                 (size_t)pcap);
    if (!st || !pre) { PyErr_NoMemory(); goto done; }

    st[0].node = root; st[0].ci = 0; sp = 1;

    while (sp > 0) {
        Frame *fr = &st[sp - 1];
        Py_ssize_t node = fr->node;
        Py_ssize_t ci = fr->ci;
        PyObject *kids = PyList_GET_ITEM(chL, node);
        if (!PyList_Check(kids)) {
            PyErr_SetString(PyExc_TypeError, "children not a list");
            goto done;
        }
        if (ci == 0) { /* head */
            long k = PyLong_AsLong(PyList_GET_ITEM(kindL, node));
            if (k == 2) { /* TEXT */
                PyObject *t = PyList_GET_ITEM(textL, node);
                if (t != Py_None) {
                    Py_ssize_t tn;
                    const char *ts = PyUnicode_AsUTF8AndSize(t, &tn);
                    if (!ts) goto done;
                    /* inside pre (≤6 levels up): raw, else normalized */
                    if (npre > 0 && (sp - 2) - pre[npre - 1] < 6) {
                        if (acc_raw(acc, ts, tn)) goto done;
                    } else {
                        if (acc_norm(acc, ts, tn)) goto done;
                    }
                }
            } else if (k == 5) { /* CDATA: raw */
                PyObject *t = PyList_GET_ITEM(textL, node);
                if (t != Py_None) {
                    Py_ssize_t tn;
                    const char *ts = PyUnicode_AsUTF8AndSize(t, &tn);
                    if (!ts) goto done;
                    if (acc_raw(acc, ts, tn)) goto done;
                }
            } else if (k == 1) { /* ELEMENT */
                int f = tag_flags(&tc, PyList_GET_ITEM(tagL, node));
                if (out && (f & TF_MEDIA) && node != root) {
                    /* flush text, emit the media span, skip the subtree */
                    if (acc_flush(acc, out)) goto done;
                    PyObject *mk = (f & TF_MEDIA_IMG) ? S_image
                                 : (f & TF_MEDIA_VIDEO) ? S_video : S_object;
                    PyObject *tup = Py_BuildValue(
                        "(OOnn)", mk, Py_None, node, PyList_GET_SIZE(out));
                    if (!tup) goto done;
                    int r = PyList_Append(out, tup);
                    Py_DECREF(tup);
                    if (r) goto done;
                    sp--;
                    continue;
                }
                if (acc->len > 0 && (f & (TF_BLOCK | TF_BR)) &&
                    !acc->last_ws) {
                    if (acc_raw(acc, " ", 1)) goto done;
                }
                if (f & TF_PRESERVE) {
                    if (npre >= pcap) {
                        pcap *= 2;
                        Py_ssize_t *np = (Py_ssize_t *)PyMem_Realloc(
                            pre, sizeof(Py_ssize_t) * (size_t)pcap);
                        if (!np) { PyErr_NoMemory(); goto done; }
                        pre = np;
                    }
                    pre[npre++] = sp - 1;
                }
            }
            /* COMMENT / DATA / DOCTYPE / XMLDECL: skipped */
        }
        if (ci < PyList_GET_SIZE(kids)) {
            fr->ci = ci + 1;
            long child = PyLong_AsLong(PyList_GET_ITEM(kids, ci));
            if (child < 0 || child >= nn) {
                if (!PyErr_Occurred())
                    PyErr_SetString(PyExc_ValueError,
                                    "child id out of range");
                goto done;
            }
            if (sp >= scap) {
                scap *= 2;
                Frame *ns = (Frame *)PyMem_Realloc(
                    st, sizeof(Frame) * (size_t)scap);
                if (!ns) { PyErr_NoMemory(); goto done; }
                st = ns;
            }
            st[sp].node = child; st[sp].ci = 0; sp++;
            continue;
        }
        /* tail */
        sp--;
        long k = PyLong_AsLong(PyList_GET_ITEM(kindL, node));
        if (k == 1) {
            if (npre > 0 && pre[npre - 1] == sp) npre--;
            int f = tag_flags(&tc, PyList_GET_ITEM(tagL, node));
            if ((f & TF_BLOCK) && sp > 0 && !acc->last_ws) {
                /* space after a block element when the next sibling is text
                 * or a non-format-as-block element (Element.kt:1339-1349) */
                Frame *pf = &st[sp - 1];
                PyObject *pkids = PyList_GET_ITEM(chL, pf->node);
                if (pf->ci < PyList_GET_SIZE(pkids)) {
                    long nxt = PyLong_AsLong(
                        PyList_GET_ITEM(pkids, pf->ci));
                    if (nxt >= 0 && nxt < nn) {
                        long nk = PyLong_AsLong(
                            PyList_GET_ITEM(kindL, nxt));
                        int space = (nk == 2 || nk == 5);
                        if (!space && nk == 1) {
                            int nf = tag_flags(
                                &tc, PyList_GET_ITEM(tagL, nxt));
                            space = !((nf & TF_BLOCK) &&
                                      !(nf & TF_FMT_INLINE));
                        }
                        if (space && acc_raw(acc, " ", 1)) goto done;
                    }
                }
            }
        }
    }
    rc = 0;
done:
    PyMem_Free(st);
    PyMem_Free(pre);
    return rc;
}

static PyObject *py_extract_spans(PyObject *self, PyObject *args) {
    Acc acc = {NULL, 0, 0, 0};
    PyObject *out = PyList_New(0);
    if (out && (text_walk(args, &acc, out) || acc_flush(&acc, out)))
        Py_CLEAR(out);
    PyMem_Free(acc.b);
    return out;
}

/* Element.text() over a subtree: the walk's text, stripped of
 * " \t\n\r\f\v" */
static PyObject *py_element_text(PyObject *self, PyObject *args) {
    Acc acc = {NULL, 0, 0, 0};
    PyObject *res = text_walk(args, &acc, NULL) ? NULL : acc_take(&acc);
    PyMem_Free(acc.b);
    return res;
}


/* ---- tree-construction fast engine --------------------------------------
 *
 * Processes the common HTML5 insertion-mode cases (the document preamble
 * and postamble, InBody / InCell / InCaption / Text and the table modes)
 * directly in C, operating on the SAME Python lists the Python
 * HtmlTreeBuilder mutates (doc.kind/tag/attrs/text/ns/children/parent,
 * builder.stack/formatting/pushed_tags). Any token outside the
 * handled subset is returned ("bailed") to Python, which processes it with
 * the full spec implementation and re-enters — zero state conversion in
 * either direction. Semantics are an exact mirror of treebuilder.py's
 * corresponding branches (each case cites the method it mirrors); the
 * differential suite (tests/test_ctree.py) pins whole-tree equality vs the
 * pure-Python path over the reference's pages and fuzz corpora.
 *
 * Entry preconditions (enforced by the Python wrapper): no parse-error
 * collection, no source tracking, default ParseSettings, not a fragment
 * parse, token names ASCII (non-ASCII tag/attr names bail per-token). */

#define K_ELEM 1
#define K_TEXT 2
#define K_DATA 3
#define K_COMMENT 4
#define K_CDATA 5

#define TF_SPECIAL 128
#define TF_IMPLIED_END 256
#define TF_P_CLOSER 512
#define TF_HEADING 1024
#define TF_FORMATTING 2048
#define TF_SCOPE_BASE 4096
#define TF_BUTTON_BOUND 8192
#define TF_LIST_BOUND 16384
#define TF_INBODY_SPECIAL 32768
#define TF_FORM_LISTED 65536
#define TF_VOID 131072
#define TF_TSECTION 262144

#define TR_OK 0
#define TR_BAIL 1
#define TR_ERR (-1)
#define TR_REDISPATCH 2

static long M_IN_BODY = -100, M_IN_CELL = -100, M_IN_CAPTION = -100,
            M_TEXT = -100, M_IN_TABLE = -100, M_IN_TABLE_BODY = -100,
            M_IN_ROW = -100, M_IN_TABLE_TEXT = -100, M_INITIAL = -100,
            M_BEFORE_HTML = -100, M_BEFORE_HEAD = -100, M_IN_HEAD = -100,
            M_AFTER_HEAD = -100, M_AFTER_BODY = -100,
            M_AFTER_AFTER_BODY = -100;

typedef struct {
    PyObject *kind, *tag, *attrs, *text, *ns, *children, *parent;
    PyObject *stack, *formatting, *pushed, *pending;
    long mode, skip_lf, frameset_ok, original_mode, form_id, errors,
         has_foreign, head_id, base_latched, quirks;
    PyObject *base_uri; /* owned; set when a <base href> latches */
    Tok *tok;           /* the run's tokenizer, for RCDATA/RAWTEXT switches */
    TagCache tc;
} Tree;

static PyObject *py_set_tree_modes(PyObject *self, PyObject *args) {
    if (!PyArg_ParseTuple(args, "lllllllllllllll", &M_IN_BODY, &M_IN_CELL,
                          &M_IN_CAPTION, &M_TEXT, &M_IN_TABLE,
                          &M_IN_TABLE_BODY, &M_IN_ROW, &M_IN_TABLE_TEXT,
                          &M_INITIAL, &M_BEFORE_HTML, &M_BEFORE_HEAD,
                          &M_IN_HEAD, &M_AFTER_HEAD, &M_AFTER_BODY,
                          &M_AFTER_AFTER_BODY))
        return NULL;
    Py_RETURN_NONE;
}

/* list element as C long (node ids / kinds); lists hold ints by invariant */
static long tr_l(PyObject *lst, Py_ssize_t i) {
    return PyLong_AsLong(PyList_GET_ITEM(lst, i));
}

static Py_ssize_t tr_top(Tree *tr) { /* -1 when stack empty */
    Py_ssize_t n = PyList_GET_SIZE(tr->stack);
    return n ? (Py_ssize_t)tr_l(tr->stack, n - 1) : -1;
}

static PyObject *tr_toptag(Tree *tr) { /* borrowed; NULL when empty */
    Py_ssize_t t = tr_top(tr);
    return t < 0 ? NULL : PyList_GET_ITEM(tr->tag, t);
}

/* ASCII-lowered UTF-8 view of a str; returns 0 and sets *ok=0 when the
 * name has non-ASCII bytes (caller bails: Python .lower() semantics). */
static int tr_lower_name(PyObject *name, char *buf, Py_ssize_t cap,
                         Py_ssize_t *lenp) {
    Py_ssize_t l;
    const char *p = PyUnicode_AsUTF8AndSize(name, &l);
    if (!p) return -1; /* exception set (lone surrogate) */
    if (l >= cap) return 1; /* absurdly long name: bail */
    for (Py_ssize_t i = 0; i < l; i++) {
        unsigned char c = (unsigned char)p[i];
        if (c >= 0x80) return 1;
        buf[i] = (c >= 'A' && c <= 'Z') ? (char)(c + 32) : (char)c;
    }
    buf[l] = 0;
    *lenp = l;
    return 0;
}

static int tr_flags_c(Tree *tr, const char *cname) {
    return tag_flags_lookup(cname);
}

static int tr_flags_obj(Tree *tr, PyObject *tagobj) {
    return tag_flags(&tr->tc, tagobj);
}

static int tr_tag_is(Tree *tr, Py_ssize_t nid, const char *cname) {
    PyObject *tg = PyList_GET_ITEM(tr->tag, nid);
    if (tg == Py_None) return 0;
    Py_ssize_t l;
    const char *p = PyUnicode_AsUTF8AndSize(tg, &l);
    if (!p) { PyErr_Clear(); return 0; }
    return strcmp(p, cname) == 0;
}

/* doc.new_node: appends one row to every parallel list; parent = -1
 * (caller links). Steals nothing; attrs_dict/text_obj borrowed or NULL. */
static Py_ssize_t tr_new_node(Tree *tr, long kind, PyObject *tagobj,
                              PyObject *attrs_dict, PyObject *text_obj) {
    Py_ssize_t nid = PyList_GET_SIZE(tr->kind);
    PyObject *k = PyLong_FromLong(kind);
    PyObject *chl = PyList_New(0);
    PyObject *par = PyLong_FromLong(-1);
    PyObject *nsv = PyLong_FromLong(0);
    if (!k || !chl || !par || !nsv) goto fail;
    if (PyList_Append(tr->kind, k)) goto fail;
    if (PyList_Append(tr->tag, tagobj ? tagobj : Py_None)) goto fail;
    if (PyList_Append(tr->attrs, attrs_dict ? attrs_dict : Py_None))
        goto fail;
    if (PyList_Append(tr->text, text_obj ? text_obj : Py_None)) goto fail;
    if (PyList_Append(tr->ns, nsv)) goto fail;
    if (PyList_Append(tr->children, chl)) goto fail;
    if (PyList_Append(tr->parent, par)) goto fail;
    Py_DECREF(k); Py_DECREF(chl); Py_DECREF(par); Py_DECREF(nsv);
    return nid;
fail:
    Py_XDECREF(k); Py_XDECREF(chl); Py_XDECREF(par); Py_XDECREF(nsv);
    return -1;
}

static int tr_set_parent(Tree *tr, Py_ssize_t nid, Py_ssize_t par) {
    PyObject *p = PyLong_FromSsize_t(par);
    if (!p) return -1;
    if (PyList_SetItem(tr->parent, nid, p)) return -1; /* steals p */
    return 0;
}

/* append nid as the last child of par (Doc.append_child on a fresh node) */
static int tr_append_to(Tree *tr, Py_ssize_t par, Py_ssize_t nid) {
    PyObject *v = PyLong_FromSsize_t(nid);
    if (!v) return -1;
    int r = PyList_Append(PyList_GET_ITEM(tr->children, par), v);
    Py_DECREF(v);
    return r ? -1 : tr_set_parent(tr, nid, par);
}

/* append nid under the current insertion parent (foster mode never active
 * at tree_run boundaries); mirrors the non-foster path of _attach /
 * insert_element */
static int tr_attach(Tree *tr, Py_ssize_t nid) {
    Py_ssize_t par = tr_top(tr);
    return tr_append_to(tr, par < 0 ? 0 : par, nid);
}

static int tr_push_stack(Tree *tr, Py_ssize_t nid) {
    PyObject *v = PyLong_FromSsize_t(nid);
    if (!v) return -1;
    int r = PyList_Append(tr->stack, v);
    Py_DECREF(v);
    return r;
}

/* pop top of stack, return node id (or -1 when empty) */
static Py_ssize_t tr_pop(Tree *tr) {
    Py_ssize_t n = PyList_GET_SIZE(tr->stack);
    if (!n) return -1;
    Py_ssize_t nid = (Py_ssize_t)tr_l(tr->stack, n - 1);
    if (PyList_SetSlice(tr->stack, n - 1, n, NULL)) return -1;
    return nid;
}

/* insert_element (treebuilder.py insert_element, non-foster, untracked):
 * attrs_dict is STOLEN. Returns node id or -1. */
static Py_ssize_t tr_insert_element(Tree *tr, PyObject *name,
                                    PyObject *attrs_dict, int push) {
    Py_ssize_t nid = tr_new_node(tr, K_ELEM, name, attrs_dict, NULL);
    Py_DECREF(attrs_dict);
    if (nid < 0) return -1;
    /* non-foster attach: parent BEFORE pushing self */
    if (tr_attach(tr, nid)) return -1;
    if (push && tr_push_stack(tr, nid)) return -1;
    if (PySet_Add(tr->pushed, name)) return -1;
    return nid;
}

/* insert_empty (no push, no base-latch names reach here) */
static Py_ssize_t tr_insert_empty(Tree *tr, PyObject *name,
                                  PyObject *attrs_dict) {
    Py_ssize_t nid = tr_new_node(tr, K_ELEM, name, attrs_dict, NULL);
    Py_DECREF(attrs_dict);
    if (nid < 0) return -1;
    if (tr_attach(tr, nid)) return -1;
    return nid;
}

/* _on_stack_capped: membership in the top 256 stack frames */
static int tr_on_stack_capped(Tree *tr, long nid) {
    Py_ssize_t n = PyList_GET_SIZE(tr->stack);
    Py_ssize_t lo = n > 256 ? n - 256 : 0;
    for (Py_ssize_t i = n - 1; i >= lo; i--)
        if (tr_l(tr->stack, i) == nid) return 1;
    return 0;
}

/* value scan of the formatting list */
static int tr_in_formatting(Tree *tr, long nid) {
    Py_ssize_t n = PyList_GET_SIZE(tr->formatting);
    for (Py_ssize_t i = 0; i < n; i++)
        if (tr_l(tr->formatting, i) == nid) return 1;
    return 0;
}

/* last_formatting(name): latest matching entry above the last MARKER */
static long tr_last_formatting(Tree *tr, const char *cname) {
    Py_ssize_t n = PyList_GET_SIZE(tr->formatting);
    for (Py_ssize_t i = n - 1; i >= 0; i--) {
        long fid = tr_l(tr->formatting, i);
        if (fid == -1) break;
        if (tr_tag_is(tr, fid, cname)) return fid;
    }
    return -1;
}

/* has a tag of this name ever been pushed (the pushed_tags latch) */
static int tr_pushed_has(Tree *tr, const char *cname) {
    PyObject *t = PyUnicode_FromString(cname);
    if (!t) return -1;
    int has = PySet_Contains(tr->pushed, t);
    Py_DECREF(t);
    return has;
}

/* scope query matching by tag name, bounded by flag mask; cap 101 frames
 * (_in_scope / MAX_SCOPE_SEARCH). pushed-tags latch makes never-pushed
 * targets O(1). foreign frame => False, mirroring _in_scope. */
static int tr_in_scope_name(Tree *tr, const char *cname, int bound_mask) {
    int has = tr_pushed_has(tr, cname);
    if (has < 0) return -1;
    if (!has) return 0;
    Py_ssize_t n = PyList_GET_SIZE(tr->stack);
    Py_ssize_t lo = n > 101 ? n - 101 : 0;
    for (Py_ssize_t i = n - 1; i >= lo; i--) {
        Py_ssize_t nid = (Py_ssize_t)tr_l(tr->stack, i);
        if (tr_l(tr->ns, nid) != 0) return 0;
        if (tr_tag_is(tr, nid, cname)) return 1;
        int f = tr_flags_obj(tr, PyList_GET_ITEM(tr->tag, nid));
        if (f & bound_mask) return 0;
    }
    return 0;
}

/* scope query matching by flag mask (headings) */
static int tr_in_scope_mask(Tree *tr, int match_mask, int bound_mask) {
    Py_ssize_t n = PyList_GET_SIZE(tr->stack);
    Py_ssize_t lo = n > 101 ? n - 101 : 0;
    for (Py_ssize_t i = n - 1; i >= lo; i--) {
        Py_ssize_t nid = (Py_ssize_t)tr_l(tr->stack, i);
        if (tr_l(tr->ns, nid) != 0) return 0;
        int f = tr_flags_obj(tr, PyList_GET_ITEM(tr->tag, nid));
        if (f & match_mask) return 1;
        if (f & bound_mask) return 0;
    }
    return 0;
}

/* generate_implied_end(exclude): pop while top is an implied-end tag and
 * not the excluded name (exclude NULL = none) */
static int tr_implied_end(Tree *tr, const char *exclude) {
    for (;;) {
        PyObject *tt = tr_toptag(tr);
        if (!tt || tt == Py_None) return 0;
        int f = tr_flags_obj(tr, tt);
        if (!(f & TF_IMPLIED_END)) return 0;
        if (exclude) {
            Py_ssize_t l;
            const char *p = PyUnicode_AsUTF8AndSize(tt, &l);
            if (p && strcmp(p, exclude) == 0) return 0;
            if (!p) PyErr_Clear();
        }
        if (tr_pop(tr) < 0) return -1;
    }
}

/* pop_until(name): pop until an element with the name is popped */
static int tr_pop_until(Tree *tr, const char *cname) {
    while (PyList_GET_SIZE(tr->stack)) {
        Py_ssize_t nid = tr_pop(tr);
        if (nid < 0) return -1;
        if (tr_tag_is(tr, nid, cname)) break;
    }
    return 0;
}

/* close_p */
static int tr_close_p(Tree *tr) {
    if (tr_implied_end(tr, "p")) return -1;
    Py_ssize_t top = tr_top(tr);
    if (top < 0 || !tr_tag_is(tr, top, "p")) tr->errors++;
    return tr_pop_until(tr, "p");
}

/* _close_element(name) */
static int tr_close_element(Tree *tr, const char *cname) {
    if (tr_implied_end(tr, cname)) return -1;
    Py_ssize_t top = tr_top(tr);
    if (top < 0 || !tr_tag_is(tr, top, cname)) tr->errors++;
    return tr_pop_until(tr, cname);
}

/* reconstruct_formatting (treebuilder.py, incl. the 12-entry rewind cap) */
static int tr_reconstruct(Tree *tr) {
    Py_ssize_t fn = PyList_GET_SIZE(tr->formatting);
    if (!fn) return 0;
    long last = tr_l(tr->formatting, fn - 1);
    if (last == -1 || tr_on_stack_capped(tr, last)) return 0;
    Py_ssize_t i = fn - 1;
    Py_ssize_t floor_ = i - 12 > 0 ? i - 12 : 0;
    for (;;) {
        if (i == floor_) break;
        i--;
        long entry = tr_l(tr->formatting, i);
        if (entry == -1 || tr_on_stack_capped(tr, entry)) { i++; break; }
    }
    while (i < PyList_GET_SIZE(tr->formatting)) {
        long entry = tr_l(tr->formatting, i);
        PyObject *tg = PyList_GET_ITEM(tr->tag, entry);
        PyObject *at = PyList_GET_ITEM(tr->attrs, entry);
        PyObject *ad = (at == Py_None) ? PyDict_New() : PyDict_Copy(at);
        if (!ad) return -1;
        Py_ssize_t nid = tr_insert_element(tr, tg, ad, 1);
        if (nid < 0) return -1;
        PyObject *v = PyLong_FromSsize_t(nid);
        if (!v) return -1;
        if (PyList_SetItem(tr->formatting, i, v)) return -1;
        i++;
    }
    return 0;
}

/* push_formatting with Noah's Ark (3 same tag+attrs since last marker) */
static int tr_push_formatting(Tree *tr, Py_ssize_t nid) {
    Py_ssize_t n = PyList_GET_SIZE(tr->formatting);
    int count = 0;
    for (Py_ssize_t i = n - 1; i >= 0; i--) {
        long fid = tr_l(tr->formatting, i);
        if (fid == -1) break;
        int teq = PyObject_RichCompareBool(
            PyList_GET_ITEM(tr->tag, fid), PyList_GET_ITEM(tr->tag, nid),
            Py_EQ);
        if (teq < 0) return -1;
        if (!teq) continue;
        int aeq = PyObject_RichCompareBool(
            PyList_GET_ITEM(tr->attrs, fid),
            PyList_GET_ITEM(tr->attrs, nid), Py_EQ);
        if (aeq < 0) return -1;
        if (!aeq) continue;
        if (++count == 3) {
            /* list.remove(fid): node ids unique -> same element */
            if (PyList_SetSlice(tr->formatting, i, i + 1, NULL)) return -1;
            break;
        }
    }
    PyObject *v = PyLong_FromSsize_t(nid);
    if (!v) return -1;
    int r = PyList_Append(tr->formatting, v);
    Py_DECREF(v);
    return r;
}

/* insert_char (non-foster): merge with a trailing sibling of same kind */
static int tr_insert_char(Tree *tr, PyObject *txt, long kind) {
    Py_ssize_t par = tr_top(tr);
    if (par < 0) par = 0;
    PyObject *sibs = PyList_GET_ITEM(tr->children, par);
    Py_ssize_t sn = PyList_GET_SIZE(sibs);
    if (sn && kind != K_CDATA) {
        Py_ssize_t last = (Py_ssize_t)tr_l(sibs, sn - 1);
        if (tr_l(tr->kind, last) == kind) {
            PyObject *old = PyList_GET_ITEM(tr->text, last);
            if (old == Py_None) old = S_empty;
            PyObject *merged = PyUnicode_Concat(old, txt);
            if (!merged) return -1;
            if (PyList_SetItem(tr->text, last, merged)) return -1;
            return 0;
        }
    }
    Py_ssize_t nid = tr_new_node(tr, kind, NULL, NULL, txt);
    if (nid < 0) return -1;
    PyObject *v = PyLong_FromSsize_t(nid);
    if (!v) return -1;
    int r = PyList_Append(sibs, v);
    Py_DECREF(v);
    if (r) return -1;
    return tr_set_parent(tr, nid, par);
}

/* norm_attrs: pairs list -> dict with ASCII-lowered names, first-dup-wins.
 * Returns new dict, or NULL+no-exception to request a bail (non-ASCII
 * name), or NULL+exception on real error. */
static PyObject *tr_norm_attrs(Tree *tr, PyObject *pairs) {
    PyObject *d = PyDict_New();
    if (!d) return NULL;
    Py_ssize_t n = PyList_GET_SIZE(pairs);
    char kbuf[128];
    for (Py_ssize_t i = 0; i < n; i++) {
        PyObject *pair = PyList_GET_ITEM(pairs, i);
        PyObject *k = PyTuple_GET_ITEM(pair, 0);
        PyObject *v = PyTuple_GET_ITEM(pair, 1);
        Py_ssize_t kl;
        int lr = tr_lower_name(k, kbuf, sizeof(kbuf), &kl);
        if (lr < 0) { Py_DECREF(d); return NULL; }
        if (lr > 0) { Py_DECREF(d); return NULL; } /* bail: no exception */
        if (kl == 0) continue;
        PyObject *lk = name_obj(kbuf, kl);
        if (!lk) { Py_DECREF(d); return NULL; }
        int has = PyDict_Contains(d, lk);
        if (has < 0) { Py_DECREF(lk); Py_DECREF(d); return NULL; }
        if (!has && PyDict_SetItem(d, lk, v)) {
            Py_DECREF(lk); Py_DECREF(d); return NULL;
        }
        Py_DECREF(lk);
    }
    return d;
}

/* _any_other_end_tag */
static int tr_any_other_end(Tree *tr, const char *cname) {
    Py_ssize_t n = PyList_GET_SIZE(tr->stack);
    for (Py_ssize_t i = n - 1; i >= 0; i--) {
        Py_ssize_t nid = (Py_ssize_t)tr_l(tr->stack, i);
        if (tr_tag_is(tr, nid, cname) && tr_l(tr->ns, nid) == 0) {
            if (tr_implied_end(tr, cname)) return TR_ERR;
            Py_ssize_t top = tr_top(tr);
            if (top < 0 || !tr_tag_is(tr, top, cname)) tr->errors++;
            while (PyList_GET_SIZE(tr->stack)) {
                Py_ssize_t popped = tr_pop(tr);
                if (popped < 0) return TR_ERR;
                if (popped == nid) break;
            }
            return TR_OK;
        }
        int f = tr_flags_obj(tr, PyList_GET_ITEM(tr->tag, nid));
        if (f & TF_SPECIAL) { tr->errors++; return TR_OK; }
    }
    return TR_OK;
}

/* text token in body-equivalent modes (_in_body_text) */
static int tr_body_text(Tree *tr, PyObject *txt) {
    PyObject *owned = NULL;
    if (tr->skip_lf) {
        tr->skip_lf = 0;
        Py_ssize_t l;
        const char *p = PyUnicode_AsUTF8AndSize(txt, &l);
        if (!p) return TR_ERR;
        if (l > 0 && p[0] == '\n') {
            if (l == 1) return TR_OK;
            owned = PyUnicode_Substring(txt, 1, PyUnicode_GET_LENGTH(txt));
            if (!owned) return TR_ERR;
            txt = owned;
        }
    }
    if (tr_reconstruct(tr)) { Py_XDECREF(owned); return TR_ERR; }
    long kind = K_TEXT;
    {
        PyObject *tt = tr_toptag(tr);
        if (tt && tt != Py_None) {
            Py_ssize_t l;
            const char *p = PyUnicode_AsUTF8AndSize(tt, &l);
            if (p && (strcmp(p, "script") == 0 || strcmp(p, "style") == 0))
                kind = K_DATA;
            if (!p) PyErr_Clear();
        }
    }
    if (tr_insert_char(tr, txt, kind)) { Py_XDECREF(owned); return TR_ERR; }
    if (tr->frameset_ok) {
        Py_ssize_t l;
        const char *p = PyUnicode_AsUTF8AndSize(txt, &l);
        if (!p) { Py_XDECREF(owned); return TR_ERR; }
        for (Py_ssize_t i = 0; i < l; i++) {
            char c = p[i];
            if (c != ' ' && c != '\t' && c != '\n' && c != '\f' &&
                c != '\r') { tr->frameset_ok = 0; break; }
        }
    }
    Py_XDECREF(owned);
    return TR_OK;
}

/* text token in TEXT mode (_text) */
static int tr_text_mode_text(Tree *tr, PyObject *txt) {
    long kind = K_TEXT;
    PyObject *tt = tr_toptag(tr);
    if (tt && tt != Py_None) {
        Py_ssize_t l;
        const char *p = PyUnicode_AsUTF8AndSize(tt, &l);
        if (p && (strcmp(p, "script") == 0 || strcmp(p, "style") == 0 ||
                  strcmp(p, "iframe") == 0 || strcmp(p, "noembed") == 0 ||
                  strcmp(p, "noframes") == 0 || strcmp(p, "xmp") == 0))
            kind = K_DATA;
        if (!p) PyErr_Clear();
    }
    PyObject *owned = NULL;
    if (tr->skip_lf) {
        tr->skip_lf = 0;
        Py_ssize_t l;
        const char *p = PyUnicode_AsUTF8AndSize(txt, &l);
        if (!p) return TR_ERR;
        if (l > 0 && p[0] == '\n') {
            if (l == 1) return TR_OK;
            owned = PyUnicode_Substring(txt, 1, PyUnicode_GET_LENGTH(txt));
            if (!owned) return TR_ERR;
            txt = owned;
        }
    }
    int r = tr_insert_char(tr, txt, kind);
    Py_XDECREF(owned);
    return r ? TR_ERR : TR_OK;
}

/* first ELEMENT child of the document node (Doc.html_el), or -1 */
static Py_ssize_t tr_html_el(Tree *tr) {
    PyObject *kids = PyList_GET_ITEM(tr->children, 0);
    Py_ssize_t n = PyList_GET_SIZE(kids);
    for (Py_ssize_t i = 0; i < n; i++) {
        Py_ssize_t c = (Py_ssize_t)tr_l(kids, i);
        if (tr_l(tr->kind, c) == K_ELEM) return c;
    }
    return -1;
}

/* _in_body_start's html/body attribute merge: keys the element does not
 * have yet are added; ad is STOLEN */
static int tr_merge_into(Tree *tr, Py_ssize_t nid, PyObject *ad) {
    PyObject *a = PyList_GET_ITEM(tr->attrs, nid);
    int r = 0;
    if (!PyDict_Check(a)) {
        Py_INCREF(ad);
        r = PyList_SetItem(tr->attrs, nid, ad);
    } else {
        PyObject *k, *v;
        Py_ssize_t pos = 0;
        while (PyDict_Next(ad, &pos, &k, &v))
            if (!PyDict_SetDefault(a, k, v)) { r = -1; break; }
    }
    Py_DECREF(ad);
    return r;
}

/* <html> start in body and preamble modes (_in_body_start "html"); an
 * open template (on_stack) bails, conservatively by the pushed latch */
static int tr_start_html(Tree *tr, PyObject *pairs) {
    int ht = tr_pushed_has(tr, "template");
    if (ht < 0) return TR_ERR;
    if (ht) return TR_BAIL;
    PyObject *ad = tr_norm_attrs(tr, pairs);
    if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
    tr->errors++;
    Py_ssize_t root = tr_html_el(tr);
    if (root < 0) { Py_DECREF(ad); return TR_OK; }
    return tr_merge_into(tr, root, ad) ? TR_ERR : TR_OK;
}

/* <body> start in body modes (_in_body_start "body"); Doc.body()'s
 * find_first fallback (no body/frameset under <html>) bails */
static int tr_start_body(Tree *tr, PyObject *pairs) {
    Py_ssize_t h = tr_html_el(tr), b = -1;
    if (h >= 0) {
        PyObject *kids = PyList_GET_ITEM(tr->children, h);
        Py_ssize_t n = PyList_GET_SIZE(kids);
        for (Py_ssize_t i = 0; i < n && b < 0; i++) {
            Py_ssize_t c = (Py_ssize_t)tr_l(kids, i);
            if (tr_l(tr->kind, c) == K_ELEM &&
                (tr_tag_is(tr, c, "body") || tr_tag_is(tr, c, "frameset")))
                b = c;
        }
    }
    if (b < 0) return TR_BAIL;
    PyObject *ad = tr_norm_attrs(tr, pairs);
    if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
    tr->errors++;
    if (!tr_tag_is(tr, b, "body")) { Py_DECREF(ad); return TR_OK; }
    tr->frameset_ok = 0;
    return tr_merge_into(tr, b, ad) ? TR_ERR : TR_OK;
}

/* start tag in body-equivalent modes. cname: lowered ASCII name.
 * name_l: its interned object (borrowed via caller). */
static int tr_body_start(Tree *tr, const char *cname, PyObject *name_l,
                         PyObject *pairs, int selfclosing) {
    int f = tr_flags_c(tr, cname);
    if (selfclosing && !(f & TF_VOID)) return TR_BAIL;
    /* form-control association (insert_element/_empty -> _link_form_control)
     * is Python-side bookkeeping: any listed control under an open form
     * bails, whatever branch would insert it */
    if (tr->form_id != -1 && (f & TF_FORM_LISTED)) return TR_BAIL;
    if (!(f & TF_INBODY_SPECIAL)) { /* generic fast path */
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        if (tr_reconstruct(tr)) { Py_DECREF(ad); return TR_ERR; }
        if (tr_insert_element(tr, name_l, ad, 1) < 0) return TR_ERR;
        return TR_OK;
    }
    if (f & TF_FORMATTING) {
        if (strcmp(cname, "a") == 0 && tr_last_formatting(tr, "a") != -1)
            return TR_BAIL;
        if (strcmp(cname, "nobr") == 0) {
            int sc = tr_in_scope_name(tr, "nobr", TF_SCOPE_BASE);
            if (sc < 0) return TR_ERR;
            if (sc) return TR_BAIL;
        }
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        if (tr_reconstruct(tr)) { Py_DECREF(ad); return TR_ERR; }
        Py_ssize_t el = tr_insert_element(tr, name_l, ad, 1);
        if (el < 0) return TR_ERR;
        if (tr_push_formatting(tr, el)) return TR_ERR;
        return TR_OK;
    }
    if ((f & TF_P_CLOSER) && strcmp(cname, "pre") != 0 &&
        strcmp(cname, "listing") != 0 && strcmp(cname, "xmp") != 0) {
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        int bs = tr_in_scope_name(tr, "p", TF_BUTTON_BOUND);
        if (bs < 0) { Py_DECREF(ad); return TR_ERR; }
        if (bs && tr_close_p(tr)) { Py_DECREF(ad); return TR_ERR; }
        if (tr_insert_element(tr, name_l, ad, 1) < 0) return TR_ERR;
        return TR_OK;
    }
    if (f & TF_HEADING) {
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        int bs = tr_in_scope_name(tr, "p", TF_BUTTON_BOUND);
        if (bs < 0) { Py_DECREF(ad); return TR_ERR; }
        if (bs && tr_close_p(tr)) { Py_DECREF(ad); return TR_ERR; }
        PyObject *tt = tr_toptag(tr);
        if (tt && tt != Py_None &&
            (tr_flags_obj(tr, tt) & TF_HEADING)) {
            tr->errors++;
            if (tr_pop(tr) < 0) { Py_DECREF(ad); return TR_ERR; }
        }
        if (tr_insert_element(tr, name_l, ad, 1) < 0) return TR_ERR;
        return TR_OK;
    }
    if (strcmp(cname, "pre") == 0 || strcmp(cname, "listing") == 0) {
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        int bs = tr_in_scope_name(tr, "p", TF_BUTTON_BOUND);
        if (bs < 0) { Py_DECREF(ad); return TR_ERR; }
        if (bs && tr_close_p(tr)) { Py_DECREF(ad); return TR_ERR; }
        if (tr_insert_element(tr, name_l, ad, 1) < 0) return TR_ERR;
        tr->skip_lf = 1;
        tr->frameset_ok = 0;
        return TR_OK;
    }
    if (strcmp(cname, "li") == 0) {
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        tr->frameset_ok = 0;
        Py_ssize_t n = PyList_GET_SIZE(tr->stack);
        for (Py_ssize_t i = n - 1; i >= 0; i--) {
            if (n - 1 - i > 256) break; /* MAX_QUEUE_DEPTH */
            Py_ssize_t nid = (Py_ssize_t)tr_l(tr->stack, i);
            PyObject *tg = PyList_GET_ITEM(tr->tag, nid);
            if (tr_tag_is(tr, nid, "li")) {
                if (tr_close_element(tr, "li")) { Py_DECREF(ad); return TR_ERR; }
                break;
            }
            int tf = tr_flags_obj(tr, tg);
            if ((tf & TF_SPECIAL) && !tr_tag_is(tr, nid, "address") &&
                !tr_tag_is(tr, nid, "div") && !tr_tag_is(tr, nid, "p"))
                break;
        }
        int bs = tr_in_scope_name(tr, "p", TF_BUTTON_BOUND);
        if (bs < 0) { Py_DECREF(ad); return TR_ERR; }
        if (bs && tr_close_p(tr)) { Py_DECREF(ad); return TR_ERR; }
        if (tr_insert_element(tr, name_l, ad, 1) < 0) return TR_ERR;
        return TR_OK;
    }
    if (strcmp(cname, "dd") == 0 || strcmp(cname, "dt") == 0) {
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        tr->frameset_ok = 0;
        Py_ssize_t n = PyList_GET_SIZE(tr->stack);
        for (Py_ssize_t i = n - 1; i >= 0; i--) {
            if (n - 1 - i > 24) break; /* dd/dt scan cap */
            Py_ssize_t nid = (Py_ssize_t)tr_l(tr->stack, i);
            if (tr_tag_is(tr, nid, "dd")) {
                if (tr_close_element(tr, "dd")) { Py_DECREF(ad); return TR_ERR; }
                break;
            }
            if (tr_tag_is(tr, nid, "dt")) {
                if (tr_close_element(tr, "dt")) { Py_DECREF(ad); return TR_ERR; }
                break;
            }
            int tf = tr_flags_obj(tr, PyList_GET_ITEM(tr->tag, nid));
            if ((tf & TF_SPECIAL) && !tr_tag_is(tr, nid, "address") &&
                !tr_tag_is(tr, nid, "div") && !tr_tag_is(tr, nid, "p"))
                break;
        }
        int bs = tr_in_scope_name(tr, "p", TF_BUTTON_BOUND);
        if (bs < 0) { Py_DECREF(ad); return TR_ERR; }
        if (bs && tr_close_p(tr)) { Py_DECREF(ad); return TR_ERR; }
        if (tr_insert_element(tr, name_l, ad, 1) < 0) return TR_ERR;
        return TR_OK;
    }
    if (strcmp(cname, "hr") == 0) {
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        int bs = tr_in_scope_name(tr, "p", TF_BUTTON_BOUND);
        if (bs < 0) { Py_DECREF(ad); return TR_ERR; }
        if (bs && tr_close_p(tr)) { Py_DECREF(ad); return TR_ERR; }
        if (tr_insert_empty(tr, name_l, ad) < 0) return TR_ERR;
        tr->frameset_ok = 0;
        return TR_OK;
    }
    if (strcmp(cname, "area") == 0 || strcmp(cname, "br") == 0 ||
        strcmp(cname, "embed") == 0 || strcmp(cname, "img") == 0 ||
        strcmp(cname, "keygen") == 0 || strcmp(cname, "wbr") == 0) {
        if (tr->form_id != -1 && (f & TF_FORM_LISTED)) return TR_BAIL;
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        if (tr_reconstruct(tr)) { Py_DECREF(ad); return TR_ERR; }
        if (tr_insert_empty(tr, name_l, ad) < 0) return TR_ERR;
        tr->frameset_ok = 0;
        return TR_OK;
    }
    if (strcmp(cname, "input") == 0) {
        if (tr->form_id != -1) return TR_BAIL; /* form-control association */
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        if (tr_reconstruct(tr)) { Py_DECREF(ad); return TR_ERR; }
        /* read type before ad is stolen */
        int hidden = 0;
        {
            PyObject *tv = PyDict_GetItemString(ad, "type");
            if (tv && tv != Py_None) {
                Py_ssize_t l;
                const char *p = PyUnicode_AsUTF8AndSize(tv, &l);
                if (p) {
                    char low[16];
                    if (l < 16) {
                        for (Py_ssize_t i = 0; i < l; i++)
                            low[i] = lc(p[i]);
                        low[l] = 0;
                        hidden = strcmp(low, "hidden") == 0;
                    }
                } else PyErr_Clear();
            }
        }
        if (tr_insert_empty(tr, name_l, ad) < 0) return TR_ERR;
        if (!hidden) tr->frameset_ok = 0;
        return TR_OK;
    }
    if (strcmp(cname, "param") == 0 || strcmp(cname, "source") == 0 ||
        strcmp(cname, "track") == 0) {
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        if (tr_insert_empty(tr, name_l, ad) < 0) return TR_ERR;
        return TR_OK;
    }
    if (strcmp(cname, "option") == 0 || strcmp(cname, "optgroup") == 0) {
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        Py_ssize_t top = tr_top(tr);
        if (top >= 0 && tr_tag_is(tr, top, "option")) {
            if (tr_pop(tr) < 0) { Py_DECREF(ad); return TR_ERR; }
        }
        if (tr_reconstruct(tr)) { Py_DECREF(ad); return TR_ERR; }
        if (tr_insert_element(tr, name_l, ad, 1) < 0) return TR_ERR;
        return TR_OK;
    }
    if (strcmp(cname, "rp") == 0 || strcmp(cname, "rt") == 0) {
        int has = tr_in_scope_name(tr, "ruby", TF_SCOPE_BASE);
        if (has < 0) return TR_ERR;
        if (has) return TR_BAIL; /* implied-end + error bookkeeping */
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        if (tr_insert_element(tr, name_l, ad, 1) < 0) return TR_ERR;
        return TR_OK;
    }
    if (strcmp(cname, "button") == 0) {
        int sc = tr_in_scope_name(tr, "button", TF_SCOPE_BASE);
        if (sc < 0) return TR_ERR;
        if (sc) return TR_BAIL;
        if (tr->form_id != -1) return TR_BAIL; /* FORM_LISTED */
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        if (tr_reconstruct(tr)) { Py_DECREF(ad); return TR_ERR; }
        if (tr_insert_element(tr, name_l, ad, 1) < 0) return TR_ERR;
        tr->frameset_ok = 0;
        return TR_OK;
    }
    if (strcmp(cname, "applet") == 0 || strcmp(cname, "marquee") == 0 ||
        strcmp(cname, "object") == 0) {
        if (tr->form_id != -1 && (f & TF_FORM_LISTED)) return TR_BAIL;
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        if (tr_reconstruct(tr)) { Py_DECREF(ad); return TR_ERR; }
        if (tr_insert_element(tr, name_l, ad, 1) < 0) return TR_ERR;
        PyObject *m = PyLong_FromLong(-1);
        if (!m) return TR_ERR;
        int r = PyList_Append(tr->formatting, m);
        Py_DECREF(m);
        if (r) return TR_ERR;
        tr->frameset_ok = 0;
        return TR_OK;
    }
    if (strcmp(cname, "form") == 0) {
        int has_t = tr_pushed_has(tr, "template");
        if (has_t < 0) return TR_ERR;
        if (has_t || tr->form_id != -1) return TR_BAIL;
        PyObject *ad = tr_norm_attrs(tr, pairs);
        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
        int bs = tr_in_scope_name(tr, "p", TF_BUTTON_BOUND);
        if (bs < 0) { Py_DECREF(ad); return TR_ERR; }
        if (bs && tr_close_p(tr)) { Py_DECREF(ad); return TR_ERR; }
        Py_ssize_t el = tr_insert_element(tr, name_l, ad, 1);
        if (el < 0) return TR_ERR;
        tr->form_id = (long)el;
        return TR_OK;
    }
    if (strcmp(cname, "html") == 0) return tr_start_html(tr, pairs);
    if (strcmp(cname, "body") == 0) return tr_start_body(tr, pairs);
    return TR_BAIL;
}

/* end tag in body-equivalent modes (_in_body_end) */
static int tr_body_end(Tree *tr, const char *cname) {
    int f = tr_flags_c(tr, cname);
    if (f & TF_FORMATTING) {
        /* adoption agency (_adoption_agency): the fast path, the
         * no-formatting-entry path, and the common no-furthest-block
         * iteration; the clone dance bails to Python untouched */
        Py_ssize_t cur = tr_top(tr);
        if (cur >= 0 && tr_tag_is(tr, cur, cname) &&
            !tr_in_formatting(tr, (long)cur)) {
            if (tr_implied_end(tr, cname)) return TR_ERR;
            if (tr_pop_until(tr, cname)) return TR_ERR;
            return TR_OK;
        }
        long fmt = tr_last_formatting(tr, cname);
        if (fmt == -1)
            return tr_any_other_end(tr, cname);
        if (!tr_on_stack_capped(tr, fmt)) {
            /* capped scan: a deeper hit would mean >256 frames above the
             * formatting element — defer to Python's uncapped .index() */
            Py_ssize_t sn = PyList_GET_SIZE(tr->stack);
            if (sn > 256) return TR_BAIL;
            tr->errors++;
            /* remove_formatting(fmt) */
            Py_ssize_t fn = PyList_GET_SIZE(tr->formatting);
            for (Py_ssize_t i = 0; i < fn; i++)
                if (tr_l(tr->formatting, i) == fmt) {
                    if (PyList_SetSlice(tr->formatting, i, i + 1, NULL))
                        return TR_ERR;
                    break;
                }
            return TR_OK;
        }
        {
            int sc = tr_in_scope_name(tr, cname, TF_SCOPE_BASE);
            if (sc < 0) return TR_ERR;
            if (!sc) { tr->errors++; return TR_OK; }
        }
        /* find fmt's stack index (uncapped, mirrors stack.index) */
        Py_ssize_t sn = PyList_GET_SIZE(tr->stack);
        Py_ssize_t stack_idx = -1;
        for (Py_ssize_t i = 0; i < sn; i++)
            if (tr_l(tr->stack, i) == fmt) { stack_idx = i; break; }
        if (stack_idx < 0) return TR_BAIL; /* unreachable; be safe */
        /* furthest block: first SPECIAL above fmt (scan cap 64) */
        Py_ssize_t lim = stack_idx + 1 + 64;
        if (lim > sn) lim = sn;
        for (Py_ssize_t i = stack_idx + 1; i < lim; i++) {
            Py_ssize_t nid = (Py_ssize_t)tr_l(tr->stack, i);
            int nf = tr_flags_obj(tr, PyList_GET_ITEM(tr->tag, nid));
            if (nf & TF_SPECIAL) return TR_BAIL; /* clone dance: Python */
        }
        /* no furthest block: error if fmt != current, then pop through
         * fmt and drop its formatting entry */
        if ((long)tr_top(tr) != fmt) tr->errors++;
        if (PyList_SetSlice(tr->stack, stack_idx, sn, NULL)) return TR_ERR;
        Py_ssize_t fn = PyList_GET_SIZE(tr->formatting);
        for (Py_ssize_t i = 0; i < fn; i++)
            if (tr_l(tr->formatting, i) == fmt) {
                if (PyList_SetSlice(tr->formatting, i, i + 1, NULL))
                    return TR_ERR;
                break;
            }
        return TR_OK;
    }
    if ((strcmp(cname, "body") == 0 || strcmp(cname, "html") == 0) &&
        tr->mode == M_IN_BODY) {
        /* </body> and </html> (_in_body_end): both leave for AfterBody;
         * </html> is then processed again there */
        int sc = tr_in_scope_name(tr, "body", TF_SCOPE_BASE);
        if (sc < 0) return TR_ERR;
        if (!sc) { tr->errors++; return TR_OK; }
        tr->mode = M_AFTER_BODY;
        return cname[0] == 'h' ? TR_REDISPATCH : TR_OK;
    }
    if (strcmp(cname, "body") == 0 || strcmp(cname, "html") == 0 ||
        strcmp(cname, "template") == 0 || strcmp(cname, "form") == 0)
        return TR_BAIL;
    if (strcmp(cname, "p") == 0) {
        int bs = tr_in_scope_name(tr, "p", TF_BUTTON_BOUND);
        if (bs < 0) return TR_ERR;
        if (!bs) return TR_BAIL; /* error + synthesized <p> path */
        if (tr_close_p(tr)) return TR_ERR;
        return TR_OK;
    }
    if (((f & TF_P_CLOSER) && strcmp(cname, "p") != 0) ||
        strcmp(cname, "button") == 0 || strcmp(cname, "fieldset") == 0) {
        int sc = tr_in_scope_name(tr, cname, TF_SCOPE_BASE);
        if (sc < 0) return TR_ERR;
        if (!sc) { tr->errors++; return TR_OK; }
        if (tr_implied_end(tr, NULL)) return TR_ERR;
        Py_ssize_t top = tr_top(tr);
        if (top < 0 || !tr_tag_is(tr, top, cname)) tr->errors++;
        if (tr_pop_until(tr, cname)) return TR_ERR;
        return TR_OK;
    }
    if (strcmp(cname, "li") == 0) {
        int sc = tr_in_scope_name(tr, "li", TF_LIST_BOUND);
        if (sc < 0) return TR_ERR;
        if (!sc) { tr->errors++; return TR_OK; }
        if (tr_close_element(tr, "li")) return TR_ERR;
        return TR_OK;
    }
    if (strcmp(cname, "dd") == 0 || strcmp(cname, "dt") == 0) {
        int sc = tr_in_scope_name(tr, cname, TF_SCOPE_BASE);
        if (sc < 0) return TR_ERR;
        if (!sc) { tr->errors++; return TR_OK; }
        if (tr_close_element(tr, cname)) return TR_ERR;
        return TR_OK;
    }
    if (f & TF_HEADING) {
        int sc = tr_in_scope_mask(tr, TF_HEADING, TF_SCOPE_BASE);
        if (sc < 0) return TR_ERR;
        if (!sc) { tr->errors++; return TR_OK; }
        if (tr_implied_end(tr, cname)) return TR_ERR;
        Py_ssize_t top = tr_top(tr);
        if (top < 0 || !tr_tag_is(tr, top, cname)) tr->errors++;
        while (PyList_GET_SIZE(tr->stack)) {
            Py_ssize_t nid = tr_pop(tr);
            if (nid < 0) return TR_ERR;
            int nf = tr_flags_obj(tr, PyList_GET_ITEM(tr->tag, nid));
            if (nf & TF_HEADING) break;
        }
        return TR_OK;
    }
    if (strcmp(cname, "applet") == 0 || strcmp(cname, "marquee") == 0 ||
        strcmp(cname, "object") == 0) {
        int sc = tr_in_scope_name(tr, cname, TF_SCOPE_BASE);
        if (sc < 0) return TR_ERR;
        if (!sc) { tr->errors++; return TR_OK; }
        if (tr_implied_end(tr, NULL)) return TR_ERR;
        Py_ssize_t top = tr_top(tr);
        if (top < 0 || !tr_tag_is(tr, top, cname)) tr->errors++;
        if (tr_pop_until(tr, cname)) return TR_ERR;
        /* clear_formatting_to_marker */
        while (PyList_GET_SIZE(tr->formatting)) {
            Py_ssize_t fn = PyList_GET_SIZE(tr->formatting);
            long fid = tr_l(tr->formatting, fn - 1);
            if (PyList_SetSlice(tr->formatting, fn - 1, fn, NULL))
                return TR_ERR;
            if (fid == -1) break;
        }
        return TR_OK;
    }
    if (strcmp(cname, "br") == 0) {
        tr->errors++;
        if (tr_reconstruct(tr)) return TR_ERR;
        PyObject *nm = name_obj("br", 2);
        if (!nm) return TR_ERR;
        PyObject *ad = PyDict_New();
        if (!ad) { Py_DECREF(nm); return TR_ERR; }
        Py_ssize_t r = tr_insert_empty(tr, nm, ad);
        Py_DECREF(nm);
        if (r < 0) return TR_ERR;
        tr->frameset_ok = 0;
        return TR_OK;
    }
    return tr_any_other_end(tr, cname);
}


/* in_table_scope: name match (HTML ns) bounded by html/table/template */
static int tr_in_table_scope(Tree *tr, const char *cname) {
    int has = tr_pushed_has(tr, cname);
    if (has < 0) return -1;
    if (!has) return 0;
    Py_ssize_t n = PyList_GET_SIZE(tr->stack);
    Py_ssize_t lo = n > 101 ? n - 101 : 0;
    for (Py_ssize_t i = n - 1; i >= lo; i--) {
        Py_ssize_t nid = (Py_ssize_t)tr_l(tr->stack, i);
        if (tr_l(tr->ns, nid) == 0 && tr_tag_is(tr, nid, cname)) return 1;
        if (tr_tag_is(tr, nid, "html") || tr_tag_is(tr, nid, "table") ||
            tr_tag_is(tr, nid, "template"))
            return 0;
    }
    return 0;
}

/* pop_until_before(names...): pop while top tag not among the 2-3 names */
static int tr_clear_to(Tree *tr, const char *a, const char *b,
                       const char *c) {
    while (PyList_GET_SIZE(tr->stack)) {
        Py_ssize_t top = tr_top(tr);
        if (tr_tag_is(tr, top, a) || (b && tr_tag_is(tr, top, b)) ||
            (c && tr_tag_is(tr, top, c)) || tr_tag_is(tr, top, "html") ||
            tr_tag_is(tr, top, "template"))
            return 0;
        if (tr_pop(tr) < 0) return -1;
    }
    return 0;
}

static int tr_clear_formatting_to_marker(Tree *tr) {
    while (PyList_GET_SIZE(tr->formatting)) {
        Py_ssize_t fn = PyList_GET_SIZE(tr->formatting);
        long fid = tr_l(tr->formatting, fn - 1);
        if (PyList_SetSlice(tr->formatting, fn - 1, fn, NULL)) return -1;
        if (fid == -1) break;
    }
    return 0;
}

static int tr_append_marker(Tree *tr) {
    PyObject *m = PyLong_FromLong(-1);
    if (!m) return -1;
    int r = PyList_Append(tr->formatting, m);
    Py_DECREF(m);
    return r;
}

/* _close_cell */
static int tr_close_cell(Tree *tr) {
    int is_td = tr_in_table_scope(tr, "td");
    if (is_td < 0) return -1;
    const char *nm = is_td ? "td" : "th";
    if (tr_implied_end(tr, NULL)) return -1;
    Py_ssize_t top = tr_top(tr);
    if (top < 0 || !tr_tag_is(tr, top, nm)) tr->errors++;
    if (tr_pop_until(tr, nm)) return -1;
    if (tr_clear_formatting_to_marker(tr)) return -1;
    tr->mode = M_IN_ROW;
    return 0;
}

static int tree_handle(Tree *tr, PyObject *tok); /* fwd */

/* IN_TABLE "anything else" fall-through shared by body/row modes.
 * Returns TR_OK / TR_BAIL / TR_ERR; TR_REDISPATCH means the caller should
 * run tree_handle again on the same token (Python reprocess). */

static int tr_in_table(Tree *tr, PyObject *tok) {
    PyObject *k = PyTuple_GET_ITEM(tok, 0);
    if (k == S_text) {
        Py_ssize_t cur = tr_top(tr);
        if (cur < 0) cur = 0;
        if (tr_tag_is(tr, cur, "table") || tr_tag_is(tr, cur, "tbody") ||
            tr_tag_is(tr, cur, "tfoot") || tr_tag_is(tr, cur, "thead") ||
            tr_tag_is(tr, cur, "tr")) {
            if (PyList_SetSlice(tr->pending, 0,
                                PyList_GET_SIZE(tr->pending), NULL))
                return TR_ERR;
            tr->original_mode = tr->mode;
            tr->mode = M_IN_TABLE_TEXT;
            if (PyList_Append(tr->pending, PyTuple_GET_ITEM(tok, 1)))
                return TR_ERR;
            return TR_OK;
        }
        return TR_BAIL; /* foster-parented text */
    }
    if (k == S_comment) {
        Py_ssize_t nid = tr_new_node(tr, K_COMMENT, NULL, NULL,
                                     PyTuple_GET_ITEM(tok, 1));
        if (nid < 0 || tr_attach(tr, nid)) return TR_ERR;
        return TR_OK;
    }
    if (k == S_doctype) { tr->errors++; return TR_OK; }
    if (k == S_start) {
        char cname[96];
        Py_ssize_t cl;
        int lr = tr_lower_name(PyTuple_GET_ITEM(tok, 1), cname,
                               sizeof(cname), &cl);
        if (lr < 0) return TR_ERR;
        if (lr > 0) return TR_BAIL;
        if (strcmp(cname, "tbody") == 0 || strcmp(cname, "tfoot") == 0 ||
            strcmp(cname, "thead") == 0) {
            PyObject *ad = tr_norm_attrs(tr, PyTuple_GET_ITEM(tok, 2));
            if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
            if (tr_clear_to(tr, "table", NULL, NULL)) { Py_DECREF(ad); return TR_ERR; }
            PyObject *nm = name_obj(cname, cl);
            if (!nm) { Py_DECREF(ad); return TR_ERR; }
            Py_ssize_t r = tr_insert_element(tr, nm, ad, 1);
            Py_DECREF(nm);
            if (r < 0) return TR_ERR;
            tr->mode = M_IN_TABLE_BODY;
            return TR_OK;
        }
        if (strcmp(cname, "td") == 0 || strcmp(cname, "th") == 0 ||
            strcmp(cname, "tr") == 0) {
            if (tr_clear_to(tr, "table", NULL, NULL)) return TR_ERR;
            PyObject *nm = name_obj("tbody", 5);
            if (!nm) return TR_ERR;
            PyObject *ad = PyDict_New();
            if (!ad) { Py_DECREF(nm); return TR_ERR; }
            Py_ssize_t r = tr_insert_element(tr, nm, ad, 1);
            Py_DECREF(nm);
            if (r < 0) return TR_ERR;
            tr->mode = M_IN_TABLE_BODY;
            return TR_REDISPATCH;
        }
        return TR_BAIL; /* caption/colgroup/col/table/script/input/form/… */
    }
    if (k == S_end) {
        char cname[96];
        Py_ssize_t cl;
        int lr = tr_lower_name(PyTuple_GET_ITEM(tok, 1), cname,
                               sizeof(cname), &cl);
        if (lr < 0) return TR_ERR;
        if (lr > 0) return TR_BAIL;
        if (strcmp(cname, "table") == 0 || strcmp(cname, "template") == 0)
            return TR_BAIL; /* reset_insertion_mode / template */
        if (strcmp(cname, "body") == 0 || strcmp(cname, "caption") == 0 ||
            strcmp(cname, "col") == 0 || strcmp(cname, "colgroup") == 0 ||
            strcmp(cname, "html") == 0 || strcmp(cname, "tbody") == 0 ||
            strcmp(cname, "td") == 0 || strcmp(cname, "tfoot") == 0 ||
            strcmp(cname, "th") == 0 || strcmp(cname, "thead") == 0 ||
            strcmp(cname, "tr") == 0) {
            tr->errors++;
            return TR_OK;
        }
        return TR_BAIL; /* foster-parented InBody end handling */
    }
    return TR_BAIL; /* eof */
}

/* _table_body_exit / _row_exit shared shape */
static int tr_table_body_exit(Tree *tr) {
    int a = tr_in_table_scope(tr, "tbody");
    if (a < 0) return TR_ERR;
    int b = a ? 1 : tr_in_table_scope(tr, "thead");
    if (b < 0) return TR_ERR;
    int c = b ? 1 : tr_in_table_scope(tr, "tfoot");
    if (c < 0) return TR_ERR;
    if (!c) { tr->errors++; return TR_OK; }
    if (tr_clear_to(tr, "tbody", "tfoot", "thead")) return TR_ERR;
    if (tr_pop(tr) < 0) return TR_ERR;
    tr->mode = M_IN_TABLE;
    return TR_REDISPATCH;
}

static int tr_row_exit(Tree *tr) {
    int sc = tr_in_table_scope(tr, "tr");
    if (sc < 0) return TR_ERR;
    if (!sc) { tr->errors++; return TR_OK; }
    if (tr_clear_to(tr, "tr", NULL, NULL)) return TR_ERR;
    if (tr_pop(tr) < 0) return TR_ERR;
    tr->mode = M_IN_TABLE_BODY;
    return TR_REDISPATCH;
}

/* ---- document preamble and postamble --------------------------------
 * Initial, BeforeHtml, BeforeHead, InHead, AfterHead, AfterBody and
 * AfterAfterBody (treebuilder.py _initial .. _after_after_body) for the
 * tokens a typical page carries: doctype, whitespace, comments, html/head/
 * body scaffolding, title/style/noframes/script in head, base/meta/link.
 * Everything rarer bails before touching the tree: a doctype that selects
 * (limited) quirks, head text with leading whitespace, noscript, template,
 * frameset, head elements after </head>, cdata. */

#define K_DOCTYPE 6

static PyObject *S_title, *S_style, *S_noframes, *S_html, *S_head, *S_body,
    *S_href;

/* 1 when txt has no leading HTML whitespace char (_WS), else 0; *all is 1
 * when every char is whitespace */
static int tr_ws(PyObject *txt, int *all) {
    Py_ssize_t l;
    const char *p = PyUnicode_AsUTF8AndSize(txt, &l);
    if (!p) return -1;
    Py_ssize_t i = 0;
    while (i < l && (p[i] == ' ' || p[i] == '\t' || p[i] == '\n' ||
                     p[i] == '\f' || p[i] == '\r'))
        i++;
    *all = i == l;
    return i == 0;
}

static int tr_comment_to(Tree *tr, PyObject *data, Py_ssize_t par) {
    Py_ssize_t nid = tr_new_node(tr, K_COMMENT, NULL, NULL, data);
    if (nid < 0) return TR_ERR;
    if (par < 0) return tr_attach(tr, nid) ? TR_ERR : TR_OK;
    return tr_append_to(tr, par, nid) ? TR_ERR : TR_OK;
}

/* _append_char_to: merge into a trailing TEXT child of par, else append */
static int tr_text_to(Tree *tr, Py_ssize_t par, PyObject *txt) {
    PyObject *sibs = PyList_GET_ITEM(tr->children, par);
    Py_ssize_t sn = PyList_GET_SIZE(sibs);
    if (sn) {
        Py_ssize_t last = (Py_ssize_t)tr_l(sibs, sn - 1);
        if (tr_l(tr->kind, last) == K_TEXT) {
            PyObject *old = PyList_GET_ITEM(tr->text, last);
            PyObject *m = PyUnicode_Concat(old == Py_None ? S_empty : old,
                                           txt);
            if (!m || PyList_SetItem(tr->text, last, m)) return TR_ERR;
            return TR_OK;
        }
    }
    Py_ssize_t nid = tr_new_node(tr, K_TEXT, NULL, NULL, txt);
    if (nid < 0 || tr_append_to(tr, par, nid)) return TR_ERR;
    return TR_OK;
}

/* insert_char kind for a text token at the current node */
static long tr_char_kind(Tree *tr) {
    Py_ssize_t top = tr_top(tr);
    return top >= 0 && (tr_tag_is(tr, top, "script") ||
                        tr_tag_is(tr, top, "style")) ? K_DATA : K_TEXT;
}

/* _initial's doctype for a no-quirks one: name "html" (any case), no
 * public id, no force-quirks flag, and not the one IBM system id
 * _quirks_mode lists; any other doctype bails */
static int tr_doctype(Tree *tr, PyObject *tok) {
    PyObject *name = PyTuple_GET_ITEM(tok, 1), *pub = PyTuple_GET_ITEM(tok, 2),
             *sys = PyTuple_GET_ITEM(tok, 3);
    if (PyTuple_GET_ITEM(tok, 4) == Py_True || name == Py_None ||
        (pub != Py_None && PyUnicode_GET_LENGTH(pub)))
        return TR_BAIL;
    char low[8];
    Py_ssize_t ll;
    int lr = tr_lower_name(name, low, sizeof(low), &ll);
    if (lr < 0) return TR_ERR;
    if (lr > 0 || strcmp(low, "html") != 0) return TR_BAIL;
    if (sys != Py_None) {
        static const char ibm[] =
            "http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd";
        char sl[sizeof(ibm) + 1];
        Py_ssize_t sll;
        lr = tr_lower_name(sys, sl, sizeof(sl), &sll);
        if (lr < 0) return TR_ERR;
        if (lr == 0 && strcmp(sl, ibm) == 0) return TR_BAIL;
    }
    PyObject *ad = Py_BuildValue("{sOsOsO}", "name", name, "publicid",
                                 pub == Py_None ? S_empty : pub, "systemid",
                                 sys == Py_None ? S_empty : sys);
    if (!ad) return TR_ERR;
    Py_ssize_t nid = tr_new_node(tr, K_DOCTYPE, NULL, ad, name);
    Py_DECREF(ad);
    if (nid < 0 || tr_append_to(tr, 0, nid)) return TR_ERR;
    tr->quirks = 0;
    tr->mode = M_BEFORE_HTML;
    return TR_OK;
}

/* element under the document node, pushed (_before_html) */
static int tr_open_html(Tree *tr, PyObject *ad) {
    Py_ssize_t nid = tr_new_node(tr, K_ELEM, S_html, ad, NULL);
    Py_DECREF(ad);
    if (nid < 0 || tr_append_to(tr, 0, nid) || tr_push_stack(tr, nid) ||
        PySet_Add(tr->pushed, S_html))
        return TR_ERR;
    tr->mode = M_BEFORE_HEAD;
    return TR_OK;
}

/* insert_element(name, ad) with ad STOLEN; TR_OK / TR_ERR */
static int tr_open(Tree *tr, PyObject *name, PyObject *ad, long *nidp) {
    if (!ad) return TR_ERR;
    Py_ssize_t nid = tr_insert_element(tr, name, ad, 1);
    if (nid < 0) return TR_ERR;
    if (nidp) *nidp = (long)nid;
    return TR_OK;
}

/* _rcdata / _rawtext / in-head script: open the element, enter Text mode
 * and switch the run's tokenizer as the Python handler switches its own */
static int tr_open_text(Tree *tr, PyObject *name, PyObject *ad, int state,
                        const char *needle) {
    if (tr_open(tr, name, ad, NULL)) return TR_ERR;
    tr->original_mode = tr->mode;
    tr->mode = M_TEXT;
    Tok *t = tr->tok;
    t->state = state;
    t->rawtext_tag = name;
    t->needle = (char *)needle;
    t->nlen = (Py_ssize_t)strlen(needle);
    t->paused = 0;
    return TR_OK;
}

static int tr_preamble(Tree *tr, PyObject *tok, PyObject *k, long mode) {
    char cname[96] = "";
    Py_ssize_t cl;
    int all_ws = 0, bare = 0;
    PyObject *pairs = NULL;
    if (k == S_text) {
        bare = tr_ws(PyTuple_GET_ITEM(tok, 1), &all_ws);
        if (bare < 0) return TR_ERR;
    } else if (k == S_start || k == S_end) {
        int lr = tr_lower_name(PyTuple_GET_ITEM(tok, 1), cname,
                               sizeof(cname), &cl);
        if (lr < 0) return TR_ERR;
        if (lr > 0) return TR_BAIL;
        if (k == S_start) pairs = PyTuple_GET_ITEM(tok, 2);
    } else if (k == S_cdata) {
        return TR_BAIL;
    }
#define IS(x) (strcmp(cname, x) == 0)
    int start = k == S_start, end = k == S_end;
    /* an end tag these modes ignore with an error */
    int stray_end = end && !IS("head") && !IS("body") && !IS("html") &&
                    !IS("br");

    if (k == S_comment) {
        /* under the document before <html> and after </html>, under
         * <html> after </body>, else at the current node */
        Py_ssize_t par = -1;
        if (mode == M_INITIAL || mode == M_BEFORE_HTML ||
            mode == M_AFTER_AFTER_BODY) {
            par = 0;
        } else if (mode == M_AFTER_BODY) {
            par = tr_html_el(tr);
            if (par < 0) par = 0;
        }
        return tr_comment_to(tr, PyTuple_GET_ITEM(tok, 1), par);
    }
    if (k == S_doctype && mode == M_INITIAL) return tr_doctype(tr, tok);
    if (mode == M_INITIAL) {
        if (all_ws) return TR_OK;
        tr->quirks = 1;
        tr->mode = M_BEFORE_HTML;
        return TR_REDISPATCH;
    }
    if (mode == M_BEFORE_HTML) {
        if (k == S_doctype) { tr->errors++; return TR_OK; }
        if (all_ws) return TR_OK;
        if (start && IS("html")) {
            PyObject *ad = tr_norm_attrs(tr, pairs);
            if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
            return tr_open_html(tr, ad);
        }
        if (stray_end) { tr->errors++; return TR_OK; }
        PyObject *ad = PyDict_New();
        if (!ad || tr_open_html(tr, ad)) return TR_ERR;
        return TR_REDISPATCH;
    }
    if (k == S_doctype) { tr->errors++; return TR_OK; }
    if (start && IS("html")) return tr_start_html(tr, pairs);

    if (mode == M_BEFORE_HEAD) {
        if (all_ws) return TR_OK;
        if (start && IS("head")) {
            PyObject *ad = tr_norm_attrs(tr, pairs);
            if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
            if (tr_open(tr, S_head, ad, &tr->head_id)) return TR_ERR;
            tr->mode = M_IN_HEAD;
            return TR_OK;
        }
        if (stray_end) { tr->errors++; return TR_OK; }
        if (tr_open(tr, S_head, PyDict_New(), &tr->head_id)) return TR_ERR;
        tr->mode = M_IN_HEAD;
        return TR_REDISPATCH;
    }
    if (mode == M_IN_HEAD) {
        if (k == S_text) {
            if (all_ws)
                return tr_insert_char(tr, PyTuple_GET_ITEM(tok, 1),
                                      tr_char_kind(tr)) ? TR_ERR : TR_OK;
            if (!bare) return TR_BAIL; /* Python splits off the lead */
        } else if (start) {
            if (IS("noscript") || IS("template")) return TR_BAIL;
            if (IS("head")) { tr->errors++; return TR_OK; }
            int empty = IS("base") || IS("basefont") || IS("bgsound") ||
                        IS("command") || IS("link") || IS("meta");
            int rc = IS("title"), raw = IS("noframes") || IS("style");
            int scr = IS("script");
            if (empty || rc || raw || scr) {
                PyObject *ad = tr_norm_attrs(tr, pairs);
                if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
                if (rc) return tr_open_text(tr, S_title, ad, ST_RCDATA,
                                            "</title");
                if (scr) return tr_open_text(tr, S_script, ad, ST_SCRIPT,
                                             "</script");
                if (raw)
                    return IS("style")
                        ? tr_open_text(tr, S_style, ad, ST_RAWTEXT, "</style")
                        : tr_open_text(tr, S_noframes, ad, ST_RAWTEXT,
                                       "</noframes");
                if (IS("base") && !tr->base_latched) {
                    PyObject *href = PyDict_GetItemWithError(ad, S_href);
                    if (!href && PyErr_Occurred()) { Py_DECREF(ad); return TR_ERR; }
                    if (href && PyUnicode_Check(href) &&
                        PyUnicode_GET_LENGTH(href)) {
                        Py_INCREF(href);
                        Py_XSETREF(tr->base_uri, href);
                        tr->base_latched = 1;
                    }
                }
                PyObject *nm = name_obj(cname, cl);
                if (!nm) { Py_DECREF(ad); return TR_ERR; }
                Py_ssize_t r = tr_insert_empty(tr, nm, ad);
                Py_DECREF(nm);
                return r < 0 ? TR_ERR : TR_OK;
            }
        } else if (end) {
            if (IS("template")) return TR_BAIL;
            if (IS("head")) {
                if (tr_pop(tr) < 0) return TR_ERR;
                tr->mode = M_AFTER_HEAD;
                return TR_OK;
            }
            if (stray_end) { tr->errors++; return TR_OK; }
        }
        /* _in_head_anything_else */
        Py_ssize_t top = tr_top(tr);
        if (top >= 0 && tr_tag_is(tr, top, "head") && tr_pop(tr) < 0)
            return TR_ERR;
        tr->mode = M_AFTER_HEAD;
        return TR_REDISPATCH;
    }
    if (mode == M_AFTER_HEAD) {
        if (k == S_text) {
            if (all_ws)
                return tr_insert_char(tr, PyTuple_GET_ITEM(tok, 1),
                                      tr_char_kind(tr)) ? TR_ERR : TR_OK;
            if (!bare) return TR_BAIL; /* Python splits off the lead */
        } else if (start) {
            if (IS("body")) {
                PyObject *ad = tr_norm_attrs(tr, pairs);
                if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
                if (tr_open(tr, S_body, ad, NULL)) return TR_ERR;
                tr->frameset_ok = 0;
                tr->mode = M_IN_BODY;
                return TR_OK;
            }
            if (IS("head")) { tr->errors++; return TR_OK; }
            if (IS("frameset") || IS("base") || IS("basefont") ||
                IS("bgsound") || IS("link") || IS("meta") || IS("noframes") ||
                IS("script") || IS("style") || IS("template") || IS("title"))
                return TR_BAIL;
        } else if (end) {
            if (IS("template")) return TR_BAIL;
            if (!IS("body") && !IS("html") && !IS("br")) {
                tr->errors++;
                return TR_OK;
            }
        }
        if (tr_open(tr, S_body, PyDict_New(), NULL)) return TR_ERR;
        tr->frameset_ok = 1;
        tr->mode = M_IN_BODY;
        return TR_REDISPATCH;
    }
    /* AfterBody / AfterAfterBody */
    if (all_ws) {
        Py_ssize_t par = 0;
        if (mode == M_AFTER_BODY) {
            par = tr_html_el(tr);
            if (par < 0) return TR_BAIL;
        }
        return tr_text_to(tr, par, PyTuple_GET_ITEM(tok, 1));
    }
    if (k == S_eof) return TR_OK;
    if (end && IS("html") && mode == M_AFTER_BODY) {
        tr->mode = M_AFTER_AFTER_BODY;
        return TR_OK;
    }
    tr->errors++;
    tr->mode = M_IN_BODY;
    return TR_REDISPATCH;
#undef IS
}

/* one token: TR_OK handled, TR_BAIL return to Python, TR_ERR exception */
static int tree_handle_once(Tree *tr, PyObject *tok) {
    PyObject *k = PyTuple_GET_ITEM(tok, 0);
    long mode = tr->mode;
    if (mode == M_INITIAL || mode == M_BEFORE_HTML || mode == M_BEFORE_HEAD ||
        mode == M_IN_HEAD || mode == M_AFTER_HEAD || mode == M_AFTER_BODY ||
        mode == M_AFTER_AFTER_BODY)
        return tr_preamble(tr, tok, k, mode);
    if (mode == M_TEXT) {
        if (k == S_text) return tr_text_mode_text(tr, PyTuple_GET_ITEM(tok, 1));
        if (k == S_end) {
            if (tr_pop(tr) < 0) return TR_ERR;
            tr->mode = tr->original_mode;
            return TR_OK;
        }
        return TR_BAIL; /* eof */
    }
    if (mode == M_IN_TABLE_TEXT) {
        if (k == S_text) {
            if (PyList_Append(tr->pending, PyTuple_GET_ITEM(tok, 1)))
                return TR_ERR;
            return TR_OK;
        }
        /* flush (_in_table_text): the all-whitespace case inserts here;
         * non-ws needs foster parenting -> bail with pending + mode intact
         * so Python's IN_TABLE_TEXT handler runs the identical flush */
        Py_ssize_t np = PyList_GET_SIZE(tr->pending);
        Py_ssize_t total = 0;
        for (Py_ssize_t i = 0; i < np; i++) {
            PyObject *t = PyList_GET_ITEM(tr->pending, i);
            Py_ssize_t l;
            const char *p = PyUnicode_AsUTF8AndSize(t, &l);
            if (!p) return TR_ERR;
            for (Py_ssize_t j = 0; j < l; j++) {
                char c = p[j];
                if (c != ' ' && c != '\t' && c != '\n' && c != '\f' &&
                    c != '\r')
                    return TR_BAIL; /* non-ws flush: Python path */
            }
            total += l;
        }
        if (total) {
            PyObject *joined;
            if (np == 1) {
                joined = PyList_GET_ITEM(tr->pending, 0);
                Py_INCREF(joined);
            } else {
                joined = PyUnicode_Join(S_empty, tr->pending);
                if (!joined) return TR_ERR;
            }
            int r = tr_insert_char(tr, joined, K_TEXT);
            Py_DECREF(joined);
            if (r) return TR_ERR;
        }
        if (PyList_SetSlice(tr->pending, 0, np, NULL)) return TR_ERR;
        tr->mode = tr->original_mode;
        return TR_REDISPATCH;
    }
    if (mode == M_IN_TABLE || mode == M_IN_TABLE_BODY || mode == M_IN_ROW) {
        if (k == S_start || k == S_end) {
            char cname[96];
            Py_ssize_t cl;
            int lr = tr_lower_name(PyTuple_GET_ITEM(tok, 1), cname,
                                   sizeof(cname), &cl);
            if (lr < 0) return TR_ERR;
            if (lr > 0) return TR_BAIL;
            if (mode == M_IN_TABLE_BODY) {
                if (k == S_start) {
                    if (strcmp(cname, "tr") == 0) {
                        PyObject *ad = tr_norm_attrs(tr,
                                                     PyTuple_GET_ITEM(tok, 2));
                        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
                        if (tr_clear_to(tr, "tbody", "tfoot", "thead")) {
                            Py_DECREF(ad); return TR_ERR;
                        }
                        PyObject *nm = name_obj("tr", 2);
                        if (!nm) { Py_DECREF(ad); return TR_ERR; }
                        Py_ssize_t r = tr_insert_element(tr, nm, ad, 1);
                        Py_DECREF(nm);
                        if (r < 0) return TR_ERR;
                        tr->mode = M_IN_ROW;
                        return TR_OK;
                    }
                    if (strcmp(cname, "td") == 0 ||
                        strcmp(cname, "th") == 0) {
                        tr->errors++;
                        if (tr_clear_to(tr, "tbody", "tfoot", "thead"))
                            return TR_ERR;
                        PyObject *nm = name_obj("tr", 2);
                        if (!nm) return TR_ERR;
                        PyObject *ad = PyDict_New();
                        if (!ad) { Py_DECREF(nm); return TR_ERR; }
                        Py_ssize_t r = tr_insert_element(tr, nm, ad, 1);
                        Py_DECREF(nm);
                        if (r < 0) return TR_ERR;
                        tr->mode = M_IN_ROW;
                        return TR_REDISPATCH;
                    }
                    if (strcmp(cname, "caption") == 0 ||
                        strcmp(cname, "col") == 0 ||
                        strcmp(cname, "colgroup") == 0 ||
                        strcmp(cname, "tbody") == 0 ||
                        strcmp(cname, "tfoot") == 0 ||
                        strcmp(cname, "thead") == 0)
                        return tr_table_body_exit(tr);
                } else {
                    if (strcmp(cname, "tbody") == 0 ||
                        strcmp(cname, "tfoot") == 0 ||
                        strcmp(cname, "thead") == 0) {
                        int sc = tr_in_table_scope(tr, cname);
                        if (sc < 0) return TR_ERR;
                        if (!sc) { tr->errors++; return TR_OK; }
                        if (tr_clear_to(tr, "tbody", "tfoot", "thead"))
                            return TR_ERR;
                        if (tr_pop(tr) < 0) return TR_ERR;
                        tr->mode = M_IN_TABLE;
                        return TR_OK;
                    }
                    if (strcmp(cname, "table") == 0)
                        return tr_table_body_exit(tr);
                    if (strcmp(cname, "body") == 0 ||
                        strcmp(cname, "caption") == 0 ||
                        strcmp(cname, "col") == 0 ||
                        strcmp(cname, "colgroup") == 0 ||
                        strcmp(cname, "html") == 0 ||
                        strcmp(cname, "td") == 0 ||
                        strcmp(cname, "th") == 0 ||
                        strcmp(cname, "tr") == 0) {
                        tr->errors++;
                        return TR_OK;
                    }
                }
            } else if (mode == M_IN_ROW) {
                if (k == S_start) {
                    if (strcmp(cname, "td") == 0 ||
                        strcmp(cname, "th") == 0) {
                        PyObject *ad = tr_norm_attrs(tr,
                                                     PyTuple_GET_ITEM(tok, 2));
                        if (!ad) return PyErr_Occurred() ? TR_ERR : TR_BAIL;
                        if (tr_clear_to(tr, "tr", NULL, NULL)) {
                            Py_DECREF(ad); return TR_ERR;
                        }
                        PyObject *nm = name_obj(cname, cl);
                        if (!nm) { Py_DECREF(ad); return TR_ERR; }
                        Py_ssize_t r = tr_insert_element(tr, nm, ad, 1);
                        Py_DECREF(nm);
                        if (r < 0) return TR_ERR;
                        tr->mode = M_IN_CELL;
                        if (tr_append_marker(tr)) return TR_ERR;
                        return TR_OK;
                    }
                    if (strcmp(cname, "caption") == 0 ||
                        strcmp(cname, "col") == 0 ||
                        strcmp(cname, "colgroup") == 0 ||
                        strcmp(cname, "tbody") == 0 ||
                        strcmp(cname, "tfoot") == 0 ||
                        strcmp(cname, "thead") == 0 ||
                        strcmp(cname, "tr") == 0)
                        return tr_row_exit(tr);
                } else {
                    if (strcmp(cname, "tr") == 0) {
                        int sc = tr_in_table_scope(tr, "tr");
                        if (sc < 0) return TR_ERR;
                        if (!sc) { tr->errors++; return TR_OK; }
                        if (tr_clear_to(tr, "tr", NULL, NULL)) return TR_ERR;
                        if (tr_pop(tr) < 0) return TR_ERR;
                        tr->mode = M_IN_TABLE_BODY;
                        return TR_OK;
                    }
                    if (strcmp(cname, "table") == 0)
                        return tr_row_exit(tr);
                    if (strcmp(cname, "tbody") == 0 ||
                        strcmp(cname, "tfoot") == 0 ||
                        strcmp(cname, "thead") == 0) {
                        int sc = tr_in_table_scope(tr, cname);
                        if (sc < 0) return TR_ERR;
                        if (!sc) { tr->errors++; return TR_OK; }
                        return tr_row_exit(tr);
                    }
                    if (strcmp(cname, "body") == 0 ||
                        strcmp(cname, "caption") == 0 ||
                        strcmp(cname, "col") == 0 ||
                        strcmp(cname, "colgroup") == 0 ||
                        strcmp(cname, "html") == 0 ||
                        strcmp(cname, "td") == 0 ||
                        strcmp(cname, "th") == 0) {
                        tr->errors++;
                        return TR_OK;
                    }
                }
            }
        }
        return tr_in_table(tr, tok);
    }
    if (mode != M_IN_BODY && mode != M_IN_CELL && mode != M_IN_CAPTION)
        return TR_BAIL;
    if (k == S_text) return tr_body_text(tr, PyTuple_GET_ITEM(tok, 1));
    if (k == S_comment) {
        Py_ssize_t nid = tr_new_node(tr, K_COMMENT, NULL, NULL,
                                     PyTuple_GET_ITEM(tok, 1));
        if (nid < 0 || tr_attach(tr, nid)) return TR_ERR;
        return TR_OK;
    }
    if (k == S_start || k == S_end) {
        char cname[96];
        Py_ssize_t cl;
        int lr = tr_lower_name(PyTuple_GET_ITEM(tok, 1), cname,
                               sizeof(cname), &cl);
        if (lr < 0) return TR_ERR;
        if (lr > 0) return TR_BAIL; /* non-ASCII name */
        if (mode == M_IN_CELL) {
            /* _in_cell's cell-structure branches */
            int f = tr_flags_c(tr, cname);
            if (k == S_end) {
                if (strcmp(cname, "td") == 0 || strcmp(cname, "th") == 0) {
                    int sc = tr_in_table_scope(tr, cname);
                    if (sc < 0) return TR_ERR;
                    if (!sc) { tr->errors++; return TR_OK; }
                    if (tr_implied_end(tr, NULL)) return TR_ERR;
                    Py_ssize_t top = tr_top(tr);
                    if (top < 0 || !tr_tag_is(tr, top, cname)) tr->errors++;
                    if (tr_pop_until(tr, cname)) return TR_ERR;
                    if (tr_clear_formatting_to_marker(tr)) return TR_ERR;
                    tr->mode = M_IN_ROW;
                    return TR_OK;
                }
                if (strcmp(cname, "body") == 0 ||
                    strcmp(cname, "caption") == 0 ||
                    strcmp(cname, "col") == 0 ||
                    strcmp(cname, "colgroup") == 0 ||
                    strcmp(cname, "html") == 0) {
                    tr->errors++;
                    return TR_OK;
                }
                if (strcmp(cname, "table") == 0 ||
                    strcmp(cname, "tbody") == 0 ||
                    strcmp(cname, "tfoot") == 0 ||
                    strcmp(cname, "thead") == 0 ||
                    strcmp(cname, "tr") == 0) {
                    int sc = tr_in_table_scope(tr, cname);
                    if (sc < 0) return TR_ERR;
                    if (!sc) { tr->errors++; return TR_OK; }
                    if (tr_close_cell(tr)) return TR_ERR;
                    return TR_REDISPATCH;
                }
            } else if ((f & TF_TSECTION)) {
                int a = tr_in_table_scope(tr, "td");
                if (a < 0) return TR_ERR;
                int b = a ? 1 : tr_in_table_scope(tr, "th");
                if (b < 0) return TR_ERR;
                if (!b) { tr->errors++; return TR_OK; }
                if (tr_close_cell(tr)) return TR_ERR;
                return TR_REDISPATCH;
            }
        }
        if (mode == M_IN_CAPTION) {
            /* caption exits: Python handles (reset / implied-end rules) */
            int f = tr_flags_c(tr, cname);
            if ((f & TF_TSECTION) || strcmp(cname, "table") == 0 ||
                strcmp(cname, "body") == 0 || strcmp(cname, "html") == 0 ||
                strcmp(cname, "caption") == 0)
                return TR_BAIL;
        }
        if (k == S_start) {
            PyObject *name_l = name_obj(cname, cl);
            if (!name_l) return TR_ERR;
            int r = tr_body_start(tr, cname, name_l,
                                  PyTuple_GET_ITEM(tok, 2),
                                  PyTuple_GET_ITEM(tok, 3) == Py_True);
            Py_DECREF(name_l);
            return r;
        }
        return tr_body_end(tr, cname);
    }
    if (k == S_doctype) { tr->errors++; return TR_OK; }
    if (k == S_eof && mode == M_IN_BODY) {
        /* _in_body's EOF: nothing to do unless a template mode is open */
        int ht = tr_pushed_has(tr, "template");
        if (ht < 0) return TR_ERR;
        return ht ? TR_BAIL : TR_OK;
    }
    return TR_BAIL; /* cdata / eof */
}

/* TR_BAIL after a redispatch hop: earlier hops already mutated the tree
 * (cell close, row/body exit, table-text flush), so Python must resume at
 * the CURRENT mode handler — reprocess() semantics — not re-enter
 * process(), whose foreign-content dispatch would re-run against the
 * mutated stack (e.g. "<table<svg<template<title<th<e<tbody>": the cell
 * close pops back under the svg template and process() would mis-route
 * the tbody into the SVG namespace; pure Python checks dispatch once per
 * token). tree_run reports this as its midbail result. */
#define TR_BAIL_MID 3

static int tree_handle(Tree *tr, PyObject *tok) {
    /* Once-per-token dispatch guards, mirroring process()'s order
     * (treebuilder.py:929-959); redispatch hops do NOT re-check, exactly
     * like Python's reprocess() jumping straight to the mode handler. */
    /* 1. foreign-content dispatch (treebuilder.py:933-936) */
    if (tr->has_foreign) {
        Py_ssize_t ftop = tr_top(tr);
        if (ftop >= 0 && tr_l(tr->ns, ftop) != 0) return TR_BAIL;
    }
    /* 2. self-closing non-void start tags take the Python path: process()
     * (treebuilder.py:937-958) runs the start through the mode handler and
     * then synthesizes an end tag (HtmlTreeBuilder.kt:265-287). A C handler
     * that inserted the element without that synthesized end diverges —
     * e.g. "<table<tbody/><th>" kept the tbody open (seed-20260819 fuzz
     * campaign); tr_body_start had this guard but the table/cell modes did
     * not, so it lives here, before any partial C work. */
    if (PyTuple_GET_ITEM(tok, 0) == S_start &&
        PyTuple_GET_ITEM(tok, 3) == Py_True) {
        char scn[96];
        Py_ssize_t scl;
        int slr = tr_lower_name(PyTuple_GET_ITEM(tok, 1), scn,
                                sizeof(scn), &scl);
        if (slr < 0) return TR_ERR;
        if (slr > 0 || !(tr_flags_c(tr, scn) & TF_VOID)) return TR_BAIL;
    }
    for (int hop = 0; hop < 12; hop++) {
        int r = tree_handle_once(tr, tok);
        if (r == TR_BAIL && hop > 0) return TR_BAIL_MID;
        if (r != TR_REDISPATCH) return r;
    }
    return TR_BAIL_MID; /* reprocess chain too deep: let Python take it */
}

/* builder (and doc) scalars tree_run reads at entry and writes back */
static PyObject *A_mode, *A_skip_lf, *A_frameset_ok, *A_original_mode,
    *A_form_id, *A_has_foreign, *A_head_id, *A_base_latched, *A_doc,
    *A_quirks, *A_errors, *A_base_uri;

static int tr_get(PyObject *o, PyObject *name, long *out) {
    PyObject *v = PyObject_GetAttr(o, name);
    if (!v) return -1;
    *out = PyLong_AsLong(v); /* bools are ints */
    Py_DECREF(v);
    return (*out == -1 && PyErr_Occurred()) ? -1 : 0;
}

static int tr_set(PyObject *o, PyObject *name, PyObject *v) {
    if (!v) return -1;
    int r = PyObject_SetAttr(o, name, v);
    Py_DECREF(v);
    return r;
}

static int tr_write_back(Tree *tr, PyObject *b, PyObject *doc) {
    if (tr_set(b, A_mode, PyLong_FromLong(tr->mode)) ||
        tr_set(b, A_skip_lf, PyBool_FromLong(tr->skip_lf)) ||
        tr_set(b, A_frameset_ok, PyBool_FromLong(tr->frameset_ok)) ||
        tr_set(b, A_original_mode, PyLong_FromLong(tr->original_mode)) ||
        tr_set(b, A_form_id, PyLong_FromLong(tr->form_id)) ||
        tr_set(b, A_head_id, PyLong_FromLong(tr->head_id)) ||
        tr_set(b, A_base_latched, PyBool_FromLong(tr->base_latched)) ||
        tr_set(doc, A_quirks, PyLong_FromLong(tr->quirks)) ||
        tr_set(doc, A_errors, PyLong_FromLong(tr->errors)))
        return -1;
    if (tr->base_uri) {
        Py_INCREF(tr->base_uri);
        if (tr_set(doc, A_base_uri, tr->base_uri)) return -1;
    }
    return 0;
}

/* tree_run(s, start_byte, tok_state, rawtext_tag, shared, builder)
 *   shared: (kind, tag, attrs, text, ns, children, parent,
 *            stack, formatting, pushed_tags, pending_table_text)
 *   builder: the HtmlTreeBuilder; its mode / skip_next_lf / frameset_ok /
 *   original_mode / form_id / has_foreign / head_id / base_latched and its
 *   doc's quirks / errors are read at entry and written back at exit, with
 *   doc.base_uri when a <base href> latched
 * -> (bail_tokens_or_None, next_byte, done, midbail)
 *   midbail: True when the FIRST bailed token was already partly handled
 *   by redispatch hops — the caller must resume it at the current mode
 *   handler (reprocess semantics), not re-enter process() */
static PyObject *py_tree_run(PyObject *self, PyObject *args) {
    PyObject *str, *rawtag, *shared, *builder;
    Py_ssize_t start;
    int state;
    if (!PyArg_ParseTuple(args, "OniOO!O", &str, &start, &state, &rawtag,
                          &PyTuple_Type, &shared, &builder))
        return NULL;
    if (PyTuple_GET_SIZE(shared) != 11) {
        PyErr_SetString(PyExc_ValueError, "bad shared shape");
        return NULL;
    }
    Py_ssize_t n;
    const char *s = PyUnicode_AsUTF8AndSize(str, &n);
    if (!s) return NULL;

    Tree tr;
    memset(&tr, 0, sizeof(tr));
    tr.kind = PyTuple_GET_ITEM(shared, 0);
    tr.tag = PyTuple_GET_ITEM(shared, 1);
    tr.attrs = PyTuple_GET_ITEM(shared, 2);
    tr.text = PyTuple_GET_ITEM(shared, 3);
    tr.ns = PyTuple_GET_ITEM(shared, 4);
    tr.children = PyTuple_GET_ITEM(shared, 5);
    tr.parent = PyTuple_GET_ITEM(shared, 6);
    tr.stack = PyTuple_GET_ITEM(shared, 7);
    tr.formatting = PyTuple_GET_ITEM(shared, 8);
    tr.pushed = PyTuple_GET_ITEM(shared, 9);
    tr.pending = PyTuple_GET_ITEM(shared, 10);
    PyObject *doc = PyObject_GetAttr(builder, A_doc);
    if (!doc) return NULL;
    if (tr_get(builder, A_mode, &tr.mode) ||
        tr_get(builder, A_skip_lf, &tr.skip_lf) ||
        tr_get(builder, A_frameset_ok, &tr.frameset_ok) ||
        tr_get(builder, A_original_mode, &tr.original_mode) ||
        tr_get(builder, A_form_id, &tr.form_id) ||
        tr_get(builder, A_has_foreign, &tr.has_foreign) ||
        tr_get(builder, A_head_id, &tr.head_id) ||
        tr_get(builder, A_base_latched, &tr.base_latched) ||
        tr_get(doc, A_quirks, &tr.quirks) ||
        tr_get(doc, A_errors, &tr.errors)) {
        Py_DECREF(doc);
        return NULL;
    }

    Tok t;
    memset(&t, 0, sizeof(t));
    t.s = s; t.n = n; t.p = start; t.state = state;
    tr.tok = &t;
    t.out = PyList_New(0);
    if (!t.out) { Py_DECREF(doc); return NULL; }
    /* small pump batches: a bail returns every already-tokenized-but-
     * unhandled token to Python, so large batches would push C-handleable
     * tokens through the slow path whenever a rare token bails mid-batch */
    t.max = 2;
    t.rawtext_tag = (rawtag == Py_None) ? NULL : rawtag;
    char needle_stack[64];
    char *needle_heap = NULL;
    if (t.rawtext_tag) {
        Py_ssize_t tl;
        const char *tb = PyUnicode_AsUTF8AndSize(t.rawtext_tag, &tl);
        if (!tb) { Py_DECREF(t.out); Py_DECREF(doc); return NULL; }
        char *nd = needle_stack;
        if (tl + 2 > (Py_ssize_t)sizeof(needle_stack)) {
            needle_heap = (char *)PyMem_Malloc((size_t)(tl + 2));
            if (!needle_heap) {
                Py_DECREF(t.out); Py_DECREF(doc); return PyErr_NoMemory();
            }
            nd = needle_heap;
        }
        nd[0] = '<'; nd[1] = '/';
        memcpy(nd + 2, tb, (size_t)tl);
        t.needle = nd;
        t.nlen = tl + 2;
    }

    PyObject *bail = NULL;
    int done = 0;
    int midbail = 0;
    for (;;) {
        /* pump the tokenizer */
        int r = 0;
        if (t.p >= n && t.state == ST_DATA && PyList_GET_SIZE(t.out) == 0) {
            r = emit_eof(&t) ? -1 : 1;
        }
        while (r == 0 && !t.paused && t.ntok < t.max &&
               PyList_GET_SIZE(t.out) == 0) {
            switch (t.state) {
            case ST_DATA: r = data_state(&t); break;
            case ST_RCDATA: r = rcdata_state(&t, 1); break;
            case ST_RAWTEXT: r = rcdata_state(&t, 0); break;
            case ST_SCRIPT: r = script_state(&t); break;
            default: r = plaintext_state(&t); break;
            }
        }
        if (r < 0) goto fail;
        if (r == 1) done = 1;
        t.ntok = 0;
        /* handle queued tokens */
        Py_ssize_t nt = PyList_GET_SIZE(t.out);
        Py_ssize_t i = 0;
        for (; i < nt; i++) {
            int h = tree_handle(&tr, PyList_GET_ITEM(t.out, i));
            if (h == TR_ERR) goto fail;
            if (h == TR_BAIL) break;
            if (h == TR_BAIL_MID) { midbail = 1; break; }
        }
        if (i < nt) { /* bail: return unconsumed tail */
            bail = PyList_GetSlice(t.out, i, nt);
            if (!bail) goto fail;
            break;
        }
        if (PyList_SetSlice(t.out, 0, nt, NULL)) goto fail;
        if (done) break;
        if (t.paused) {
            /* a pause tag was fully handled in-tree (can't happen for the
             * current handled set, but be safe): hand control back */
            bail = PyList_New(0);
            if (!bail) goto fail;
            break;
        }
    }
    if (needle_heap) PyMem_Free(needle_heap);
    PyMem_Free(t.buf);
    Py_DECREF(t.out);
    int wb = tr_write_back(&tr, builder, doc);
    Py_DECREF(doc);
    Py_XDECREF(tr.base_uri);
    if (wb) { Py_XDECREF(bail); return NULL; }
    if (!bail) {
        bail = Py_None;
        Py_INCREF(bail);
    }
    return Py_BuildValue("(NnOO)", bail, t.p, done ? Py_True : Py_False,
                         midbail ? Py_True : Py_False);

fail:
    if (needle_heap) PyMem_Free(needle_heap);
    PyMem_Free(t.buf);
    Py_DECREF(t.out);
    Py_DECREF(doc);
    Py_XDECREF(tr.base_uri);
    Py_XDECREF(bail);
    return NULL;
}

/* ---- to_table int columns: preorder remap + sibling/subtree indices ----
 *
 * Mirrors Doc.to_table's integer-column construction (dom.py): preorder
 * order/depth, remapped parent ids, sibling_index / elem_sibling_index /
 * first_child / next_sibling, and the inclusive subtree_end interval.
 * The Python caller gathers tag/text/attrs/ns by indexing with `order`.
 */
static PyObject *py_to_table_ints(PyObject *self, PyObject *args) {
    PyObject *kindL, *parentL, *chL;
    if (!PyArg_ParseTuple(args, "O!O!O!", &PyList_Type, &kindL,
                          &PyList_Type, &parentL, &PyList_Type, &chL))
        return NULL;
    Py_ssize_t nn = PyList_GET_SIZE(kindL);
    if (PyList_GET_SIZE(parentL) < nn || PyList_GET_SIZE(chL) < nn) {
        PyErr_SetString(PyExc_ValueError, "node table shape mismatch");
        return NULL;
    }

    Py_ssize_t *order = NULL, *depth = NULL, *remap = NULL, *stack = NULL;
    PyObject *res = NULL;
    PyObject *orderL = NULL, *depthL = NULL, *parL = NULL, *sibL = NULL,
             *esibL = NULL, *firstL = NULL, *nextL = NULL, *sendL = NULL;
    order = (Py_ssize_t *)PyMem_Malloc(sizeof(Py_ssize_t) * (size_t)(nn ? nn : 1));
    depth = (Py_ssize_t *)PyMem_Malloc(sizeof(Py_ssize_t) * (size_t)(nn ? nn : 1));
    remap = (Py_ssize_t *)PyMem_Malloc(sizeof(Py_ssize_t) * (size_t)(nn ? nn : 1));
    /* stack entries: (node, depth) pairs; at most nn live entries */
    stack = (Py_ssize_t *)PyMem_Malloc(sizeof(Py_ssize_t) * 2 * (size_t)(nn ? nn : 1));
    if (!order || !depth || !remap || !stack) { PyErr_NoMemory(); goto done; }

    Py_ssize_t n_out = 0, sp = 0;
    if (nn > 0) { stack[0] = 0; stack[1] = 0; sp = 1; }
    while (sp > 0) {
        sp--;
        Py_ssize_t node = stack[sp * 2], d = stack[sp * 2 + 1];
        if (node < 0 || node >= nn || n_out >= nn) {
            PyErr_SetString(PyExc_ValueError, "bad node id in children");
            goto done;
        }
        order[n_out] = node;
        depth[n_out] = d;
        remap[node] = n_out;
        n_out++;
        PyObject *kids = PyList_GET_ITEM(chL, node);
        if (!PyList_Check(kids)) {
            PyErr_SetString(PyExc_TypeError, "children not a list");
            goto done;
        }
        Py_ssize_t nk = PyList_GET_SIZE(kids);
        if (sp + nk > nn) {
            PyErr_SetString(PyExc_ValueError, "children overflow");
            goto done;
        }
        for (Py_ssize_t i = nk - 1; i >= 0; i--) {
            long c = PyLong_AsLong(PyList_GET_ITEM(kids, i));
            if (c == -1 && PyErr_Occurred()) goto done;
            stack[sp * 2] = (Py_ssize_t)c;
            stack[sp * 2 + 1] = d + 1;
            sp++;
        }
    }

    orderL = PyList_New(n_out); depthL = PyList_New(n_out);
    parL = PyList_New(n_out); sibL = PyList_New(n_out);
    esibL = PyList_New(n_out); firstL = PyList_New(n_out);
    nextL = PyList_New(n_out); sendL = PyList_New(n_out);
    if (!orderL || !depthL || !parL || !sibL || !esibL || !firstL ||
        !nextL || !sendL) goto done;

    for (Py_ssize_t i = 0; i < n_out; i++) {
        Py_ssize_t o = order[i];
        PyList_SET_ITEM(orderL, i, PyLong_FromSsize_t(o));
        PyList_SET_ITEM(depthL, i, PyLong_FromSsize_t(depth[i]));
        long p = PyLong_AsLong(PyList_GET_ITEM(parentL, o));
        if (p == -1 && PyErr_Occurred()) goto done;
        PyList_SET_ITEM(parL, i,
                        PyLong_FromSsize_t(p == -1 ? -1 : remap[p]));
        PyList_SET_ITEM(sibL, i, PyLong_FromLong(0));
        PyList_SET_ITEM(esibL, i, PyLong_FromLong(-1));
        PyList_SET_ITEM(firstL, i, PyLong_FromLong(-1));
        PyList_SET_ITEM(nextL, i, PyLong_FromLong(-1));
    }
    if (PyErr_Occurred()) goto done;

    for (Py_ssize_t i = 0; i < n_out; i++) {
        Py_ssize_t o = order[i];
        PyObject *kids = PyList_GET_ITEM(chL, o);
        Py_ssize_t nk = PyList_GET_SIZE(kids);
        if (nk == 0) continue;
        Py_ssize_t elem_i = 0, prev_rc = -1;
        for (Py_ssize_t si = 0; si < nk; si++) {
            long c = PyLong_AsLong(PyList_GET_ITEM(kids, si));
            Py_ssize_t rc = remap[c];
            if (si == 0) {
                Py_DECREF(PyList_GET_ITEM(firstL, i));
                PyList_SET_ITEM(firstL, i, PyLong_FromSsize_t(rc));
            }
            Py_DECREF(PyList_GET_ITEM(sibL, rc));
            PyList_SET_ITEM(sibL, rc, PyLong_FromSsize_t(si));
            if (prev_rc != -1) {
                Py_DECREF(PyList_GET_ITEM(nextL, prev_rc));
                PyList_SET_ITEM(nextL, prev_rc, PyLong_FromSsize_t(rc));
            }
            prev_rc = rc;
            long k = PyLong_AsLong(PyList_GET_ITEM(kindL, (Py_ssize_t)c));
            if (k == 1) { /* ELEMENT */
                Py_DECREF(PyList_GET_ITEM(esibL, rc));
                PyList_SET_ITEM(esibL, rc, PyLong_FromSsize_t(elem_i));
                elem_i++;
            }
        }
    }
    if (PyErr_Occurred()) goto done;

    /* subtree_end: reuse `stack` as a depth stack of pending node ids */
    {
        Py_ssize_t dsp = 0;
        for (Py_ssize_t i = 0; i < n_out; i++) {
            Py_ssize_t d = depth[i];
            while (dsp > d) {
                dsp--;
                PyList_SET_ITEM(sendL, stack[dsp],
                                PyLong_FromSsize_t(i - 1));
            }
            stack[dsp] = i;
            dsp++;
        }
        while (dsp > 0) {
            dsp--;
            PyList_SET_ITEM(sendL, stack[dsp],
                            PyLong_FromSsize_t(n_out - 1));
        }
    }

    res = PyTuple_Pack(8, orderL, depthL, parL, sibL, esibL, firstL,
                       nextL, sendL);
done:
    PyMem_Free(order); PyMem_Free(depth); PyMem_Free(remap);
    PyMem_Free(stack);
    Py_XDECREF(orderL); Py_XDECREF(depthL); Py_XDECREF(parL);
    Py_XDECREF(sibL); Py_XDECREF(esibL); Py_XDECREF(firstL);
    Py_XDECREF(nextL); Py_XDECREF(sendL);
    return res;
}

static PyMethodDef Methods[] = {
    {"tokenize", py_tokenize, METH_VARARGS,
     "tokenize(s, start_byte, state, rawtext_tag, max_tokens)"
     " -> (tokens, next_byte, done)"},
    {"set_interns", py_set_interns, METH_O,
     "register common tag/attr names for interning"},
    {"norm_ws", py_norm_ws, METH_VARARGS,
     "norm_ws(s, strip_leading) -> normalized-whitespace str"},
    {"set_tree_modes", py_set_tree_modes, METH_VARARGS,
     "set_tree_modes(in_body, in_cell, in_caption, text, in_table,"
     " in_table_body, in_row, in_table_text, initial, before_html,"
     " before_head, in_head, after_head, after_body, after_after_body)"},
    {"tree_run", py_tree_run, METH_VARARGS,
     "tree_run(s, start_byte, state, rawtext_tag, shared, builder)"
     " -> (bail_tokens_or_None, next_byte, done, midbail)"},
    {"element_text", py_element_text, METH_VARARGS,
     "element_text(kind, tag, text, children, root) -> normalized text"},
    {"extract_spans", py_extract_spans, METH_VARARGS,
     "extract_spans(kind, tag, text, children, root) -> list of span"
     " tuples; media spans carry the node id in the media_ref slot"},
    {"to_table_ints", py_to_table_ints, METH_VARARGS,
     "to_table_ints(kind, parent, children) -> (order, depth, parent,"
     " sibling_index, elem_sibling_index, first_child, next_sibling,"
     " subtree_end) preorder int columns"},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef moduledef = {
    PyModuleDef_HEAD_INIT, "_ksoup_ctok", NULL, -1, Methods,
};

PyMODINIT_FUNC PyInit__ksoup_ctok(void) {
    S_text = PyUnicode_InternFromString("text");
    S_start = PyUnicode_InternFromString("start");
    S_end = PyUnicode_InternFromString("end");
    S_comment = PyUnicode_InternFromString("comment");
    S_cdata = PyUnicode_InternFromString("cdata");
    S_doctype = PyUnicode_InternFromString("doctype");
    S_eof = PyUnicode_InternFromString("eof");
    S_script = PyUnicode_InternFromString("script");
    S_empty = PyUnicode_InternFromString("");
    S_image = PyUnicode_InternFromString("image");
    S_video = PyUnicode_InternFromString("video");
    S_object = PyUnicode_InternFromString("object");
    if (!S_image || !S_video || !S_object) return NULL;
    S_title = PyUnicode_InternFromString("title");
    S_style = PyUnicode_InternFromString("style");
    S_noframes = PyUnicode_InternFromString("noframes");
    S_html = PyUnicode_InternFromString("html");
    S_head = PyUnicode_InternFromString("head");
    S_body = PyUnicode_InternFromString("body");
    S_href = PyUnicode_InternFromString("href");
    A_mode = PyUnicode_InternFromString("mode");
    A_skip_lf = PyUnicode_InternFromString("skip_next_lf");
    A_frameset_ok = PyUnicode_InternFromString("frameset_ok");
    A_original_mode = PyUnicode_InternFromString("original_mode");
    A_form_id = PyUnicode_InternFromString("form_id");
    A_has_foreign = PyUnicode_InternFromString("has_foreign");
    A_head_id = PyUnicode_InternFromString("head_id");
    A_base_latched = PyUnicode_InternFromString("base_latched");
    A_doc = PyUnicode_InternFromString("doc");
    A_quirks = PyUnicode_InternFromString("quirks");
    A_errors = PyUnicode_InternFromString("errors");
    A_base_uri = PyUnicode_InternFromString("base_uri");
    if (!S_title || !S_style || !S_noframes || !S_html || !S_head ||
        !S_body || !S_href || !A_mode || !A_skip_lf || !A_frameset_ok ||
        !A_original_mode || !A_form_id || !A_has_foreign || !A_head_id ||
        !A_base_latched || !A_doc || !A_quirks || !A_errors || !A_base_uri)
        return NULL;
    if (!S_text || !S_start || !S_end || !S_comment || !S_cdata ||
        !S_doctype || !S_eof || !S_script || !S_empty)
        return NULL;
    EOF_TOK = PyTuple_Pack(1, S_eof);
    if (!EOF_TOK) return NULL;
    return PyModule_Create(&moduledef);
}
