"""Deep differential fuzz campaign (round 5 closing evidence).

The committed suites pin fixed-seed differentials at CI-friendly sizes
(400 soups in tests/test_ctree.py, 220 selectors in
tests/test_nodequery_fuzz.py). This job replays the SAME differentials at
campaign scale with a caller-chosen fresh seed, so each run explores new
territory:

1. C-vs-Python whole-tree parity over random adversarial tag soup
   (node lists + errors + quirks + form links must be identical), plus
   span/text extraction equality (the spans at the default root and every
   element's text) — the generator mixes every branch the C
   engine handles with the ones it bails on (doctype/comments/CDATA/
   rawtext/foreign content/entities included) — and over page-shaped
   documents: doctype, head and body scaffolding around a soup body
   (``_page``), which drive the preamble and postamble insertion modes.
2. Compiled-selector-vs-kernel set equality over the nodequery fuzz
   corpus: random selectors from the test grammar, every compiled one
   must return the kernel's exact (doc_id, node_id) set.

Usage:
    python jobs/fuzz_campaign.py --seed 20260819 --soups 20000 --selectors 1500

(``--soups N`` runs N soups and N pages.)

Prints one JSON line; exits non-zero on ANY divergence (with samples).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from ksoup_spark.kernel.treebuilder import parse  # noqa: E402

TAGS = ["div", "span", "p", "b", "i", "a", "em", "ul", "li", "ol",
        "dl", "dd", "dt", "h1", "h2", "h3", "table", "tr", "td", "th",
        "tbody", "thead", "tfoot", "caption", "colgroup", "col",
        "button", "form", "input", "select", "option", "optgroup",
        "pre", "textarea", "script", "style", "title", "noscript",
        "img", "br", "hr", "nobr", "marquee", "object", "ruby", "rt",
        "rp", "template", "svg", "math", "mi", "foreignObject", "desc",
        "custom-x", "fieldset", "output", "frameset", "frame", "body",
        "html", "head", "base", "iframe", "xmp", "plaintext", "listing",
        "applet", "article", "summary", "details"]
TEXTS = ["word", " ", "\n  ", "a&amp;b", "x<y", "&nbsp;", "\ttab",
         "中文", "", "&#x41;", "&notin;", "&not;x", "\x00z", "a]]>b",
         "100% > 50%", "&unknown;"]
CHUNKS = ["<!doctype html>", "<!DOCTYPE html PUBLIC '-//W3C//DTD HTML 4.01//EN'>",
          "<!-- comment -->", "<!-- unterminated", "<![CDATA[raw]]>",
          "<!bogus>", "<?php ?>", "</>", "<>", "< notatag"]


def _soup(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(4, 80)):
        roll = rng.random()
        if roll < 0.05:
            parts.append(rng.choice(CHUNKS))
            continue
        t = rng.choice(TAGS)
        if roll < 0.45:
            attrs = ""
            if rng.random() < 0.4:
                attrs = " class='c%d' id=i%d" % (rng.randint(0, 3),
                                                 rng.randint(0, 9))
            if rng.random() < 0.1:
                attrs += " data-x=\"q'uote\" b"
            if rng.random() < 0.08:
                attrs += " /"
            parts.append(f"<{t}{attrs}>")
        elif roll < 0.72:
            parts.append(f"</{t}>")
        else:
            parts.append(rng.choice(TEXTS))
    return "".join(parts)


# document scaffolding around a soup body: the preamble and postamble
# insertion modes (Initial .. AfterHead, AfterBody, AfterAfterBody)
DOCTYPES = ["", "", "<!DOCTYPE html>", "<!doctype html>",
            '<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN">',
            '<!DOCTYPE html SYSTEM "about:legacy-compat">', "<!DOCTYPE>",
            '<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Transitional//EN"'
            ' "http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd">']
LEADS = ["", "", " ", "\n", "<!-- lead -->", " <!--x-->\n", "lead text"]
HTML_OPENS = ["", "<html>", "<html>", "<HTML lang=en>", "<html class=a>"]
HEAD_ITEMS = ["<title>Doc &amp; t</title>", "<title>a</titlex>b</title>",
              "<TITLE>U</TITLE>", "<title>open &lt;b",
              "<base href='http://ex.example/p/'>", "<base target=_top>",
              "<BASE HREF='http://up.example/'>", "<meta charset=utf-8>",
              "<meta name=d content=x>", "<link rel=icon href=/f.ico>",
              "<script>var s='</div>';</script>", "<style>p{}</style>",
              "<noscript><p>n</p></noscript>", "text in head", " ", "\n",
              "<!-- h -->", "<template><p>t</p></template>",
              "<html data-x=1>", "</p>", "<![CDATA[c]]>", "<head>"]
BETWEEN = ["", "", " ", "\n", "<!--ab-->", "late text", "<meta name=late>",
           "<title>late</title>", "</br>"]
BODY_OPENS = ["", "<body>", "<body>", "<BODY class=b>",
              "<body id=main onload=x>", "<frameset>"]
POSTAMBLES = ["", "</body>", "</body></html>", "</body></html>",
              "</body>\n<!-- after --></html>\n", "</html> trailing",
              "</body><p>late</p></html><body class=again>",
              "</body></html><!--end--> ", "</html></html><html x=1>"]


def _page(rng: random.Random) -> str:
    """A page-shaped document: doctype, head and body scaffolding around a
    ``_soup`` body."""
    head = ""
    if rng.random() < 0.85:
        head = (("<head>" if rng.random() < 0.8 else "")
                + "".join(rng.choice(HEAD_ITEMS)
                          for _ in range(rng.randint(0, 6)))
                + ("</head>" if rng.random() < 0.8 else ""))
    return (rng.choice(DOCTYPES) + rng.choice(LEADS) + rng.choice(HTML_OPENS)
            + head + rng.choice(BETWEEN) + rng.choice(BODY_OPENS)
            + _soup(rng) + rng.choice(POSTAMBLES))


def _table(d):
    return {
        "kind": d.kind, "tag": d.tag, "attrs": d.attrs, "text": d.text,
        "ns": d.ns, "children": d.children, "parent": d.parent,
        "errors": d.errors, "base_uri": d.base_uri, "quirks": d.quirks,
        "self_closing": d.self_closing,
        "form_links": getattr(d, "form_links", None),
    }


def run_tree_parity(seed: int, n: int, gen=_soup) -> dict:
    """C engines vs their Python references on n generated documents: the
    node table (C tree engine vs process()), then over that tree the spans
    at the default root and every element's text (C walk vs _walk_py)."""
    from unittest import mock

    from ksoup_spark.kernel import dom, treebuilder
    from ksoup_spark.kernel.ctokenizer import tree_module
    from ksoup_spark.kernel.textops import (
        _element_text_py, _extract_spans_py, element_text, extract_spans)
    if tree_module() is None:
        return {"skipped": "C tree engine unavailable", "n": 0, "bad": 0}
    rng = random.Random(seed)
    bad = []
    for i in range(n):
        html = gen(rng)
        d1 = parse(html)
        # KSOUP_SPARK_NO_CTREE is read once per process: switch the engine
        # off by patching its lookup instead
        with mock.patch.object(treebuilder, "tree_module", lambda: None):
            d2 = parse(html)
        if _table(d1) != _table(d2):
            bad.append(("tree", html[:300]))
        else:
            root = next((r for r in (d2.body(), d2.html_el()) if r != -1), 0)
            if extract_spans(d1) != _extract_spans_py(d2, root) or any(
                    element_text(d1, e) != _element_text_py(d2, e)
                    for e in range(len(d2.kind))
                    if d2.kind[e] == dom.ELEMENT):
                bad.append(("text", html[:300]))
        if len(bad) >= 5:
            break
    return {"n": i + 1, "bad": len(bad), "samples": bad}


def run_selector_diff(seed: int, n: int) -> dict:
    # reuse the committed fuzz grammar + kernel oracle + doc corpus
    import test_nodequery_fuzz as tnf
    from pyspark.sql import SparkSession
    from ksoup_spark.operators import extract, nodequery

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    df = spark.createDataFrame(tnf.DOCS, "doc_id string, html string")
    nodes = extract.node_table_df(
        df, text_columns=("text", "own", "whole", "whole_own", "data"))
    nodes = nodes.cache()
    nodes.count()

    rng = random.Random(seed)
    seen = set()
    while len(seen) < n:
        seen.add(tnf._selector(rng))
    compiled = skipped = rejected = 0
    mismatches = []
    for css in sorted(seen):
        try:
            want = tnf._kernel_matches(css)
        except Exception:
            try:
                nodequery.compile_selector(nodes, css).collect()
            except Exception:
                rejected += 1
                continue
            mismatches.append((css, "kernel rejects, compiler accepts"))
            continue
        try:
            cdf = nodequery.compile_selector(nodes, css)
        except nodequery.UnsupportedSelector:
            skipped += 1
            continue
        compiled += 1
        got = {(r["doc_id"], r["node_id"])
               for r in cdf.select("doc_id", "node_id").collect()}
        if got != want:
            mismatches.append(
                (css, sorted(want - got)[:5], sorted(got - want)[:5]))
            if len(mismatches) >= 5:
                break
    spark.stop()
    return {"n": len(seen), "compiled": compiled, "skipped": skipped,
            "grammar_rejected": rejected, "bad": len(mismatches),
            "samples": mismatches}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--soups", type=int, default=20000)
    ap.add_argument("--selectors", type=int, default=1500)
    args = ap.parse_args()

    t0 = time.time()
    tree = run_tree_parity(args.seed, args.soups)
    # as many pages as soups, from their own stream, so a seed's soups stay
    # the same
    pages = run_tree_parity(args.seed + 1, args.soups, _page)
    t1 = time.time()
    sel = run_selector_diff(args.seed, args.selectors)
    out = {
        "seed": args.seed,
        "tree_parity": tree, "page_parity": pages,
        "tree_sec": round(t1 - t0, 1),
        "selector_diff": sel, "selector_sec": round(time.time() - t1, 1),
        "ok": tree.get("bad", 0) == 0 and pages.get("bad", 0) == 0
        and sel.get("bad", 0) == 0,
    }
    print(json.dumps(out))
    return 0 if out["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
