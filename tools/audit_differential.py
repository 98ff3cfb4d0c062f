"""One-off extended differential audit (run per round on an idle host;
results recorded in SURVEY.md §5 notes).

Randomized cases through every fast/slow twin pair and robustness
contract, far beyond the per-commit budgets of the pytest suite:

  1. fused-body vs token-loop process_html equality (incl. long segments,
     cap boundaries, \x0b, entity soup);
  2. scanner window fast path vs byte loop token streams;
  3. charset detector total-function contract (never raises) + declared
     plausibility asymmetry on random bytes;
  4. trim_lines_copy vs reference-shaped loop twin;
  5. entity decode: split-pass fast path vs reference-shaped loop twin
     (r5 — overflow raising included).

(The winnow numpy-kernel-vs-Catalyst-expression twin and the selection
ops' Spark-vs-oracle parity need a SparkSession and live in the pytest
suite — test_property_operators / test_oracle_parity — not here.)

Usage: python tools/audit_differential.py [n_cases]
Prints one JSON line with per-section counts; exits non-zero on any
divergence.
"""

import json
import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from warc2text_spark.functions import scanner as sc
from warc2text_spark.functions.charset import detect_charset
from warc2text_spark.functions.record import clean_payload
from warc2text_spark.functions.textextract import (process_html,
                                                   trim_lines_copy)
from tests.twins import trim_lines_copy_loop

N = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
rng = random.Random(4)

PIECES = [
    "<p>", "</p>", "<div class='x'>", "</div>", "<script>", "</script>",
    "<style>", "</style>", "<!-- c -->", "<![CDATA[x]]>", "<!ENTITY e>",
    "&amp;", "&bogus;", "&#65;", "&#x41;", "&eacute;", "word", "  ",
    "\n", "\t", "\x0b", "&", "<", ">", "'", '"', "=", "/", "x" * 1023,
    "y" * 1024, "&" + "z" * 1022, "w " * 600, "é", " ", "tail",
    "<br>", "<img src=a>", "<a href='q'>t</a>", "<b", "b>", "\r\n",
    # r5 fused simple-tag dispatch shapes: trailing ws, odd name chars,
    # script/style prefixes, >127-byte names, tail-with-space fallback
    "<p >", "</p\t>", "<text:s>", "<w:p>", "<scriptx>", "</scriptx>",
    "<stylea>x</stylea>", "<" + "q" * 130 + ">", "</ p>", "<p/>", "<P>",
    "</sPaN>", "<a.b-c>", "<style >.s{}</style>",
    # r5b attr-tag fused dispatch: quoted/unquoted heads, NUL-in-head
    "<div class='x'>", "<a href=\"q>r\">", "<p a=b c>", "<p a='>'>",
    "<img src=a alt='t t'>", "<p \x00a>", "<p a='\x00'>", "<b a/b>",
    "<script src='x'>var q;</script>", "<style a=b>.x{}</style>",
]


def soup(k):
    return "".join(rng.choice(PIECES) for _ in range(k)).encode(
        "utf-8", "surrogatepass")


counts = {}

# 1. fused vs token loop
div = 0
for i in range(N):
    doc = soup(rng.randint(1, 24))
    if process_html(doc, fused=True) != process_html(doc, fused=False):
        div += 1
        print("FUSED DIVERGENCE:", doc[:120], file=sys.stderr)
counts["fused_vs_loop"] = {"cases": N, "divergences": div}

# 2. scanner window fast path
div2 = 0
for i in range(N // 4):
    doc = soup(rng.randint(1, 12))

    def tokens(data):
        s = sc.Scanner(data)
        out = []
        for _ in range(4000):
            t, v = s.next_token()
            out.append((t, v, s.tag_name, s.pos))
            if t in (sc.TT_EOF, sc.TT_ERROR):
                break
        return out

    sc._WINDOW_FAST_ENABLED = True
    fast = tokens(doc)
    sc._WINDOW_FAST_ENABLED = False
    slow = tokens(doc)
    sc._WINDOW_FAST_ENABLED = True
    if fast != slow:
        div2 += 1
        print("WINDOW DIVERGENCE:", doc[:120], file=sys.stderr)
counts["scanner_window"] = {"cases": N // 4, "divergences": div2}

# 3. charset total-function + asymmetry
boom = 0
for i in range(N // 4):
    data = bytes(rng.randrange(256) for _ in range(rng.randint(0, 400)))
    try:
        detect_charset(data, rng.choice(["", "utf-8", "iso-8859-1",
                                         "windows-1251", "cp1250",
                                         "shift_jis", "bogus-cs"]))
        clean_payload(data, "text/html", "", "u")
    except Exception as ex:  # noqa: BLE001
        boom += 1
        print("CHARSET RAISED:", type(ex).__name__, data[:40],
              file=sys.stderr)
counts["charset_total"] = {"cases": N // 4, "raises": boom}

# 4. trim twin
div4 = 0
for i in range(N // 2):
    data = bytes(rng.choice(b" \t\n\v\f\rabcXYZ") for _ in
                 range(rng.randint(0, 200)))
    if trim_lines_copy(data) != trim_lines_copy_loop(data):
        div4 += 1
counts["trim_twin"] = {"cases": N // 2, "divergences": div4}

total_div = div + div2 + boom + div4

# 5. entity decode: split-pass fast path vs reference-shaped loop twin
from warc2text_spark.functions.entities import (  # noqa: E402
    EntityOverflowError, _decode_entities_loop, decode_entities)

ENT_PIECES = [
    "&amp;", "&bogus;", "&#65;", "&#x41;", "&eacute;", "&", "&&", "&#;",
    "&#x;", "&xi;", "&Xi;", "&xab;", "&#xg;", "&# 5;", "text", "&#160;",
    "&#173;", "&#x10FFFF;", "&#1114112;", "&#xD800;", "&amp", "&a", ";",
    "&#18446744073709551616;", "#", "x", " ", "&#x0;", "&#31;", "é",
    "&quot;&quot;", "&lt;b&gt;", "&AMP;", "&semi;", "&nbsp;word&nbsp;",
]
div5 = 0
for i in range(N):
    s = "".join(rng.choice(ENT_PIECES) for _ in range(rng.randint(0, 10)))
    try:
        a, aerr = decode_entities(s), None
    except EntityOverflowError:
        a, aerr = None, "ovf"
    try:
        b, berr = _decode_entities_loop(s), None
    except EntityOverflowError:
        b, berr = None, "ovf"
    if (a, aerr) != (b, berr):
        div5 += 1
        print("ENTITY DIVERGENCE:", repr(s)[:120], file=sys.stderr)
counts["entity_split_twin"] = {"cases": N, "divergences": div5}
total_div += div5
print(json.dumps({"audit": "r5_extended_differential", "n_base": N,
                  "sections": counts, "total_divergences": total_div}))
sys.exit(1 if total_div else 0)
