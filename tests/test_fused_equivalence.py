"""Property test: the fused body-scan fast path is output-identical to the
token-at-a-time reference loop, on fixtures and on randomized HTML."""

import random

from warc2text_spark.functions.textextract import parse_tag_filters, process_html
from warc2text_spark.sources.fixtures import fixture_cases

FILTERS = parse_tag_filters("meta\tname\tbad\ndiv\tclass\t^ooter")


def both(data: bytes):
    return (process_html(data, FILTERS, fused=True),
            process_html(data, FILTERS, fused=False))


def test_fixture_inputs_identical():
    rows, _ = fixture_cases()
    for row in rows:
        for s in row["spans"]:
            if s["kind"] == "text":
                data = s["text"].encode("utf-8")
                a, b = both(data)
                assert a == b, row["doc_id"]


PIECES = [
    "<p>", "</p>", "<div id='x'>", "</div>", "<br>", "<img src=x>",
    "<script>", "</script>", "<style>", "</style>", "<b>", "</b>",
    "word", "two words", "&amp;", "&bogus;", "&#65;", "&", "&&", " ",
    "   ", "\t\n", "<!-- comment -->", "<![CDATA[x]]>", "<meta name=\"bad\">",
    "<", ">", "a<b", "x" * 1500, "é ü", "<p", "</", "<//x>", "\x07",
    "<noscript>hidden</noscript>", "<w:p><w:t>t</w:t></w:p>",
    # \x0b is C-isspace but not scanner-whitespace: it ends words for
    # _add_space purposes while living inside WORD tokens
    "\x0b", "y\x0b z", "<s>", "<scrip>",
]


def test_randomized_equivalence():
    rng = random.Random(42)
    for _ in range(400):
        n = rng.randint(1, 25)
        doc = "".join(rng.choice(PIECES) for _ in range(n)).encode("utf-8")
        a, b = both(doc)
        assert a == b, doc[:200]


def test_window_fast_path_matches_byte_loop():
    # the find-based scan_special/_scan_delimited twins must be
    # token-for-token identical to the per-byte window loops, including
    # the straddled-close-tag and straddled-marker miss quirks
    import random

    from warc2text_spark.functions import scanner as sc

    pieces = [
        "<script>", "</script>", "</scriptx>", "</Xcript>", "<style>",
        "</style>", "x" * 1014, "x" * 1013, "y" * 2100, "<", ">", "</",
        "<!--", "-->", "c" * 1022, "<![CDATA[", "]]>", "body text ",
        "<p>a</p>", "var x = '</s'; ", "<scriptx>", "</scrip>",
    ]
    rng = random.Random(11)

    def tokens(data):
        s = sc.Scanner(data)
        out = []
        for _ in range(4000):
            t, v = s.next_token()
            out.append((t, v, s.tag_name, s.pos))
            if t in (sc.TT_EOF, sc.TT_ERROR):
                break
        return out

    for _ in range(300):
        doc = "".join(rng.choice(pieces)
                      for _ in range(rng.randint(1, 12))).encode()
        sc._WINDOW_FAST_ENABLED = True
        fast = tokens(doc)
        sc._WINDOW_FAST_ENABLED = False
        try:
            slow = tokens(doc)
        finally:
            sc._WINDOW_FAST_ENABLED = True
        assert fast == slow, doc[:120]


def test_long_segment_fast_path_cap_boundaries():
    """The r4 extended fast path (segments beyond MAX_TOKEN_SIZE with no
    over-cap token) must match the token loop exactly at the 1023/1024-byte
    cap boundaries, for '&'-led tokens, and around the \\x0b quirk."""
    from warc2text_spark.functions.textextract import process_html

    cases = [
        b"<p>" + b"x" * 5000 + b"</p>",                    # over-cap word
        b"<p>" + b"x" * 1023 + b" tail</p>",               # exactly at cap
        b"<p>" + b"x" * 1024 + b" tail</p>",               # one over
        b"<p>&" + b"y" * 1022 + b" t</p>",                 # &-token at cap
        b"<p>&" + b"y" * 1023 + b" t</p>",                 # &-token one over
        b"<p>" + (b"word " * 400) + b"</p>",               # long seg, small tokens
        b"<p>" + (b"word \n\t " * 400) + b"</p>",          # collapse needed
        b"<p>" + b"a\x0bb" + b" c" * 800 + b"</p>",        # \x0b in long seg
        b"<p>" + b"q" * 2000 + b"&amp;" + b"r" * 2000 + b"</p>",
    ]
    for doc in cases:
        fast = process_html(doc, fused=True)
        slow = process_html(doc, fused=False)
        assert fast == slow, doc[:60]

