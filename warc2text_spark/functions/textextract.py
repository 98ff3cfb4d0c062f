"""Text assembly: HTML token stream -> plain text, and the text/plain path.

Reference semantics:

* ``process_html`` — /root/reference/src/html.cc:44-87.  Block tags emit a
  newline (collapsing a trailing whitespace byte into ``\\n``), void tags a
  space; WORD tokens are appended unless the *most recently seen tag name*
  (start or end — so text right after ``</script>`` is still suppressed) is
  in the no-text set; SPACE tokens append one space when the output doesn't
  already end in whitespace; the result is ``\\n``-terminated.  A scanner
  TT_ERROR aborts extraction at that point with HTML_PARSING_ERROR (partial
  text kept); a tag-filter match records FILTERED_DOCUMENT_ERROR but the
  scan continues (a later parse error overwrites it, html.cc:56-58).
  The reference's ``plaintext.back()`` on empty output is UB
  (html.cc:85); here empty output stays empty.
* Tag sets — /root/reference/src/util.hh:74-113 (incl. ODF/OOXML tags).
* Tag filters — ``{tag: {attr: [compiled regex, ...]}}``; a filter fires on
  a TT_ATTR token via regex *search* on the raw value (html.cc:12-26).
* ``trim_lines_copy`` — /root/reference/src/util.cc:36-66: drop leading
  whitespace (any C-isspace byte, which also eats empty lines), trim line
  tails, terminate each kept line with ``\\n``.
* ``replace_ctrl`` — /root/reference/src/record.cc:267: C-iscntrl bytes
  other than ``\\n`` become spaces.

Everything is byte-level (C-locale character classes).
"""

from __future__ import annotations

from . import scanner as sc

# util.hh:34-41
SUCCESS = 0
HTML_PARSING_ERROR = 1
FILTERED_DOCUMENT_ERROR = 2
UNKNOWN_ENCODING_ERROR = 3
UTF8_CONVERSION_ERROR = 4
NOT_VALID_RECORD = 5

# util.hh:74
NOTEXT_TAGS = frozenset({b"script", b"noscript", b"style", b""})

# util.hh:77-84
VOID_TAGS = frozenset({
    b"!doctype", b"area", b"base", b"br", b"col", b"command", b"embed",
    b"hr", b"img", b"input", b"keygen", b"link", b"meta", b"param",
    b"source", b"track", b"wbr",
    b"text:s",  # ODP: represents a space
    b"w:s",     # MS Word
})

# util.hh:88-99 (br treated as block for extraction purposes)
BLOCK_TAGS = frozenset({
    b"address", b"article", b"aside", b"blockquote", b"body", b"br",
    b"details", b"dialog", b"dd", b"div", b"dl", b"dt", b"fieldset",
    b"figcaption", b"figure", b"footer", b"form", b"h1", b"h2", b"h3",
    b"h4", b"h5", b"h6", b"head", b"header", b"hgroup", b"html", b"hr",
    b"li", b"main", b"nav", b"ol", b"p", b"pre", b"section", b"table",
    b"td", b"th", b"title", b"tr", b"ul",
    b"text:p",  # ODT
    b"w:p",     # MS Word
    b"a:p",     # MS Powerpoint
})

_C_ISSPACE = frozenset(b" \t\n\v\f\r")
_NL = 0x0A
_SP = 0x20


def _add_newline(out: bytearray) -> None:
    # html.cc:28-36
    if not out:
        return
    if out[-1] in _C_ISSPACE:
        out[-1] = _NL
    else:
        out.append(_NL)


def _add_space(out: bytearray) -> None:
    # html.cc:38-42
    if out and out[-1] not in _C_ISSPACE:
        out.append(_SP)


def _filter_ok(tag: bytes, attr: bytes, value: bytes, tag_filters) -> bool:
    # html.cc:12-26 — True when the doc is ok (no filter matched)
    by_attr = tag_filters.get(tag)
    if not by_attr:
        return True
    regexes = by_attr.get(attr.lower())
    if not regexes:
        return True
    return not any(r.search(value) for r in regexes)


import re as _re

# body tokenization, fused: ws run | '&'-led word | plain word — exactly the
# token boundaries of scan_body (xh_scanner.cc:28-67)
_BODY_RUNS = _re.compile(rb"[ \t\n\r\f]+|&[^<& \t\n\r\f]*|[^<& \t\n\r\f]+")
_CAP = sc.MAX_TOKEN_SIZE - 1


_WS_RUN = _re.compile(rb"[ \t\n\r\f]+")
_WS_SET = frozenset(b" \t\n\r\f")
# any token that the 1023-byte cap would truncate must contain a run of
# >= 1023 non-delimiter bytes ('&'-led tokens are '&' + tail, so the tail
# alone reaches 1023; plain words reach 1024).  A conservative hit (an
# exactly-1023 run that forms an uncapped token) just takes the exact
# token loop — correctness never depends on this test.
_OVER_CAP = _re.compile(rb"[^<& \t\n\r\f]{%d}" % _CAP)
# collapse is a no-op when the only whitespace is isolated single spaces —
# the common case for real body text; one allocation-free C scan decides
_NEEDS_COLLAPSE = _re.compile(rb"[\t\n\r\f]|  ")

# fused tag dispatch: an attribute-less `<name>` / `</name>` (optional
# trailing ws, conservative name charset — anything else falls back to
# the exact scanner).  The overwhelmingly common tag shape on real pages
# (`</p>`, `<br>`, `<li>`, `</div>`, ...) takes ONE regex match + one
# dict hit instead of _scan_tag + _scan_head + two set probes + lower()
_SIMPLE_TAG = _re.compile(rb"<(/?)([a-zA-Z][a-zA-Z0-9:._-]*)[ \t\n\r\f]*>")
# attribute-carrying start tag (`<div class='x'>`): when no tag filter
# applies to the tag, ATTR tokens are inert, so the whole head can fuse
# too.  The head MUST begin with scanner-whitespace (any other byte
# after the name — quotes included — is consumed INTO the tag name by
# the reference scanner), and the head body reuses the scanner's proven
# _HEAD_SKIP grammar VERBATIM (quotes are quotes only after '=',
# malformed heads fail the match and take the exact token path), so the
# fused shape is output-equivalent by construction.  Group 1 = name,
# group 2 = _HEAD_SKIP's self-closing '/' flag.
_ATTR_TAG = _re.compile(
    rb"<([a-zA-Z][a-zA-Z0-9:._-]*)(?=[ \t\n\r\f])" + sc._HEAD_SKIP.pattern)
_TAG_EFFECT_CAP = 4096


def _fused_body(s: sc.Scanner, out: bytearray, suppress: bool) -> None:
    """Apply a whole body segment (up to the next '<' or EOF) to ``out``
    with the exact per-token effects of the scan_body/assembly loop —
    WORD append (1023-byte cap per token), SPACE -> single space."""
    buf, pos = s.buf, s.pos
    lt = buf.find(0x3C, pos)  # '<'
    if lt < 0:
        lt = s.end
    seg = buf[pos:lt]
    s.pos = lt
    if not seg:
        return
    if suppress:
        # words contribute nothing; any whitespace run -> one addSpace
        if _WS_RUN.search(seg) and out and out[-1] not in _C_ISSPACE:
            out.append(0x20)
        return
    if 0x0B not in seg and (len(seg) <= _CAP or not _OVER_CAP.search(seg)):
        # no token can exceed the cap (short segment, or no 1023-byte
        # non-delimiter run anywhere): collapse ws runs to single spaces
        # in one C pass — this is the production path for real crawl
        # pages, whose body segments routinely run tens of KB.
        # \x0b disables this: it is C-isspace (makes _add_space a no-op
        # after it) but not scanner-whitespace (so it sits inside words),
        # breaking the collapse-to-single-space equivalence.
        if _NEEDS_COLLAPSE.search(seg):
            seg = _WS_RUN.sub(b" ", seg)
        if seg[0] == 0x20 and (not out or out[-1] in _C_ISSPACE):
            seg = seg[1:]
        out += seg
        return
    for m in _BODY_RUNS.finditer(seg):
        g = m.group()
        if g[0] in _WS_SET:
            if out and out[-1] not in _C_ISSPACE:
                out.append(0x20)
        else:
            out += g[:_CAP] if len(g) > _CAP else g


def process_html(data: bytes, tag_filters=None, fused: bool = True) -> tuple[bytes, int]:
    """Extract plain text from HTML bytes; returns (text, error_code).

    ``fused=True`` takes the vectorized fast path for body segments (same
    output by construction; equivalence is property-tested against the
    token-at-a-time path, which mirrors the reference loop html.cc:44-87).
    """
    tag_filters = tag_filters or {}
    s = sc.Scanner(data)
    out = bytearray()
    retval = SUCCESS
    tag = b""
    t = sc.TT_SPACE
    body_func = sc.Scanner._scan_body
    head_func = sc.Scanner._scan_head
    tag_effects: dict[bytes, tuple] = {}
    name_cap = sc.MAX_NAME_SIZE - 1
    tb = s._tag_buf
    while t != sc.TT_EOF and t != sc.TT_ERROR:
        # NB: compare the underlying function — bound methods are re-created
        # on each attribute access, so `s._scan is s._scan_body` is never true
        if fused:
            f = s._scan.__func__
            if f is body_func:
                _fused_body(s, out, tag in NOTEXT_TAGS)
                if s.pos >= s.end:
                    break
                m = _SIMPLE_TAG.match(s.buf, s.pos)
                simple = True
                if m is None:
                    # attribute-carrying start tag: the head is inert
                    # when no tag filter applies to this tag (checked
                    # below via the effect tuple) — same effects, same
                    # scanner-state contract
                    m = _ATTR_TAG.match(s.buf, s.pos)
                    simple = False
                if m is not None:
                    # fused simple-tag dispatch: apply the exact
                    # TAG_START/TAG_END effects and leave the scanner
                    # state (tag buffer + NUL, position, special-mode
                    # entry) byte-identical to _scan_tag + _scan_head.
                    # An attribute-carrying tag fuses only when no tag
                    # filter applies to it (ATTR values inert).
                    name = m.group(2) if simple else m.group(1)
                    eff = tag_effects.get(name)
                    if eff is None:
                        name_t = name[:name_cap]
                        low = name_t.lower()
                        eff = (name_t, low, low in BLOCK_TAGS,
                               low in VOID_TAGS,
                               name_t[:6] == b"script"
                               or name_t[:5] == b"style")
                        if len(tag_effects) < _TAG_EFFECT_CAP:
                            tag_effects[name] = eff
                    if simple or eff[1] not in tag_filters:
                        # end-of-tag flag: '/' of </name> (simple) or of
                        # a self-closing '/>' head (attr path) — both
                        # suppress special-mode entry; self-closing
                        # TAG_START+TAG_END double effects are idempotent
                        # (_add_newline/_add_space no-op on trailing ws)
                        ended = m.group(1) if simple else m.group(2)
                        name_t, tag, is_block, is_void, is_special = eff
                        nl = len(name_t)
                        tb[:nl] = name_t
                        s.tag_name_length = nl
                        tb[nl] = 0  # _terminate_name (stale-byte contract)
                        s.tag_name = name_t
                        s.pos = m.end()
                        if is_block:
                            _add_newline(out)
                        if is_void:
                            _add_space(out)
                        if is_special and not ended:
                            s._scan = s._scan_special
                        continue
                t, value = s.next_token()
            elif f is head_func and tag not in tag_filters:
                # no filter can fire for this tag: ATTR values are inert,
                # skip the whole head in one step (error paths fall back);
                # the returned token (TAG_END / body token / error) goes
                # through the normal dispatch below
                t, value = s.scan_head_skip()
            else:
                t, value = s.next_token()
        else:
            t, value = s.next_token()
        if t == sc.TT_ERROR:
            retval = HTML_PARSING_ERROR
        elif t == sc.TT_TAG_START or t == sc.TT_TAG_END:
            tag = s.tag_name.lower()
            if tag in BLOCK_TAGS:
                _add_newline(out)
            if tag in VOID_TAGS:
                _add_space(out)
        elif t == sc.TT_WORD:
            if tag not in NOTEXT_TAGS:
                out += value
        elif t == sc.TT_SPACE:
            _add_space(out)
        elif t == sc.TT_ATTR:
            if not _filter_ok(tag, s.attr_name, value, tag_filters):
                retval = FILTERED_DOCUMENT_ERROR
    if out and out[-1] != _NL:
        out.append(_NL)
    return bytes(out), retval


_C_ISSPACE_BYTES = b" \t\n\v\f\r"


def trim_lines_copy(data: bytes) -> bytes:
    """util.cc:36-66: per-line trim, empty lines dropped, lines \\n-joined.

    The reference's byte loop (skip leading C-isspace, find the newline,
    back off trailing C-isspace, emit line + '\\n') is exactly: split on
    newline, strip each line of C-isspace, drop empties, '\\n'-terminate
    each kept line — which native split/strip do ~10x faster.  Pinned by
    the differential test against the loop-shaped twin in tests/twins.py.
    """
    out = [s for s in (line.strip(_C_ISSPACE_BYTES)
                       for line in data.split(b"\n")) if s]
    return b"\n".join(out) + b"\n" if out else b""


_CTRL_TABLE = bytes(
    0x20 if (c < 0x20 or c == 0x7F) and c != _NL else c for c in range(256)
)


def replace_ctrl(data: bytes) -> bytes:
    """record.cc:267: C-iscntrl (except \\n) -> space."""
    return data.translate(_CTRL_TABLE)


def parse_tag_filters(text: str):
    """Parse the reference tag-filter file format (util.cc:106-130).

    Lines ``tag\\tattr\\tregex[\\tregex...]``; ``#`` comments and blank lines
    skipped; malformed lines (<3 fields) skipped.  Returns the nested dict
    used by :func:`process_html`.  Tag and attr keys are matched exactly as
    given for tags (the reference lower-cases scanned tag names before
    lookup) and lower-cased for attrs at lookup time.
    """
    import re as _re
    filters: dict[bytes, dict[bytes, list]] = {}
    for line in text.splitlines():
        if not line.strip() or line.startswith("#"):
            continue
        fields = line.split("\t")
        if len(fields) < 3:
            continue
        tag = fields[0].encode("utf-8")
        attr = fields[1].encode("utf-8")
        regexes = filters.setdefault(tag, {}).setdefault(attr, [])
        for pat in fields[2:]:
            regexes.append(_re.compile(pat.encode("utf-8")))
    return filters
