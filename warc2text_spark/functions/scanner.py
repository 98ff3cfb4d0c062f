"""Clean-room HTML/XML tokenizer with the reference scanner's exact contract.

Reference: /root/reference/src/xh_scanner.{hh,cc} (a fixed-buffer streaming
state machine).  This is a byte-level reimplementation driven by the cited
semantics — including its quirks, which are load-bearing for output parity:

* fixed buffers: token values are capped at 1023 bytes (silently truncated,
  xh_scanner.cc:242-245); tag/attr names at 127 bytes (:247-255);
* the input is treated as a C string: scanning stops at the first NUL byte
  (xh_scanner.hh:11 uses strlen);
* body text is split into alternating WORD/SPACE runs, additionally split at
  ``&`` and ``<`` (xh_scanner.cc:28-67); whitespace is exactly
  ``' ', '\\t', '\\n', '\\r', '\\f'`` (:237-240);
* unquoted attribute values lose their first character (the reference
  overwrites it at xh_scanner.cc:143-146);
* ``<script``/``<style`` heads switch to raw scanning (scan_special) only
  when the *first 6/5 bytes* of the tag name match (strncmp,
  xh_scanner.cc:73-79) — so ``<scriptx>`` raw-scans too; the driver
  (html.cc:63) calls ``get_tag_name()`` on every TAG_START/TAG_END, which
  NUL-terminates the persistent name buffer (xh_scanner.cc:24), so a short
  tag following ``</script>`` can never stale-match — we emulate that NUL
  write at each TAG_START/TAG_END emission;
* scan_special's close-tag check never compares ``tag_name[0]``
  (the do-while at xh_scanner.cc:300-305 stops at i==1), and works in
  1023-byte windows: a close tag straddling a window boundary is missed
  unless its ``<`` falls in the last ``tag_name_length+3`` bytes
  (xh_scanner.cc:291-295);
* comment/CDATA/PI/ENTITY bodies are emitted as DATA in 1023-byte windows;
  an end marker straddling a window boundary is likewise missed
  (xh_scanner.cc:257-277, 321-342);
* ``<!ENTITY`` detection compares 8 bytes of the 7-byte name against a
  *persistent* name buffer, so it only fires when the stale 8th byte is NUL
  (xh_scanner.cc:194-199 with the buffer of :111);
* a ``/`` in a tag head not followed by ``>`` is an error (:87-97), as is
  ``<`` inside an attribute name (:118), EOF inside a tag name (:205), or a
  non-``>`` after ``</tag`` (:207-209).

Everything operates on ``bytes`` because the caps and whitespace classes are
byte-level in the reference.
"""

from __future__ import annotations

import re

# token types (xh_scanner.hh:18-41)
TT_ERROR = -1
TT_EOF = 0
TT_TAG_START = 1
TT_TAG_END = 2
TT_ATTR = 3
TT_WORD = 4
TT_SPACE = 5
TT_DATA = 6
TT_COMMENT_START = 7
TT_COMMENT_END = 8
TT_CDATA_START = 9
TT_CDATA_END = 10
TT_PI_START = 11
TT_PI_END = 12
TT_ENTITY_START = 13
TT_ENTITY_END = 14

MAX_TOKEN_SIZE = 1024  # xh_scanner.hh:44
MAX_NAME_SIZE = 128

_WS = b" \t\n\r\f"
_WS_SET = frozenset(_WS)
_WORD_RUN = re.compile(rb"[^<& \t\n\r\f]*")
_SPACE_RUN = re.compile(rb"[ \t\n\r\f]*")
# tag-name run: any bytes except the scan_tag delimiters (ws, '/', '>');
# first char additionally not '!' (special tokens take the slow loop)
_TAG_NAME_RUN = re.compile(rb"[^!< \t\n\r\f/>][^ \t\n\r\f/>]*")
# attribute fast paths (byte-exact with the scan_head loop; anything not
# matching — EOF mid-attr, valueless attrs, '<' in names — takes the loop)
_ATTR_QUOTED = re.compile(
    rb"([^=<> \t\n\r\f]+)[ \t\n\r\f]*=[ \t\n\r\f]*(\"([^\"]*)\"|'([^']*)')")
_ATTR_UNQUOTED = re.compile(
    rb"([^=<> \t\n\r\f]+)[ \t\n\r\f]*=[ \t\n\r\f]*"
    rb"([^ \t\n\r\f>\"'][^ \t\n\r\f>]*)([ \t\n\r\f>])")
_ATTR_FAST_ENABLED = True    # differential tests flip this
_WINDOW_FAST_ENABLED = True  # find-based special/comment windows (ditto)
_SPECIAL_CLOSE_CACHE: dict[bytes, re.Pattern] = {}

# whole-head skip (driver fast path, scan_head_skip): matches a run of
# well-formed attributes up to the closing '>'/' />'.  Grammar mirrors the
# scan_head loop exactly: attr names start with any byte except
# ws/'='/'<'/'>'/'/' (a '/' at attr-start is only legal as '/>') and may
# contain '/' afterwards; values are double-/single-quoted or unquoted
# (first char not ws/'>'/quote, then anything except ws/'>').  Inputs the
# regex rejects (EOF mid-head, '<' in a name, value starting at '>', lone
# '/') fall back to the token loop so every quirk/error path is preserved.
_HEAD_SKIP = re.compile(
    rb"(?:[ \t\n\r\f]*+[^=<>/ \t\n\r\f][^=<> \t\n\r\f]*+"
    rb"(?:[ \t\n\r\f]*+=[ \t\n\r\f]*+"
    rb"(?:\"[^\"]*+\"|'[^']*+'|[^ \t\n\r\f>\"'][^ \t\n\r\f>]*+))?+)*+"
    rb"[ \t\n\r\f]*+(/?)>")


class Scanner:
    """One instance per document; ``next_token()`` yields (type, value).

    ``value`` is the token value (bytes) for WORD/SPACE/ATTR/DATA tokens;
    ``tag_name``/``attr_name`` expose the current (capped) names.
    """

    __slots__ = ("buf", "pos", "end", "_scan", "_got_tail", "value",
                 "_tag_buf", "tag_name_length", "attr_name", "tag_name")

    def __init__(self, data: bytes):
        nul = data.find(b"\0")
        if nul >= 0:
            data = data[:nul]
        self.buf = data
        self.pos = 0
        self.end = len(data)
        self._scan = self._scan_body
        self._got_tail = False
        self.value = b""
        # persistent name buffer: needed for the !ENTITY stale-byte quirk
        self._tag_buf = bytearray(MAX_NAME_SIZE)
        self.tag_name_length = 0
        self.tag_name = b""
        self.attr_name = b""

    # --- char-level primitives -------------------------------------------
    def _get(self) -> int:
        p = self.pos
        if p < self.end:
            self.pos = p + 1
            return self.buf[p]
        return 0

    def _push_back(self, c: int) -> None:
        if c:
            self.pos -= 1

    def _skip_ws(self) -> int:
        buf, end = self.buf, self.end
        p = self.pos
        while p < end:
            c = buf[p]
            p += 1
            if c not in _WS_SET:
                self.pos = p
                return c
        self.pos = p
        return 0

    def next_token(self):
        return self._scan()

    # --- body --------------------------------------------------------------
    def _scan_body(self):
        # xh_scanner.cc:28-67
        p = self.pos
        if p >= self.end:
            return TT_EOF, b""
        buf = self.buf
        c = buf[p]
        if c == 0x3C:  # '<'
            self.pos = p + 1
            return self._scan_tag()
        if c in _WS_SET:
            m = _SPACE_RUN.match(buf, p)
            self.pos = m.end()
            self.value = m.group()[: MAX_TOKEN_SIZE - 1]
            return TT_SPACE, self.value
        # word: first char unconditionally consumed (may be '&'), then run
        m = _WORD_RUN.match(buf, p + 1)
        self.pos = m.end()
        self.value = buf[p:m.end()][: MAX_TOKEN_SIZE - 1]
        return TT_WORD, self.value

    # --- tag open/close ------------------------------------------------------
    def _set_tag_name_byte(self, c: int) -> None:
        if self.tag_name_length < MAX_NAME_SIZE - 1:
            self._tag_buf[self.tag_name_length] = c
            self.tag_name_length += 1

    def _terminate_name(self) -> None:
        # The reference driver calls get_tag_name() on every TAG_START and
        # TAG_END (html.cc:63), which writes tag_name[tag_name_length] = 0
        # (xh_scanner.cc:24).  The stale bytes beyond the length are
        # load-bearing (scan_head's strncmp for script/style, the !ENTITY
        # 8th-byte check), so the NUL must land exactly where and when the
        # reference's does.  tag_name_length is capped at MAX_NAME_SIZE-1,
        # so the write is always in bounds.
        self._tag_buf[self.tag_name_length] = 0

    def _scan_tag(self):
        # xh_scanner.cc:165-215 (caller consumed '<')
        self.tag_name_length = 0
        c = self._get()
        is_tail = c == 0x2F  # '/'
        if is_tail:
            c = self._get()
        tb = self._tag_buf

        # fast path: plain tag name not starting with '!' (no special-token
        # checks can fire) followed by a delimiter — one regex instead of a
        # per-byte loop.  Byte-exact with the slow loop below.
        if c and c != 0x21:  # '!'
            m = _TAG_NAME_RUN.match(self.buf, self.pos - 1)
            if m is not None:
                name = m.group()
                end = m.end()
                if end < self.end:
                    nl = len(name)
                    if nl <= MAX_NAME_SIZE - 1:
                        tb[:nl] = name
                        self.tag_name_length = nl
                    else:
                        tb[: MAX_NAME_SIZE - 1] = name[: MAX_NAME_SIZE - 1]
                        self.tag_name_length = MAX_NAME_SIZE - 1
                    self.tag_name = bytes(tb[: self.tag_name_length])
                    self.pos = end
                    d = self.buf[end]  # delimiter: ws, '/', or '>'
                    if d in _WS_SET:
                        self.pos = end + 1
                        d = self._skip_ws()
                        if d == 0:
                            return TT_ERROR, b""
                        if is_tail:
                            if d == 0x3E:
                                self._terminate_name()
                                return TT_TAG_END, b""
                            return TT_ERROR, b""
                        self._push_back(d)
                    else:
                        if is_tail:
                            self.pos = end + 1
                            if d == 0x3E:
                                self._terminate_name()
                                return TT_TAG_END, b""
                            return TT_ERROR, b""
                    self._scan = self._scan_head
                    self._terminate_name()
                    return TT_TAG_START, b""
                # name runs to EOF: fall through via slow loop semantics
                self.pos = self.end
                nl = min(len(name), MAX_NAME_SIZE - 1)
                tb[:nl] = name[:nl]
                self.tag_name_length = nl
                self.tag_name = bytes(tb[:nl])
                return TT_ERROR, b""
        while c:
            if c in _WS_SET:
                c = self._skip_ws()
                break
            if c == 0x2F or c == 0x3E:  # '/' '>'
                break
            self._set_tag_name_byte(c)
            tl = self.tag_name_length
            if tl == 3:
                if tb[:3] == b"!--":
                    self.tag_name = bytes(tb[:3])
                    self._scan = self._scan_comment
                    return TT_COMMENT_START, b""
            elif tl == 8:
                if tb[:8] == b"![CDATA[":
                    self.tag_name = bytes(tb[:8])
                    self._scan = self._scan_cdata
                    return TT_CDATA_START, b""
            elif tl == 7:
                # strncmp(tag_name, "!ENTITY", 8): reads the stale 8th byte
                if tb[:7] == b"!ENTITY" and tb[7] == 0:
                    self.tag_name = bytes(tb[:7])
                    self._scan = self._scan_entity_decl
                    return TT_ENTITY_START, b""
            c = self._get()
        self.tag_name = bytes(tb[: self.tag_name_length])
        if c == 0:
            return TT_ERROR, b""
        if is_tail:
            if c == 0x3E:
                self._terminate_name()
                return TT_TAG_END, b""
            return TT_ERROR, b""
        self._push_back(c)
        self._scan = self._scan_head
        self._terminate_name()
        return TT_TAG_START, b""

    # --- tag head (attributes) ----------------------------------------------
    def _scan_head(self):
        # xh_scanner.cc:69-161
        c = self._skip_ws()
        if c == 0x3E:  # '>'
            # strncmp over the persistent buffer (xh_scanner.cc:73-79); the
            # driver's get_tag_name NUL write (emulated in _terminate_name)
            # guarantees shorter tags never stale-match leftover bytes
            tb = self._tag_buf
            if tb[:6] == b"script" or tb[:5] == b"style":
                self._scan = self._scan_special
                return self._scan_special()
            self._scan = self._scan_body
            return self._scan_body()
        if c == 0x2F:  # '/'
            t = self._get()
            if t == 0x3E:
                self._scan = self._scan_body
                self._terminate_name()
                return TT_TAG_END, b""
            self._push_back(t)
            return TT_ERROR, b""

        # fast path: `name = "value"` / `name = 'value'` / `name = token`
        if c and _ATTR_FAST_ENABLED:
            m = _ATTR_QUOTED.match(self.buf, self.pos - 1)
            if m is not None:
                self.attr_name = m.group(1)[: MAX_NAME_SIZE - 1]
                val = m.group(3) if m.group(3) is not None else m.group(4)
                self.value = val[: MAX_TOKEN_SIZE - 1]
                self.pos = m.end()
                return TT_ATTR, self.value
            m = _ATTR_UNQUOTED.match(self.buf, self.pos - 1)
            if m is not None:
                self.attr_name = m.group(1)[: MAX_NAME_SIZE - 1]
                # the reference drops the first unquoted-value char
                # (xh_scanner.cc:143-146)
                self.value = m.group(2)[1:][: MAX_TOKEN_SIZE - 1]
                # a ws terminator is consumed; '>' is left for the head
                self.pos = m.end() if m.group(3) != b">" else m.end() - 1
                return TT_ATTR, self.value

        attr = bytearray()
        value = bytearray()
        # attribute name
        while c != 0x3D:  # '='
            if c == 0:
                return TT_EOF, b""
            if c == 0x3E:  # '>' : attribute without value
                self._push_back(c)
                self.attr_name = bytes(attr[: MAX_NAME_SIZE - 1])
                self.value = b""
                return TT_ATTR, b""
            if c in _WS_SET:
                c = self._skip_ws()
                if c != 0x3D:
                    self._push_back(c)
                    self.attr_name = bytes(attr[: MAX_NAME_SIZE - 1])
                    self.value = b""
                    return TT_ATTR, b""
                break
            if c == 0x3C:  # '<'
                return TT_ERROR, b""
            attr.append(c)
            c = self._get()
        self.attr_name = bytes(attr[: MAX_NAME_SIZE - 1])

        c = self._skip_ws()
        # attribute value
        if c == 0x22:  # '"'
            c = self._get()
            while c:
                if c == 0x22:
                    self.value = bytes(value[: MAX_TOKEN_SIZE - 1])
                    return TT_ATTR, self.value
                value.append(c)
                c = self._get()
        elif c == 0x27:  # "'"
            c = self._get()
            while c:
                if c == 0x27:
                    self.value = bytes(value[: MAX_TOKEN_SIZE - 1])
                    return TT_ATTR, self.value
                value.append(c)
                c = self._get()
        else:
            # unquoted value: the reference discards the first char here
            # (xh_scanner.cc:143-146 re-reads before appending)
            c = self._get()
            while c:
                if c in _WS_SET:
                    self.value = bytes(value[: MAX_TOKEN_SIZE - 1])
                    return TT_ATTR, self.value
                if c == 0x3E:  # '>'
                    self._push_back(c)
                    self.value = bytes(value[: MAX_TOKEN_SIZE - 1])
                    return TT_ATTR, self.value
                value.append(c)
                c = self._get()
        return TT_ERROR, b""

    def scan_head_skip(self):
        """Driver fast path: consume the whole tag head in one regex when
        the caller knows attribute values cannot matter (no tag filter for
        the current tag).  Output-equivalent to iterating _scan_head for
        every input the regex accepts — ATTR tokens only influence the
        driver via filter evaluation; anything unusual falls back to the
        token loop with the position untouched."""
        m = _HEAD_SKIP.match(self.buf, self.pos)
        if m is None:
            return self._scan_head()
        self.pos = m.end()
        if m.group(1):  # '/>': self-closing (xh_scanner.cc:87-92)
            self._scan = self._scan_body
            self._terminate_name()
            return TT_TAG_END, b""
        tb = self._tag_buf
        if tb[:6] == b"script" or tb[:5] == b"style":
            self._scan = self._scan_special
            return self._scan_special()
        self._scan = self._scan_body
        return self._scan_body()

    # --- raw script/style bodies ----------------------------------------------
    def _scan_special(self):
        # xh_scanner.cc:280-319
        if self._got_tail:
            self._scan = self._scan_body
            self._got_tail = False
            self._terminate_name()
            return TT_TAG_END, b""
        tl = self.tag_name_length
        tb = self._tag_buf
        if _WINDOW_FAST_ENABLED:
            return self._scan_special_fast(tl, tb)
        value = bytearray()
        while len(value) < MAX_TOKEN_SIZE - 1:
            c = self._get()
            if c == 0:
                return TT_EOF, b""
            if c == 0x3C and len(value) + tl + 3 >= MAX_TOKEN_SIZE:
                self._push_back(c)
                break
            value.append(c)
            vl = len(value) - 1  # index of c, mirrors value_length pre-increment
            if c == 0x3E and vl >= tl + 2:
                # backward compare, skipping tag_name[0] (do-while stops at i==1)
                if vl - tl >= 0 and value[vl - tl + 1: vl] == tb[1:tl] \
                        and value[vl - tl - 1] == 0x2F and value[vl - tl - 2] == 0x3C:
                    self._got_tail = True
                    del value[vl - tl - 2:]
                    break
        self.value = bytes(value)
        return TT_DATA, self.value

    def _scan_special_fast(self, tl: int, tb: bytearray):
        """Find-based twin of the _scan_special byte loop (differential-
        tested).  Event order within the window is the earliest of:

        * a close-tag match ``</`` + ANY + ``name[1:]`` + ``>`` (the byte
          at name[0]'s position is unchecked — the do-while stops at i==1)
          whose last byte fits inside the 1023-byte value (encoded by the
          search endpos: a match ending past it is exactly one the byte
          loop's ``<``-guard would have pushed back);
        * a ``<`` at value index >= 1021 - tag_len (the guard itself);
        * the window filling at 1023 bytes;
        * EOF before any of those (value discarded, like the byte loop).
        """
        p0 = self.pos
        end = self.end
        buf = self.buf
        key = bytes(tb[1:tl])
        pat = _SPECIAL_CLOSE_CACHE.get(key)
        if pat is None:
            pat = re.compile(rb"</[\s\S]" + re.escape(key) + rb">")
            _SPECIAL_CLOSE_CACHE[key] = pat
        m = pat.search(buf, p0, min(end, p0 + MAX_TOKEN_SIZE - 1))
        guard_from = p0 + (MAX_TOKEN_SIZE - 3 - tl)  # first '<' pushed back
        lt = buf.find(0x3C, guard_from, min(end, p0 + MAX_TOKEN_SIZE - 1))
        if m is not None and (lt < 0 or m.start() < lt):
            self._got_tail = True
            self.value = buf[p0:m.start()]
            self.pos = m.end()
            return TT_DATA, self.value
        if 0 <= lt < end:
            self.value = buf[p0:lt]
            self.pos = lt
            return TT_DATA, self.value
        if end - p0 >= MAX_TOKEN_SIZE - 1:
            self.value = buf[p0:p0 + MAX_TOKEN_SIZE - 1]
            self.pos = p0 + MAX_TOKEN_SIZE - 1
            return TT_DATA, self.value
        self.pos = end
        return TT_EOF, b""

    # --- windowed DATA scanners -------------------------------------------
    def _scan_delimited(self, tail: bytes, end_token: int, keep: int):
        """Shared shape of scan_comment/scan_cdata/scan_pi (windowed)."""
        if self._got_tail:
            self._scan = self._scan_body
            self._got_tail = False
            return end_token, b""
        n = len(tail)
        if _WINDOW_FAST_ENABLED:
            # find-based twin of the byte loop below: the end marker must
            # fall entirely inside the 1023-byte window (a straddler is
            # missed, exactly like the per-byte check); no marker and a
            # full window -> capped DATA; no marker before EOF -> TT_EOF
            # with the value discarded
            p0 = self.pos
            end = self.end
            idx = self.buf.find(tail, p0, min(end, p0 + MAX_TOKEN_SIZE - 1))
            if idx >= 0:
                self._got_tail = True
                self.value = self.buf[p0:idx + n - keep]
                self.pos = idx + n
                return TT_DATA, self.value
            if end - p0 >= MAX_TOKEN_SIZE - 1:
                self.value = self.buf[p0:p0 + MAX_TOKEN_SIZE - 1]
                self.pos = p0 + MAX_TOKEN_SIZE - 1
                return TT_DATA, self.value
            self.pos = end
            return TT_EOF, b""
        value = bytearray()
        while len(value) < MAX_TOKEN_SIZE - 1:
            c = self._get()
            if c == 0:
                return TT_EOF, b""
            value.append(c)
            if len(value) - 1 >= n - 1 and value[-n:] == tail:
                self._got_tail = True
                del value[-keep:]
                break
        self.value = bytes(value)
        return TT_DATA, self.value

    def _scan_comment(self):
        # xh_scanner.cc:257-277 ('-->', drops trailing '--')
        return self._scan_delimited(b"-->", TT_COMMENT_END, 3)

    def _scan_cdata(self):
        # xh_scanner.cc:321-342 (']]>', drops trailing ']]')
        return self._scan_delimited(b"]]>", TT_CDATA_END, 3)

    def _scan_entity_decl(self):
        # xh_scanner.cc:366-385: '>' outside double quotes ends the decl;
        # the terminating '>' stays in the value
        if self._got_tail:
            self._scan = self._scan_body
            self._got_tail = False
            return TT_ENTITY_END, b""
        quotes = 0
        value = bytearray()
        while len(value) < MAX_TOKEN_SIZE - 1:
            c = self._get()
            if c == 0:
                return TT_EOF, b""
            value.append(c)
            if c == 0x22:
                quotes += 1
            elif c == 0x3E and (quotes & 1) == 0:
                self._got_tail = True
                break
        self.value = bytes(value)
        return TT_DATA, self.value
