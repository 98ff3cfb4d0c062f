"""HTML extraction contract tests (reference: src/html.cc, src/xh_scanner.cc).

Golden strings hand-derived from the cited token semantics.
"""

import re

from warc2text_spark.functions.textextract import (
    FILTERED_DOCUMENT_ERROR,
    HTML_PARSING_ERROR,
    SUCCESS,
    parse_tag_filters,
    process_html,
    replace_ctrl,
    trim_lines_copy,
)


def ext(html, filters=None):
    text, err = process_html(html.encode() if isinstance(html, str) else html,
                             filters)
    return text.decode("utf-8", errors="replace"), err


# --- F01: block/inline segmentation -------------------------------------
def test_block_inline_void():
    text, err = ext("<html><body><p>a <b>b</b></p><div>c</div><br>d<img>e</body></html>")
    assert err == SUCCESS
    assert text == "a b\nc\nd e\n"


def test_nested_blocks_collapse_newlines():
    text, err = ext("<div><p>x</p></div><div><p>y</p></div>")
    assert text == "x\ny\n"


def test_space_collapsing():
    text, _ = ext("<p>a   b\t\nc</p>")
    assert text == "a b c\n"


def test_final_newline_always():
    text, _ = ext("<p>word")
    assert text == "word\n"


def test_empty_output_stays_empty():
    text, err = ext("<div></div>")
    assert text == ""
    assert err == SUCCESS


# --- F02: noText suppression ----------------------------------------------
def test_script_style_suppressed():
    text, err = ext('<p>x</p><script>var a="<p>no</p>";</script><style>p{}</style><p>y</p>')
    assert err == SUCCESS
    assert text == "x\ny\n"


def test_text_before_any_tag_suppressed():
    # initial tag is "" which is in the noText set (util.hh:74)
    text, _ = ext("orphan <p>kept</p>")
    assert text == "kept\n"


def test_word_right_after_script_close_suppressed():
    # quirk: `tag` keeps the value set by TT_TAG_END (html.cc:60-67)
    text, _ = ext("<p>a</p><script>s</script>gone<b>kept</b>")
    assert text == "a\nkept\n"


def test_script_prefix_tag_raw_scans():
    # strncmp(tag_name, "script", 6): <scriptx> also raw-scans to </scriptx>
    text, _ = ext("<p>a</p><scriptx>hidden</scriptx><p>b</p>")
    assert text == "a\nb\n"


def test_noscript_content_dropped_but_parsed():
    text, _ = ext("<p>a</p><noscript>no<b>still no</b></noscript><p>b</p>")
    # <b> resets tag to "b" (not in noText): "still no" IS kept — noscript
    # bodies are parsed, unlike script/style raw scan
    assert text == "a\nstill no\nb\n"


# --- F05: tag filters -----------------------------------------------------
def test_tag_filter_match_and_continue():
    filters = parse_tag_filters("meta\tname\ttranslation-stats")
    text, err = ext('<html><meta name="translation-stats" content="x"><p>body</p></html>', filters)
    assert err == FILTERED_DOCUMENT_ERROR
    assert text == "body\n"  # extraction continues after a filter match


def test_tag_filter_no_match():
    filters = parse_tag_filters("meta\tname\ttranslation-stats")
    _, err = ext('<meta name="generator"><p>b</p>', filters)
    assert err == SUCCESS


def test_tag_filter_unquoted_value_first_char_dropped():
    # xh_scanner.cc:143-146: unquoted attr values lose their first char
    filters = parse_tag_filters("div\tclass\t^ooter")
    _, err = ext("<div class=footer>x</div>", filters)
    assert err == FILTERED_DOCUMENT_ERROR


def test_parse_error_overrides_filter():
    filters = parse_tag_filters("meta\tname\tx")
    _, err = ext('<meta name="x"><p>a<//bad>', filters)
    assert err == HTML_PARSING_ERROR


# --- F06: parse errors ------------------------------------------------------
def test_error_standalone_slash_in_head():
    text, err = ext("<p>ok</p><a / b>tail")
    assert err == HTML_PARSING_ERROR
    assert text.startswith("ok\n")


def test_error_eof_in_tag():
    _, err = ext("<p>ok<div")
    assert err == HTML_PARSING_ERROR


def test_error_bad_close_tag():
    _, err = ext("<p>ok<//broken>")
    assert err == HTML_PARSING_ERROR


def test_error_lt_in_attr_name():
    _, err = ext("<p a<b>x")
    assert err == HTML_PARSING_ERROR


def test_partial_text_kept_on_error():
    text, err = ext("<p>kept</p><p>also<div")
    assert err == HTML_PARSING_ERROR
    assert text == "kept\nalso\n"


# --- F07: token caps ---------------------------------------------------------
def test_long_word_truncated_to_1023():
    word = "x" * 3000
    text, err = ext(f"<p>{word}</p>")
    assert err == SUCCESS
    assert text == "x" * 1023 + "\n"


def test_comment_and_cdata_dropped():
    text, _ = ext("<p>a</p><!-- hidden <p>no</p> --><p>b</p>")
    assert text == "a\nb\n"
    text, _ = ext("<p>a<![CDATA[ raw <x> ]]>b</p>")
    assert text == "ab\n"  # CDATA body is DATA (dropped); b resumes body


def test_nul_truncates_input():
    text, _ = ext(b"<p>a</p>\0<p>b</p>")
    assert text == "a\n"


def test_self_closing_tag():
    text, _ = ext("<p>a<br/>b</p>")
    assert text == "a\nb\n"


def test_attributes_parsed_quoted_unquoted():
    text, err = ext("<p id='x' class=\"y\" align=center>a</p>")
    assert err == SUCCESS
    assert text == "a\n"


def test_entities_not_decoded_by_scanner():
    text, _ = ext("<p>a&amp;b</p>")
    assert text == "a&amp;b\n"  # decode is a separate pass


def test_script_case_sensitive_close():
    # scan_special matches '</script>' case-sensitively; '</SCRIPT>' doesn't
    # close the raw scan, so everything to EOF is swallowed as DATA
    text, _ = ext("<p>a</p><script>x</SCRIPT>leak<p>b</p>")
    assert text == "a\n"


# --- T5: plain-text path ------------------------------------------------------
def test_trim_lines_copy():
    assert trim_lines_copy(b"  a b \n\n\tc\n") == b"a b\nc\n"
    assert trim_lines_copy(b"") == b""
    assert trim_lines_copy(b"   \n \t \n") == b""
    assert trim_lines_copy(b"no newline  ") == b"no newline\n"


def test_replace_ctrl():
    assert replace_ctrl(b"a\x07b\nc\x7fd") == b"a b\nc d"


def test_vertical_tab_ends_words_for_add_space():
    # \x0b is C-isspace (so addSpace after it is a no-op) but not
    # scanner-whitespace (so it sits inside WORD tokens): the space after
    # 'y\x0b' must be swallowed, on both the fused and unfused paths.
    for fused in (True, False):
        text, err = process_html(b"<p>x y\x0b z</p>", fused=fused)
        assert text == b"x y\x0bz\n", fused
    # \x0b at a segment edge and at output end
    for fused in (True, False):
        text, _ = process_html(b"<p>a\x0b</p><p>b</p>", fused=fused)
        assert text == b"a\nb\n", fused


# --- ODF/OOXML tags ----------------------------------------------------------
def test_odf_word_tags():
    text, _ = ext("<w:document><w:p><w:r><w:t>hello</w:t></w:r></w:p>"
                  "<w:p><w:r><w:t>world</w:t></w:r></w:p></w:document>")
    assert text == "hello\nworld\n"


def test_text_s_void_tag():
    text, _ = ext("<text:p>a<text:s/>b</text:p>")
    assert text == "a b\n"


def test_trim_lines_fast_matches_loop():
    import random

    from tests.twins import trim_lines_copy_loop
    from warc2text_spark.functions.textextract import trim_lines_copy
    pieces = [b"a", b" ", b"\t", b"\n", b"\v", b"\f", b"\r", b"word ",
              b"\r\n", b"  x  ", b"\n\n", b"mid\vdle", b""]
    rng = random.Random(5)
    for _ in range(800):
        data = b"".join(rng.choice(pieces) for _ in range(rng.randint(0, 20)))
        assert trim_lines_copy(data) == trim_lines_copy_loop(data), data
