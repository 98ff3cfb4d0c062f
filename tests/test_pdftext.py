"""Dependency-free PDF text extraction (functions/pdftext.py): the
ISO-32000 text-showing subset — string syntax, filters, operators — and
the total-function kernel contract."""

import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from warc2text_spark.functions.pdftext import (build_minimal_pdf,
                                               extract_pdf_text)


def test_roundtrip_plain_and_flate():
    lines = ["Hello doc 42", "second line with (parens) and \\ slash"]
    assert extract_pdf_text(build_minimal_pdf(lines)) \
        == "Hello doc 42\nsecond line with (parens) and \\ slash\n"
    assert extract_pdf_text(build_minimal_pdf(lines, flate=True)) \
        == extract_pdf_text(build_minimal_pdf(lines))


def test_string_syntax_and_operators():
    raw = (b"%PDF-1.4\n4 0 obj << /Length 1 >> stream\n"
           b"BT [(a) -120 (b)] TJ T* <48656c6c6f> Tj (line)' "
           b"(\\110\\151) Tj (esc\\)paren) Tj (nest(ed)) Tj ET "
           b"endstream\n%%EOF")
    # NB ' means "next line, THEN show": the shows after (line)' continue
    # on line's line until the next line operator
    assert extract_pdf_text(raw) == "ab\nHello\nlineHiesc)parennest(ed)\n"


def test_octal_escapes_and_continuation():
    raw = (b"%PDF-1.4\nstream\nBT (\\101\\102\\103) Tj (a\\\nb) Tj ET "
           b"endstream\n%%EOF")
    # octal ABC; backslash-newline joins the halves
    assert extract_pdf_text(raw) == "ABCab\n"


def test_non_pdf_and_malformed_inputs():
    assert extract_pdf_text(b"") == ""
    assert extract_pdf_text(b"GIF89a") == ""
    assert extract_pdf_text(b"%PDF-1.4 no streams here") == ""
    # corrupt flate body: stream skipped, no raise
    bad = (b"%PDF-1.4\n<< /Filter /FlateDecode /Length 5 >> stream\n"
           b"xxxxxendstream\n%%EOF")
    assert extract_pdf_text(bad) == ""
    good = build_minimal_pdf(["ok"])
    for cut in range(0, len(good), 37):
        out = extract_pdf_text(good[:cut])
        assert isinstance(out, str)


@given(st.lists(st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=255),
    max_size=30), min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_generator_roundtrip_property(lines):
    """Any latin-1-ish text survives the generator -> extractor round
    trip (escaping of parens/backslash included)."""
    pdf = build_minimal_pdf(lines)
    got = extract_pdf_text(pdf)
    expected = [ln for ln in lines]
    # shows are joined with newlines (T* after each), empty shows vanish
    joined = "\n".join(expected)
    want = (joined.rstrip("\n") + "\n") if joined.strip() else ""
    # strings containing only whitespace may collapse per the newline
    # rule; assert content preservation on the non-degenerate case
    if all(ln.strip() for ln in lines):
        assert got == want


@given(st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_extract_pdf_text_never_raises(data):
    out = extract_pdf_text(b"%PDF-" + data)
    assert isinstance(out, str)
    assert extract_pdf_text(data) == "" or data.startswith(b"%PDF")


def test_pipeline_pdf_text_routing(spark):
    """pdf_text=True keeps application/pdf records in the main stream
    and extracts their text; default routes them to the K3 side WARC
    (reference behavior)."""
    import base64

    from warc2text_spark.plans.pipeline import (PipelineOptions,
                                                run_pipeline)
    from warc2text_spark.sources.fixtures import INPUT_SCHEMA
    pdf = build_minimal_pdf(["Hello pdf world", "line two"])
    rows = [
        ("p1", "https://x/a.pdf", "response",
         "application/http; msgtype=response", "200 OK", "application/pdf",
         "", "", "2024-01-01T00:00:00Z",
         [dict(kind="media", text="",
               media_ref=base64.b64encode(pdf).decode(), offset=0)]),
        ("h1", "https://x/b.html", "response",
         "application/http; msgtype=response", "200 OK", "text/html",
         "", "", "2024-01-01T00:00:00Z",
         [dict(kind="text", text="<p>the cat and the dog</p>",
               media_ref="", offset=0)]),
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    # default: reference K3 side route
    res = run_pipeline(df, PipelineOptions(classifier="skip"))
    assert [r.doc_id for r in res.pdf.collect()] == ["p1"]
    assert {r.doc_id for r in res.main.collect()} == {"h1"}
    # pdf_text: pdf joins the main stream with extracted text
    res2 = run_pipeline(df, PipelineOptions(classifier="skip",
                                            pdf_text=True))
    assert res2.pdf.count() == 0
    out = {r.doc_id: r for r in res2.main.collect()}
    assert set(out) == {"p1", "h1"}
    assert out["p1"].plaintext == "Hello pdf world\nline two\n"
    assert out["p1"].charset == "utf-8"
    assert out["p1"].spans[0].kind == "media"  # span shape preserved
    # a garbage pdf payload yields no text and is dropped by F14
    rows_bad = [rows[0][:9] + ([dict(kind="media", text="",
                media_ref=base64.b64encode(b"%PDF-1.4 junk").decode(),
                offset=0)],)]
    bad = spark.createDataFrame(rows_bad, INPUT_SCHEMA)
    res3 = run_pipeline(bad, PipelineOptions(classifier="skip",
                                             pdf_text=True))
    assert res3.main.count() == 0


def test_neighbor_object_filter_does_not_leak():
    """Code-review r5 finding: a raw content stream adjacent to a
    compressed object must not inherit the neighbor's /FlateDecode
    declaration, and a long dict still reaches its own declaration."""
    z = zlib.compress(b"BT (compressed text) Tj ET")
    raw = (b"%PDF-1.4\n"
           b"1 0 obj << /Filter /FlateDecode /Length "
           + str(len(z)).encode() + b" >> stream\n" + z + b"endstream endobj\n"
           b"2 0 obj << /Length 30 >> stream\n"
           b"BT (Hello world) Tj ET endstream endobj\n%%EOF")
    assert extract_pdf_text(raw) == "compressed text\nHello world\n"
    # long dict (> 400 B of padding keys) with its own FlateDecode
    pad = b"/K" + b"A" * 600 + b" 1 "
    long_dict = (b"%PDF-1.4\n1 0 obj << /Filter /FlateDecode " + pad
                 + b"/Length " + str(len(z)).encode()
                 + b" >> stream\n" + z + b"endstream endobj\n%%EOF")
    assert extract_pdf_text(long_dict) == "compressed text\n"


def test_pdf_text_url_classified_and_keep_payload(spark):
    """Code-review r5 findings: (a) a PDF classified only by its .pdf
    URL (octet-stream content type) is extracted, not dropped; (b) the
    pdf branch honors keep_payload."""
    import base64

    from warc2text_spark.operators.extract import (PipelineOptions,
                                                   _clean_doc)
    pdf = build_minimal_pdf(["Hello url pdf"])
    spans = [("media", "", base64.b64encode(pdf).decode(), 0)]
    cs, err, pt, sp, raw = _clean_doc(
        "https://x/report.pdf", "application/octet-stream", "", "",
        spans, {}, PipelineOptions(pdf_text=True, keep_payload=True))
    assert err == 0 and pt == "Hello url pdf\n"
    assert raw == pdf  # keep_payload carries the decoded payload
    # without the flag the same record is NOT_VALID_RECORD (side-route
    # territory, preserved by split_stream)
    cs2, err2, pt2, sp2, raw2 = _clean_doc(
        "https://x/report.pdf", "application/octet-stream", "", "",
        spans, {}, PipelineOptions())
    assert err2 == 5 and pt2 == ""
