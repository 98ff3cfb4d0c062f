"""Robustness: kernel functions never raise on arbitrary inputs (the
pipeline's contract is that all error paths become the err column)."""

import base64

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.twins import clean_one_doc
from warc2text_spark.functions.record import clean_payload
from warc2text_spark.functions.textextract import process_html, trim_lines_copy
from warc2text_spark.functions.transport import transport_decode
from warc2text_spark.operators.extract import PipelineOptions


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=4096))
def test_process_html_never_raises(data):
    text, err = process_html(data)
    assert isinstance(text, bytes)
    assert err in (0, 1, 2)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2048),
       st.sampled_from(["text/html", "text/plain", "image/png", "",
                        "application/xml", "application/vnd.oasis.opendocument.text"]),
       st.sampled_from(["", "utf-8", "latin-1", "bogus-charset"]))
def test_clean_payload_never_raises(data, ct, charset):
    text, err, cs = clean_payload(data, ct, charset, "http://x/y")
    assert isinstance(text, str)
    assert 0 <= err <= 7


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=1024),
       st.sampled_from(["", "chunked", "gzip2"]),
       st.sampled_from(["", "gzip", "br", "identity", "weird"]))
def test_transport_decode_never_raises(data, te, ce):
    out = transport_decode(data, te, ce)
    assert isinstance(out, bytes)


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=300), st.text(max_size=50),
       st.booleans(), st.integers(min_value=-5, max_value=5))
def test_clean_one_doc_never_raises(text, url, as_media, offset):
    span = ({"kind": "media", "text": "",
             "media_ref": base64.b64encode(text.encode()).decode(),
             "offset": offset}
            if as_media else
            {"kind": "text", "text": text, "media_ref": "", "offset": offset})
    row = {"doc_id": "d", "url": url, "http_ct": "text/html",
           "content_enc": "", "transfer_enc": "", "spans": [span]}
    charset, err, plaintext, spans = clean_one_doc(row, {}, PipelineOptions())
    assert isinstance(plaintext, str)


def test_clean_one_doc_null_fields():
    row = {"doc_id": None, "url": None, "http_ct": None, "content_enc": None,
           "transfer_enc": None,
           "spans": [{"kind": None, "text": None, "media_ref": None,
                      "offset": None}]}
    charset, err, plaintext, spans = clean_one_doc(row, {}, PipelineOptions())
    assert isinstance(plaintext, str)


def test_invalid_base64_media_on_zip_path():
    row = {"doc_id": "d", "url": "http://x/a.docx", "http_ct": "",
           "content_enc": "", "transfer_enc": "",
           "spans": [{"kind": "media", "text": "", "media_ref": "!!!not-b64",
                      "offset": 0}]}
    from warc2text_spark.functions.record import ZIP_READ_ERROR
    charset, err, plaintext, spans = clean_one_doc(row, {}, PipelineOptions())
    assert err == ZIP_READ_ERROR


@settings(max_examples=400, deadline=None)
@given(st.lists(st.one_of(
    st.sampled_from([b"<script>", b"</script>", b"<style>", b"</style>",
                     b"<!--", b"-->", b"<![CDATA[", b"]]>", b"<!ENTITY x 'y'>",
                     b"<p>", b"</p>", b"<a href=x>", b"<b c='d'>", b"<img/>",
                     b"&amp;", b"&#65;", b"&bogus", b" ", b"\x0b", b"\t\n",
                     b"<", b">", b"/", b'"', b"'", b"=", b"word"]),
    st.binary(max_size=24)), max_size=40))
def test_fused_equals_unfused_on_soup(pieces):
    # the fused fast paths (body segments, whole-head skip, window scans,
    # entity one-shot) must be output-identical to the reference-shaped
    # token loop on arbitrary tag/entity/binary soup
    data = b"".join(pieces)
    assert process_html(data, fused=True) == process_html(data, fused=False)


@given(st.binary(max_size=300))
@settings(max_examples=300, deadline=None)
def test_gif_frames_never_raises(data):
    """gif_frames is total on arbitrary bytes (kernel contract) and only
    ever returns image-descriptor slices."""
    from warc2text_spark.operators.multimodal import gif_frames
    out = gif_frames(b"GIF89a" + data)
    assert isinstance(out, list)
    assert all(f[0] == 0x2C for f in out)
    assert gif_frames(data) == [] or data[:6] in (b"GIF87a", b"GIF89a")


@given(st.text(max_size=400))
@settings(max_examples=300, deadline=None)
def test_classify_model_never_raises(text):
    """classify_model is total on arbitrary unicode (kernel contract):
    returns a (label, confidence, reliable) triple with confidence in
    [0, 1], and an unreliable result from the model side never escapes
    as a reliable label via the detector."""
    from warc2text_spark.functions.langid import ModelDetector, classify_model
    lang, conf, rel = classify_model(text)
    assert isinstance(lang, str) and 0.0 <= conf <= 1.0001
    assert isinstance(rel, bool)
    out = ModelDetector().detect(text)
    assert list(out.values()) == [text]


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=600),
               max_size=300))
@settings(max_examples=300, deadline=None)
def test_decode_entities_split_equals_loop(text):
    """The split-pass entity fast path and the reference-shaped loop twin
    agree on arbitrary text (incl. raising the same overflow)."""
    from warc2text_spark.functions.entities import (EntityOverflowError,
                                                    _decode_entities_loop,
                                                    decode_entities)
    try:
        a, aerr = decode_entities(text), None
    except EntityOverflowError:
        a, aerr = None, "ovf"
    try:
        b, berr = _decode_entities_loop(text), None
    except EntityOverflowError:
        b, berr = None, "ovf"
    assert (a, aerr) == (b, berr)
