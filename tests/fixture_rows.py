"""Deterministic golden fixture rows for end-to-end pipeline tests (FIXTURES.md).

Each case is an input document row plus its expected outcome: kept/dropped
(with reason) and, when kept, the exact ordered output span tuples
``(kind, text, media_ref, offset)``.  Goldens are hand-derived from the
reference semantics cited in FIXTURES.md; the per-function contracts are
separately locked by the unit tests in tests/test_*.py.

Correction vs FIXTURES.md F04: numeric entities above U+10FFFF are silently
*elided*, not kept literal — entities.cc:80-82 appends nothing when
``entity_code > UNICODE_MAX`` (the table row's golden was wrong; the oracle
here follows the code).
"""

from __future__ import annotations

import base64
import io
import zipfile

from warc2text_spark.sources.fixtures import INPUT_SCHEMA


def _doc(doc_id, spans, url="https://example.com/page.html",
         warc_type="response", warc_ct="application/http; msgtype=response",
         http_status="200 OK", http_ct="text/html; charset=utf-8",
         content_enc="", transfer_enc="", warc_date="2024-01-01T00:00:00Z"):
    return dict(doc_id=doc_id, url=url, warc_type=warc_type, warc_ct=warc_ct,
                http_status=http_status, http_ct=http_ct,
                content_enc=content_enc, transfer_enc=transfer_enc,
                warc_date=warc_date, spans=spans)


def _t(text, offset=0):
    return dict(kind="text", text=text, media_ref="", offset=offset)


def _m(payload: bytes, offset=0):
    return dict(kind="media", text="",
                media_ref=base64.b64encode(payload).decode("ascii"),
                offset=offset)


def _docx(xml: bytes) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", xml)
    return buf.getvalue()


def _chunked(payload: bytes) -> str:
    mid = len(payload) // 2
    out = b""
    for part in (payload[:mid], payload[mid:]):
        out += format(len(part), "x").encode() + b"\r\n" + part + b"\r\n"
    return (out + b"0\r\n").decode("utf-8")


def fixture_cases():
    """Returns (input_rows, expected) where expected maps
    doc_id -> None (dropped) | list of (kind, text, media_ref, offset)."""
    rows, exp = [], {}

    def keep(row, spans):
        rows.append(row)
        exp[row["doc_id"]] = spans

    def drop(row):
        rows.append(row)
        exp[row["doc_id"]] = None

    # F01 block/inline segmentation
    keep(_doc("f01-0001", [_t("<html><body><p>a <b>b</b></p><div>c</div>"
                              "<br>d<img>e</body></html>")]),
         [("text", "a b\nc\nd e\n", "", 0)])
    # F02 noText suppression
    keep(_doc("f02-0001", [_t('<p>x</p><script>var a="<p>no</p>";</script>'
                              "<style>p{}</style><p>y</p>")]),
         [("text", "x\ny\n", "", 0)])
    # F03 named entities incl. quirks (&bogus; elided, malformed literal)
    keep(_doc("f03-0001", [_t("<p>a&amp;b &AMP;c &nbsp;d &shy;e &bogus; f "
                              "&unterminated g</p>")]),
         [("text", "a&b c  d e  f &unterminated g\n", "", 0)])
    # F04 numeric entities (cp<32 -> space; 160 -> space; >max -> elided)
    keep(_doc("f04-0001", [_t("<p>&#65;&#x42;&#160;x&#1114112;y</p>")]),
         [("text", "AB xy\n", "", 0)])
    # F06 HTML parse error -> dropped
    drop(_doc("f06-0001", [_t("<p>ok<//broken>")]))
    # F07 token cap
    keep(_doc("f07-0001", [_t("<p>" + "x" * 3000 + "</p>")]),
         [("text", "x" * 1023 + "\n", "", 0)])
    # F08 plain-text path
    keep(_doc("f08-0001", [_t("  a b \n\n\tc\x07d\n")], http_ct="text/plain"),
         [("text", "a b\nc d\n", "", 0)])
    # F09 charset: latin-1 with declared charset
    keep(_doc("f09-0001",
              [_t("<p>caf\xe9</p>")],  # stored as str; kernel re-encodes utf-8
              http_ct="text/html; charset=utf-8"),
         [("text", "café\n", "", 0)])
    # F10 MIME allowlist
    drop(_doc("f10-0001", [_t("binary-ish")], http_ct="image/png"))
    # F11 record-type / status / warc-ct filters
    drop(_doc("f11-0001", [_t("<p>x</p>")], warc_type="request"))
    drop(_doc("f11-0002", [_t("<p>x</p>")], http_status="404 Not Found"))
    keep(_doc("f11-0003", [_t("<p>x</p>")], http_status="206 Partial"),
         [("text", "x\n", "", 0)])
    drop(_doc("f11-0004", [_t("<p>x</p>")], warc_ct="text/plain"))
    keep(_doc("f11-0005", [_t("<p>x</p>")], http_status=None),
         [("text", "x\n", "", 0)])
    # F12 URL extension denylist
    drop(_doc("f12-0001", [_t("<p>x</p>")], url="https://a.b/logo.png"))
    # F13 robots routing (dropped from main)
    drop(_doc("f13-0001", [_t("allow: *")], url="https://a.b/robots.txt",
              http_ct="text/plain"))
    keep(_doc("f13-0002", [_t("<p>x</p>")], url="https://a.b/robots.txt2"),
         [("text", "x\n", "", 0)])
    # F14 PDF routing
    drop(_doc("f14-0001", [_m(b"%PDF-1.4 fake")], url="https://a.b/d.pdf",
              http_ct="application/pdf"))
    keep(_doc("f14-0002", [_t("<p>converted</p>")], url="https://a.b/d.pdf",
              http_ct="text/html"),
         [("text", "converted\n", "", 0)])  # bitextor-converted case
    # F15 size cap: >5 MB payload dropped
    drop(_doc("f15-0001", [_t("<p>" + "y" * 5242881 + "</p>")]))
    # F16 transport decode: chunked + br kept raw
    html = b"<p>chunked body here</p>"
    keep(_doc("f16-0001", [_t(_chunked(html))], transfer_enc="chunked"),
         [("text", "chunked body here\n", "", 0)])
    keep(_doc("f16-0002", [_t("<p>raw kept</p>")], content_enc="br"),
         [("text", "raw kept\n", "", 0)])
    # F17 media passthrough with interleaving
    png = b"\x89PNG fake image bytes"
    keep(_doc("f17-0001", [_t("<h1>top</h1>", 0), _m(png, 1),
                           _t("<p>bottom</p>", 2)]),
         [("text", "top\n", "", 0),
          ("media", "", base64.b64encode(png).decode(), 1),
          ("text", "bottom\n", "", 2)])
    # F18 zipped document format (docx via media span)
    docx = _docx(b"<w:document><w:p><w:r><w:t>para one</w:t></w:r></w:p>"
                 b"<w:p><w:r><w:t>para two</w:t></w:r></w:p></w:document>")
    keep(_doc("f18-0001", [_m(docx)],
              url="https://a.b/file.docx",
              http_ct="application/vnd.openxmlformats-officedocument"
                      ".wordprocessingml.document"),
         [("media", "para one\npara two\n",
           base64.b64encode(docx).decode(), 0)])
    drop(_doc("f18-0002", [_m(b"PK\x03\x04 truncated")],
              url="https://a.b/file.docx",
              http_ct="application/octet-stream"))
    # F22 empty outcomes
    drop(_doc("f22-0001", [_t("<div><script>x</script></div>")]))
    drop(_doc("f22-0002", []))  # empty payload (F2)
    return rows, exp


def fixture_df(spark):
    rows, exp = fixture_cases()
    return spark.createDataFrame(rows, schema=INPUT_SCHEMA), exp
