"""clean_payload / content-type tests (reference: src/record.cc:192-289)."""

import io
import zipfile

from warc2text_spark.functions.record import (
    NOT_VALID_RECORD,
    SUCCESS,
    UNKNOWN_ENCODING_ERROR,
    UTF8_CONVERSION_ERROR,
    ZIP_READ_ERROR,
    clean_content_type,
    clean_payload,
    is_text_format,
)


def test_clean_content_type():
    assert clean_content_type("text/html") == ("text/html", "")
    assert clean_content_type("Text/HTML; charset=UTF-8") == ("text/html", "UTF-8")
    assert clean_content_type("text/plain; charset= iso-8859-1 ; x=y") == \
        ("text/plain", "iso-8859-1")
    assert clean_content_type("") == ("", "")
    assert clean_content_type(None) == ("", "")


def test_is_text_format():
    assert is_text_format("text/html")
    assert is_text_format("application/xhtml+xml")
    assert not is_text_format("application/pdf")
    assert not is_text_format("")


def test_html_path():
    text, err, charset = clean_payload(b"<p>a&amp;b</p>", "text/html", "", "u")
    assert (text, err) == ("a&b\n", SUCCESS)
    assert charset == "ascii"


def test_plain_path_no_entity_decode():
    # F08: trimLines + ctrl->space, entities NOT decoded (record.cc:283-284)
    text, err, _ = clean_payload(b"  a b \n\n\tc\x07d &amp; e\n", "text/plain", "", "u")
    assert err == SUCCESS
    assert text == "a b\nc d &amp; e\n"


def test_non_text_mime_dropped():
    _, err, _ = clean_payload(b"\x89PNG...", "image/png", "", "u")
    assert err == NOT_VALID_RECORD


def test_empty_content_type_is_processed_as_html():
    text, err, _ = clean_payload(b"<p>x</p>", "", "", "u")
    assert (text, err) == ("x\n", SUCCESS)


def test_declared_charset_fallback():
    # latin-1 bytes: deterministic detector gives up -> declared charset used
    payload = "caf\xe9 ol\xe9".encode("latin-1")
    payload = b"<p>" + payload + b"</p>"
    text, err, charset = clean_payload(payload, "text/html", "ISO-8859-1", "u")
    assert err == SUCCESS
    assert charset == "iso-8859-1"
    assert text == "café olé\n"


def test_unknown_encoding_dropped():
    # a declared-but-unsupported charset is the unknown-encoding drop
    _, err, _ = clean_payload(b"\xe9 junk \xff", "text/html", "not-a-charset", "u")
    assert err == UNKNOWN_ENCODING_ERROR
    # binary payloads (dense non-whitespace control bytes) mislabeled as
    # text with no declared charset must still drop — the weak legacy
    # guess is gated on the payload looking like text (uchardet returns
    # nothing on binary data, util.cc:75-77)
    jpeg_ish = bytes(range(256)) * 8
    _, err2, _ = clean_payload(jpeg_ish, "text/html", "", "u")
    assert err2 == UNKNOWN_ENCODING_ERROR


def test_undeclared_legacy_charset_recovered():
    # cp1252 page with NO declared charset: the weak legacy-class guess
    # recovers it (the reference's uchardet does the same, util.cc:68-91)
    payload = b"<p>caf\xe9 ol\xe9 \x93quoted\x94</p>"
    text, err, charset = clean_payload(payload, "text/html", "", "u")
    assert (err, charset) == (SUCCESS, "windows-1252")
    assert text == "café olé “quoted”\n"
    # cp1252-undefined bytes push the guess to iso-8859-1
    payload2 = b"<p>x \x81 y</p>"
    text2, err2, charset2 = clean_payload(payload2, "text/plain", "", "u")
    assert (err2, charset2) == (SUCCESS, "iso-8859-1")


def test_bom_detection_wins_over_declared():
    import codecs
    # UTF-8 BOM: detected as utf-8-sig (BOM stripped), beats declared latin-1
    payload = codecs.BOM_UTF8 + "café\n".encode("utf-8")
    text, err, charset = clean_payload(payload, "text/plain", "iso-8859-1", "u")
    assert (err, charset) == (SUCCESS, "utf-8-sig")
    assert text == "café\n"
    # UTF-16 BOM on the plain-text path (converted before trimLines)
    payload16 = "café olé\n".encode("utf-16")
    text16, err16, charset16 = clean_payload(payload16, "text/plain", "", "u")
    assert (err16, charset16) == (SUCCESS, "utf-16")
    assert text16 == "café olé\n"


def test_conversion_failure_dropped():
    # declared shift_jis but bytes invalid for it -> strict decode fails
    payload = b"<p>\x81\x39\x81</p>"
    _, err, _ = clean_payload(payload, "text/html", "shift_jis", "u")
    assert err == UTF8_CONVERSION_ERROR


def test_skip_extraction_returns_payload():
    text, err, _ = clean_payload(b"<p>raw</p>", "text/html", "", "u",
                                 skip_extraction=True)
    assert (text, err) == ("<p>raw</p>", SUCCESS)


def make_docx(xml: bytes) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", xml)
        zf.writestr("word/unrelated.xml", b"<w:p><w:t>nope</w:t></w:p>")
    return buf.getvalue()


def test_zip_docx_extraction():
    payload = make_docx(b"<w:document><w:p><w:r><w:t>para one</w:t></w:r></w:p>"
                        b"<w:p><w:r><w:t>para two</w:t></w:r></w:p></w:document>")
    ct = "application/vnd.openxmlformats-officedocument.wordprocessingml.document"
    text, err, _ = clean_payload(payload, ct, "", "http://x/doc.docx")
    assert err == SUCCESS
    assert text == "para one\npara two\n"


def test_zip_by_url_extension():
    payload = make_docx(b"<w:p><w:t>hi</w:t></w:p>")
    # content type bogus but URL ends .docx (record.cc:144-164)
    text, err, _ = clean_payload(payload, "application/octet-stream", "",
                                 "http://x/a.docx")
    assert err == SUCCESS
    assert text == "hi\n"


def test_bad_zip_dropped():
    ct = "application/vnd.oasis.opendocument.text"
    _, err, _ = clean_payload(b"PK\x03\x04 truncated garbage", ct, "", "u")
    assert err == ZIP_READ_ERROR


def test_pluggable_detector_unsupported_name_is_unknown_encoding():
    # util.cc:84-90: the chosen charset must pass the converter-support
    # probe; a detector returning an unsupported name -> None (unknown
    # encoding), not a downstream conversion error
    from warc2text_spark.functions.charset import detect_charset

    assert detect_charset(b"\xe9 caf\xe9", "utf-8",
                          detector=lambda b: "x-no-such-cs") is None
    # a detector returning a supported name still wins over declared
    assert detect_charset(b"\xe9 caf\xe9", "utf-8",
                          detector=lambda b: "KOI8-R") == "koi8-r"


def test_encoding_errors_policy_no_convert_payloads():
    # reference --encoding-errors over utf8-declared payloads with invalid
    # bytes (warc2text_main.cc:164-174; strict = nlohmann error 316 which
    # discards the record, warcpreprocessor.cc:237-246)
    bad = b"<p>caf\xe9 ole</p>"  # declared utf-8, actually latin-1 bytes
    args = (bad, "text/html", "utf-8", "u")
    text_r, err_r, _ = clean_payload(*args)  # default: replace
    assert (err_r, text_r) == (SUCCESS, "caf� ole\n")
    text_i, err_i, _ = clean_payload(*args, encoding_errors="ignore")
    assert (err_i, text_i) == (SUCCESS, "caf ole\n")
    _, err_s, _ = clean_payload(*args, encoding_errors="strict")
    assert err_s == UTF8_CONVERSION_ERROR

    # plain-text and skip-extraction paths honor the same policy
    _, err_p, _ = clean_payload(bad, "text/plain", "utf-8", "u",
                                encoding_errors="strict")
    assert err_p == UTF8_CONVERSION_ERROR
    text_k, err_k, _ = clean_payload(bad, "text/html", "utf-8", "u",
                                     skip_extraction=True,
                                     encoding_errors="ignore")
    assert (err_k, text_k) == (SUCCESS, "<p>caf ole</p>")


def test_encoding_errors_policy_through_pipeline():
    # end-to-end: a media-extract doc with an invalid-utf8 payload is kept
    # under replace/ignore and dropped under strict
    from tests.twins import clean_one_doc
    from warc2text_spark.operators.extract import PipelineOptions

    spans = [dict(kind="media", text="",
                  media_ref=__import__("base64").b64encode(
                      b"<p>caf\xe9</p>").decode("ascii"),
                  offset=0)]
    row = dict(url="u", http_ct="text/html; charset=utf-8", spans=spans)

    def run(policy):
        return clean_one_doc(row, {}, PipelineOptions(
            media_text_mode="extract", encoding_errors=policy))

    _, err_r, text_r, _ = run("replace")
    assert (err_r, text_r) == (SUCCESS, "caf�\n")
    _, err_i, text_i, _ = run("ignore")
    assert (err_i, text_i) == (SUCCESS, "caf\n")
    _, err_s, _, _ = run("strict")
    assert err_s == UTF8_CONVERSION_ERROR


def test_cjk_multibyte_detection_overrides_declared():
    # util.cc:68-91: uchardet's detection is trusted OVER the declared
    # charset — the deterministic stand-in now covers unambiguous legacy
    # CJK multibyte pages
    jp = "これは日本語のページです。本文はかな漢字を含みます。" * 4
    sjis = f"<p>{jp}</p>".encode("shift_jis")
    text, err, charset = clean_payload(sjis, "text/html", "iso-8859-1", "u")
    assert (err, charset) == (SUCCESS, "shift_jis")
    assert "日本語" in text

    # GB2312 page declaring nothing: unambiguous only if euc_jp rejects it
    zh = "这是一个中文网页的正文内容测试" * 4
    gb = f"<p>{zh}</p>".encode("gb2312")
    _, err_gb, cs_gb = clean_payload(gb, "text/html", "", "u")
    # gb2312 often also strictly decodes as euc_jp -> ambiguous is allowed;
    # either the exact detection or a non-crash fallback must hold
    assert err_gb in (SUCCESS, UNKNOWN_ENCODING_ERROR, UTF8_CONVERSION_ERROR)

    # a sparse-curly-quote cp1252 page must NOT be misread as Shift_JIS
    cp = ("<p>she said \x93hello\x94 and left \x96 then came back</p>"
          + " plain ascii filler" * 20).encode("latin-1")
    _, err_cp, cs_cp = clean_payload(cp, "text/html", "windows-1252", "u")
    assert (err_cp, cs_cp) == (SUCCESS, "windows-1252")


_RU = ("Это новый день и мы снова здесь. Русский текст страницы "
       "содержит обычные слова и предложения о жизни. ") * 3
_KO = "이것은 한국어 페이지입니다. 본문은 한글과 한자를 포함합니다. " * 3
_ZH_T = "這是一個中文網頁。正文包含漢字和標點符號。今天是美好的一天。" * 3


def test_cyrillic_frequency_detection():
    # uchardet-style Cyrillic model (util.cc:68-91): cp1251 vs koi8-r by
    # case statistics (the layouts swap the upper/lower banks) + a
    # common-letter frequency floor
    for enc, want in (("windows-1251", "windows-1251"), ("koi8_r", "koi8-r"),
                      ("iso8859-5", "iso-8859-5"), ("cp866", "cp866")):
        raw = f"<p>{_RU}</p>".encode(enc)
        # undeclared: recovered, not mislabeled windows-1252
        text, err, charset = clean_payload(raw, "text/html", "", "u")
        assert (err, charset) == (SUCCESS, want), (enc, err, charset)
        assert "Русский текст" in text
        # declared-latin: implausible declaration loses to the model
        text, err, charset = clean_payload(raw, "text/html", "iso-8859-1", "u")
        assert (err, charset) == (SUCCESS, want)
        assert "обычные слова" in text


def test_statistical_guess_never_stomps_plausible_declaration():
    # ADVICE r3: a correctly-declared single-byte page must keep its
    # declared charset even if some statistical candidate happens to
    # strictly decode the bytes (confidence asymmetry)
    raw = f"<p>{_RU}</p>".encode("windows-1251")
    _, err, charset = clean_payload(raw, "text/html", "windows-1251", "u")
    assert (err, charset) == (SUCCESS, "windows-1251")
    # koi8-r declared on koi8-r bytes: kept, never flipped to cp1251
    raw_k = f"<p>{_RU}</p>".encode("koi8_r")
    _, err_k, charset_k = clean_payload(raw_k, "text/html", "koi8-r", "u")
    assert (err_k, charset_k) == (SUCCESS, "koi8-r")


def test_euc_kr_and_big5_detection():
    # hangul is decisive for euc-kr even though Korean EUC bytes strictly
    # decode in euc_jp/gb2312/big5 too; big5 text decodes uniquely
    raw_ko = f"<p>{_KO}</p>".encode("euc_kr")
    text, err, charset = clean_payload(raw_ko, "text/html", "iso-8859-1", "u")
    assert (err, charset) == (SUCCESS, "euc_kr")
    assert "한국어" in text
    raw_zh = f"<p>{_ZH_T}</p>".encode("big5")
    text, err, charset = clean_payload(raw_zh, "text/html", "", "u")
    assert (err, charset) == (SUCCESS, "big5")
    assert "中文網頁" in text


def test_accented_latin_not_misread_as_cjk():
    # accent bytes can form VALID Shift_JIS pairs ('és' = 0xE9 0x73 is a
    # kanji); the high-byte density floor must keep Latin text Latin
    fr = ("l'été était arrivé et les invités étaient déjà réunis "
          "dans la véranda éclairée ") * 10
    payload = f"<p>{fr}</p>".encode("latin-1")
    text, err, charset = clean_payload(payload, "text/html",
                                       "iso-8859-1", "u")
    assert (err, charset) == (SUCCESS, "iso-8859-1")
    assert "été" in text


def test_single_byte_family_matrix():
    """Greek/Hebrew/Arabic/Thai legacy single-byte recovery (the full
    uchardet family scope): undeclared pages recover; declared-latin
    pages are overridden; the common-letter ARGMAX picks Hebrew over the
    also-coherent Greek decode (cross-family discrimination)."""
    cases = [
        ("αυτή είναι μια καλή μέρα και πηγαίνουμε έξω στην πόλη με τους "
         "φίλους μας σήμερα", "iso8859-7", "iso-8859-7"),
        ("זה יום חדש ואנחנו שוב כאן היום בעיר עם חברים שלנו והשמש זורחת "
         "בשמיים מעל הבית", "windows-1255", "windows-1255"),
        ("هذا يوم جديد ونحن نذهب الى الخارج في المدينة مع اصدقائنا اليوم "
         "والشمس مشرقة", "windows-1256", "windows-1256"),
        ("วันนี้เป็นวันใหม่และเราอยู่ที่นี่อีกครั้งในเมืองกับเพื่อนของเรา",
         "tis-620", "tis-620"),
    ]
    for text, enc, want in cases:
        raw = f"<p>{text}</p>".encode(enc)
        _, err, charset = clean_payload(raw, "text/html", "", "u")
        assert (err, charset) == (SUCCESS, want), (enc, err, charset)
        _, err, charset = clean_payload(raw, "text/html", "iso-8859-1", "u")
        assert (err, charset) == (SUCCESS, want), (enc, "declared", charset)
    # same-layout aliases tie to the first-listed name
    el = cases[0][0]
    raw = f"<p>{el}</p>".encode("windows-1253")
    _, err, charset = clean_payload(raw, "text/html", "", "u")
    assert (err, charset) == (SUCCESS, "iso-8859-7")
    # a correctly-declared page of the family keeps its declaration
    raw = f"<p>{el}</p>".encode("windows-1253")
    _, err, charset = clean_payload(raw, "text/html", "windows-1253", "u")
    assert (err, charset) == (SUCCESS, "windows-1253")


def test_central_european_stopword_detection():
    """cp1250/iso-8859-2 are byte-indistinguishable from cp1252; the
    accented-stopword evidence (už/że/és decode to real CE function words
    only under the CE layouts) recovers undeclared pages while French and
    Catalan stay windows-1252."""
    cs = ("je to už dávno a podle mého názoru však ještě není pozdě že "
          "ano příliš žluťoučký kůň úpěl ďábelské ódy u řeky ") * 3
    cs_iso = ("je to už dávno a však ještě není pozdě že ano žena šla "
              "že už říkáš že žije stále tady ") * 3
    pl = ("wszystko się zmienia już od dawna więc jeszcze raz że tak "
          "powiem właściwą drogę przez las oraz pole ") * 3
    fr = ("le café était très agréable près de la fenêtre à côté de "
          "l'école élémentaire où les élèves étudiaient ") * 3
    ca = ("això és una cosa més que també és molt bona després de tot "
          "això és clar i què més es pot dir també avui ") * 3
    for name, text, enc, want in [
        ("cs", cs, "cp1250", "cp1250"),
        ("cs-iso", cs_iso, "iso8859-2", "iso-8859-2"),
        ("pl", pl, "cp1250", "cp1250"),
        ("fr", fr, "cp1252", "windows-1252"),
        ("ca", ca, "cp1252", "windows-1252"),
    ]:
        raw = f"<p>{text}</p>".encode(enc)
        _, err, charset = clean_payload(raw, "text/html", "", "u")
        assert (err, charset) == (SUCCESS, want), (name, err, charset)
    # a declared Western charset on Western text is never stomped
    raw = f"<p>{fr}</p>".encode("cp1252")
    _, err, charset = clean_payload(raw, "text/html", "windows-1252", "u")
    assert (err, charset) == (SUCCESS, "windows-1252")


def _b64(data: bytes) -> str:
    import base64
    return base64.b64encode(data).decode("ascii")


def test_clean_doc_span_rules():
    """Kernel 1's per-span rules, one row per span class (pdf, zip,
    media-extract, text, passthrough), with empty and non-empty
    extractions and keep_payload on: the spans kept, the charset, the
    error code and the carried payload bytes."""
    from warc2text_spark.functions.pdftext import build_minimal_pdf
    from warc2text_spark.operators.extract import _clean_doc
    from warc2text_spark.plans.pipeline import PipelineOptions

    pdf = build_minimal_pdf(["Hello pdf"])
    docx = make_docx(b"<w:p><w:t>zip text</w:t></w:p>")
    docx_empty = make_docx(b"<w:p></w:p>")
    html_ct = "text/html; charset=utf-8"
    docx_ct = ("application/vnd.openxmlformats-officedocument."
               "wordprocessingml.document")
    # (name, url, http_ct, spans, options,
    #  (charset, err, plaintext, kept spans, payload bytes))
    cases = [
        ("pdf: empty spans dropped, charset from the one with text",
         "http://x/a", "application/pdf",
         [("media", "", _b64(b"not a pdf"), 0),
          ("media", "", _b64(pdf), 1), ("text", "junk", "", 2)],
         dict(pdf_text=True),
         ("utf-8", SUCCESS, "Hello pdf\n",
          [("media", "Hello pdf\n", _b64(pdf), 1)],
          b"not a pdf" + pdf + b"junk")),
        ("pdf: no span gives text", "http://x/a.pdf",
         "application/octet-stream",
         [("media", "", _b64(b"%PDF-1.4 broken"), 0),
          ("text", "", "", 1)],
         dict(pdf_text=True),
         ("", SUCCESS, "", [], b"%PDF-1.4 broken")),
        ("pdf: bad base64", "http://x/a", "application/pdf",
         [("media", "", "!!!not-b64", 0)], dict(pdf_text=True),
         ("", ZIP_READ_ERROR, "", [], b"")),
        ("pdf off: the same record is not valid", "http://x/a",
         "application/pdf", [("media", "", _b64(pdf), 0)], {},
         ("", NOT_VALID_RECORD, "", [], b"")),
        ("zip: empty extraction is kept", "http://x/a", docx_ct,
         [("media", "", _b64(docx), 0), ("media", "", _b64(docx_empty), 1)],
         {},
         ("ascii", SUCCESS, "zip text\n",
          [("media", "zip text\n", _b64(docx), 0),
           ("media", "", _b64(docx_empty), 1)],
          docx + docx_empty)),
        ("zip: bad base64", "http://x/a.docx", "",
         [("media", "", "!!!not-b64", 0)], {},
         ("", ZIP_READ_ERROR, "", [], b"")),
        ("media-extract kept empty, text dropped empty", "http://x/a",
         html_ct,
         [("text", "<p></p>", "", 3), ("media", "", _b64(b"<p></p>"), 2),
          ("media", "", _b64(b"<p>media</p>"), 1), ("text", "<p>t</p>", "", 0)],
         dict(media_text_mode="extract"),
         ("ascii", SUCCESS, "t\nmedia\n",
          [("text", "t\n", "", 0),
           ("media", "media\n", _b64(b"<p>media</p>"), 1),
           ("media", "", _b64(b"<p></p>"), 2)],
          b"<p>t</p><p>media</p><p></p><p></p>")),
        ("passthrough media adds no payload", "http://x/a", html_ct,
         [("media", "caption", "cmVm", 1), ("text", "<p>body</p>", "", 0),
          ("text", "<b></b>", "", 2)],
         {},
         ("ascii", SUCCESS, "body\n",
          [("text", "body\n", "", 0),
           ("media", "caption", "cmVm", 1)],
          b"<p>body</p><b></b>")),
    ]
    for name, url, ct, spans, kw, expected in cases:
        opts = PipelineOptions(keep_payload=True, **kw)
        got = _clean_doc(url, ct, "", "", spans, {}, opts)
        assert got == expected, (name, got)
