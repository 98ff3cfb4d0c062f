"""Deterministic synthesis of the interleaved spans table from the
driver-provided ``documents`` parquet (doc_id, text, lang, source, n_chars).

The BASELINE.json input table (doc_id, spans array<struct<kind,text,
media_ref,offset>> + header metadata) does not ship with the testdata, so
it is derived here — pure native SQL, no RNG, closed-form — which lets the
DuckDB oracle compute the *expected pipeline output* directly from
``documents`` (plans/benchqueries.py).

Variant by ``doc_id % 10``:

  0,1  standard HTML page (title/h1/p/div; ``&amp;`` entities); 1 has a
       NULL http_status (F5 null-pass coverage)
  2    entity-quirk page (&eacute;/&nbsp;/&shy;/&#65;/&bogus;)
  3    interleaved: text h1 + passthrough media (base64 'IMG<id>') + text p
  4    script/noscript suppression page, bare 'text/html' content type
  5    text/plain payload (trimLines path)
  6    warc_type=request        -> dropped (F4)
  7    http_status=404          -> dropped (F5)
  8    url ends in .png         -> dropped (F9)
  9    /robots.txt url          -> routed (F3)
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# payload builders (Spark SQL dialect). NB: keep in sync with the oracle
# fragments in benchqueries.py (DuckDB dialect).
# v0/v1 pages carry realistic attribute load (attrs are dropped by
# extraction, so expected text is unchanged; tag-filter eval still runs)
HTML_STD = ("concat('<html lang=\"', lang, '\"><head><title>doc ', nid, "
            "'</title><meta name=\"viewport\" content=\"width=device-width, initial-scale=1\">"
            "<link rel=\"stylesheet\" href=\"/static/site.css\"></head>"
            "<body class=\"page theme-light\" data-doc=\"', nid, '\">"
            "<h1 id=\"title\" class=\"hero main\">', source, "
            "'</h1><p class=\"content body-text\" data-idx=\"', nid % 20, '\">', "
            "replace(text, 'a', '&amp;'), "
            "'</p><div role=contentinfo tabindex=0>tag ', lang, '</div></body></html>')")
HTML_ENT = ("concat('<html><body><p>', replace(text, 'e', '&eacute;'), "
            "'&nbsp;&shy;&#65;&bogus;</p></body></html>')")
HTML_SCRIPT = ("concat('<html><body><script>var x = \"', nid, '\";</script><p>', "
               "text, '</p><noscript>ignored words</noscript></body></html>')")
HTML_V3_H1 = "concat('<h1>', source, '</h1>')"
HTML_V3_P = "concat('<p>', replace(text, 'o', '0'), '</p>')"
PLAIN = "concat(' ', replace(text, ' ', concat(' ', chr(10), ' ')), ' ')"
MEDIA_B64 = "base64(concat('IMG', nid))"


def _tspan(text_expr: str, offset: int = 0) -> str:
    return (f"named_struct('kind', 'text', 'text', {text_expr}, "
            f"'media_ref', '', 'offset', {offset})")


SPANS_EXPR = f"""case nid % 10
  when 3 then array(
    {_tspan(HTML_V3_H1, 0)},
    named_struct('kind', 'media', 'text', '', 'media_ref', {MEDIA_B64}, 'offset', 1),
    {_tspan(HTML_V3_P, 2)})
  when 2 then array({_tspan(HTML_ENT)})
  when 4 then array({_tspan(HTML_SCRIPT)})
  when 5 then array({_tspan(PLAIN)})
  else array({_tspan(HTML_STD)})
end"""


def build_zip_spans(spark, sf_dir: str,
                    declared: str | None = "iso-8859-1") -> DataFrame:
    """DOCX-wrapped corpus for the zip/charset pipeline path: each
    document's text (latin-1 encoded, 'o' -> 'ö') inside a minimal
    ``word/document.xml`` zip, carried as a base64 media span with a
    declared ``charset=<declared>`` on the DOCX MIME (``declared=None``
    omits the parameter — the undeclared-legacy-charset recovery path).

    The zip bytes are a pure function of each row, so the synthesis runs
    executor-side (mapInPandas over ``documents``) — no driver collect, no
    scale ceiling.  Expected output stays closed-form for the oracle:
    replace(text,'o','ö') || '\\n'.
    """
    import base64
    import io
    import zipfile
    from collections.abc import Iterator

    import pandas as pd

    from ..sources.fixtures import INPUT_SCHEMA

    ct = ("application/vnd.openxmlformats-officedocument.wordprocessingml"
          ".document" + (f"; charset={declared}" if declared else ""))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "url", "warc_type", "warc_ct",
                                    "http_status", "http_ct", "content_enc",
                                    "transfer_enc", "warc_date", "spans")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                xml = ("<w:document><w:p><w:r><w:t>"
                       + text.replace("o", "ö")
                       + "</w:t></w:r></w:p></w:document>").encode("latin-1")
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
                    zi = zipfile.ZipInfo("word/document.xml",
                                         date_time=(2024, 1, 1, 0, 0, 0))
                    zf.writestr(zi, xml)
                rows["doc_id"].append(str(doc_id))
                rows["url"].append(f"https://z.example/{doc_id}.docx")
                rows["warc_type"].append("response")
                rows["warc_ct"].append("application/http; msgtype=response")
                rows["http_status"].append("200 OK")
                rows["http_ct"].append(ct)
                rows["content_enc"].append("")
                rows["transfer_enc"].append("")
                rows["warc_date"].append("2024-01-01T00:00:00Z")
                rows["spans"].append([dict(
                    kind="media", text="",
                    media_ref=base64.b64encode(buf.getvalue()).decode(),
                    offset=0)])
            yield pd.DataFrame(rows)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    return docs.mapInPandas(gen, INPUT_SCHEMA)


# non-Latin corpus for the script/same-script langid path; one constant
# sentence per variant (doc_id % len(SCRIPT_SENTENCES)), suffixed with the
# id (Latin digits add no script evidence).  Keep in sync with
# SCRIPT_TEXT_CASE below — the DuckDB oracle recomputes the classifier
# rule over the same constants.  Variants 9+ are the r4 breadth batches:
# one single-script sentence per added script language (the oracle labels
# them via the generated range-table argmax + marker CASE in
# benchqueries._langid_script_oracle).
SCRIPT_SENTENCES = (
    "это новый день ещё раз мы были здесь",            # 0: ru (ы э ё)
    "це новий день і ще раз ми були тут її єдність",   # 1: uk (і ї є)
    "това е нов ден и още веднъж бяхме тук ъгъл път",  # 2: bg (ъ, no ы/э/ё)
    "यह एक अच्छा दिन है और हम बाहर जाते हैं",              # 3: hi (no ळ)
    "हा एक चांगला दिवस आहे वेळ जवळ मोकळा आहे",          # 4: mr (ळ)
    "αυτή είναι μια καλή μέρα και πάμε έξω",           # 5: el
    "هذا يوم جديد ونحن نذهب الى الخارج",               # 6: ar (no fa/ur letters)
    "این یک روز خوب است و ما پژوهش گروه چند",          # 7: fa (پ ژ گ چ)
    "یہ ایک اچھا دن ہے اور ہم باہر جاتے ہیں",          # 8: ur (ہ ے dominate)
    "এটি একটি নতুন দিন এবং আমরা আবার এখানে আছি",        # 9: bn
    "ਇਹ ਇੱਕ ਨਵਾਂ ਦਿਨ ਹੈ ਅਤੇ ਅਸੀਂ ਫਿਰ ਇੱਥੇ ਹਾਂ",            # 10: pa
    "આ એક નવો દિવસ છે અને અમે ફરી અહીં છીએ",           # 11: gu
    "இது ஒரு புதிய நாள் மற்றும் நாம் மீண்டும் இங்கே",       # 12: ta
    "ఇది ఒక కొత్త రోజు మరియు మేము మళ్ళీ ఇక్కడ",           # 13: te
    "ಇದು ಹೊಸ ದಿನ ಮತ್ತು ನಾವು ಮತ್ತೆ ಇಲ್ಲಿ",                 # 14: kn
    "ഇത് ഒരു പുതിയ ദിവസം ഞങ്ങൾ വീണ്ടും ഇവിടെ",          # 15: ml
    "මෙය අලුත් දවසක් අපි නැවත මෙහි සිටිමු",              # 16: si
    "วันนี้เป็นวันใหม่และเราอยู่ที่นี่อีกครั้ง",                      # 17: th
    "ມື້ນີ້ແມ່ນມື້ໃໝ່ ແລະ ພວກເຮົາຢູ່ທີ່ນີ້ອີກ",                       # 18: lo
    "ဒီနေ့သည် နေ့သစ်ဖြစ်ပြီး ကျွန်ုပ်တို့ ဒီမှာ ရှိသည်",           # 19: my
    "ეს არის ახალი დღე და ჩვენ ისევ აქ ვართ",          # 20: ka
    "սա նոր օր է և մենք նորից այստեղ ենք",             # 21: hy
    "ይህ አዲስ ቀን ነው እና እኛ እንደገና እዚህ ነን",               # 22: am
    "នេះជាថ្ងៃថ្មី ហើយយើងនៅទីនេះម្តងទៀត",                 # 23: km
    "זה יום חדש ואנחנו שוב כאן היום",                  # 24: he
    "这是新的一天我们又在这里",                           # 25: zh (han only)
    "これはあたらしいいちにちです",                       # 26: ja (kana)
    "오늘은 새로운 날이고 우리는 다시 여기에 있다",        # 27: ko
    # 28-31: Cyrillic siblings (r4 batch 2) — і/ў pick be over the ru
    # markers э/ы that real Belarusian text also carries; ђ/ћ vs ѓ/ќ/ѕ
    # split sr from mk on top of their shared ј/љ/њ/џ; Kazakh counts і
    # plus its unique vowel/consonant row
    "гэта быў новы дзень і мы зноў былі тут і ўсё было іначай і цікава",  # 28: be
    "ово је нови дан и ми смо поново овде љубав њега џеп ђак ћао јесте",  # 29: sr
    "ова е нов ден и ние сме повторно овде ѓавол ќе ѕвезда јас љубов њива џеб",  # 30: mk
    "бұл жаңа күн және біз қайтадан осындамыз қазақ тілі үшін сөздер",    # 31: kk
    # 32-33: Arabic-script siblings batch 2 — Pashto retroflexes and
    # Uyghur vowel letters outrank the shared Persian پ/چ/ژ/گ
    "دا یوه نوې ورځ ده او موږ بیا دلته یو ښځه ګل څه",                     # 32: ps
    "بۇ يېڭى بىر كۈن ۋە بىز يەنە مۇشۇ يەردە تۇرىمىز",                     # 33: ug
    # 34-36: Odia / Tibetan / Divehi (single-script blocks)
    "ଏହା ଏକ ନୂଆ ଦିନ ଏବଂ ଆମେ ପୁଣି ଏଠାରେ ଅଛୁ",                              # 34: or
    "འདི་ནི་ཉིན་གསར་པ་ཞིག་ཡིན་ལ་ང་ཚོ་ཡང་འདིར་ཡོད",                          # 35: bo
    "މިއީ އާ ދުވަހެކެވެ އަދި އަހަރެމެން އަނެއްކާ މިތަނުގައި",                          # 36: dv
    # 37-38: Cherokee / Inuktitut syllabics (r5 batch, single blocks)
    "ᎣᏏᏲ ᏣᎳᎩ ᎦᏬᏂᎯᏍᏗ ᎤᎵᎮᎵᏍᏗ ᏩᏙ ᎠᎹ ᏅᏓ",                # 37: chr
    "ᐃᓄᒃᑎᑐᑦ ᓄᓇᕗᑦ ᐃᓄᐃᑦ ᐅᖃᐅᓯᖓ ᐊᒻᒪᓗ ᓯᓚ ᐊᓂᖅ",           # 38: iu
)

SCRIPT_TEXT_CASE = (f"case nid % {len(SCRIPT_SENTENCES)} " + " ".join(
    f"when {i} then '{s}'" for i, s in enumerate(SCRIPT_SENTENCES))
    + " end")


def build_script_spans(spark, sf_dir: str) -> DataFrame:
    """Interleaved-table rows whose payloads are non-Latin single-script
    pages — exercises the Unicode-script classifier including the
    same-script Cyrillic (ru/uk/bg) and Devanagari (hi/mr) discrimination.
    Closed-form like build_spans, so the oracle can recompute both the
    expected plaintext and the classifier rule in SQL."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    body = f"concat('<p>', {SCRIPT_TEXT_CASE}, ' ', nid, '</p>')"
    return docs.selectExpr("doc_id as nid").selectExpr(
        "cast(nid as string) as doc_id",
        "concat('https://s', nid % 20, '.example/page', nid, '.html') as url",
        "'response' as warc_type",
        "'application/http; msgtype=response' as warc_ct",
        "'200 OK' as http_status",
        "'text/html; charset=utf-8' as http_ct",
        "'' as content_enc",
        "'' as transfer_enc",
        "'2024-01-01T00:00:00Z' as warc_date",
        f"array(named_struct('kind', 'text', 'text', {body}, "
        f"'media_ref', '', 'offset', 0)) as spans",
    )


def latin_sentences() -> tuple[tuple[str, str], ...]:
    """(lang, sentence) per Latin-script stopword language, alphabetical.
    Each sentence is the language's full evidence set (sorted, joined) —
    sanity-checked at authoring time to win the margin rule against every
    sibling, so the oracle can assert the label independently rather than
    recompute the classifier."""
    from ..functions.langid import _STOPWORDS
    return tuple((lang, " ".join(sorted(_STOPWORDS[lang])))
                 for lang in sorted(_STOPWORDS))


def build_latin_spans(spark, sf_dir: str) -> DataFrame:
    """Interleaved-table rows exercising the full Latin-script stopword
    breadth (CLD2-direction, one variant per _STOPWORDS language):
    one constant sentence per variant, suffixed with the id (digits add no evidence)."""
    sents = latin_sentences()
    # defensive single-quote escaping: a stopword containing an
    # apostrophe must not break the SQL literal
    case = (f"case nid % {len(sents)} " + " ".join(
        "when {} then '{}'".format(i, s.replace("'", "''"))
        for i, (_, s) in enumerate(sents)) + " end")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    body = f"concat('<p>', {case}, ' ', nid, '</p>')"
    return docs.selectExpr("doc_id as nid").selectExpr(
        "cast(nid as string) as doc_id",
        "concat('https://l', nid % 20, '.example/page', nid, '.html') as url",
        "'response' as warc_type",
        "'application/http; msgtype=response' as warc_ct",
        "'200 OK' as http_status",
        "'text/html; charset=utf-8' as http_ct",
        "'' as content_enc",
        "'' as transfer_enc",
        "'2024-01-01T00:00:00Z' as warc_date",
        f"array(named_struct('kind', 'text', 'text', {body}, "
        f"'media_ref', '', 'offset', 0)) as spans",
    )


def build_model_spans(spark, sf_dir: str) -> DataFrame:
    """Held-out corpus for the trained trigram model (one variant per
    language, sentences absent from the model's training seeds —
    functions/_langid_model.HELDOUT); same row shape as
    build_latin_spans, id-suffixed (digits are stripped by the model's
    normalization, so labels stay constant per variant)."""
    from ..functions._langid_model import HELDOUT
    case = (f"case nid % {len(HELDOUT)} " + " ".join(
        "when {} then '{}'".format(i, s.replace("'", "''"))
        for i, (_, s, _, _) in enumerate(HELDOUT)) + " end")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    body = f"concat('<p>', {case}, ' ', nid, '</p>')"
    return docs.selectExpr("doc_id as nid").selectExpr(
        "cast(nid as string) as doc_id",
        "concat('https://q', nid % 20, '.example/page', nid, '.html') as url",
        "'response' as warc_type",
        "'application/http; msgtype=response' as warc_ct",
        "'200 OK' as http_status",
        "'text/html; charset=utf-8' as http_ct",
        "'' as content_enc",
        "'' as transfer_enc",
        "'2024-01-01T00:00:00Z' as warc_date",
        f"array(named_struct('kind', 'text', 'text', {body}, "
        f"'media_ref', '', 'offset', 0)) as spans",
    )


def reliable_heldout() -> list[tuple[str, str]]:
    """(label, sentence) rows of the trained model's held-out set whose
    generation-time label is RELIABLE — the shared basis of the
    multilang-model fixture and its oracle (per-line labels are pinned,
    so the oracle is closed-form; windowed rescue never fires because
    every line is reliable on its own)."""
    from ..functions._langid_model import HELDOUT
    return [(lab, sent) for _true, sent, lab, rel in HELDOUT if rel]


def build_multilang_model_spans(spark, sf_dir: str) -> DataFrame:
    """Mixed-language corpus for the model-scored multilang path (r6):
    each doc is FOUR lines (one <p> each), line k drawn from the
    reliable held-out set at index ``(doc_id * 7 + 3 * k) % R`` — four
    distinct languages per doc, except ``doc_id % 5 == 0`` repeats line
    0's sentence at k=1 (adjacent same-label lines, exercising the
    merge path in-driver).  Labels and byte counts are closed-form for
    the oracle (_multilang_model_oracle)."""
    rows = reliable_heldout()
    r = len(rows)
    line = " || ".join(
        f"'<p>' || (case (nid * 7 + {3}*{k}) % {r} " + " ".join(
            "when {} then '{}'".format(i, s.replace("'", "''"))
            for i, (_lab, s) in enumerate(rows)) + " end) || '</p>'"
        for k in range(4))
    # the merge case: doc_id % 5 == 0 repeats line 0 at position 1
    line0 = ("(case (nid * 7) % {r} ".format(r=r) + " ".join(
        "when {} then '{}'".format(i, s.replace("'", "''"))
        for i, (_lab, s) in enumerate(rows)) + " end)")
    body = (f"case when nid % 5 = 0 then "
            f"'<p>' || {line0} || '</p><p>' || {line0} || '</p>' || "
            + " || ".join(
                f"'<p>' || (case (nid * 7 + {3}*{k}) % {r} " + " ".join(
                    "when {} then '{}'".format(i, s.replace("'", "''"))
                    for i, (_lab, s) in enumerate(rows)) + " end) || '</p>'"
                for k in (2, 3))
            + f" else {line} end")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.selectExpr("doc_id as nid").selectExpr(
        "cast(nid as string) as doc_id",
        "concat('https://ml', nid % 20, '.example/p', nid, '.html') as url",
        "'response' as warc_type",
        "'application/http; msgtype=response' as warc_ct",
        "'200 OK' as http_status",
        "'text/html; charset=utf-8' as http_ct",
        "'' as content_enc",
        "'' as transfer_enc",
        "'2024-01-01T00:00:00Z' as warc_date",
        f"array(named_struct('kind', 'text', 'text', {body}, "
        f"'media_ref', '', 'offset', 0)) as spans",
    )


# constant Japanese body for the Shift_JIS-recovery corpus (kept in sync
# with the oracle, which rebuilds the expected UTF-8 text from it)
SJIS_SENTENCE = "これは日本語のページです。本文はかな漢字を含みます。"


def build_sjis_spans(spark, sf_dir: str) -> DataFrame:
    """Legacy-CJK corpus: every doc is a Shift_JIS-encoded page DECLARING
    iso-8859-1 — the uchardet-style detected-over-declared override
    (util.cc:68-91) must recover it.  Encoding is a pure per-row function
    (executor-side mapInPandas); the expected plaintext is closed-form:
    SJIS_SENTENCE + ' ' + doc_id + '\\n'."""
    import base64
    from collections.abc import Iterator

    import pandas as pd

    from ..sources.fixtures import INPUT_SCHEMA

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "url", "warc_type", "warc_ct",
                                    "http_status", "http_ct", "content_enc",
                                    "transfer_enc", "warc_date", "spans")}
            for doc_id in pdf["doc_id"]:
                body = f"<p>{SJIS_SENTENCE} {doc_id}</p>".encode("shift_jis")
                rows["doc_id"].append(str(doc_id))
                rows["url"].append(f"https://jp.example/{doc_id}.html")
                rows["warc_type"].append("response")
                rows["warc_ct"].append("application/http; msgtype=response")
                rows["http_status"].append("200 OK")
                rows["http_ct"].append("text/html; charset=iso-8859-1")
                rows["content_enc"].append("")
                rows["transfer_enc"].append("")
                rows["warc_date"].append("2024-01-01T00:00:00Z")
                rows["spans"].append([dict(
                    kind="media", text="",
                    media_ref=base64.b64encode(body).decode(), offset=0)])
            yield pd.DataFrame(rows)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(gen, INPUT_SCHEMA)


# constant bodies for the Cyrillic/Korean legacy-charset corpus (kept in
# sync with the oracle, which rebuilds the expected UTF-8 text closed-form).
# The Russian sentence is deliberately rich in the common letters the
# frequency model floors on (о е а и н т с л в р) and carries the ru
# same-script markers (ы, э).
CYR_RU_SENTENCE = ("это новый день и мы снова здесь на этой странице "
                   "есть обычные слова и предложения")
CYR_KO_SENTENCE = "이것은 한국어 페이지입니다 오늘은 좋은 날입니다"
SB_EL_SENTENCE = ("αυτή είναι μια καλή μέρα και πηγαίνουμε έξω στην "
                  "πόλη με τους φίλους μας σήμερα")
SB_HE_SENTENCE = ("זה יום חדש ואנחנו שוב כאן היום בעיר עם חברים שלנו "
                  "והשמש זורחת בשמיים מעל הבית")
SB_AR_SENTENCE = ("هذا يوم جديد ونحن نذهب الى الخارج في المدينة مع "
                  "اصدقائنا اليوم والشمس مشرقة")
SB_TH_SENTENCE = ("วันนี้เป็นวันใหม่และเราอยู่ที่นี่อีกครั้งในเมือง"
                  "กับเพื่อนของเรา")
SB_CS_SENTENCE = ("je to už dávno a podle mého názoru však ještě není "
                  "pozdě že ano příliš žluťoučký kůň úpěl ďábelské ódy")


def build_cyrillic_spans(spark, sf_dir: str) -> DataFrame:
    """Legacy-charset corpus for the uchardet-style single-byte/CJK
    frequency models (util.cc:68-91), per ``doc_id % 10``:

      0  windows-1251 bytes DECLARING iso-8859-1 — the implausible-Latin
         override (dense high bytes can't be cp1252 text);
      1  koi8-r bytes with NO declared charset — weak-path recovery that
         must pick koi8-r over cp1251 by case statistics;
      2  euc-kr bytes declaring iso-8859-1 — hangul-dominance override;
      3  iso-8859-5 bytes, undeclared — case statistics pick it over the
         three sibling layouts;
      4  cp866 (DOS Cyrillic) bytes declaring iso-8859-1;
      5  iso-8859-7 Greek declaring iso-8859-1;
      6  windows-1255 Hebrew, undeclared (caseless: coherence + common
         letter share, argmax across families);
      7  windows-1256 Arabic declaring iso-8859-1;
      8  tis-620 Thai, undeclared;
      9  cp1250 Czech, undeclared — byte statistics cannot separate the
         Central-European Latin layouts from cp1252, so the detector's
         accented-stopword evidence (už/však/že decode to real function
         words only under cp1250) must fire.

    Encoding is a pure per-row function (executor-side mapInPandas); the
    expected plaintext is closed-form: <sentence> + ' ' + doc_id + '\\n'.
    """
    import base64
    from collections.abc import Iterator

    import pandas as pd

    from ..sources.fixtures import INPUT_SCHEMA

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "url", "warc_type", "warc_ct",
                                    "http_status", "http_ct", "content_enc",
                                    "transfer_enc", "warc_date", "spans")}
            variants = {
                0: (CYR_RU_SENTENCE, "windows-1251", True),
                1: (CYR_RU_SENTENCE, "koi8_r", False),
                2: (CYR_KO_SENTENCE, "euc_kr", True),
                3: (CYR_RU_SENTENCE, "iso8859-5", False),
                4: (CYR_RU_SENTENCE, "cp866", True),
                5: (SB_EL_SENTENCE, "iso8859-7", True),
                6: (SB_HE_SENTENCE, "windows-1255", False),
                7: (SB_AR_SENTENCE, "windows-1256", True),
                8: (SB_TH_SENTENCE, "tis-620", False),
                9: (SB_CS_SENTENCE, "cp1250", False),
            }
            for doc_id in pdf["doc_id"]:
                sent, enc, declared = variants[int(doc_id) % 10]
                body = f"<p>{sent} {doc_id}</p>".encode(enc)
                ct = ("text/html; charset=iso-8859-1" if declared
                      else "text/html")
                rows["doc_id"].append(str(doc_id))
                rows["url"].append(f"https://cy.example/{doc_id}.html")
                rows["warc_type"].append("response")
                rows["warc_ct"].append("application/http; msgtype=response")
                rows["http_status"].append("200 OK")
                rows["http_ct"].append(ct)
                rows["content_enc"].append("")
                rows["transfer_enc"].append("")
                rows["warc_date"].append("2024-01-01T00:00:00Z")
                rows["spans"].append([dict(
                    kind="media", text="",
                    media_ref=base64.b64encode(body).decode(), offset=0)])
            yield pd.DataFrame(rows)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(gen, INPUT_SCHEMA)


def _gif_real(w: int, h: int, n_frames: int, seed: int) -> bytes:
    """REAL animated GIF with decodable pixels (r6): 128-entry grayscale
    global color table, per frame a 10 x (1 + seed % 8) sub-rectangle
    whose pixel ``j`` is palette index ``(seed + f + j) % 128``, LZW
    literal-coded at min code size 7 (functions/giflzw.py — every code
    one byte).  Closed-form sizes the oracle mirrors: per-frame pixels
    n_px = 10 * (1 + seed % 8) <= 80, LZW bytes B = n_px + 2, frame
    slice = 10 desc + 1 min-code + 1 len + B + 1 term = n_px + 15,
    total = 13 header + 384 GCT + n_frames * (8 GCE + n_px + 15) + 1."""
    import struct

    from ..functions.giflzw import lzw_literal_encode
    h2 = 1 + seed % 8
    n_px = 10 * h2
    out = [b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x86, 0, 0])]
    out.append(bytes(v for i in range(128) for v in (i, i, i)))
    for f in range(n_frames):
        out.append(b"\x21\xf9\x04" + bytes([0, 10, 0, 0]) + b"\x00")
        out.append(b"\x2c" + struct.pack("<HHHH", 0, 0, 10, h2) + b"\x00")
        idx = bytes((seed + f + j) % 128 for j in range(n_px))
        data = lzw_literal_encode(idx, 7)
        out.append(bytes([7, len(data)]) + data + b"\x00")
    out.append(b"\x3b")
    return b"".join(out)


def _wav_striped(n: int, seed: int) -> bytes:
    """Complete real 8-bit PCM mono WAV, sample ``i`` = ``(seed+i) % 256``:
    mean and byte size (44 + n) are closed-form for the oracle."""
    import numpy as np

    from ..functions.wavaudio import encode_wav
    return encode_wav(((seed + np.arange(n)) % 256).astype(np.uint8))


def _png_striped(w: int, h: int, seed: int) -> bytes:
    """Complete real grayscale PNG, row ``y`` = ``(seed + y) % 256``:
    pixel mean is closed-form (avg over y) and the level-0 encoder makes
    the byte size closed-form too (pngpixels.png_encoded_size)."""
    import numpy as np

    from ..functions.pngpixels import encode_png
    col = ((seed + np.arange(h)) % 256).astype(np.uint8)
    return encode_png(np.repeat(col[:, None], w, axis=1))


def _webp_lossy(w: int, h: int) -> bytes:
    """Real WEBP container with a VP8 lossy bitstream header (3-byte
    frame tag, 0x9d012a start code, 14-bit dims): parse_webp_header
    recovers (w, h); exactly 30 bytes — closed-form for the oracle."""
    import struct
    body = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", w, h)
    chunk = b"VP8 " + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def build_media_spans(spark, sf_dir: str) -> DataFrame:
    """Media corpus for the real codec paths, per ``doc_id % 5``:
    a COMPLETE real PNG (r6 — striped 8-bit grayscale, row ``y`` holds
    sample ``(doc_id + y) % 256``, level-0 zlib, so pixel mean and byte
    size are both closed-form: exercises the full pngpixels
    decode/unfilter/resize/re-encode path) / ANIMATED GIF (real frame
    blocks: 1 + doc_id % 3 frames, sub-block size 1 + doc_id % 7 —
    exercises the gif_frames walker) / a COMPLETE real baseline JPEG
    (r6 — uniform mid-gray, every block DC-only: entropy data is the
    6-bit '001010' cycle, so the byte size is closed-form
    (jpeg_flat_size = 312 + ceil(6*blocks/8)) and the decoded mean is
    exactly 128 — exercises the full jpegpixels Huffman+IDCT decode
    and the resize-to-PNG thumbnail path) OR (doc_id % 10 == 7) a
    COMPLETE real 8-bit PCM WAV (striped samples, real audio decode
    via functions/wavaudio.py — mean and 44+n byte size closed-form),
    all with
    width = 1 + doc_id % 640 and height = 1 + doc_id % 480 (closed-form
    for the oracle); the deterministic 'IMG'||doc_id fake as the
    stub-twin case OR (doc_id % 10 == 8) a REAL MJPEG AVI video —
    RIFF container (functions/aviriff.py) holding 2 + doc_id % 4
    flat-JPEG frames the real decoders open, every size closed-form;
    and a real single-page PDF carrying 'Hello doc <id>'
    (exercises the dependency-free extract_pdf_text leg — uncompressed
    stream, so the byte length is closed-form in the id's digit
    count)."""
    import base64
    from collections.abc import Iterator

    import pandas as pd

    from ..sources.fixtures import INPUT_SCHEMA

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "url", "warc_type", "warc_ct",
                                    "http_status", "http_ct", "content_enc",
                                    "transfer_enc", "warc_date", "spans")}
            from ..functions.jpegpixels import encode_jpeg_flat
            from ..functions.pdftext import build_minimal_pdf
            for doc_id in pdf["doc_id"]:
                n = int(doc_id)
                w, h = 1 + n % 640, 1 + n % 480
                v = n % 5
                if v == 0:
                    body = _png_striped(w, h, n)
                elif v == 1:
                    body = _gif_real(w, h, 1 + n % 3, n)
                elif v == 2:
                    # the % 5 == 2 class splits by % 10: a complete real
                    # flat baseline JPEG (decoded mean 128, closed-form
                    # size) vs a complete real 8-bit PCM WAV (striped
                    # samples (doc_id + i) % 256 — mean and byte size
                    # closed-form, functions/wavaudio.py)
                    if n % 10 == 7:
                        body = _wav_striped(200 + n % 300, n)
                    else:
                        body = encode_jpeg_flat(w, h)
                elif v == 3:
                    # the % 5 == 3 class splits by % 10: the 'IMG' fake
                    # stub-twin vs (doc_id % 10 == 8) a REAL MJPEG AVI —
                    # 2 + doc_id % 4 flat-JPEG frames of
                    # 8*(1 + doc_id % 4) x 8*(1 + doc_id % 3), so dims,
                    # frame size (jpeg_flat_size) and container size
                    # (aviriff.avi_mjpeg_size) are all closed-form and
                    # the decoded first-frame mean is exactly 128
                    if n % 10 == 8:
                        from ..functions.aviriff import build_avi_mjpeg
                        wv, hv = 8 * (1 + n % 4), 8 * (1 + n % 3)
                        frame = encode_jpeg_flat(wv, hv)
                        body = build_avi_mjpeg([frame] * (2 + n % 4),
                                               wv, hv)
                    elif n % 20 == 13:
                        # real WEBP container: header-only real path
                        # (dims parse, no pixel decode — px sentinel)
                        body = _webp_lossy(w, h)
                    else:
                        body = f"IMG{doc_id}".encode()
                else:
                    body = build_minimal_pdf([f"Hello doc {doc_id}"])
                rows["doc_id"].append(str(doc_id))
                rows["url"].append(f"https://m.example/{doc_id}.bin")
                rows["warc_type"].append("response")
                rows["warc_ct"].append("application/http; msgtype=response")
                rows["http_status"].append("200 OK")
                rows["http_ct"].append("text/html")
                rows["content_enc"].append("")
                rows["transfer_enc"].append("")
                rows["warc_date"].append("2024-01-01T00:00:00Z")
                rows["spans"].append([dict(
                    kind="media", text="",
                    media_ref=base64.b64encode(body).decode(), offset=1)])
            yield pd.DataFrame(rows)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.mapInPandas(gen, INPUT_SCHEMA)


def build_transport_spans(spark, sf_dir: str) -> DataFrame:
    """Transport-encoded corpus for the P6/P7 paths: per ``doc_id % 3``

      0  plain text span (control)
      1  ``Content-Encoding: gzip`` — media span carrying
         base64(gzip('<p>' + replace(text,'a','A') + '</p>', mtime=0))
      2  ``Transfer-Encoding: chunked`` + gzip — the gzip bytes split into
         two chunks with the reference framing (dechunk THEN decompress,
         record.cc:114-128)

    Encoding is a pure per-row function (executor-side mapInPandas, like
    build_zip_spans); the oracle never re-encodes — the expected plaintext
    is closed-form in ``text``.
    """
    import base64
    import gzip as _gzip
    from collections.abc import Iterator

    import pandas as pd

    from ..sources.fixtures import INPUT_SCHEMA

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "url", "warc_type", "warc_ct",
                                    "http_status", "http_ct", "content_enc",
                                    "transfer_enc", "warc_date", "spans")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                v = int(doc_id) % 3
                if v == 0:
                    content_enc, transfer_enc = "", ""
                    spans = [dict(kind="text", text=f"<p>{text}</p>",
                                  media_ref="", offset=0)]
                elif v == 1:
                    content_enc, transfer_enc = "gzip", ""
                    payload = _gzip.compress(
                        f"<p>{text.replace('a', 'A')}</p>".encode(), mtime=0)
                    spans = [dict(kind="media", text="",
                                  media_ref=base64.b64encode(payload).decode(),
                                  offset=0)]
                else:
                    content_enc, transfer_enc = "gzip", "chunked"
                    payload = _gzip.compress(
                        f"<p>{text.replace('e', 'E')}</p>".encode(), mtime=0)
                    mid = max(1, len(payload) // 2)
                    framed = b"".join(
                        b"%x\r\n%s\r\n" % (len(c), c)
                        for c in (payload[:mid], payload[mid:])) + b"0\r\n"
                    spans = [dict(kind="media", text="",
                                  media_ref=base64.b64encode(framed).decode(),
                                  offset=0)]
                rows["doc_id"].append(str(doc_id))
                rows["url"].append(f"https://t.example/{doc_id}.html")
                rows["warc_type"].append("response")
                rows["warc_ct"].append("application/http; msgtype=response")
                rows["http_status"].append("200 OK")
                rows["http_ct"].append("text/html; charset=utf-8")
                rows["content_enc"].append(content_enc)
                rows["transfer_enc"].append(transfer_enc)
                rows["warc_date"].append("2024-01-01T00:00:00Z")
                rows["spans"].append(spans)
            yield pd.DataFrame(rows)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    return docs.mapInPandas(gen, INPUT_SCHEMA)


def build_spans(spark, sf_dir: str, replicate: int = 1,
                text_factor: int = 1) -> DataFrame:
    """The interleaved input table.  ``replicate`` scales the corpus for
    benchmarking (new ids keep the variant distribution; deterministic);
    ``text_factor`` > 1 repeats each document's text to synthesize
    realistic large crawl pages (bench-only — the oracles assume 1)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text_expr = ("text" if text_factor == 1
                 else f"rtrim(repeat(concat(text, ' '), {text_factor}))")
    base = docs.selectExpr("doc_id as onid", f"{text_expr} as text",
                           "lang", "source")
    if replicate > 1:
        reps = spark.range(replicate).selectExpr("id as rep")
        base = base.crossJoin(reps).selectExpr(
            f"onid * {replicate} + rep as nid", "text", "lang", "source")
    else:
        base = base.selectExpr("onid as nid", "text", "lang", "source")
    return base.selectExpr(
        "cast(nid as string) as doc_id",
        """case when nid % 10 = 9 then concat('https://s', nid % 20, '.example/robots.txt')
                when nid % 10 = 8 then concat('https://s', nid % 20, '.example/img', nid, '.png')
                when nid % 10 = 0 then concat('https://s', nid % 20, '.example/page', nid, '.html?q=a b')
                else concat('https://s', nid % 20, '.example/page', nid, '.html') end as url""",
        "case when nid % 10 = 6 then 'request' else 'response' end as warc_type",
        "'application/http; msgtype=response' as warc_ct",
        """case when nid % 10 = 7 then '404 Not Found'
                when nid % 10 = 1 then cast(null as string)
                else '200 OK' end as http_status""",
        """case when nid % 10 = 5 then 'text/plain'
                when nid % 10 = 4 then 'text/html'
                else 'text/html; charset=utf-8' end as http_ct""",
        "'' as content_enc",
        "'' as transfer_enc",
        "'2024-01-01T00:00:00Z' as warc_date",
        f"{SPANS_EXPR} as spans",
    )
