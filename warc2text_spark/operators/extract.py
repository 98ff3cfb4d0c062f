"""Kernel 1: fused extraction over Arrow batches (mapInArrow).

This is the Spark-side home of the reference's per-record scalar pipeline
(transport decode -> zip -> charset -> HTML/plain extraction -> entity
decode; /root/reference/src/record.cc:41-289 + html.cc/xh_scanner.cc).  The
JVM<->Python boundary is crossed once, with columnar Arrow batches — never
per-row Python UDFs.  Cheap predicates stay *outside* the kernel (see
operators/filters.py) because Catalyst cannot push filters through an
opaque kernel.

Span semantics over the interleaved table (documented data-model mapping):

* ``kind='text'`` spans carry the raw text payload (UTF-8 bytes of
  ``span.text``); transfer/content encodings from the document metadata
  apply to those bytes, then the record-cleaning pipeline runs.
* ``kind='media'`` spans carry base64 payloads in ``media_ref``.  When the
  document's content type / URL extension marks a zipped document format
  (record.cc:132-172) the payload is unzipped and its XML extracted into
  the span's ``text`` (media_ref and offset preserved); otherwise the span
  passes through untouched — the interleaving ``(kind, media_ref, order)``
  is preserved.
* Per-document error semantics mirror the single-payload reference: the
  first fatal span error (in offset order) drops the whole document
  (warcpreprocessor.cc:180-202); a tag-filter hit marks the document
  FILTERED (XOR with --invert-tag-filters applied by the caller); text
  spans whose extraction is empty are removed, and a document whose total
  extracted text is empty is dropped (F14, warcpreprocessor.cc:204-207).

The kernel never raises: all error paths become the ``err`` column and are
resolved by native filters afterwards (keep_predicate()).
"""

from __future__ import annotations

import base64
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..functions import record as rec
from ..functions import transport, ziputil
from ..functions.textextract import parse_tag_filters
from ..functions.urlutil import encode_url
from ..sources.warcio import MAX_RECORD_SIZE

SPAN_TYPE = pa.struct([
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
])

KERNEL_INPUT_COLS = ["doc_id", "url", "http_ct", "content_enc",
                     "transfer_enc", "warc_date", "spans"]

LANG_TYPE = pa.list_(pa.struct([("lang", pa.string()), ("chunk", pa.string())]))

_OUT_FIELDS = [
    ("doc_id", pa.string()),
    ("url", pa.string()),
    ("http_ct", pa.string()),
    ("warc_date", pa.string()),
    ("charset", pa.string()),
    ("err", pa.int32()),
    ("plaintext", pa.string()),
    ("spans", pa.list_(SPAN_TYPE)),
]


def _out_schema(keep_payload):
    """Kernel 1's Arrow output schema; run_extract hands Spark the schema
    derived from it."""
    fields = list(_OUT_FIELDS)
    if keep_payload:
        fields.append(("payload_b64", pa.string()))
    fields.append(("langs", LANG_TYPE))
    return pa.schema(fields)


@dataclass
class PipelineOptions:
    """The one set of options of the F1-F9 filters, Kernel 1 and the
    demux (the reference's flags, warc2text_main.cc:40-66)."""
    # a functions/langid.DETECTORS name; language identification runs
    # inside Kernel 1 — one JVM<->Python crossing
    classifier: str = "skip"
    tag_filters_text: str = ""
    tag_filters_invert: bool = False
    skip_extraction: bool = False
    encode_urls: bool = False
    robots_process: bool = False
    user_url_filter: str | None = None
    num_partitions: int | None = None   # salted repartition before Kernel 1
    paragraph_identification: bool = False
    max_record_size: int = MAX_RECORD_SIZE
    # 'passthrough' (default): non-zip media spans are preserved untouched,
    # keeping the interleaving (FIXTURES.md F17).  'extract': media spans
    # carry raw payload *bytes* (e.g. non-UTF-8 text from WARC ingestion,
    # sources/warcio.py) and run the charset/extraction path like a text
    # payload.
    media_text_mode: str = "passthrough"
    # carry the transport-decoded payload bytes (base64) through the kernel
    # — needed for the reference's '-f html' output (bilangwriter.cc:126-131)
    keep_payload: bool = False
    # F4/F6 on lower(coalesce(...)) for tables that don't honor the
    # lower-cased header contract — correctness over scan pushdown
    case_insensitive_headers: bool = False
    # invalid-UTF-8 policy for no-convert (utf8/ascii-declared) payloads:
    # 'ignore' | 'replace' (reference --encoding-errors default) | 'strict'
    # (reference CLI value 'discard' — drops the record, error 316)
    encoding_errors: str = "replace"
    # beyond-reference: keep application/pdf records in the main stream
    # (split_stream) and extract their text (functions/pdftext.py) instead
    # of routing them to the K3 side WARC
    pdf_text: bool = False


def _clean_doc(url, http_ct, content_enc, transfer_enc, spans_in,
               tag_filters, opts: PipelineOptions):
    """Returns (charset, err, plaintext, spans_out, payload_bytes) for one
    document (payload_bytes is b'' unless opts.keep_payload).

    ``spans_in`` is a sequence of (kind, text, media_ref, offset) tuples —
    the kernel feeds flat Arrow child arrays directly (no per-span dict
    materialization).

    One loop over the spans in offset order: each decoded span goes
    through one cleaner, ``extract_pdf_text`` for a PDF record under
    ``pdf_text``, else ``rec.clean_payload``.  A passthrough media span
    is kept untouched; a decoded span whose extraction is empty is kept
    only if it is a media span outside PDF mode."""
    url = url or ""
    clean_ct, declared = rec.clean_content_type(http_ct or "")
    transfer_enc = transfer_enc or ""
    content_enc = content_enc or ""
    spans = sorted(spans_in or [], key=lambda s: s[3] or 0)

    # mirror filters.is_pdf exactly (ct == application/pdf OR a
    # non-text-format record at a .pdf url) — a URL-classified PDF that
    # pdf_text routed into the main stream must be extracted, not
    # dropped as NOT_VALID_RECORD
    pdf = opts.pdf_text and (
        clean_ct == "application/pdf"
        or (clean_ct not in rec.TEXT_CONTENT_TYPES and url.endswith(".pdf")))
    if pdf:
        from ..functions.pdftext import extract_pdf_text
        decode_media = True
    else:
        zip_ct = ziputil.zip_content_type(clean_ct, url)
        if clean_ct and clean_ct not in rec.TEXT_CONTENT_TYPES and not zip_ct:
            return "", rec.NOT_VALID_RECORD, "", [], b""
        decode_media = bool(zip_ct) or opts.media_text_mode == "extract"

    out_spans = []
    texts = []
    raw_parts = []
    err = rec.SUCCESS
    charset = ""
    filtered = False
    for skind, stext, smedia, soff in spans:
        media = skind == "media"
        kind = "media" if media else "text"
        media_ref = smedia or ""
        offset = soff or 0
        if media and not decode_media:
            # passthrough: interleaving preserved (F17)
            out_spans.append((kind, stext or "", media_ref, offset))
            continue
        if media:
            try:
                payload = base64.b64decode(media_ref) if media_ref else b""
            except Exception:
                # unreadable payload bytes: same fate as an unreadable zip
                return "", rec.ZIP_READ_ERROR, "", [], b""
        else:
            payload = (stext or "").encode("utf-8")
        payload = transport.transport_decode(payload, transfer_enc, content_enc)
        if opts.keep_payload:
            raw_parts.append(payload)
        if pdf:
            # no recoverable text => empty plaintext => F14 drops the doc
            text = extract_pdf_text(payload)
            serr, cs = rec.SUCCESS, "utf-8" if text else ""
        else:
            text, serr, cs = rec.clean_payload(
                payload, clean_ct, declared, url,
                tag_filters=tag_filters,
                skip_extraction=opts.skip_extraction,
                encoding_errors=opts.encoding_errors)
        charset = charset or cs
        if serr == rec.FILTERED_DOCUMENT_ERROR:
            filtered = True
        elif serr != rec.SUCCESS:
            err = serr
            break
        if text:
            texts.append(text)
        if text or (media and not pdf):
            out_spans.append((kind, text, media_ref, offset))

    if err == rec.SUCCESS and filtered:
        err = rec.FILTERED_DOCUMENT_ERROR
    return charset, err, "".join(texts), out_spans, b"".join(raw_parts)


def make_extract_kernel(opts: PipelineOptions):
    tag_filters_text = opts.tag_filters_text
    keep_payload = opts.keep_payload
    schema = _out_schema(keep_payload)

    def kernel(batches):
        tag_filters = parse_tag_filters(tag_filters_text) if tag_filters_text else {}
        from ..functions.langid import get_detector
        detector = get_detector(opts.classifier)
        import pyarrow.compute as pc
        for batch in batches:
            acols = {n: batch.column(i)
                     for i, n in enumerate(batch.schema.names)}
            n_rows = batch.num_rows
            empty = [None] * n_rows

            def plist(name):
                c = acols.get(name)
                return c.to_pylist() if c is not None else empty

            # only the columns the per-doc loop actually reads cross into
            # Python; doc_id/warc_date (and url/http_ct on the output side)
            # stay Arrow-native — one row out per row in, order preserved,
            # so the input arrays are reused directly (zero-copy)
            urls = plist("url")
            http_cts = plist("http_ct")
            # spans cross as FLAT child arrays + per-row lengths (no
            # per-span Python dicts in either direction — the nested
            # list<struct> <-> list-of-dict conversion was the measured
            # Arrow-crossing bill at bigdoc scale, BENCH.md r5)
            spans_col = acols.get("spans")
            if spans_col is not None and n_rows:
                sp_len = pc.list_value_length(spans_col).to_pylist()
                flat = pc.list_flatten(spans_col)
                in_k = flat.field("kind").to_pylist()
                in_t = flat.field("text").to_pylist()
                in_m = flat.field("media_ref").to_pylist()
                in_o = flat.field("offset").to_pylist()
            else:
                sp_len = [0] * n_rows
                in_k = in_t = in_m = in_o = []
            out = {f.name: [] for f in schema
                   if f.name not in ("doc_id", "url", "http_ct",
                                     "warc_date", "spans", "langs")}
            sk, st, sm, so, s_counts = [], [], [], [], []
            ll, lc, l_counts = [], [], []
            enc_urls = [] if opts.encode_urls else None
            pos = 0
            for row_i, (url0, http_ct, content_enc, transfer_enc) in \
                    enumerate(zip(urls, http_cts, plist("content_enc"),
                                  plist("transfer_enc"))):
                ln = sp_len[row_i] or 0
                sp = list(zip(in_k[pos:pos + ln], in_t[pos:pos + ln],
                              in_m[pos:pos + ln], in_o[pos:pos + ln]))
                pos += ln
                charset, err, plaintext, spans, raw = _clean_doc(
                    url0, http_ct, content_enc, transfer_enc, sp,
                    tag_filters, opts)
                if enc_urls is not None:
                    enc_urls.append(encode_url(url0 or ""))
                out["charset"].append(charset)
                out["err"].append(err)
                out["plaintext"].append(plaintext)
                for k, t, m, o in spans:
                    sk.append(k)
                    st.append(t)
                    sm.append(m)
                    so.append(o)
                s_counts.append(len(spans))
                if keep_payload:
                    out["payload_b64"].append(
                        base64.b64encode(raw).decode("ascii"))
                # only surviving docs need language labels
                if err == rec.SUCCESS and plaintext:
                    items = sorted(detector.detect(plaintext).items())
                    for lang, chunk in items:
                        ll.append(lang)
                        lc.append(chunk)
                    l_counts.append(len(items))
                else:
                    l_counts.append(0)

            def native(name):
                c = acols.get(name)
                if c is None:
                    return pa.array([""] * n_rows, type=pa.string())
                return pc.fill_null(c, "")

            def list_of_structs(counts, children, struct_type):
                offsets = [0]
                acc = 0
                for c in counts:
                    acc += c
                    offsets.append(acc)
                values = pa.StructArray.from_arrays(
                    [pa.array(col, type=f.type)
                     for col, f in zip(children, struct_type)],
                    fields=list(struct_type))
                return pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()), values)

            arrays = []
            for f in schema:
                if f.name == "doc_id":
                    c = acols.get("doc_id")
                    arrays.append(c if c is not None
                                  else pa.array(empty, type=pa.string()))
                elif f.name == "url":
                    arrays.append(pa.array(enc_urls, type=pa.string())
                                  if enc_urls is not None else native("url"))
                elif f.name in ("http_ct", "warc_date"):
                    arrays.append(native(f.name))
                elif f.name == "spans":
                    arrays.append(list_of_structs(
                        s_counts, (sk, st, sm, so), SPAN_TYPE))
                elif f.name == "langs":
                    arrays.append(list_of_structs(
                        l_counts, (ll, lc), LANG_TYPE.value_type))
                else:
                    arrays.append(pa.array(out[f.name], type=f.type))
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return kernel


def keep_predicate(opts: PipelineOptions) -> Column:
    """Post-kernel drop dispatch (warcpreprocessor.cc:187-207).

    XOR: drop when (err == FILTERED) != opts.tag_filters_invert; fatal
    codes always drop; empty plaintext drops unless opts.skip_extraction.
    """
    err = F.col("err")
    xor_drop = (err == rec.FILTERED_DOCUMENT_ERROR) != F.lit(
        opts.tag_filters_invert)
    fatal = err.isin(rec.HTML_PARSING_ERROR, rec.UNKNOWN_ENCODING_ERROR,
                     rec.UTF8_CONVERSION_ERROR, rec.NOT_VALID_RECORD,
                     rec.ZIP_READ_ERROR, rec.NUMERIC_RANGE_ERROR)
    keep = ~xor_drop & ~fatal
    if not opts.skip_extraction:
        keep = keep & (F.length("plaintext") > 0)
    return keep


def salted_repartition(df: DataFrame, num_partitions: int, salt: int = 0) -> DataFrame:
    """Spread documents uniformly (and deterministically) across partitions
    by hashed doc_id — defuses mega-document skew before the kernel stage
    (north_rule requirement). AQE skew-join handles residual shuffle skew.

    NB: repartition on the *raw* 64-bit hash — wrapping it in
    pmod(hash, n) first collapses the key space to n values which the
    partitioner hashes again, leaving ~n/2 partitions empty."""
    key = F.xxhash64(F.col("doc_id"), F.lit(salt))
    return df.repartition(num_partitions, key)


def run_extract(df: DataFrame, opts: PipelineOptions) -> DataFrame:
    """Project to kernel inputs, salt-repartition when
    ``opts.num_partitions`` is set, run Kernel 1: one scan, one
    MapInArrow, every document through the same kernel.  Its Spark schema
    is derived from the Arrow schema the kernel emits."""
    cols = [c for c in KERNEL_INPUT_COLS if c in df.columns]
    projected = df.select(*cols)
    if opts.num_partitions:
        projected = salted_repartition(projected, opts.num_partitions)
    return projected.mapInArrow(make_extract_kernel(opts), from_arrow_schema(
        _out_schema(opts.keep_payload)))
