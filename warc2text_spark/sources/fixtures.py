"""The input table schema: one row per WARC record, its payload as
ordered spans (``kind`` text or media, ``media_ref`` base64, ``offset``
the span's place in the document).  The warcio source, the span
generators and the streaming source read and write this schema."""

from __future__ import annotations

INPUT_SCHEMA = (
    "doc_id string, url string, warc_type string, warc_ct string, "
    "http_status string, http_ct string, content_enc string, "
    "transfer_enc string, warc_date string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
