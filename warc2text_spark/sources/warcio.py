"""WARC file ingestion: real .warc.gz bytes -> the interleaved spans table.

This closes the loop for users coming from the reference binary: the same
files it reads can be ingested into the table model here and run through
the identical pipeline.  Parsing follows the reference exactly:

* member splitting — one gzip member per record, auto-detected gzip
  framing, oversized records skipped while streaming
  (/root/reference/src/warcreader.cc:15-71; 20 MB default cap,
  warc2text_main.cc:64,122);
* WARC header grammar — ``read_header``: keys lower-cased, values from the
  first non-space after ':' to CRLF, header ends at CRLFCRLF
  (/root/reference/src/record.cc:20-39);
* projections — warc-type lower-cased, warc-target-uri's <> wrapper
  stripped, content-type lower-cased, warc-date raw (record.cc:64-86);
* HTTP header on response records — ``HTTP/1.`` prefix at payload start,
  status is the token after the first space, unparseable header treated
  as payload (record.cc:88-106); header *values* keep their case (the
  reference compares transfer-encoding == "chunked" case-sensitively);
* payload — whitespace-trimmed both ends (record.cc:111-112); transport
  decode (dechunk/gunzip) is left to the extraction kernel, which applies
  the same record.cc:114-128 semantics.

Payloads that are valid UTF-8 become text spans; others become base64
media spans — run the pipeline with ``media_text_mode='extract'`` so the
kernel routes them through the charset/extraction path instead of the
interleaved-media passthrough.

Scale model: one WARC file = one Spark task (matching the reference's
process-per-WARC scale-out, SURVEY.md §3); a 100 TB crawl is ~100k files.
"""

from __future__ import annotations

import base64
import zlib
from collections.abc import Iterator

MAX_RECORD_SIZE = 20 * 1024 * 1024  # warc2text_main.cc:64,122

_WS = b" \t\n\v\f\r"


def split_members(data: bytes, max_record_size: int = MAX_RECORD_SIZE
                  ) -> Iterator[tuple[int, int, bytes]]:
    """Yield (offset, compressed_size, content) per gzip member; members
    larger than max_record_size yield empty content (skipped upstream,
    warcreader.cc:56-60)."""
    pos = 0
    n = len(data)
    chunk_size = 1 << 20
    while pos < n:
        d = zlib.decompressobj(wbits=47)  # 32+15: auto gzip/zlib
        out = bytearray()
        oversize = False
        # Inflate in bounded chunks (the reference streams 4 KB buffers,
        # warcreader.cc:27-29,56-60): once the member exceeds the cap, stop
        # buffering but keep draining to d.eof so the member boundary is
        # still found — a decompression-bomb member is skipped, not OOMed.
        tail = data[pos:]
        try:
            while not d.eof:
                chunk = d.decompress(d.unconsumed_tail or tail,
                                     max_length=chunk_size)
                tail = b""
                if not oversize:
                    out += chunk
                    if len(out) > max_record_size:
                        oversize = True
                        out = bytearray()
                if d.eof:
                    break
                if not d.unconsumed_tail and not chunk:
                    # no input left AND no pending output progressed: the
                    # member really is truncated (reference behavior).  An
                    # empty unconsumed_tail alone is not proof — zlib can
                    # consume all input into its bit buffer while output
                    # sits capped at max_length; the next d.decompress(b"")
                    # drains it, so only a no-progress round stops us.
                    return
        except zlib.error:
            return  # stream no longer inflates: stop (reference behavior)
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            return
        yield pos, consumed, (b"" if oversize else bytes(out))
        pos += consumed


def _find_first_not_space(content: bytes, pos: int) -> int:
    n = len(content)
    while pos < n and content[pos] == 0x20:
        pos += 1
    return pos if pos < n else -1


def read_header(content: bytes, last_pos: int) -> tuple[int, dict]:
    """record.cc:20-39; returns (payload_start, headers) or (-1, {})."""
    header: dict[str, str] = {}
    header_end = content.find(b"\r\n\r\n", last_pos)
    if header_end < 0:
        return -1, header
    pos = content.find(b":", last_pos)
    while 0 <= pos < header_end:
        key = content[last_pos:pos]
        pos = _find_first_not_space(content, pos + 1)
        if pos < 0:
            break
        last_pos = pos
        pos = content.find(b"\r\n", pos)
        end = pos if pos >= 0 else len(content)
        header[key.decode("latin-1").lower()] = \
            content[last_pos:end].decode("latin-1", errors="replace")
        if pos < 0:
            break
        last_pos = pos + 2
        pos = content.find(b":", last_pos)
    return header_end + 4, header


def parse_record(content: bytes, filename: str, offset: int, size: int
                 ) -> dict | None:
    """One WARC record -> a spans-table row (record.cc:41-130 front half)."""
    if not content.startswith(b"WARC/1.0\r\n"):
        return None
    payload_start, header = read_header(content, 10)
    if payload_start < 0:
        return None

    record_type = header.get("warc-type", "").lower()
    url = header.get("warc-target-uri", "")
    if url and url[0] == "<" and url[-1] == ">":
        url = url[1:-1]
    warc_ct = header.get("content-type", "").lower()
    warc_date = header.get("warc-date", "")

    http: dict[str, str] = {}
    if record_type == "response":
        if content.startswith(b"HTTP/1.", payload_start):
            space = content.find(b" ", payload_start)
            line_end = content.find(b"\r\n", payload_start)
            if 0 <= space < line_end:
                http["status"] = content[space + 1:line_end].decode(
                    "latin-1", errors="replace")
            ps, hh = read_header(content, line_end + 2)
            if ps >= 0:
                http.update({k: v for k, v in hh.items() if k != "status"})
                payload_start = ps
            # else: unparseable HTTP header -> treat as payload

    payload = content[payload_start:].strip(_WS)

    try:
        text = payload.decode("utf-8")
        spans = [dict(kind="text", text=text, media_ref="", offset=0)]
    except UnicodeDecodeError:
        spans = [dict(kind="media", text="",
                      media_ref=base64.b64encode(payload).decode("ascii"),
                      offset=0)]
    return dict(
        doc_id=f"{filename}:{offset}:{size}",
        url=url, warc_type=record_type, warc_ct=warc_ct,
        http_status=http.get("status"),
        http_ct=http.get("content-type", ""),
        content_enc=http.get("content-encoding", ""),
        transfer_enc=http.get("transfer-encoding", ""),
        warc_date=warc_date, spans=spans)


def parse_warc_file(data: bytes, filename: str,
                    max_record_size: int = MAX_RECORD_SIZE) -> list[dict]:
    rows = []
    for offset, size, content in split_members(data, max_record_size):
        if not content:
            continue  # oversized or empty member (warcpreprocessor.cc:131-133)
        row = parse_record(content, filename, offset, size)
        if row is not None:
            rows.append(row)
    return rows


def warc_to_spans_df(spark, path: str,
                     max_record_size: int = MAX_RECORD_SIZE):
    """Distributed ingestion: one task per WARC file (binaryFile source),
    rows in the standard spans-table schema."""
    import pyarrow as pa

    from ..operators.extract import SPAN_TYPE
    from .fixtures import INPUT_SCHEMA

    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")

    out_schema = pa.schema([
        ("doc_id", pa.string()), ("url", pa.string()),
        ("warc_type", pa.string()), ("warc_ct", pa.string()),
        ("http_status", pa.string()), ("http_ct", pa.string()),
        ("content_enc", pa.string()), ("transfer_enc", pa.string()),
        ("warc_date", pa.string()), ("spans", pa.list_(SPAN_TYPE)),
    ])

    def kernel(batches):
        for batch in batches:
            paths = batch.column(0).to_pylist()
            contents = batch.column(1).to_pylist()
            rows = []
            for p, c in zip(paths, contents):
                name = p.rsplit("/", 1)[-1]
                rows.extend(parse_warc_file(bytes(c), name, max_record_size))
            arrays = [pa.array([r[f.name] for r in rows], type=f.type)
                      for f in out_schema]
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return files.mapInArrow(kernel, INPUT_SCHEMA)
