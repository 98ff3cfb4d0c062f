"""WARC ingestion tests: synthetic .warc.gz -> spans table -> pipeline."""

import gzip

import pytest

from warc2text_spark.sources.warcio import (
    parse_record,
    parse_warc_file,
    read_header,
    split_members,
)


def warc_record(url="https://ex.com/a.html", rtype="response",
                warc_ct="application/http; msgtype=response",
                status="200 OK", http_headers=(), body=b"<p>hello world</p>",
                http=True):
    head = (f"WARC/1.0\r\n"
            f"WARC-Type: {rtype}\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"Content-Type: {warc_ct}\r\n"
            f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            f"\r\n").encode()
    if http:
        hh = f"HTTP/1.1 {status}\r\n" + \
            "".join(f"{k}: {v}\r\n" for k, v in http_headers) + "\r\n"
        return head + hh.encode() + body
    return head + body


def as_warc_gz(*records):
    return b"".join(gzip.compress(r) for r in records)


def test_split_members():
    data = as_warc_gz(b"one", b"two", b"three")
    members = list(split_members(data))
    assert [m[2] for m in members] == [b"one", b"two", b"three"]
    # offsets/sizes tile the file
    assert members[0][0] == 0
    assert members[2][0] + members[2][1] == len(data)


def test_split_members_oversize_skipped():
    big = b"x" * (2 * 1024 * 1024)
    data = as_warc_gz(b"small", big, b"after")
    got = [m[2] for m in split_members(data, max_record_size=1024 * 1024)]
    assert got == [b"small", b"", b"after"]


def test_split_members_decompression_bomb_streamed():
    # A ~512 MB member (compressing to ~0.5 MB) must be skipped without
    # materializing its payload: inflation is chunked with max_length and
    # buffering stops at the cap, draining only to find the boundary.
    bomb = b"\0" * (128 * 1024 * 1024)
    data = as_warc_gz(b"before", bomb, b"after")
    import tracemalloc
    tracemalloc.start()
    got = [m[2] for m in split_members(data, max_record_size=1024 * 1024)]
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert got == [b"before", b"", b"after"]
    assert peak < 32 * 1024 * 1024  # never held the inflated member


def test_split_members_truncated_stream_detected():
    # a member cut mid-stream must stop the split (reference: incomplete
    # inflate aborts the file) without looping forever on the new
    # no-progress truncation check
    import gzip as _gzip
    whole = _gzip.compress(b"z" * 4096)
    data = as_warc_gz(b"ok") + whole[: len(whole) // 2]
    got = [m[2] for m in split_members(data)]
    assert got == [b"ok"]


def test_split_members_output_cap_boundary_sizes():
    # members whose inflated size lands exactly on the 1 MiB max_length
    # cap: zlib may consume all input while output is still pending, which
    # the old `not unconsumed_tail -> truncated` check misclassified; the
    # no-progress check must keep draining to the true member boundary
    import gzip as _gzip
    base = 1 << 20
    for size in (base - 1, base, base + 1, 2 * base):
        payload = (b"abcdefgh" * ((size // 8) + 1))[:size]
        data = _gzip.compress(payload) + _gzip.compress(b"after")
        got = [m[2] for m in split_members(data)]
        assert got == [payload, b"after"], size


def test_read_header_grammar():
    content = b"WARC/1.0\r\nA-Key: v1\r\nB:    spaced\r\n\r\npayload"
    ps, h = read_header(content, 10)
    assert h == {"a-key": "v1", "b": "spaced"}
    assert content[ps:] == b"payload"


def test_parse_record_response():
    rec = warc_record(http_headers=[("Content-Type", "text/html; charset=utf-8"),
                                    ("Content-Encoding", "identity")])
    row = parse_record(rec, "f.warc.gz", 0, len(rec))
    assert row["warc_type"] == "response"
    assert row["url"] == "https://ex.com/a.html"
    assert row["http_status"] == "200 OK"
    assert row["http_ct"] == "text/html; charset=utf-8"
    assert row["content_enc"] == "identity"
    assert row["spans"][0]["text"] == "<p>hello world</p>"


def test_parse_record_projections():
    rec = warc_record(url="<https://wrapped.example/x>", rtype="Response")
    row = parse_record(rec, "f", 0, 1)
    assert row["url"] == "https://wrapped.example/x"  # <> stripped
    assert row["warc_type"] == "response"             # lower-cased


def test_parse_record_no_http_header():
    rec = warc_record(rtype="resource", http=False)
    row = parse_record(rec, "f", 0, 1)
    assert row["http_status"] is None
    assert row["spans"][0]["text"] == "<p>hello world</p>"


def test_parse_record_non_utf8_payload_becomes_media():
    body = "<p>caf\xe9</p>".encode("latin-1")
    rec = warc_record(body=body,
                      http_headers=[("Content-Type",
                                     "text/html; charset=iso-8859-1")])
    row = parse_record(rec, "f", 0, 1)
    assert row["spans"][0]["kind"] == "media"


def test_garbage_member_skipped():
    data = as_warc_gz(b"not a warc record", warc_record())
    rows = parse_warc_file(data, "f")
    assert len(rows) == 1


@pytest.fixture()
def warc_file(tmp_path):
    body_latin = "<p>caf\xe9 ol\xe9</p>".encode("latin-1")
    chunked = b"5\r\n<p>ch\r\n9\r\nunked</p>\r\n0\r\n"
    records = [
        warc_record(url="https://a.example/1.html",
                    http_headers=[("Content-Type", "text/html; charset=utf-8")],
                    body=b"<html><body><p>the cat and the dog in the house"
                         b"</p></body></html>"),
        warc_record(url="https://a.example/2.html", status="404 Not Found",
                    body=b"<p>gone</p>"),
        warc_record(url="https://a.example/robots.txt",
                    http_headers=[("Content-Type", "text/plain")],
                    body=b"User-agent: *"),
        warc_record(url="https://a.example/3.html", rtype="request",
                    body=b"<p>req</p>"),
        warc_record(url="https://a.example/4.html",
                    http_headers=[("Content-Type",
                                   "text/html; charset=iso-8859-1")],
                    body=body_latin),
        warc_record(url="https://a.example/5.html",
                    http_headers=[("Content-Type", "text/html"),
                                  ("Transfer-Encoding", "chunked")],
                    body=chunked),
    ]
    p = tmp_path / "test.warc.gz"
    p.write_bytes(as_warc_gz(*records))
    return str(p)


def test_warc_to_pipeline_end_to_end(spark, warc_file):
    from warc2text_spark.plans.pipeline import PipelineOptions, run_pipeline
    from warc2text_spark.sources.warcio import warc_to_spans_df
    df = warc_to_spans_df(spark, warc_file)
    assert df.count() == 6
    res = run_pipeline(df, PipelineOptions(classifier="skip",
                                           media_text_mode="extract"))
    got = {r.url: r.plaintext for r in res.main.collect()}
    # 404, request, robots are filtered/routed; three survive
    assert set(got) == {"https://a.example/1.html", "https://a.example/4.html",
                        "https://a.example/5.html"}
    assert got["https://a.example/1.html"] == \
        "the cat and the dog in the house\n"
    assert got["https://a.example/4.html"] == "café olé\n"
    assert got["https://a.example/5.html"] == "chunked\n"
    assert [r.url for r in res.robots.collect()] == \
        ["https://a.example/robots.txt"]


def test_warc_side_output_roundtrip(spark, warc_file, tmp_path):
    """Routed robots records written back as .warc.gz re-parse cleanly."""
    from warc2text_spark.plans.pipeline import PipelineOptions, run_pipeline
    from warc2text_spark.sinks.warc_writer import write_warc_gz
    from warc2text_spark.sources.warcio import parse_warc_file, warc_to_spans_df
    df = warc_to_spans_df(spark, warc_file)
    res = run_pipeline(df, PipelineOptions(classifier="skip",
                                           media_text_mode="extract"))
    out = str(tmp_path / "robots_pass")
    write_warc_gz(res.robots.coalesce(1), out)
    import glob
    files = glob.glob(f"{out}/*.warc.gz")
    assert len(files) == 1
    rows = parse_warc_file(open(files[0], "rb").read(), "roundtrip")
    assert len(rows) == 1
    assert rows[0]["url"] == "https://a.example/robots.txt"
    assert rows[0]["spans"][0]["text"] == "User-agent: *"


def test_keep_payload_html_field(spark, warc_file, tmp_path):
    import base64
    from warc2text_spark.cli import main
    out = str(tmp_path / "out")
    rc = main(["-i", warc_file, "-o", out, "--format", "warc",
               "-f", "url,text,html", "--classifier", "skip",
               "--compress", "none"], spark=spark)
    assert rc == 0
    got = {r.url: r for r in spark.read.parquet(f"{out}/text").collect()}
    r = got["https://a.example/5.html"]
    # html = b64 of the transport-DECODED payload (dechunked)
    assert base64.b64decode(r.html) == b"<p>chunked</p>"
    assert r.text == "chunked\n"
