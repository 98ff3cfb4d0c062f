"""Native Column predicates for the pre-extraction filter chain (F1-F9).

These are the cheap header-level filters the reference runs before parsing
(/root/reference/src/warcpreprocessor.cc:131-170).  They are deliberately
plain Catalyst expressions — never UDFs — so the optimizer can reorder them
and push them into the parquet/Iceberg scan (predicate pushdown + column
pruning).  The expensive parse/extract/langid work only sees survivors.

Routing (robots F3, pdf F7) splits the dataflow instead of copying it:
``split_stream`` returns (main, robots, pdf) DataFrames built from the same
scan with complementary predicates, all read off one ``PipelineOptions``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.record import TEXT_CONTENT_TYPES
from ..functions.urlutil import REMOVE_EXTENSIONS
from .extract import PipelineOptions

MAX_PAYLOAD_SIZE = 5242880          # warcpreprocessor.cc:162


def payload_bytes(spans: Column = None) -> Column:
    """Approximate decoded payload size: text bytes + 3/4 of base64 bytes.

    Stand-in for the reference's post-transport payload size (the exact
    size is only known inside the kernel; fixtures avoid the boundary).
    """
    spans = F.col("spans") if spans is None else spans
    return F.aggregate(
        spans,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.octet_length(F.coalesce(s["text"], F.lit("")))
        + (F.octet_length(F.coalesce(s["media_ref"], F.lit(""))) * 3 / 4).cast("long"),
    )


def clean_http_ct(http_ct: Column = None) -> Column:
    """MIME part of the Content-Type header (record.cc:192-208)."""
    c = F.coalesce(http_ct if http_ct is not None else F.col("http_ct"), F.lit(""))
    return F.lower(F.trim(F.element_at(F.split(c, ";"), 1)))


def is_text_format(clean_ct: Column) -> Column:
    return clean_ct.isin(*sorted(TEXT_CONTENT_TYPES))


def is_robots_txt(url: Column = None) -> Column:
    """F3 (warcpreprocessor.cc:16-47), exact find-based logic in SQL:
    host starts after the first '://' (anywhere), else after a leading
    '//', else at 0; the path from there must be exactly '/robots.txt'."""
    u = F.coalesce(url if url is not None else F.col("url"), F.lit(""))
    proto = F.locate("://", u)  # 1-based; 0 = absent
    host_start = (
        F.when(proto > 0, proto + 3)
        .when(u.startswith("//"), F.lit(3))
        .otherwise(F.lit(1))
    )
    path_start = F.call_function("locate", F.lit("/"), u, host_start)  # 1-based
    # Wrinkle: F.locate's pos is the start index; when host_start points at
    # a '/', it finds it — matching url.find("/", host_offset) in C++.
    tail = F.substring(u, path_start, 2**31 - 1)
    return (path_start > 0) & (tail == "/robots.txt")


def warc_type_ok(warc_type: Column = None,
                 case_insensitive: bool = False) -> Column:
    """F4 (warcpreprocessor.cc:145-146).

    Bare-attribute ``isin`` on purpose: the spans-table contract stores the
    *post-parse* header projection, which is lower-cased at ingestion
    (record.cc:64-66 lower-cases warc-type at parse; sources/warcio.py and
    plans/spansgen.py both conform), and a bare attribute is what parquet
    predicate pushdown can consume (``In`` reaches PushedFilters and skips
    whole row groups of request/metadata records at scale; wrapping the
    column in lower()/coalesce() pins the filter above the scan).  NULL
    isin(...) evaluates to NULL -> dropped, same as the old coalesce('').

    For tables that do NOT honor the lower-cased contract, pass
    ``case_insensitive=True`` (``PipelineOptions.case_insensitive_headers``
    / CLI ``--case-insensitive-headers``) — correctness over pushdown.
    """
    t = warc_type if warc_type is not None else F.col("warc_type")
    if case_insensitive:
        t = F.lower(F.coalesce(t, F.lit("")))
    return t.isin("response", "resource")


def http_status_ok(http_status: Column = None) -> Column:
    """F5 (warcpreprocessor.cc:82,148-150): absent status passes; otherwise
    full-match ^20[036] ?.*$ ."""
    s = http_status if http_status is not None else F.col("http_status")
    return s.isNull() | (s == "") | s.rlike("^20[036] ?.*$")


def warc_ct_ok(warc_ct: Column = None,
               case_insensitive: bool = False) -> Column:
    """F6 (warcpreprocessor.cc:152-153).

    Bare-attribute ``contains`` for pushdown (StringContains reaches the
    parquet scan under spark.sql.parquet.pushdown.string.predicate); the
    table stores the lower-cased projection (record.cc:70), see
    warc_type_ok for the contract and the ``case_insensitive`` escape
    hatch.  NULL contains -> NULL -> dropped, like coalesce('').
    """
    c = warc_ct if warc_ct is not None else F.col("warc_ct")
    if case_insensitive:
        c = F.lower(F.coalesce(c, F.lit("")))
    return c.contains("application/http")


def is_pdf(url: Column = None, clean_ct: Column = None) -> Column:
    """F7 (warcpreprocessor.cc:49-64)."""
    u = F.coalesce(url if url is not None else F.col("url"), F.lit(""))
    c = clean_ct if clean_ct is not None else clean_http_ct()
    return (~is_text_format(c)) & (u.endswith(".pdf") | (c == "application/pdf"))


def url_ok(user_filter_regex: str | None = None, url: Column = None) -> Column:
    """F9 (warcpreprocessor.cc:98-109): extension denylist + user regex."""
    u = F.coalesce(url if url is not None else F.col("url"), F.lit(""))
    ext_alt = "|".join(e.replace(".", r"\.") for e in REMOVE_EXTENSIONS)
    ok = ~u.rlike(f"(?:{ext_alt})$")
    if user_filter_regex:
        ok = ok & ~u.rlike(user_filter_regex)
    return ok


def split_stream(df: DataFrame, opts: PipelineOptions | None = None
                 ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Apply F1-F9 in reference order under ``opts``; returns (main,
    robots, pdf).

    robots/pdf are side-routed records (written out raw by the caller,
    K3 semantics); main is the stream that continues into extraction.
    ``opts.pdf_text`` (beyond-reference) keeps PDF records IN the main
    stream for text extraction (functions/pdftext.py) instead of the
    side route — the pdf frame comes back empty.

    Each route states its own terms, so the executed main-route Filter
    holds the spans aggregate (the payload byte count) only in F1/F2/F8's
    one lower and one upper bound: ``max_record_size`` (F1) and
    ``MAX_PAYLOAD_SIZE`` (F8) fold into one constant.  Negating a route
    predicate that holds the bounds instead would make boolean
    simplification copy them into the main Filter.  The robots and PDF
    tests never yield NULL, so ``~robot`` and ``~pdf`` are exact
    complements.
    """
    opts = opts or PipelineOptions()
    pb = payload_bytes()
    ci = opts.case_insensitive_headers
    # F1 (warcreader.cc:56-60) and F2 (warcpreprocessor.cc:136-137)
    alive = (pb <= F.lit(opts.max_record_size)) & (pb > 0)
    robot = is_robots_txt() & F.lit(not opts.robots_process)
    typed = (~robot & warc_type_ok(case_insensitive=ci) & http_status_ok()
             & warc_ct_ok(case_insensitive=ci))
    pdf = is_pdf() & F.lit(not opts.pdf_text)
    # F1, F2 and F8 (warcpreprocessor.cc:162-163)
    cap = (pb <= F.lit(min(opts.max_record_size, MAX_PAYLOAD_SIZE))) & (pb > 0)
    main = df.filter(typed & ~pdf & cap & url_ok(opts.user_url_filter))
    return main, df.filter(alive & robot), df.filter(alive & typed & pdf)
