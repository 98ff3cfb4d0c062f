"""Command-line entry point with the reference's flag surface.

A warc2text user maps their invocation 1:1 (reference options:
/root/reference/warc2text_main.cc:40-66):

    warc2text -o out -f url,text --classifier cld2 x.warc.gz
 -> python -m warc2text_spark -o out -f url,text --classifier heuristic \
        --input spans_table/

Differences, by design (SURVEY.md §7): input is the interleaved spans table
(Iceberg/parquet) or raw WARC files (``--format warc``); per-language
*files* become a lang-partitioned columnar dataset keyed by doc_id (the
positional-line contract is replaced by explicit keys); ``--compress``
selects the parquet codec.  ``-f html`` emits the base64 transport-decoded
payload (bilangwriter.cc:126-131) in both normal and
``--skip-text-extraction`` modes.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F

OUTPUT_FIELDS = {"url", "text", "mime", "file", "date", "metadata", "html"}


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="warc2text_spark",
        description="PySpark-native warc2text: interleaved spans table -> "
                    "per-language extracted text")
    p.add_argument("--input", "-i", nargs="+", default=[],
                   help="spans table location(s): parquet path or Iceberg table")
    p.add_argument("inputs", nargs="*", default=[],
                   help="positional input(s), like the reference binary "
                        "(warc2text_main.cc:68-69)")
    p.add_argument("--output", "-o", default=".", help="output location")
    p.add_argument("--files", "-f", default="url,text",
                   help="comma list of output fields (url,text,mime,file,date,metadata,html)")
    p.add_argument("--format", default=None,
                   choices=[None, "parquet", "iceberg", "warc"],
                   help="input format (default: sniff table format; 'warc' "
                        "ingests .warc.gz files directly)")
    p.add_argument("--classifier", default="heuristic",
                   choices=["skip", "heuristic", "multilang", "model",
                            "multilang_model", "cld2", "fasttext"],
                   help="'model' is the trained character-trigram "
                        "detector with CLD2-style reliability; "
                        "'cld2'/'fasttext' (the reference's names) map "
                        "to it — no CLD2/fastText wheels in this "
                        "environment; the detector interface is "
                        "pluggable (functions/langid.py)")
    p.add_argument("--fasttext-model", dest="fasttext_model", default="",
                   help="accepted for flag parity (warc2text_main.cc:58); "
                        "no fasttext wheel here, so the heuristic stand-in "
                        "runs and a note is printed")
    p.add_argument("--multilang", action="store_true",
                   help="alias for --classifier multilang")
    p.add_argument("--tag-filters", dest="tag_filters")
    p.add_argument("--invert-tag-filters", action="store_true")
    p.add_argument("--url-filters", dest="url_filters")
    p.add_argument("--pdfpass", help="write routed PDF records here")
    p.add_argument("--robotspass", "--robotstxtpass", dest="robotspass",
                   help="write routed robots.txt records here "
                        "(binary flag --robotspass, warc2text_main.cc:48; "
                        "--robotstxtpass accepted for the README spelling)")
    p.add_argument("--robots-process", action="store_true")
    p.add_argument("--paragraph-identification", action="store_true")
    p.add_argument("--skip-text-extraction", action="store_true")
    p.add_argument("--encode-urls", action="store_true")
    p.add_argument("--jsonl", action="store_true")
    p.add_argument("--stdout", action="store_true",
                   help="print JSONL to stdout (requires --jsonl)")
    p.add_argument("--encoding-errors", dest="encoding_errors",
                   default="replace", choices=["ignore", "replace", "discard"],
                   help="invalid-UTF-8 policy for utf8/ascii-declared "
                        "payloads (reference warc2text_main.cc:61): ignore "
                        "drops bad bytes, replace substitutes U+FFFD, "
                        "discard drops the record (error 316)")
    p.add_argument("--pdf-text", dest="pdf_text", action="store_true",
                   help="extract text from application/pdf records "
                        "(dependency-free ISO-32000 text-showing subset) "
                        "instead of routing them to the pdf side WARC "
                        "(beyond-reference; default keeps the reference's "
                        "K3 side-route behavior)")
    p.add_argument("--case-insensitive-headers", action="store_true",
                   help="lower-case warc_type/warc_ct before filtering, for "
                        "spans tables that don't store the lower-cased "
                        "header projection (disables scan pushdown of F4/F6)")
    p.add_argument("--compat-output", action="store_true",
                   help="write the reference's per-lang positional column "
                        "files (<out>/<lang>/{text,url,...}.gz) instead of "
                        "the lang-partitioned parquet dataset")
    p.add_argument("--compat-parts", type=int, default=1,
                   help="with --compat-output: shard each language into N "
                        "positional file groups (<lang>/text.<part>.gz) so "
                        "no single task owns a dominant language")
    p.add_argument("--compress", default="gzip",
                   choices=["gzip", "zstd", "snappy", "none"])
    p.add_argument("--compress-level", type=int, default=3,
                   help="zstd level for parquet output (gzip level is fixed "
                        "by parquet-mr; reference default 3)")
    p.add_argument("--buffer-size", type=int, default=32,
                   help="writer buffer in KB -> parquet page size")
    p.add_argument("--silent", "-s", action="store_true",
                   help="only log errors")
    p.add_argument("--strict-exit", action="store_true",
                   help="exit 2 if any input failed to open "
                        "(warc2text_main.cc:245-246)")
    p.add_argument("--max-record-size", type=int, default=20,
                   help="max record size in MB (default 20)")
    p.add_argument("--num-partitions", type=int, default=None,
                   help="salted repartition width (skew defense)")
    p.add_argument("--master", default=None)
    p.add_argument("--verbose", "-v", action="store_true")
    return p


def main(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    if args.stdout and not args.jsonl:
        print("--stdout requires --jsonl", file=sys.stderr)
        return 1
    fields = [f for f in args.files.split(",") if f]
    unknown = set(fields) - OUTPUT_FIELDS
    if unknown:
        print(f"unknown output files: {sorted(unknown)}", file=sys.stderr)
        return 1
    if (args.compat_output and not args.jsonl
            and args.compress not in ("gzip", "zstd")):
        # validated before any Spark work or side outputs, like the other
        # argument errors (bilangwriter.cc:47-51 supports gzip/zstd only).
        # --jsonl takes the jsonl branch and ignores --compat-output, so
        # that (contradictory but previously accepted) combination keeps
        # working.
        print(f"--compat-output supports gzip or zstd, not {args.compress}",
              file=sys.stderr)
        return 1

    from .plans.pipeline import (PipelineOptions, counters, demux_observed,
                                 jsonl_projection, metadata_json_col,
                                 partition_safe_lang)
    from .plans.pipeline import run_pipeline
    from .session import get_spark
    from .sources.table_io import read_input, write_output

    own_spark = spark is None
    if own_spark:
        spark = get_spark("warc2text-spark-cli", master=args.master)
    if args.silent:
        spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.parquet.compression.codec",
                   "uncompressed" if args.compress == "none" else args.compress)
    # parquet-mr knobs are Hadoop confs (runtime Spark confs are locked):
    # zstd level, and page size — the closest analogue of the reference's
    # 32 KB writer buffer (bilangwriter.cc:53)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("parquet.compression.codec.zstd.level", str(args.compress_level))
    hconf.set("parquet.page.size", str(args.buffer_size * 1024))

    classifier = "multilang" if args.multilang else args.classifier
    if classifier in ("cld2", "fasttext"):
        if not args.silent:
            print(f"note: no {classifier} model in this environment; "
                  "using the trained character-trigram detector",
                  file=sys.stderr)
        classifier = "model"
    if args.fasttext_model and not args.silent:
        print("note: --fasttext-model accepted but unused "
              "(no fasttext wheel; the trigram model runs instead)",
              file=sys.stderr)
    tag_filters_text = open(args.tag_filters).read() if args.tag_filters else ""
    user_url_filter = None
    if args.url_filters:
        from .functions.urlutil import combine_url_filters
        rx = combine_url_filters(open(args.url_filters).read().splitlines())
        user_url_filter = rx.pattern if rx else None

    locations = list(args.input) + list(args.inputs)
    if not locations:
        print("no input given (use --input or positional args)",
              file=sys.stderr)
        return 1
    media_text_mode = "passthrough"
    input_error = False
    dfs = []
    max_bytes = args.max_record_size * 1024 * 1024
    for loc in locations:
        # per-file isolation like the reference's WARCFileException loop
        # (warc2text_main.cc:222-228): a bad input is reported and skipped
        try:
            if args.format == "warc":
                from .sources.warcio import warc_to_spans_df
                dfs.append(warc_to_spans_df(spark, loc, max_bytes))
            else:
                dfs.append(read_input(spark, loc, args.format))
        except Exception as ex:
            input_error = True
            print(f"failed to open input {loc}: {ex}", file=sys.stderr)
    if args.format == "warc":
        media_text_mode = "extract"  # media spans are raw non-UTF8 payloads
    if not dfs:
        print("no readable inputs", file=sys.stderr)
        return 2 if args.strict_exit else 0
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d)

    opts = PipelineOptions(
        media_text_mode=media_text_mode,
        keep_payload="html" in fields and not args.skip_text_extraction,
        classifier=classifier,
        tag_filters_text=tag_filters_text,
        tag_filters_invert=args.invert_tag_filters,
        skip_extraction=args.skip_text_extraction,
        encode_urls=args.encode_urls,
        robots_process=args.robots_process,
        user_url_filter=user_url_filter,
        num_partitions=args.num_partitions,
        paragraph_identification=args.paragraph_identification,
        max_record_size=args.max_record_size * 1024 * 1024,
        case_insensitive_headers=args.case_insensitive_headers,
        # CLI uses the reference's value name 'discard'; the codec-level
        # handler is Python's 'strict'
        encoding_errors=("strict" if args.encoding_errors == "discard"
                         else args.encoding_errors),
        pdf_text=args.pdf_text,
    )
    res = run_pipeline(df, opts)

    # K3: side outputs as re-gzipped WARC records (warcpreprocessor.cc:268-302)
    from .sinks.warc_writer import write_warc_gz
    if args.pdfpass:
        write_warc_gz(res.pdf, args.pdfpass)
    if args.robotspass:
        write_warc_gz(res.robots, args.robotspass)

    # every sink below is the first action over res.main: a1() reads the
    # A1 counters off that write's own Observations, no extra pass
    rows, a1 = demux_observed(res, args.paragraph_identification)
    if args.jsonl:
        out = jsonl_projection(rows, args.skip_text_extraction)
        if args.stdout:
            for r in out.toLocalIterator():
                print(r.jsonl)
            # toLocalIterator never fills an Observation: count in a pass
            # of its own
            a1 = lambda: counters(res).collect()[0].asDict()  # noqa: E731
        else:
            out.write.mode("overwrite").text(
                f"{args.output}/jsonl",
                compression=None if args.compress == "none" else args.compress)
    elif args.compat_output:
        from .sinks.bilang_writer import write_bilang_files
        if ("html" in fields and args.skip_text_extraction
                and "payload_b64" not in rows.columns):
            # with --skip-text-extraction plaintext IS the transport-decoded
            # payload, so b64(plaintext) is the correct html line (the
            # writer otherwise refuses html without keep_payload).  Strip
            # F.base64's MIME CRLF chunking to keep one line per record.
            rows = rows.withColumn(
                "payload_b64",
                F.regexp_replace(F.base64(F.col("plaintext").cast("binary")),
                                 "[\r\n]", ""))
        write_bilang_files(rows, args.output, tuple(fields) or ("url", "text"),
                           compresslevel=args.compress_level,
                           parts_per_lang=args.compat_parts,
                           compression=args.compress)
    else:
        cols = {"url": F.col("url"),
                "text": F.col("chunk").alias("text"),
                "mime": F.col("http_ct").alias("mime"),
                "file": F.concat_ws(":", "doc_id", F.lit("0"),
                                    F.octet_length("plaintext")).alias("file"),
                "date": F.col("warc_date").alias("date"),
                # ordered-key JSON metadata object, same contract as the
                # compat writer's metadata file (bilangwriter.cc:140-141)
                "metadata": metadata_json_col().alias("metadata"),
                # b64 of the transport-decoded payload (bilangwriter.cc:126-131);
                # with --skip-text-extraction plaintext IS the payload
                # F.base64 is MIME-chunked (CRLF every 76 chars) on this
                # runtime; strip the breaks so each value is one line like
                # the reference's b64 (bilangwriter.cc:126-131)
                "html": (F.col("payload_b64") if "html" in fields
                         and not args.skip_text_extraction
                         else F.regexp_replace(
                             F.base64(F.col("plaintext").cast("binary")),
                             "[\r\n]", "")
                         ).alias("html")}
        selected = [F.col("doc_id"), F.col("lang")] + [cols[f] for f in fields]
        out = partition_safe_lang(rows).select(*selected)
        write_output(out, f"{args.output}/text", partition_by=("lang",),
                     compression=None if args.compress == "none" else args.compress)

    if args.verbose:
        c = a1()
        print(f"total records: {c['totalRecords']}", file=sys.stderr)
        print(f"text records: {c['textRecords']}", file=sys.stderr)
        print(f"lang records: {c['langRecords']}", file=sys.stderr)
        print(f"total bytes: {c['totalBytes']}", file=sys.stderr)
        print(f"text bytes: {c['textBytes']}", file=sys.stderr)
        print(f"lang bytes: {c['langBytes']}", file=sys.stderr)

    if own_spark:
        spark.stop()
    # reference: exit 2 when any input failed to open AND --strict-exit
    # (warc2text_main.cc:245-246); otherwise failures were only warned
    return 2 if (input_error and args.strict_exit) else 0


if __name__ == "__main__":
    sys.exit(main())
