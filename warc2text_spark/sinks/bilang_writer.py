"""K1 compatibility sink: the reference's per-language positional column
files — ``<out>/<lang>/{text,html,url,mime,file,date}.gz`` where line i of
every file in a directory describes record i (bilangwriter.cc:93-154).

The keyed lang-partitioned parquet dataset (plans/pipeline.write_outputs)
is the 100 TB path; this writer exists so a drop-in consumer of warc2text's
directory layout can point at our output unchanged.  Layout contract per
the reference:

* one directory per language, files created lazily per lang
  (bilangwriter.cc:171-181);
* ``text``/``html`` lines are base64-encoded (one record per line,
  bilangwriter.cc:126-137); url/mime/file/date are plain lines;
* ``file`` is the provenance triple ``filename:offset:size``
  (bilangwriter.cc:121-125) — here ``doc_id:0:<text bytes>``;
* ``metadata`` is the one-line ordered-key JSON object per record —
  ``toJSON(record, chunk, metadata_only=true)`` with keys
  ``f,o,s,rs,u,c,ts,de`` in insertion order (``nlohmann::ordered_json``,
  bilangwriter.cc:65-91,140-141);
* gzip, level 3 (warc2text_main.cc:60-62 default), or zstd with the
  reference's ``.zst`` suffix (bilangwriter.cc:47-51,101) —
  ``compression="zstd"`` streams through a ctypes binding over the
  system libzstd (functions/zstd_io.py; no Python wheel needed), the
  same C library the reference links.

Execution model: rows are hash-partitioned by (lang, part) where ``part``
is a secondary bucket key (xxhash64(doc_id) mod parts_per_lang), then
sorted within the partition — one pass per row appends one line to every
enabled file of its (lang, part) group, which *is* the positional
alignment (the same loop shape as BilangWriter::write).  With the default
``parts_per_lang=1`` the layout is byte-compatible with the reference
(``<lang>/text.gz``); with N > 1 a dominant language (English is ~half a
crawl) fans out to N independent gzip streams named with a zero-padded
four-digit part id — ``<lang>/text.0000.gz`` … ``<lang>/text.0003.gz``
(glob ``<lang>/text.*.gz``),
each internally aligned — the skew ceiling of one-task-per-language is
gone and the consumer contract holds per part.  Like the reference
binary, each task writes to a filesystem path visible where it runs; on a
cluster that means a shared mount (the keyed parquet dataset is the
distributed-native alternative).  Row order inside a part is
deterministic (sorted by doc_id), unlike the reference's input order —
consumers of this layout index lines positionally, not by order semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FIELD_NAMES = ("text", "html", "url", "mime", "file", "date", "metadata")


def write_bilang_files(lang_rows: DataFrame, out_dir: str,
                       fields: tuple[str, ...] = ("url", "text"),
                       compresslevel: int = 3,
                       parts_per_lang: int = 1,
                       compression: str = "gzip") -> None:
    """Write (record x lang) rows in the reference's directory layout.

    ``lang_rows`` is the demux_by_lang frame (doc_id, lang, chunk, url,
    http_ct, warc_date, plaintext[, payload_b64] ...).  ``parts_per_lang``
    > 1 shards each language into that many positional file groups
    (zero-padded ``<lang>/{text,url,...}.0000.gz`` …; glob ``text.*.gz``)
    so no single task owns a whole language.  ``compression`` is "gzip"
    (default, .gz) or "zstd" (.zst, bilangwriter.cc:47-51,101 — streamed
    through the system libzstd, functions/zstd_io.py).
    """
    unknown = set(fields) - set(FIELD_NAMES)
    if unknown:
        raise ValueError(f"unknown bilang fields: {sorted(unknown)}")
    if parts_per_lang < 1:
        raise ValueError("parts_per_lang must be >= 1")
    if compression not in ("gzip", "zstd"):
        raise ValueError(f"unsupported compat compression: {compression}")
    if compression == "zstd":
        from ..functions.zstd_io import available
        if not available():  # fail on the driver, not inside tasks
            raise RuntimeError(
                "compression='zstd' requires libzstd on every executor "
                "host (ctypes binding, functions/zstd_io.py)")
    has_payload = "payload_b64" in lang_rows.columns
    if "html" in fields and not has_payload:
        # the reference's html file is the original transport-decoded
        # payload (bilangwriter.cc:126-131); silently substituting
        # base64(plaintext) would hand a consumer the wrong bytes.  The
        # CLI sets keep_payload for '-f html'; a library caller must too.
        raise ValueError(
            "'html' field requested but the frame has no payload_b64 "
            "column — run the pipeline with keep_payload=True "
            "(CLI: '-f html' sets it automatically)")
    from ..operators.filters import clean_http_ct
    from ..plans.pipeline import metadata_json_col
    rs = F.octet_length(F.coalesce(F.col("plaintext"), F.lit("")))
    rows = lang_rows.select(
        "lang", "doc_id",
        F.pmod(F.xxhash64(F.col("doc_id").cast("string")),
               F.lit(parts_per_lang)).cast("int").alias("part"),
        F.coalesce(F.col("chunk"), F.lit("")).alias("chunk"),
        F.coalesce(F.col("url"), F.lit("")).alias("url"),
        clean_http_ct().alias("mime"),
        F.coalesce(F.col("warc_date"), F.lit("")).alias("date"),
        # toJSON(record, chunk, metadata_only=true) — ordered keys
        # f,o,s,rs,u,c,ts,de (bilangwriter.cc:65-91,140-141); provenance
        # maps as in jsonl_projection (f=doc_id, o=0, s=rs=payload bytes)
        metadata_json_col().alias("metadata"),
        rs.cast("string").alias("size"),
        # payload_b64 comes from Python b64encode (single-line) — F.base64
        # is MIME-chunked (CRLF every 76 chars) on this runtime and would
        # break the one-line-per-record layout.
        (F.coalesce(F.col("payload_b64"), F.lit("")) if has_payload
         else F.lit(None).cast("string")).alias("html_b64"),
        F.coalesce(F.col("plaintext"), F.lit("")).alias("plaintext"),
    )

    # overwrite semantics, like the parquet/jsonl sinks: a rerun must not
    # leave stale per-language directories from a previous run
    import shutil
    shutil.rmtree(out_dir, ignore_errors=True)

    field_list = list(fields)
    single_part = parts_per_lang == 1

    use_zstd = compression == "zstd"

    def write_partition(batches):
        import base64
        import gzip
        import os
        if use_zstd:
            from warc2text_spark.functions.zstd_io import ZstdWriter

        def opener(path):
            if use_zstd:
                return ZstdWriter(path, level=compresslevel)
            return gzip.open(path, "wb", compresslevel=compresslevel)

        ext = ".zst" if use_zstd else ".gz"  # bilangwriter.cc:99-102
        writers: dict[tuple, dict] = {}
        try:
            for row in (r for b in batches for r in b.to_pylist()):
                lang = row["lang"] or "unlabeled"
                key = (lang, row["part"])
                w = writers.get(key)
                if w is None:
                    d = os.path.join(out_dir, lang)
                    os.makedirs(d, exist_ok=True)
                    suffix = ext if single_part else f".{row['part']:04d}{ext}"
                    w = {f: opener(os.path.join(d, f + suffix))
                         for f in field_list}
                    writers[key] = w
                for f in field_list:
                    if f == "text":
                        line = base64.b64encode(row["chunk"].encode("utf-8"))
                    elif f == "html":
                        line = row["html_b64"].encode("ascii")
                    elif f == "file":
                        line = f"{row['doc_id']}:0:{row['size']}".encode("utf-8")
                    else:  # url | mime | date | metadata (ordered JSON)
                        line = row[f].encode("utf-8")
                    w[f].write(line + b"\n")
        finally:
            for w in writers.values():
                for fh in w.values():
                    fh.close()
        yield from ()  # the files are the output; no rows come back

    # each (lang, part) group in exactly one task (writers keyed by group
    # handle hash co-residency); sortWithinPartitions makes line order
    # deterministic within a group.  The write runs as a Dataset action
    # (not an RDD foreachPartition) so Observations on lang_rows are filled
    # by it (plans/pipeline.demux_observed).
    rows.repartition("lang", "part") \
        .sortWithinPartitions("lang", "part", "doc_id") \
        .mapInArrow(write_partition, "n long").collect()
