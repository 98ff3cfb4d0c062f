"""K1 compatibility sink: the reference's per-language positional column
files — ``<out>/<lang>/{text,html,url,mime,file,date}.gz`` where line i of
every file in a directory describes record i (bilangwriter.cc:93-154).

The keyed lang-partitioned parquet dataset (plans/pipeline.write_outputs)
is the 100 TB path; this writer exists so a drop-in consumer of warc2text's
directory layout can point at our output unchanged.  Layout contract per
the reference:

* one directory per language, files created lazily per lang
  (bilangwriter.cc:171-181);
* each field's value is ``plans.pipeline.output_columns``, the same
  value the parquet sink writes; this writer only encodes it — ``text``
  lines are base64-encoded (one record per line, bilangwriter.cc:126-137;
  ``html`` already is base64), the other fields are plain lines;
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


def write_bilang_files(lang_rows: DataFrame, out_dir: str,
                       fields: tuple[str, ...] = ("url", "text"),
                       compresslevel: int = 3,
                       parts_per_lang: int = 1,
                       compression: str = "gzip") -> None:
    """Write (record x lang) rows in the reference's directory layout.

    ``lang_rows`` is the demux_by_lang frame; each field's value is
    ``plans.pipeline.output_columns`` (so ``html`` needs ``payload_b64``).
    ``parts_per_lang`` > 1 shards each language into that many positional
    file groups (zero-padded ``<lang>/{text,url,...}.0000.gz`` …; glob
    ``text.*.gz``) so no single task owns a whole language.  ``compression`` is "gzip"
    (default, .gz) or "zstd" (.zst, bilangwriter.cc:47-51,101 — streamed
    through the system libzstd, functions/zstd_io.py).
    """
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
    from ..plans.pipeline import output_columns
    rows = lang_rows.select(
        "lang", "doc_id",
        F.pmod(F.xxhash64(F.col("doc_id").cast("string")),
               F.lit(parts_per_lang)).cast("int").alias("part"),
        *output_columns(lang_rows, fields))

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
                    line = row[f].encode("utf-8")
                    if f == "text":  # bilangwriter.cc:126-137
                        line = base64.b64encode(line)
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
