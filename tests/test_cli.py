"""CLI tests: reference-flag surface mapped onto the pipeline."""

import pytest

from tests.fixture_rows import fixture_df
from warc2text_spark.cli import build_parser, main


def test_parser_defaults():
    args = build_parser().parse_args(["-i", "in", "-o", "out"])
    assert args.files == "url,text"
    assert args.classifier == "heuristic"
    assert args.compress == "gzip"
    assert args.max_record_size == 20


def test_bad_flags():
    assert main(["-i", "x", "-o", "y", "--stdout"]) == 1
    assert main(["-i", "x", "-o", "y", "-f", "url,bogus"]) == 1


def test_end_to_end(spark, tmp_path):
    df, expected = fixture_df(spark)
    inp = str(tmp_path / "in")
    df.write.parquet(inp)
    out = str(tmp_path / "out")
    rc = main(["-i", inp, "-o", out, "-f", "url,text,mime,date",
               "--classifier", "skip",
               "--pdfpass", str(tmp_path / "pdf"),
               "--robotspass", str(tmp_path / "robots"),
               "--compress", "none"], spark=spark)
    assert rc == 0
    got = spark.read.parquet(f"{out}/text")
    kept = {k for k, v in expected.items() if v is not None}
    assert {r.doc_id for r in got.collect()} == kept
    assert set(got.columns) == {"doc_id", "lang", "url", "text", "mime", "date"}
    # K3: side outputs are re-gzipped WARC records
    import glob
    from warc2text_spark.sources.warcio import parse_warc_file
    pdf_files = glob.glob(str(tmp_path / "pdf" / "*.warc.gz"))
    rows = [r for f in pdf_files
            for r in parse_warc_file(open(f, "rb").read(), "pdfpass")]
    assert [r["url"] for r in rows] == ["https://a.b/d.pdf"]


def test_jsonl_output(spark, tmp_path):
    df, expected = fixture_df(spark)
    inp = str(tmp_path / "jin")
    df.write.parquet(inp)
    out = str(tmp_path / "jout")
    rc = main(["-i", inp, "-o", out, "--jsonl", "--classifier", "skip",
               "--compress", "none"], spark=spark)
    assert rc == 0
    import json
    lines = [json.loads(r.value) for r in spark.read.text(f"{out}/jsonl").collect()]
    kept = {k for k, v in expected.items() if v is not None}
    assert {o["f"] for o in lines} == kept
    assert all(list(o)[:8] == ["f", "o", "s", "rs", "u", "c", "ts", "de"]
               for o in lines)


def test_compress_level_and_buffer_flags(spark, tmp_path):
    df, _ = fixture_df(spark)
    inp = str(tmp_path / "cin")
    df.write.parquet(inp)
    out = str(tmp_path / "cout")
    rc = main(["-i", inp, "-o", out, "--classifier", "skip",
               "--compress", "zstd", "--compress-level", "5",
               "--buffer-size", "64", "-s"], spark=spark)
    assert rc == 0
    import glob
    assert glob.glob(f"{out}/text/lang=*/**/*.zstd.parquet", recursive=True)


def test_encoding_errors_flag(spark, tmp_path):
    # --encoding-errors discard drops the record whose utf-8-declared
    # payload has invalid bytes (reference error 316); replace keeps it
    import glob

    from tests.test_warcio import as_warc_gz, warc_record

    bad = warc_record(url="https://a.example/bad.html",
                      http_headers=[("Content-Type",
                                     "text/html; charset=utf-8")],
                      body="<p>caf\xe9 ole the and of</p>".encode("latin-1"))
    good = warc_record(url="https://a.example/good.html",
                       http_headers=[("Content-Type",
                                      "text/html; charset=utf-8")],
                       body=b"<p>the cat and the dog</p>")
    src = tmp_path / "in.warc.gz"
    src.write_bytes(as_warc_gz(good, bad))

    def run(policy, out):
        rc = main(["--input", str(src), "--format", "warc",
                   "--output", str(tmp_path / out), "--classifier", "skip",
                   "--encoding-errors", policy, "--silent"], spark=spark)
        assert rc == 0
        files = glob.glob(str(tmp_path / out / "text" / "*" / "*.parquet"))
        return spark.read.parquet(*files) if files else None

    kept = run("replace", "o_replace")
    assert kept.count() == 2
    texts = {r.text for r in kept.collect()}
    assert any("caf�" in t for t in texts)
    kept_d = run("discard", "o_discard")
    assert kept_d.count() == 1


def test_cli_reference_flag_parity(spark, tmp_path):
    # positional inputs, cld2/fasttext classifier names, --fasttext-model,
    # and --strict-exit semantics (warc2text_main.cc:222-228, 245-246)
    from tests.fixture_rows import _doc, _t
    from warc2text_spark.sources.fixtures import INPUT_SCHEMA
    src = str(tmp_path / "in_pos")
    spark.createDataFrame(
        [_doc("a-1", [_t("<p>the cat and the dog of the house</p>")])],
        schema=INPUT_SCHEMA).write.parquet(src)

    # positional input + the reference's classifier name
    out1 = str(tmp_path / "o1")
    rc = main(["--output", out1, "--classifier", "cld2",
               "--fasttext-model", "/no/such/model.bin", "--silent", src],
              spark=spark)
    assert rc == 0
    assert spark.read.parquet(f"{out1}/text").count() == 1

    # a bad input among good ones: warned and skipped; rc 0 without strict
    out2 = str(tmp_path / "o2")
    rc = main(["--input", src, str(tmp_path / "missing"), "--output", out2,
               "--classifier", "skip", "--silent"], spark=spark)
    assert rc == 0
    assert spark.read.parquet(f"{out2}/text").count() == 1

    # ... and rc 2 with --strict-exit
    out3 = str(tmp_path / "o3")
    rc = main(["--input", src, str(tmp_path / "missing"), "--output", out3,
               "--classifier", "skip", "--strict-exit", "--silent"],
              spark=spark)
    assert rc == 2

    # nothing readable at all
    rc = main(["--input", str(tmp_path / "missing"), "--output",
               str(tmp_path / "o4"), "--strict-exit", "--silent"],
              spark=spark)
    assert rc == 2


def test_cli_warc_ingest_to_zstd_compat(spark, tmp_path):
    """One CLI invocation crossing three surfaces: real .warc.gz file
    ingestion (--format warc), the compat directory layout, and zstd
    output (--compress zstd -> the reference's .zst files)."""
    import glob
    import os

    import pytest

    from warc2text_spark.functions.zstd_io import available, decompress
    from warc2text_spark.plans.spansgen import build_spans
    from warc2text_spark.sinks.warc_writer import write_warc_gz
    if not available():
        pytest.skip("libzstd not present")
    warc_dir = str(tmp_path / "warcs")
    write_warc_gz(build_spans(spark, "/root/testdata/sf0.001").limit(40)
                  .repartition(2), warc_dir)
    out = str(tmp_path / "compat")
    rc = main(["--format", "warc", "-i", f"{warc_dir}/*.warc.gz",
               "-o", out, "-f", "url,text", "--compat-output",
               "--compress", "zstd", "--classifier", "heuristic"],
              spark=spark)
    assert rc == 0
    zsts = glob.glob(os.path.join(out, "*", "url.zst"))
    assert zsts, os.listdir(out)
    n_urls = 0
    for z in zsts:
        lines = decompress(open(z, "rb").read()).decode().splitlines()
        n_urls += len(lines)
        assert all(u.startswith("https://") for u in lines)
        # positional contract: text.zst aligns line-for-line
        t = decompress(open(z.replace("url.zst", "text.zst"),
                            "rb").read()).decode().splitlines()
        assert len(t) == len(lines)
    assert n_urls > 0


def _printed(err):
    """The six ``name: value`` lines --verbose writes to stderr."""
    return dict(line.split(": ", 1) for line in err.splitlines()
                if line.endswith(tuple("0123456789")))


def _fresh_as_printed(spark, inp):
    """counters() of a fresh run_pipeline on ``inp``, as --verbose prints
    them."""
    from warc2text_spark.plans.pipeline import (PipelineOptions, counters,
                                                run_pipeline)
    c = counters(run_pipeline(spark.read.parquet(inp),
                              PipelineOptions(classifier="heuristic"))
                 ).collect()[0]
    assert c.totalRecords > 0
    return {"total records": str(c.totalRecords),
            "text records": str(c.textRecords),
            "lang records": str(c.langRecords),
            "total bytes": str(c.totalBytes),
            "text bytes": str(c.textBytes),
            "lang bytes": str(c.langBytes)}


def _verbose_vs_quiet(spark, tmp_path, capsys, *sink):
    """Run the CLI quietly and with --verbose on fixture_df through one
    sink; return (quiet jobs, verbose jobs, the six printed values, the
    same six of a fresh run)."""
    df, _ = fixture_df(spark)
    inp = str(tmp_path / "vin")
    df.write.parquet(inp)
    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(None), default=-1)

    def run(out, *extra):
        before = last_job()
        rc = main(["-i", inp, "-o", str(tmp_path / out),
                   "--classifier", "heuristic", *sink, *extra], spark=spark)
        assert rc == 0
        return last_job() - before

    quiet_jobs = run("quiet")
    capsys.readouterr()
    verbose_jobs = run("verbose", "--verbose")
    printed = _printed(capsys.readouterr().err)
    return quiet_jobs, verbose_jobs, printed, _fresh_as_printed(spark, inp)


def test_verbose_counters_match_a_fresh_run(spark, tmp_path, capsys):
    """--verbose reads the six counters off the parquet write's own
    Observations: they equal counters() of a fresh run_pipeline on the
    same input, and printing them costs no job over a quiet run."""
    quiet_jobs, verbose_jobs, printed, fresh = _verbose_vs_quiet(
        spark, tmp_path, capsys, "--compress", "none")
    assert printed == fresh
    assert verbose_jobs == quiet_jobs


@pytest.mark.parametrize("sink", [("--jsonl", "--compress", "none"),
                                  ("--compat-output", "-f", "url,text")],
                         ids=["jsonl_file", "compat"])
def test_verbose_counters_ride_every_file_sink(spark, tmp_path, capsys, sink):
    """The jsonl-file and compat sinks read the counters off their own
    write too: same six values, zero extra jobs."""
    quiet_jobs, verbose_jobs, printed, fresh = _verbose_vs_quiet(
        spark, tmp_path, capsys, *sink)
    assert printed == fresh
    assert verbose_jobs == quiet_jobs


def test_verbose_counters_after_jsonl_stdout(spark, tmp_path, capsys):
    """toLocalIterator never fills an Observation, so --jsonl --stdout
    --verbose counts in a pass of its own after streaming the rows; it
    prints the same six values and finishes (a thread bounds the run so
    a blocked Observation fails the test instead of stalling the suite)."""
    import threading

    df, _ = fixture_df(spark)
    inp = str(tmp_path / "sin")
    df.write.parquet(inp)
    rc = []
    t = threading.Thread(target=lambda: rc.append(main(
        ["-i", inp, "-o", str(tmp_path / "sout"), "--classifier", "heuristic",
         "--jsonl", "--stdout", "--verbose"], spark=spark)), daemon=True)
    t.start()
    t.join(300)
    assert not t.is_alive(), "--jsonl --stdout --verbose did not finish"
    assert rc == [0]
    cap = capsys.readouterr()
    fresh = _fresh_as_printed(spark, inp)
    assert _printed(cap.err) == fresh
    streamed = [line for line in cap.out.splitlines()
                if '"l":"unk"' not in line]
    assert str(len(streamed)) == fresh["lang records"]
