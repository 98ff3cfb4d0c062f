"""Driver-style parity harness: every queries() entry vs its DuckDB oracle
at sf0.001 — row counts, column names, and exact values (order-insensitive),
mirroring CORRECTNESS_r{N}.json before the real driver runs it."""


import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(
                f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
        except Exception:
            pass
    return con


# the compare rules live with the package so the sf0.01 rehearsal tool
# applies the identical normalization (warc2text_spark/plans/parity.py)
from warc2text_spark.plans.parity import rows_to_multiset as \
    _rows_to_multiset  # noqa: E402


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, ddb):
    df = QUERIES[name](spark, SF_DIR)
    spark_cols = [c.lower() for c in df.columns]
    spark_rows = [tuple(r) for r in df.collect()]

    res = ddb.execute(ORACLES[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    assert len(spark_rows) == len(duck_rows), \
        f"{name}: {len(spark_rows)} spark vs {len(duck_rows)} duckdb rows"
    got = _rows_to_multiset(spark_cols, spark_rows)
    exp = _rows_to_multiset(duck_cols, duck_rows)
    mism = [(g, e) for g, e in zip(got, exp) if g != e][:3]
    assert got == exp, f"{name}: first mismatches: {mism}"


def test_every_query_has_an_oracle():
    # since round 2 the catalog is fully oracle-covered: any queries()
    # entry without an oracle_sql() twin is a regression
    assert sorted(QUERIES) == sorted(ORACLES)


# the driver checks the first 50 keys in this order; a key added, dropped
# or moved changes what the driver compares, so the list is pinned
DRIVER_KEYS = [
    "extract_text", "extract_spans", "extract_skip_text", "extract_zip",
    "extract_legacy", "encode_urls", "filter_stage", "robots_route",
    "counters", "paragraph_id", "lang_histogram", "event_windows",
    "sessionize", "media_metadata", "token_count", "quality_score",
    "simhash", "jaccard_pairs", "repetition_ratio", "gopher_rules",
    "host_stats", "dedup_exact", "minhash_signatures", "minhash_pairs",
    "simhash_pairs", "neardup_lsh", "ann_cosine_topk", "ann_lsh_topk",
    "langid_demux", "langid_labels", "decontam", "surprisal",
    "sample_stratified", "warc_ingest", "compat_layout", "extract_transport",
    "ann_ivf_topk", "dedup_clusters", "host_cap", "curate", "corpus_stats",
    "url_dedup", "winnow", "vocab_topk", "semdedup", "media_pipeline",
    "extract_detect", "clean_text", "substring_dedup", "bitext_candidates",
]


def test_registry_keys_are_the_pinned_fifty_in_order():
    assert len(DRIVER_KEYS) == 50
    assert list(QUERIES) == DRIVER_KEYS
    assert list(ORACLES) == DRIVER_KEYS


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "doc_id" in df.columns
