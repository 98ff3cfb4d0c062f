"""Output checks behind ``ok_share``.  Each check is one (name, passed)
pair; ``ok_share`` is the passed share of all checks of a run.

Expectations never come from the program under test:

* ``crawl_small``: the repo's DuckDB oracle relations for the generator
  (``oracle_sql()['extract_spans' | 'extract_text' | 'counters']``) over the
  generated ``documents`` table;
* ``near_dup``: the planted pair list, and an independent Python
  recomputation of the MinHash band keys and SimHash distance.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import duckdb
import numpy as np

SAMPLE = 400
A1_KEYS = ("totalRecords", "totalBytes", "textRecords", "textBytes",
           "langRecords", "langBytes")


def _con(documents: Path):
    con = duckdb.connect()
    con.execute("set enable_progress_bar = false")
    con.execute(f"create view documents as select * from "
                f"read_parquet('{documents}')")
    return con


def _actual_rows(con, out: Path, key: str, keys: list) -> dict:
    """key -> list of (lang, doc_id, plaintext, spans) rows in the written
    per-language output, restricted to the sampled keys."""
    con.execute("create or replace temp table want(k varchar)")
    con.executemany("insert into want values (?)", [[str(k)] for k in keys])
    rows = con.execute(f"""
        select cast({key} as varchar), lang, doc_id, plaintext, spans
        from read_parquet('{out}/text/*/*.parquet', hive_partitioning = true)
        where cast({key} as varchar) in (select k from want)""").fetchall()
    got: dict = {}
    for k, lang, doc_id, plaintext, spans in rows:
        got.setdefault(k, []).append((lang, doc_id, plaintext, [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in spans]))
    return got


def _sample(ids, seed: int, n: int = SAMPLE) -> list:
    rng = np.random.default_rng([seed, 97])
    ids = list(ids)
    if len(ids) <= n:
        return ids
    return [ids[i] for i in sorted(rng.choice(len(ids), n, replace=False))]


def _counter_checks(got: dict, want: dict) -> list[tuple[str, bool]]:
    return [(f"a1.{k}", int(got.get(k, -1)) == int(want[k])) for k in A1_KEYS]


# ------------------------------------------------------------- crawl_small

def check_crawl_small(inp: Path, out: Path, counters: dict,
                      seed: int) -> list[tuple[str, bool]]:
    from warc2text_spark.plans.benchqueries import oracle_sql
    q = oracle_sql()
    con = _con(inp / "documents.parquet")
    try:
        n = con.execute("select count(*) from documents").fetchone()[0]
        ids = [str(i) for i in _sample(range(n), seed)]
        con.execute("create temp table sample(doc_id varchar)")
        con.executemany("insert into sample values (?)", [[i] for i in ids])
        exp_spans: dict = {}
        for doc_id, kind, text, media_ref, off in con.execute(
                f"select doc_id, kind, text, media_ref, \"offset\" "
                f"from ({q['extract_spans']}) "
                f"where doc_id in (select doc_id from sample) "
                f"order by doc_id, ord").fetchall():
            exp_spans.setdefault(doc_id, []).append(
                (kind, text, media_ref, off))
        exp_text = dict(con.execute(
            f"select doc_id, plaintext from ({q['extract_text']}) "
            f"where doc_id in (select doc_id from sample)").fetchall())
        want = dict(zip(A1_KEYS, con.execute(q["counters"]).fetchone()))
        got = _actual_rows(con, out, "doc_id", ids)
    finally:
        con.close()
    res = []
    for i in ids:
        rows = got.get(i, [])
        if i not in exp_text:
            res.append((f"doc.{i}", not rows))
            continue
        # every generated text carries English function words, so the
        # heuristic classifier labels each kept page 'en'
        ok = (len(rows) == 1 and rows[0][0] == "en"
              and rows[0][2] == exp_text[i] and rows[0][3] == exp_spans[i])
        res.append((f"doc.{i}", ok))
    return res + _counter_checks(counters, want)


# ---------------------------------------------------------------- near_dup

def _shingles(text: str, k: int = 3) -> list[str]:
    w = text.split(" ")
    if len(w) < k:
        return [text]
    return [" ".join(w[i:i + k]) for i in range(len(w) - k + 1)]


def minhash_keys(text: str, bands: int = 4) -> set[tuple[int, str]]:
    """(band, signature) keys: band b is the minimum over shingles of hex
    digits 4b..4b+8 of the shingle's md5."""
    hs = [hashlib.md5(s.encode()).hexdigest() for s in _shingles(text)]
    return {(b, min(h[4 * b:4 * b + 8] for h in hs)) for b in range(bands)}


def simhash_votes(text: str) -> int:
    """The 64 majority votes of the SimHash as an int: vote k is set when
    more tokens have bit k of their md5's first 8 bytes set than not."""
    counts = [0] * 64
    for t in text.split(" "):
        v = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
        for k in range(64):
            counts[k] += 1 if (v >> (63 - k)) & 1 else -1
    return sum(1 << (63 - k) for k in range(64) if counts[k] > 0)


def check_near_dup(inp: Path, out: Path, seed: int,
                   max_hamming: int = 3) -> tuple[list, dict]:
    import pyarrow.parquet as pq
    with open(inp / "planted.json") as f:
        planted = {frozenset((str(a), str(b))) for a, b in json.load(f)}
    docs = pq.read_table(inp / "docs")
    text = dict(zip((str(i) for i in docs.column("doc_id").to_pylist()),
                    docs.column("text").to_pylist()))
    mh = pq.read_table(out / "minhash").to_pylist()
    sh = pq.read_table(out / "simhash").to_pylist()
    mh_set = {frozenset((r["a_id"], r["b_id"])) for r in mh}
    sh_set = {frozenset((r["a_id"], r["b_id"])) for r in sh}
    # SimHash sees a token multiset, which the planted swap keeps: every
    # planted pair has distance 0 and must be found.  MinHash loses a
    # planted pair only when all 4 band minima fall on the 2 changed
    # shingles of either side (~1e-5 per pair), so it must find >= 99%.
    res = [(f"simhash.planted.{sorted(p)}", p in sh_set) for p in planted]
    mh_recall = sum(p in mh_set for p in planted) / len(planted)
    res.append(("minhash.planted_recall>=0.99", mh_recall >= 0.99))
    for r in _sample(sh, seed, 100):
        d = bin(simhash_votes(text[r["a_id"]])
                ^ simhash_votes(text[r["b_id"]])).count("1")
        res.append((f"simhash.pair.{r['a_id']}.{r['b_id']}",
                    d == r["hamming"] <= max_hamming))
    for r in _sample(mh, seed, 100):
        shared = minhash_keys(text[r["a_id"]]) & minhash_keys(text[r["b_id"]])
        res.append((f"minhash.pair.{r['a_id']}.{r['b_id']}", bool(shared)))
    return res, {"planted_recall": mh_recall,
                 "pairs_out": len(mh) + len(sh)}
