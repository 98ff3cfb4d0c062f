"""Seeded input generators for the benchmark workloads, and the fixed
big-page sample of the ``functions`` pass.

Every input is a pure function of (workload, size, seed).  Inputs are
written under a cache directory keyed by those three values, together with
a manifest holding the SHA-256 of every file; a cached set is reused only
when every checksum still matches.  The program under test receives only
the generated files (parquet tables or ``.warc.gz`` files).

* ``crawl_small``: a ``documents`` table of ~300 B English-marked texts and
  the interleaved spans table built from it with the 10-variant
  ``plans/spansgen.build_spans`` mix.  The spans table is produced by DuckDB
  from the repo's own payload fragments (``plans/benchqueries.PAY_*``), so no
  Spark session is needed before set-up is timed; ``selftest.py`` checks it
  row for row against ``build_spans``.
* ``near_dup``: mutually dissimilar texts over a 60k-word vocabulary plus
  planted near-duplicates (the base text with its first two tokens
  swapped) at known positions.
* ``big_pages``: ~16 KB pages, legacy-charset ones in the shapes of
  ``build_cyrillic_spans`` / ``build_sjis_spans`` (bytes in windows-1251,
  koi8-r, euc-kr, Shift_JIS, ... declared wrong or not at all) among them;
  the same for every seed.
"""

from __future__ import annotations

import base64
import gzip
import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEEP_CACHED = 12  # input sets (seeds) kept per workload
# English function words that no other stopword table of the heuristic
# classifier carries; all but "the"/"and" survive every variant's letter
# rewrite (a -> &amp;, e -> &eacute;, o -> 0)
EN_MARKERS = ("with", "this", "his", "it", "the", "and")
# every crawl text opens with these four: >= 4 English hits against at most
# one foreign hit (the page's 'tag <lang>' line), so the heuristic
# classifier's label is 'en' by construction
EN_PREFIX = "with this his it "
LANGS = ("en", "de", "fr", "es", "zh")
_SALT = {"crawl_small": 11, "near_dup": 37}


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), _SALT[workload]])


def _vocab(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """n distinct lowercase pseudo-words that are nobody's stopword."""
    from warc2text_spark.functions.langid import _STOPWORDS
    banned = set().union(*_STOPWORDS.values())
    letters = np.array(list("bcdfghjklmnpqrstvwxyzaeiou"))
    words: dict[str, None] = {}
    while len(words) < n:
        lens = rng.integers(lo, hi + 1, size=n)
        idx = rng.integers(0, len(letters), size=(n, hi))
        for k, row in zip(lens, idx):
            w = "".join(letters[row[:k]])
            if w not in banned:
                words[w] = None
            if len(words) == n:
                break
    return np.array(list(words), dtype=object)


def _texts(rng, vocab, n_docs, lo, hi, markers=(), marker_share=0.0):
    """n_docs space-joined texts of lo..hi tokens each."""
    lens = rng.integers(lo, hi + 1, size=n_docs)
    toks = vocab[rng.integers(0, len(vocab), size=int(lens.sum()))]
    if markers:
        m = rng.random(len(toks)) < marker_share
        toks[m] = np.array(markers, dtype=object)[
            rng.integers(0, len(markers), size=int(m.sum()))]
    ends = np.cumsum(lens)
    return [" ".join(toks[e - k:e]) for k, e in zip(lens, ends)]


def _documents(rng, texts) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS, dtype=object)[
            rng.integers(0, len(LANGS), size=n)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def spans_sql(docs_path: str) -> str:
    """DuckDB twin of ``plans/spansgen.build_spans`` (replicate=1,
    text_factor=1): the same URL/header/variant mix, with payloads from the
    oracle's own payload fragments."""
    from warc2text_spark.plans.benchqueries import (PAY_ENT, PAY_PLAIN,
                                                    PAY_SCRIPT, PAY_STD)

    def tspan(expr: str, off: int = 0) -> str:
        return (f"{{'kind': 'text', 'text': {expr}, 'media_ref': '', "
                f"'offset': {off}::INTEGER}}")
    v3 = ("[" + tspan("'<h1>' || source || '</h1>'", 0)
          + ", {'kind': 'media', 'text': '', "
            "'media_ref': to_base64(encode('IMG' || doc_id)), "
            "'offset': 1::INTEGER}, "
          + tspan("'<p>' || replace(text, 'o', '0') || '</p>'", 2) + "]")
    return f"""
        select cast(doc_id as varchar) as doc_id,
          case when doc_id % 10 = 9 then 'https://s' || (doc_id % 20) || '.example/robots.txt'
               when doc_id % 10 = 8 then 'https://s' || (doc_id % 20) || '.example/img' || doc_id || '.png'
               when doc_id % 10 = 0 then 'https://s' || (doc_id % 20) || '.example/page' || doc_id || '.html?q=a b'
               else 'https://s' || (doc_id % 20) || '.example/page' || doc_id || '.html' end as url,
          case when doc_id % 10 = 6 then 'request' else 'response' end as warc_type,
          'application/http; msgtype=response' as warc_ct,
          case when doc_id % 10 = 7 then '404 Not Found'
               when doc_id % 10 = 1 then null
               else '200 OK' end as http_status,
          case when doc_id % 10 = 5 then 'text/plain'
               when doc_id % 10 = 4 then 'text/html'
               else 'text/html; charset=utf-8' end as http_ct,
          '' as content_enc, '' as transfer_enc,
          '2024-01-01T00:00:00Z' as warc_date,
          case doc_id % 10
            when 3 then {v3}
            when 2 then [{tspan(PAY_ENT)}]
            when 4 then [{tspan(PAY_SCRIPT)}]
            when 5 then [{tspan(PAY_PLAIN)}]
            else [{tspan(PAY_STD)}] end as spans
        from read_parquet('{docs_path}')
        order by doc_id"""


def _spans_table(docs_path: str) -> pa.Table:
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("set enable_progress_bar = false")
        return con.sql(spans_sql(docs_path)).arrow()
    finally:
        con.close()


def _payload_bytes(spans: pa.ChunkedArray) -> int:
    """Input payload bytes: text span bytes plus decoded media bytes (3/4 of
    the base64 length, as the pipeline's F1 size filter counts them)."""
    import pyarrow.compute as pc
    flat = pc.list_flatten(spans)
    text = pc.sum(pc.binary_length(pc.struct_field(flat, "text"))).as_py()
    media = pc.sum(pc.divide(pc.multiply(pc.binary_length(
        pc.struct_field(flat, "media_ref")), 3), 4)).as_py()
    return (text or 0) + (media or 0)


def _write_parts(table: pa.Table, out: Path, name: str, n_files: int) -> None:
    """The table as n_files parquet files of consecutive rows."""
    d = out / name
    d.mkdir(parents=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), d / f"part-{i:05d}.parquet")


# ---------------------------------------------------------------- crawl_small

def gen_crawl_small(seed: int, n_docs: int, out: Path, n_files: int) -> dict:
    rng = _rng("crawl_small", seed)
    vocab = _vocab(rng, 4000, 4, 8)
    texts = [EN_PREFIX + t for t in
             _texts(rng, vocab, n_docs, 26, 56, EN_MARKERS, 0.3)]
    pq.write_table(_documents(rng, texts), out / "documents.parquet")
    spans = _spans_table(str(out / "documents.parquet"))
    _write_parts(spans, out, "spans", n_files)
    return {"docs": n_docs,
            "payload_bytes": _payload_bytes(spans.column("spans"))}


# ------------------------------------------------------------------ big pages

def legacy_shapes() -> list[tuple[str, str, bool]]:
    """(sentence, codec, declares iso-8859-1) per legacy page variant: the
    ten ``build_cyrillic_spans`` variants plus ``build_sjis_spans``."""
    from warc2text_spark.plans import spansgen as sg
    return [
        (sg.CYR_RU_SENTENCE, "windows-1251", True),
        (sg.CYR_RU_SENTENCE, "koi8_r", False),
        (sg.CYR_KO_SENTENCE, "euc_kr", True),
        (sg.CYR_RU_SENTENCE, "iso8859-5", False),
        (sg.CYR_RU_SENTENCE, "cp866", True),
        (sg.SB_EL_SENTENCE, "iso8859-7", True),
        (sg.SB_HE_SENTENCE, "windows-1255", False),
        (sg.SB_AR_SENTENCE, "windows-1256", True),
        (sg.SB_TH_SENTENCE, "tis-620", False),
        (sg.SB_CS_SENTENCE, "cp1250", False),
        (sg.SJIS_SENTENCE, "shift_jis", True),
    ]


def legacy_page(doc_id: int, n_par: int) -> tuple[bytes, str]:
    """(encoded body, http_ct) of legacy page doc_id."""
    shapes = legacy_shapes()
    sent, codec, declared = shapes[doc_id % len(shapes)]
    line = f"{sent} {doc_id}"
    body = ("<html><body>" + f"<p>{line}</p>" * n_par
            + "</body></html>").encode(codec)
    ct = "text/html; charset=iso-8859-1" if declared else "text/html"
    return body, ct


BIG_SEED = 0  # the big-page sample is the same for every workload and seed


def _page_row(doc_id: int, ct: str, span: dict, content_enc: str = "") -> dict:
    return dict(doc_id=str(doc_id), url=f"https://big.example/{doc_id}.html",
                warc_type="response",
                warc_ct="application/http; msgtype=response",
                http_status="200 OK", http_ct=ct, content_enc=content_enc,
                transfer_enc="", warc_date="2024-01-01T00:00:00Z",
                spans=[span])


def _media(body: bytes) -> dict:
    return dict(kind="media", text="", media_ref=base64.b64encode(body).decode(),
                offset=0)


def _text(body: str) -> dict:
    return dict(kind="text", text=body, media_ref="", offset=0)


def big_pages() -> list[dict]:
    """Fixed ~16 KB pages for the single-threaded ``functions`` pass, in
    spans-table rows: one legacy-charset page per ``legacy_shapes`` variant
    (bytes declared wrong or not at all) and five UTF-8 pages in the
    spansgen shapes (declared HTML, entities, script, plain text,
    gzip-encoded HTML)."""
    rng = np.random.default_rng(BIG_SEED)
    texts = _texts(rng, _vocab(rng, 8000, 3, 9), 5, 2100, 2900,
                   EN_MARKERS, 0.3)
    html = [f"<html><body><p>{t}</p></body></html>" for t in texts]
    words = texts[2].split(" ")
    scripted = "</p><script>var x = '<p>';</script><p>".join(
        " ".join(words[i:i + 40]) for i in range(0, len(words), 40))
    rows = [
        _page_row(0, "text/html; charset=utf-8", _text(html[0])),
        _page_row(1, "text/html", _text(html[1].replace("e", "&eacute;")
                                        .replace(" a ", " &amp; "))),
        _page_row(2, "text/html",
                  _text(f"<html><body><p>{scripted}</p></body></html>")),
        _page_row(3, "text/plain", _text(texts[3])),
        _page_row(4, "text/html; charset=utf-8",
                  _media(gzip.compress(html[4].encode(), 6, mtime=0)), "gzip"),
    ]
    for k in range(len(legacy_shapes())):
        body, ct = legacy_page(k, 150)
        rows.append(_page_row(len(rows), ct, _media(body)))
    return rows


# ------------------------------------------------------------------- near_dup

def gen_near_dup(seed: int, n_base: int, out: Path, n_files: int) -> dict:
    """n_base dissimilar documents plus one near-duplicate for every 8th
    base document (chosen by seed); the clone of base i gets id n_base + j
    and the base text with its first two tokens swapped, so the token
    multiset is unchanged and 2 of its ~60 shingles differ."""
    rng = _rng("near_dup", seed)
    vocab = _vocab(rng, 60000, 4, 9)
    texts = _texts(rng, vocab, n_base, 45, 75)
    planted_base = np.sort(rng.choice(n_base, size=n_base // 8, replace=False))
    ids = list(range(n_base))
    pairs = []
    for j, i in enumerate(planted_base):
        toks = texts[i].split(" ")
        toks[0], toks[1] = toks[1], toks[0]
        texts.append(" ".join(toks))
        ids.append(n_base + j)
        pairs.append([int(i), n_base + j])
    order = rng.permutation(len(ids))
    table = pa.table({
        "doc_id": pa.array(np.array(ids, dtype=np.int64)[order]),
        "text": pa.array([texts[k] for k in order], pa.string())})
    _write_parts(table, out, "docs", n_files)
    with open(out / "planted.json", "w") as f:
        json.dump(pairs, f)
    return {"docs": len(ids),
            "payload_bytes": sum(len(t.encode()) for t in texts)}


GENERATORS = {"crawl_small": gen_crawl_small, "near_dup": gen_near_dup}


# ---------------------------------------------------------------------- cache

def _checksums(root: Path) -> dict[str, str]:
    out = {}
    for p in sorted(root.rglob("*")):
        if p.is_file() and p.name != "MANIFEST.json":
            h = hashlib.sha256()
            with open(p, "rb") as f:
                for block in iter(lambda: f.read(1 << 22), b""):
                    h.update(block)
            out[str(p.relative_to(root))] = h.hexdigest()
    return out


def ensure_inputs(cache_root: Path, workload: str, size: int, n_files: int,
                  seed: int) -> tuple[Path, dict]:
    """Generated inputs for (workload, size, n_files, seed), from cache when
    every file's checksum matches the manifest, else freshly generated."""
    d = cache_root / f"{workload}-n{size}-f{n_files}-s{seed}"
    manifest = d / "MANIFEST.json"
    if manifest.exists():
        with open(manifest) as f:
            m = json.load(f)
        if m.get("files") == _checksums(d):
            os.utime(d)  # most recently used: kept by _prune
            return d, m["meta"]
    shutil.rmtree(d, ignore_errors=True)
    tmp = d.with_name(d.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    meta = GENERATORS[workload](seed, size, tmp, n_files)
    with open(tmp / "MANIFEST.json", "w") as f:
        json.dump({"workload": workload, "size": size, "seed": seed,
                   "meta": meta, "files": _checksums(tmp)}, f)
    os.replace(tmp, d)
    _prune(cache_root, workload)
    return d, meta


def _prune(cache_root: Path, workload: str) -> None:
    sets = sorted(cache_root.glob(f"{workload}-n*"),
                  key=lambda p: p.stat().st_mtime)
    for old in sets[:-KEEP_CACHED]:
        shutil.rmtree(old, ignore_errors=True)


def main(argv: list[str]) -> int:
    """``gen.py <workload> <size> <files> <seed> <cache dir>``: make (or
    verify the cached) inputs and print their directory and metadata as one
    JSON line."""
    import sys
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    workload, size, n_files, seed, cache = argv
    d, meta = ensure_inputs(Path(cache), workload, int(size), int(n_files),
                            int(seed))
    print(json.dumps({"dir": str(d), "meta": meta}))
    return 0


if __name__ == "__main__":
    import sys
    raise SystemExit(main(sys.argv[1:]))
