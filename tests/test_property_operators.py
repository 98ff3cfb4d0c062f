"""Property/differential tests for the round-3 operators: pure-Python
twins recompute each operator's semantics from first principles and the
Spark output must agree on randomized corpora (single Spark run per test;
randomness is seeded, matching the repo's fuzz-suite style)."""

import hashlib
import random
import re
from collections import Counter

from pyspark.sql import functions as F

from warc2text_spark.operators import dedup, textops


def _py_simhash64(text: str | None) -> int | None:
    """First-principles twin of textops.simhash64 (signed 64-bit)."""
    if text is None:
        return None
    counts = [0] * 64
    for tok in text.split(" "):
        h = hashlib.md5(tok.encode("utf-8")).hexdigest()
        for k in range(64):
            v = int(h[k // 4], 16)
            bit = (v >> (3 - k % 4)) & 1
            counts[k] += 1 if bit else -1
    sig = 0
    for k in range(64):
        if counts[k] > 0:
            sig += textops.SIMHASH64_WEIGHTS[k]
    return sig


def test_simhash64_matches_python_twin_and_pairs_have_full_recall(spark):
    rng = random.Random(3)
    vocab = [f"tok{j}" for j in range(60)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(12)))
            for i in range(120)]
    # a few near-duplicates: one token substituted
    for i in range(10):
        base = rows[i][1].split(" ")
        base[3] = "CHANGED"
        rows.append((1000 + i, " ".join(base)))
    # edge texts: null, empty, runs of spaces (empty tokens hash too),
    # and long documents past 512 tokens
    rows += [(2000, None), (2001, ""), (2002, "a  b"), (2003, " x y z "),
             (2004, "   "),
             (2005, " ".join(rng.choice(vocab) for _ in range(600))),
             (2006, " ".join(rng.choice(vocab) for _ in range(1500)))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = {int(r.doc_id): r.simhash
            for r in textops.simhash64(docs).collect()}
    # 1) signature parity with the first-principles twin
    for doc_id, text in rows:
        assert sigs[doc_id] == _py_simhash64(text), doc_id
    assert sigs[2000] is None

    # 2) full recall: every pair with hamming <= 3 is in the operator
    #    output (pigeonhole over eight 8-bit bands guarantees it)
    expect = set()
    ids = sorted(i for i, s in sigs.items() if s is not None)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
            if ham <= 3:
                expect.add(frozenset((str(a), str(b))))
    out = dedup.simhash_near_pairs(docs)
    got = {frozenset((r.a_id, r.b_id)) for r in out.collect()}
    dedup.release_intermediates(out)
    assert expect <= got
    # and everything reported really is within the hamming bound
    assert all(
        bin((sigs[int(next(iter(p)))] ^ sigs[int(list(p)[1])]) & (2**64 - 1))
        .count("1") <= 3 for p in got if len(p) == 2)


def test_minhash_signatures_match_python_twin(spark):
    """minhash_signatures against its first-principles twin: short and
    edge texts, then 20 documents of 2,000 tokens each (2,000 shingles a
    document — the size at which per-shingle re-tokenization shows)."""
    from tests.twins import minhash_signatures_py

    rng = random.Random(13)
    vocab = [f"v{j}" for j in range(5000)]
    rows = [(0, None), (1, ""), (2, "one"), (3, "a  b"), (4, " x y z "),
            (5, "a b c"), (6, "été ЦЕ 日本語 the quick brown fox")]
    rows += [(100 + i, " ".join(rng.choice(vocab) for _ in range(2000)))
             for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: [r.sig0, r.sig1, r.sig2, r.sig3]
           for r in dedup.minhash_signatures(docs).collect()}
    assert got == {str(i): minhash_signatures_py(t) for i, t in rows}


def _lambda_bodies(plan: str) -> list[str]:
    """Every ``lambdafunction(...)`` span of a plan string, parenthesis
    matched."""
    bodies, start = [], plan.find("lambdafunction(")
    while start >= 0:
        depth = 0
        for end in range(start + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        bodies.append(plan[start:end + 1])
        start = plan.find("lambdafunction(", start + 1)
    return bodies


def test_signature_plans_tokenize_each_text_once(spark, tmp_path):
    """Each text is split once per row, outside every lambda: a split
    inside a per-shingle or per-n-gram lambda is re-evaluated for every
    element (O(n^2) per document), and a split per rule column repeats
    the tokenization.  decontaminate tokenizes two inputs, the documents
    and the benchmark, so its plan holds one split each."""
    from warc2text_spark.operators.selection import decontaminate

    # a parquet scan: projections over a local relation are folded into
    # it before planning and would leave no expression to inspect
    spark.createDataFrame([(1, "a b c d"), (2, "a b c")],
                          "doc_id long, text string") \
        .write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    bench = docs.filter(F.col("doc_id") == 2).select("text")
    cases = {
        "minhash_signatures": (dedup.minhash_signatures(docs), 1),
        "simhash64": (textops.simhash64(docs), 1),
        "repetition_ratio": (textops.repetition_ratio(docs), 1),
        "decontaminate": (decontaminate(docs, bench), 2),
        "gopher_rules": (textops.gopher_rules(docs), 1),
        "quality_cols": (docs.select(textops.quality_cols().alias("q"))
                         .select("q.*"), 1),
    }
    for name, (df, n_inputs) in cases.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("split(") == n_inputs, (name, plan)
        bodies = _lambda_bodies(plan)
        assert bodies and not any("split(" in b for b in bodies), name


def test_fingerprint_slices_one_character_array(spark, tmp_path):
    """fingerprint hashes slices of one character array: no substring
    inside a lambda (a walk from the string start per position, O(n^2)).
    Its value equals the substring definition's twin on non-ASCII text,
    where the byte-based position count reaches past the last
    character."""
    from tests.twins import fingerprint_py

    rng = random.Random(5)
    alphabet = "ab é€𝄞\n"
    rows = [(0, ""), (1, "a"), (2, "é€𝄞"), (3, "abcde"), (4, None),
            (5, "".join(rng.choice(alphabet) for _ in range(20000)))]
    rows += [(10 + i, "".join(rng.choice(alphabet)
                              for _ in range(rng.randint(0, 40))))
             for i in range(60)]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(str(tmp_path / "docs"))
    df = textops.fingerprint(spark.read.parquet(str(tmp_path / "docs")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not any("substring(" in b for b in _lambda_bodies(plan)), plan
    got = {r.doc_id: r.fingerprint for r in df.collect()}
    assert got == {str(i): fingerprint_py(t) for i, t in rows}


def test_remove_boilerplate_matches_python_twin(spark):
    rng = random.Random(17)
    shared = [f"SHARED {j}" for j in range(5)]
    rows = []
    for i in range(60):
        lines = []
        for _ in range(rng.randint(1, 6)):
            if rng.random() < 0.4:
                lines.append(rng.choice(shared))
            else:
                lines.append(f"body {i} {rng.randint(0, 9)}")
        rows.append((i, "\n".join(lines)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.clean_text
           for r in textops.remove_boilerplate(docs, min_docs=2).collect()}

    # twin: line -> distinct doc count, then ordered filter
    per_line = Counter()
    for i, text in rows:
        for line in set(text.split("\n")):
            per_line[line] += 1
    dup = {line for line, n in per_line.items() if n >= 2}
    for i, text in rows:
        expect = "\n".join(ln for ln in text.split("\n") if ln not in dup)
        assert got[str(i)] == expect, i


def test_redact_pii_matches_re_twin_and_is_idempotent(spark):
    rng = random.Random(29)
    frags = ["plain words", "a.b+c@x-mail.co.uk", "+44 (0) 1234 5678",
             "not@an", "email@ok.io", "+1 555 000 1234", "@", "+12",
             "tail text", "x@y.z"]
    rows = [(i, " ".join(rng.choice(frags) for _ in range(rng.randint(1, 6))))
            for i in range(80)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.clean_text for r in textops.redact_pii(docs).collect()}

    email = re.compile(textops.PII_EMAIL_RE)
    phone = re.compile(textops.PII_PHONE_RE)

    def twin(s):
        return phone.sub("<PHONE>", email.sub("<EMAIL>", s))

    for i, text in rows:
        expect = twin(text)
        assert got[str(i)] == expect, (i, text)
        assert twin(expect) == expect  # idempotent: placeholders never match


def test_host_cap_invariants(spark):
    rng = random.Random(41)
    rows = [(i, f"https://h{i % 7}.example/p{i}",
             "x" * rng.randint(1, 50)) for i in range(70)]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = textops.host_cap(docs, cap=3).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r.host, []).append(r)
    lengths = {str(i): len(t) for i, _, t in rows}
    hosts = {str(i): f"h{i % 7}.example" for i, _, _ in rows}
    for host, kept in by_host.items():
        assert len(kept) <= 3
        assert sorted(r.rank for r in kept) == list(range(1, len(kept) + 1))
        # winners are the longest docs of that host (doc_id tiebreak)
        candidates = sorted(
            ((-lengths[d], d) for d in lengths if hosts[d] == host))
        expect_ids = {d for _, d in candidates[:len(kept)]}
        assert {r.doc_id for r in kept} == expect_ids, host


def test_lsh_multiprobe_recall_dominates_single_probe(spark):
    from warc2text_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding")
    planes = [[float(x) for x in r.embedding] for r in
              emb.filter(F.col("vec_id").between(1, 8))
                 .orderBy("vec_id").collect()]
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).collect()[0].embedding]

    exact = [r.vec_id for r in similarity.cosine_topk(emb, q, 10).collect()]
    single = similarity.lsh_topk(emb, q, planes, 10).collect()
    multi = similarity.lsh_topk_multiprobe(emb, q, planes, 10,
                                           n_probe=3).collect()
    # the probe set is a superset of the base bucket, so the multiprobe
    # top-k dominates by cosine (a weak single-probe member may be
    # displaced — top-k membership itself is not monotone) and recall vs
    # brute force can only grow
    assert min(r.cosine for r in multi) >= min(r.cosine for r in single)
    assert (len({r.vec_id for r in multi} & set(exact))
            >= len({r.vec_id for r in single} & set(exact)))

    # probe-list structure: base first, each flip differs in exactly 1 bit
    probes = similarity._probe_buckets(q, planes, 3)
    assert len(probes) == 3 and len(set(probes)) == 3
    base = probes[0]
    for p in probes[1:]:
        assert sum(a != b for a, b in zip(base, p)) == 1


def test_decontam_and_surprisal_match_python_twins(spark):
    """First-principles twins for the round-4 selection operators on a
    randomized corpus: 8-gram decontamination membership and the
    Laplace-unigram surprisal formula."""
    import math

    from warc2text_spark.operators.selection import (
        decontaminate, unigram_surprisal)

    rng = random.Random(7)
    vocab = [f"w{j}" for j in range(40)]
    rows = [(str(i), " ".join(rng.choice(vocab)
                              for _ in range(rng.randint(3, 30))))
            for i in range(150)]
    # plant exact 8-gram overlaps: doc 100+ copies a window from doc i
    for i in range(8):
        base = rows[i][1].split(" ")
        if len(base) >= 8:
            rows.append((str(200 + i),
                         " ".join(base[:8]) + " trailing words here"))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    bench = docs.filter(F.col("doc_id").cast("int") < 8)

    # python twin: benchmark 8-gram set, then membership per doc
    def grams(t):
        ws = t.split()
        return {" ".join(ws[i:i + 8]) for i in range(len(ws) - 7)}
    bench_ng = set()
    for did, t in rows:
        if int(did) < 8:
            bench_ng |= grams(t)
    expect_kept = {did for did, t in rows if not (grams(t) & bench_ng)}
    got_kept = {r["doc_id"] for r in decontaminate(docs, bench).collect()}
    assert got_kept == expect_kept
    assert any(int(d) >= 200 for d in set(dict(rows)) - got_kept)

    # surprisal twin
    cnt = Counter(w for _, t in rows for w in t.split())
    denom = math.log(sum(cnt.values()) + len(cnt) + 1)
    out = {r["doc_id"]: r for r in unigram_surprisal(docs).collect()}
    for did, t in rows:
        ws = t.split()
        exp = round(denom - sum(math.log(cnt[w] + 1) for w in ws) / len(ws),
                    6)
        assert abs(out[did]["surprisal"] - exp) < 1e-9, did
        assert out[did]["n_tokens"] == len(ws)


def test_paragraph_dedup_invariants(spark):
    """Structural invariants on randomized corpora: (a) every output
    line multiset is a subset of the input's, order preserved; (b) the
    global min-id document is untouched for every duplicated line it
    carries; (c) blank/whitespace-only lines are always kept; (d)
    n_removed equals lines lost; (e) every unique line survives."""
    import random
    rng = random.Random(17)
    lines_pool = ["HDR", "nav bar", "body %d", "", "\t", "  ",
                  "footer", "contact us", "unique %d %d"]
    rows = []
    for i in range(40):
        n = rng.randint(1, 8)
        doc = []
        for j in range(n):
            pat = rng.choice(lines_pool)
            doc.append(pat % ((i, j) if pat.count("%d") == 2 else i)
                       if "%d" in pat else pat)
        rows.append((str(i), "\n".join(doc)))
    from warc2text_spark.operators.textops import paragraph_dedup
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r.doc_id: r for r in paragraph_dedup(docs).collect()}
    orig = dict(rows)
    # winners per nonblank line (python twin of the rule)
    from collections import defaultdict
    owner = defaultdict(list)
    for did, text in rows:
        for ln in text.split("\n"):
            if ln.replace(" ", "").replace("\t", "") != "":
                owner[ln].append(did)
    keep_id = {ln: min(ds) for ln, ds in owner.items() if len(ds) > 1}
    for did, text in rows:
        in_lines = text.split("\n")
        expect = [ln for ln in in_lines
                  if ln not in keep_id or keep_id[ln] == did]
        got = out[did].clean_text.split("\n") if out[did].clean_text \
            else ([""] if "" in expect and len(expect) == 1 else [])
        # array_join of kept lines == "\n".join(expect) in all cases
        assert out[did].clean_text == "\n".join(expect), (did, text)
        assert out[did].n_removed == len(in_lines) - len(expect)
