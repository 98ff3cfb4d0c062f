"""DOM-heuristic main-content extraction (JusText-style block classify).

Beyond-reference (graft mandate, the north rule's "DOM heuristics" leg):
the reference extracts text by tag-filter deboilerplating
(`src/textextract.cc` — reproduced byte-exact in
functions/textextract.py); THIS module is the alternative,
heuristic extractor real curation pipelines run next to it — the
JusText algorithm (Pomikálek 2011, "Removing Boilerplate and Duplicate
Content from Web Corpora", public): segment the page into blocks at
block-level tags, score each block by length / stopword density / link
density, classify context-free into good / bad / short / near-good,
then resolve the uncertain classes from their nearest certain
neighbors.  Navigation bars, footers and link farms classify bad;
running prose classifies good.

Scale shape: one mapInArrow-class Python crossing per document (the
same batched-kernel budget as the main extractor), everything after the
kernel is native; no shuffle at all — the operator is a per-row map.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

# context-free thresholds (the published JusText defaults)
LENGTH_LOW = 70
LENGTH_HIGH = 200
STOPWORDS_LOW = 0.30
STOPWORDS_HIGH = 0.32
MAX_LINK_DENSITY = 0.2

_BLOCK_TAGS = ("p|div|h1|h2|h3|h4|h5|h6|li|ul|ol|td|th|tr|table|"
               "blockquote|pre|article|section|header|footer|nav|aside|"
               "form|fieldset|main|br")
_SPLIT_RE = re.compile(r"<\s*/?\s*(?:%s)\b[^>]*>" % _BLOCK_TAGS, re.I)
_SCRIPT_RE = re.compile(
    r"<\s*(script|style)\b[^>]*>.*?<\s*/\s*\1\s*>", re.I | re.S)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_A_RE = re.compile(r"<\s*a\b[^>]*>(.*?)<\s*/\s*a\s*>", re.I | re.S)
_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")


# The langid tables are deliberately EXCLUSIVE-form (sibling-language
# discrimination) and far too small for density scoring; JusText wants
# the full function-word head of the language.  English default —
# callers pass their own set for other languages.
_EN_STOPWORDS = frozenset("""
a about after all also an and any are as at be because been but by can
could did do does for from had has have he her his how i if in into is
it its just like me more most my no not of on one only or other our out
over she so some than that the their them then there these they this to
up was we were what when which who will with would you your
""".split())


def _default_stopwords() -> frozenset[str]:
    return _EN_STOPWORDS


def segment_blocks(html: str) -> list[tuple[str, float]]:
    """(text, link_density) per block: split at block-level tags after
    dropping script/style/comments; link density = characters inside
    ``<a>`` over block characters (inline tags are stripped after the
    anchor text is measured).  Never raises."""
    def tlen(seg: str) -> int:
        return len(_WS_RE.sub(" ", _TAG_RE.sub(" ", seg)).strip())

    try:
        html = _COMMENT_RE.sub(" ", _SCRIPT_RE.sub(" ", html or ""))
        out = []
        in_anchor = False
        for chunk in _SPLIT_RE.split(html):
            # anchors wrapping block-level tags ('<a><div>Home</div></a>'
            # nav markup) are split open — carry the open-anchor state
            # across chunks so their text still counts as link content
            # (review r6 finding)
            if in_anchor:
                m = re.search(r"<\s*/\s*a\s*>", chunk, re.I)
                if m:
                    lead, rest = chunk[:m.start()], chunk[m.end():]
                    in_anchor = False
                else:
                    lead, rest = chunk, ""
            else:
                lead, rest = "", chunk
            link_chars = tlen(lead) + sum(tlen(m)
                                          for m in _A_RE.findall(rest))
            # an anchor opened in this chunk but not closed: its tail
            # text is link content and the state carries forward
            rem = _A_RE.sub(" ", rest)
            m_open = re.search(r"<\s*a\b[^>]*>", rem, re.I)
            if m_open:
                link_chars += tlen(rem[m_open.end():])
                in_anchor = True
            text = _WS_RE.sub(" ", _TAG_RE.sub(" ", chunk)).strip()
            if not text:
                continue
            out.append((text, link_chars / len(text)))
        return out
    except Exception:
        return []


def classify_blocks(blocks: list[tuple[str, float]],
                    stopwords: frozenset[str]) -> list[str]:
    """JusText two-stage classification.  Stage 1 (context-free) labels
    each block good / bad / short / near-good from length, stopword
    density and link density; stage 2 resolves short and near-good
    blocks from the nearest context-free good/bad neighbors on each
    side (both good -> good; both bad -> bad; mixed -> good only for
    near-good blocks, per the published rules)."""
    ctx_free = []
    for text, link_density in blocks:
        words = text.split()
        stop_density = (sum(1 for w in words if w.lower() in stopwords)
                        / len(words)) if words else 0.0
        if link_density > MAX_LINK_DENSITY:
            ctx_free.append("bad")
        elif len(text) < LENGTH_LOW:
            ctx_free.append("bad" if link_density > 0 else "short")
        elif stop_density >= STOPWORDS_HIGH:
            ctx_free.append("good" if len(text) > LENGTH_HIGH
                            else "near-good")
        elif stop_density >= STOPWORDS_LOW:
            ctx_free.append("near-good")
        else:
            ctx_free.append("bad")
    n = len(ctx_free)
    # nearest certain neighbor on each side ("good"/"bad"; page edges
    # count as bad, per the paper)
    prev = ["bad"] * n
    cur = "bad"
    for i in range(n):
        prev[i] = cur
        if ctx_free[i] in ("good", "bad"):
            cur = ctx_free[i]
    nxt = ["bad"] * n
    cur = "bad"
    for i in range(n - 1, -1, -1):
        nxt[i] = cur
        if ctx_free[i] in ("good", "bad"):
            cur = ctx_free[i]
    final = []
    for i, label in enumerate(ctx_free):
        if label in ("good", "bad"):
            final.append(label)
            continue
        a, b = prev[i], nxt[i]
        if a == "good" and b == "good":
            final.append("good")
        elif a == "bad" and b == "bad":
            final.append("bad")
        else:  # mixed neighborhood
            final.append("good" if label == "near-good" else "bad")
    return final


MAIN_SCHEMA = "doc_id string, main_text string, n_blocks long, n_good long"


def extract_main_content(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         stopwords: frozenset[str] | None = None
                         ) -> DataFrame:
    """(id, main_text, n_blocks, n_good): the heuristic extractor's
    output — good blocks joined with newlines.  Documents whose page is
    all boilerplate keep a row with main_text '' (the no-NULLs rule).

    The per-document aggregation happens INSIDE the kernel (blocks of
    one page are already colocated in its batch), so the operator is a
    pure per-row map: one Python crossing, ZERO shuffle — page payloads
    never cross the network (the SCALE_DESIGN invariant; a groupBy over
    the exploded block view would shuffle every block's text)."""
    import pandas as pd

    sw = _default_stopwords() if stopwords is None else stopwords

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "main_text", "n_blocks",
                                    "n_good")}
            for doc_id, html in zip(pdf[id_col], pdf[text_col]):
                blocks = segment_blocks(html or "")
                labels = classify_blocks(blocks, sw)
                rows["doc_id"].append(str(doc_id))
                rows["main_text"].append("\n".join(
                    t for (t, _), lab in zip(blocks, labels)
                    if lab == "good"))
                rows["n_blocks"].append(len(blocks))
                rows["n_good"].append(
                    sum(1 for lab in labels if lab == "good"))
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(run, MAIN_SCHEMA)
