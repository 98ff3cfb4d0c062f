"""JusText-style DOM-heuristic content extraction (operators/content.py)."""

from warc2text_spark.operators.content import (classify_blocks,
                                               extract_main_content,
                                               segment_blocks)

NAV = ('<div><a href="/">Home</a> <a href="/b">Blog</a> '
       '<a href="/c">Contact</a></div>')
PROSE1 = ("<p>The committee met on Tuesday because there was a question "
          "about the budget, and most of the members were of the opinion "
          "that the plan would not be possible without more money from "
          "the city and some help from other towns in the region.</p>")
PROSE2 = ("<p>After the meeting they walked to the station and talked "
          "about what they would do if the decision was not in their "
          "favor, and it was clear that most of them had been thinking "
          "about this for a long time.</p>")
SHORT = "<p>A short note here.</p>"
FOOTER = ('<div><a href="/terms">Terms</a> <a href="/privacy">Privacy'
          '</a> <a href="/imprint">Imprint</a></div>')
PAGE = NAV + PROSE1 + SHORT + PROSE2 + FOOTER


def test_segment_blocks_and_link_density():
    blocks = segment_blocks(PAGE)
    texts = [t for t, _ in blocks]
    assert any("committee met" in t for t in texts)
    assert any("Home" in t for t in texts)
    nav = next((t, ld) for t, ld in blocks if "Home" in t)
    assert nav[1] > 0.8                  # almost-pure link block
    prose = next((t, ld) for t, ld in blocks if "committee" in t)
    assert prose[1] == 0.0
    # script/style and comments vanish
    assert segment_blocks("<script>var x=1;</script><!-- c -->") == []
    assert segment_blocks("") == []


def test_classify_context_free_and_neighbors():
    blocks = segment_blocks(PAGE)
    # without stopwords no block reaches the density bars -> none good
    assert "good" not in classify_blocks(blocks, frozenset())
    from warc2text_spark.operators.content import _default_stopwords
    labels = classify_blocks(blocks, _default_stopwords())
    by_text = {t: l for (t, _), l in zip(blocks, labels)}
    nav_label = next(l for t, l in by_text.items() if "Home" in t)
    assert nav_label == "bad"
    prose_label = next(l for t, l in by_text.items() if "committee" in t)
    assert prose_label == "good"
    # the short block BETWEEN two good paragraphs is rescued
    short_label = next(l for t, l in by_text.items() if "short note" in t)
    assert short_label == "good"
    footer_label = next(l for t, l in by_text.items() if "Terms" in t)
    assert footer_label == "bad"


def test_classify_edges_are_bad_context():
    # a lone short block on a page of boilerplate stays bad
    blocks = segment_blocks(NAV + SHORT + FOOTER)
    from warc2text_spark.operators.content import _default_stopwords
    labels = classify_blocks(blocks, _default_stopwords())
    short_label = next(l for (t, _), l in zip(blocks, labels)
                       if "short note" in t)
    assert short_label == "bad"


def test_spark_content_blocks_and_main(spark):
    rows = [("1", PAGE), ("2", NAV + FOOTER), ("3", "")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    from warc2text_spark.operators.content import _default_stopwords
    # neighbor resolution leaves only the two final labels
    for _, html in rows:
        labels = classify_blocks(segment_blocks(html), _default_stopwords())
        assert all(label in ("good", "bad") for label in labels)
    main = {r.doc_id: r for r in extract_main_content(df).collect()}
    assert set(main) == {"1", "2", "3"}          # all docs kept
    assert "committee met" in main["1"].main_text
    assert "short note" in main["1"].main_text   # rescued block included
    assert "Home" not in main["1"].main_text
    assert main["1"].n_good >= 3
    assert main["2"].main_text == "" and main["2"].n_good == 0
    assert main["3"].n_blocks == 0 and main["3"].main_text == ""
    # block order preserved in the joined text
    t = main["1"].main_text
    assert t.index("committee") < t.index("short note") < t.index("station")


def test_never_raises_on_garbage():
    for bad in ("<p", "<<<>>>", "<a href='x>y</a>", "\x00\xff junk",
                "<p>" + "a" * 10000):
        segment_blocks(bad)
        classify_blocks(segment_blocks(bad), frozenset(["a"]))


def test_main_content_plan_has_no_shuffle(spark):
    """Scale shape: per-doc aggregation happens inside the kernel —
    one Python crossing, zero Exchange (page payloads never shuffle)."""
    df = spark.createDataFrame([("1", PAGE)], "doc_id string, text string")
    plan = extract_main_content(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_anchor_spanning_block_tags_counts_as_links():
    """Review r6: '<a><div>Home</div></a>' nav markup splits the anchor
    open — the carried state must still count the text as link content
    so pure-navigation menus classify bad."""
    nav = ('<a href="/"><div>About the company</div></a>'
           '<a href="/b"><div>What we do for you</div></a>'
           '<a href="/c"><div>Where to find our offices</div></a>'
           '<a href="/d"><div>When we are open and more</div></a>')
    blocks = segment_blocks(nav)
    assert blocks and all(ld > 0.8 for _, ld in blocks), blocks
    from warc2text_spark.operators.content import _default_stopwords
    labels = classify_blocks(blocks, _default_stopwords())
    assert set(labels) == {"bad"}
    # plain matched anchors unaffected
    plain = segment_blocks(NAV)
    assert next(ld for t, ld in plain if "Home" in t) > 0.8
