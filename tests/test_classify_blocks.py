"""Direct unit tests of block classification: ``block_words`` against
``str.split`` on every fixture family, ``_header_like`` and
``classify_blocks`` rule by rule, and ``is_boilerplate`` against the
plain pattern scan."""

from hypothesis import given, settings
from hypothesis import strategies as st

from document_extraction_service_spark import fixtures as fx
from document_extraction_service_spark.extract import textops as X
from document_extraction_service_spark.extract.text import _header_like, block_words, classify_blocks
from document_extraction_service_spark.htmlparse import parse_html


def _blocks(*paras: str):
    return parse_html("".join(paras).encode()).blocks


def test_block_words_equals_split_on_every_family():
    seen = set()
    for i in range(600):
        blocks = parse_html(fx.gen_page(i)["html"]).blocks
        seen.add(fx.family_of(i))
        assert block_words(blocks) == [len(b.text.split()) for b in blocks], i
    assert seen == set(fx.FAMILIES)


def test_block_words_folds_unicode_whitespace():
    # NBSP, LINE SEPARATOR, the \x1c-\x1f separators and the ideographic
    # space are whitespace to str.split; the parser folds them to spaces
    text = "a\u00a0b\u2028c\x1cd\x1fe\u3000f  g\n\th"
    (b,) = parse_html(f"<p>{text}</p>".encode()).blocks
    assert b.text == "a b c d e f g h"
    assert block_words([b]) == [8] == [len(text.split())]


def _heading(blocks, k):
    return _header_like(blocks, k, block_words(blocks))


CONTENT = "<p>This paragraph has well over five words in it.</p>"


def test_header_like_common_header_needs_no_content_after():
    blocks = _blocks("<p>2. Introduction:</p>")
    assert _heading(blocks, 0)


def test_header_like_bold_block_before_content():
    blocks = _blocks("<p><b>Bold Stand Alone</b></p>", CONTENT)
    assert _heading(blocks, 0)
    # ending with '.', or followed by chrome or nothing, it stays text
    assert not _heading(_blocks("<p><b>Bold Stand Alone.</b></p>", CONTENT), 0)
    assert not _heading(_blocks("<p><b>Bold Stand Alone</b></p><nav>" + CONTENT + "</nav>"), 0)
    assert not _heading(_blocks("<p><b>Bold Stand Alone</b></p>"), 0)


def test_header_like_enumerated_after_sentence():
    blocks = _blocks("<p>The previous section ends here.</p>", "<p>3 Data Sources</p>", CONTENT)
    assert _heading(blocks, 1)
    blocks = _blocks("<p>The previous section ends here</p>", "<p>3 Data Sources</p>", CONTENT)
    assert not _heading(blocks, 1)


def test_header_like_gates():
    # HEADER_MAX_WORDS words or more
    assert not _heading(_blocks("<p><b>one two three four five six seven eight</b></p>", CONTENT), 0)
    # any link text
    assert not _heading(_blocks("<p><a href=x>Introduction</a></p>"), 0)
    # HEADER_MIN_CHARS non-space chars or fewer, however the spaces fall
    assert not _heading(_blocks("<p><b>a b c</b></p>", CONTENT), 0)
    assert not _heading(_blocks("<p><b>abc</b></p>", CONTENT), 0)
    assert _heading(_blocks("<p><b>ab cd</b></p>", CONTENT), 0)


def test_classify_blocks_rules():
    paras = [
        "Rivers carry sediment downstream during the spring floods.",
        "Measurements were taken at twelve stations along the valley.",
        "The resulting profile shows a steady decline in grain size.",
        "Further work will extend the survey to the northern tributaries.",
    ]
    para = ["<p>%s</p>" % t for t in paras]
    html = (
        "<nav><p>Home About Contact and five more words here</p></nav>"
        "<h1>Main Title</h1>"
        + para[0]
        + "<p>Results</p>"
        + para[1]
        + "<p>Short bit</p>"
        + para[2]
        + "<p>Repeated line of text here, more than twice.</p>" * 3
        + "<p>Subscribe to our newsletter today</p>"
        + "<p>© 2024 Example Corp</p>"
        + "<p>Please ſubscribe now for updates</p>"
        + "<h1>Second Heading</h1>"
        + para[3]
        + "<p>Trailing short</p>"
    )
    blocks = _blocks(html)
    labels = dict(zip((b.text for b in blocks), classify_blocks(blocks)))
    assert labels["Home About Contact and five more words here"] == "drop"  # chrome
    assert labels["Main Title"] == "title"
    assert labels["Results"] == "heading"  # COMMON_HEADERS
    assert labels["Short bit"] == "content"  # sandwiched between content
    assert labels["Repeated line of text here, more than twice."] == "drop"
    assert labels["Subscribe to our newsletter today"] == "drop"
    assert labels["© 2024 Example Corp"] == "drop"
    # re.I folds the long s to "s": non-ASCII text runs the patterns
    assert labels["Please ſubscribe now for updates"] == "drop"
    assert labels["Second Heading"] == "heading"
    assert labels["Trailing short"] == "drop"  # no content after it
    assert [labels[t] for t in paras] == ["content"] * 4


_FRAGMENTS = [
    "cookie", "cookies", "Cookies", "all rights reserved", "share on", "log in", "LOGIN",
    "sign up", "signup", "subscribe", "privacy", "terms", "imprint", "(c) 2024", "(C) 1999",
    "©", "a@b.io", "x.y+z@mail-host.org", "https://example.org/x", "http://a b",
    "please cite", "blog", "design", "\u017fubscribe", "log\u0131n", "coo\u212aies",
    "the", "results", "page", "Home", "news", "ok", "été", "10", ".", "",
]


@given(st.lists(st.sampled_from(_FRAGMENTS), max_size=8), st.sampled_from(["", " ", "-", "_"]))
@settings(max_examples=500, deadline=None)
def test_is_boilerplate_equals_pattern_scan(parts, sep):
    text = sep.join(parts)
    assert X.is_boilerplate(text) == any(p.search(text) for p in X.BOILER_PATTERNS)
