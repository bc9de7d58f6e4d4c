"""Unit tests for the pure text operators (SURVEY §5.2 item 2)."""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from document_extraction_service_spark.extract import textops as X


class TestSentenceSplit:
    def test_basic(self):
        assert X.split_sentences("One two. Three four.") == ["One two.", "Three four."]

    def test_et_al_not_split(self):
        # reference W6 rule (text_models.py:673-690)
        s = "Results shown by Smith et al. Analysis follows."
        assert X.split_sentences(s) == [s]

    def test_et_al_in_citation(self):
        s = "Observed effect (Müller et al., 2021). Next sentence here."
        assert X.split_sentences(s) == [
            "Observed effect (Müller et al., 2021).",
            "Next sentence here.",
        ]

    def test_initials_not_split(self):
        s = "Written by A. Müller for the journal."
        assert X.split_sentences(s) == [s]

    def test_abbreviations(self):
        s = "See Fig. 3 for details. The value e.g. rises."
        out = X.split_sentences(s)
        assert out == ["See Fig. 3 for details.", "The value e.g. rises."]

    def test_empty(self):
        assert X.split_sentences("") == []
        assert X.split_sentences("   ") == []

    def test_fragment_merge(self):
        # previous sentence not ending in terminal punctuation merges
        s = "A value of 3.5 was seen. It rose."
        assert X.split_sentences(s) == ["A value of 3.5 was seen.", "It rose."]


# the splitter before sentence ends were found by one literal-prefixed
# pattern per end char; kept as the reference
_SPLIT_CAND_V1 = re.compile(r"[.!?]+(?=\s+[\"'(\[]?[A-Z0-9ÄÖÜ])")


def _split_sentences_v1(s):
    s = s.strip()
    if not s:
        return []
    cuts = []
    for m in _SPLIT_CAND_V1.finditer(s):
        tok = X._token_before(s, m.start()).lower()
        bare = tok.rstrip(".").lstrip("([\"'")
        if bare in X._ABBREVS:
            continue
        if len(bare) == 1 and bare.isalpha():
            continue
        if bare == "al":
            prev = X._token_before(s, m.start() - len(tok) - 1).lower().lstrip("([\"'")
            if prev == "et":
                continue
        cuts.append(m.end())
    parts, lo = [], 0
    for c in cuts:
        part = s[lo:c].strip()
        if part:
            parts.append(part)
        lo = c
    tail = s[lo:].strip()
    if tail:
        parts.append(tail)
    merged = []
    for p in parts:
        if merged and (merged[-1].endswith("et al.") or merged[-1][-1] not in ".!?"):
            merged[-1] = merged[-1] + " " + p
        else:
            merged.append(p)
    return merged


_SPLIT_FRAGMENTS = [
    "Smith", "et", "al", "Et", "xet", "e.g", "Fig", "A", "a", "3.5", "word", "Ä", "ö", "9",
    ".", "..", "!", "?", "?!", "...", "(", "[", '"', "'", " ", "  ", "\n", "\t", "\u00a0",
    "\u2028", "\x1c", "\u00ad",
]


@pytest.mark.parametrize("s", [
    "See Fig?! Then more.",  # a run of end chars after an abbreviation
    "Found by Smith et al!. Next one.",
    "Dr.. Who? Yes.",
    "A?! B. C",
    "e.g... Then on.",
])
def test_split_sentences_multi_char_runs(s):
    assert X.split_sentences(s) == _split_sentences_v1(s)


@given(st.lists(st.sampled_from(_SPLIT_FRAGMENTS), max_size=40))
@settings(max_examples=1000, deadline=None)
def test_split_sentences_matches_reference(parts):
    s = "".join(parts)
    assert X.split_sentences(s) == _split_sentences_v1(s)


class TestDehyphenate:
    def test_soft_hyphen_join(self):
        # reference W3 (internal_models.py:492-515): fuse iff lowercase follows
        assert X.dehyphenate("measure­ment") == "measurement"
        assert X.dehyphenate("measure­ ment") == "measurement"

    def test_soft_hyphen_before_upper_dropped(self):
        assert X.dehyphenate("A­B") == "AB"

    def test_no_hyphen(self):
        assert X.dehyphenate("plain text") == "plain text"


class TestCellType:
    # reference A9 classifier (text_detection.py:32-53)
    def test_num(self):
        assert X.cell_type("42.5") == "NUM"
        assert X.cell_type("1,234") == "NUM"
        assert X.cell_type("95 %") == "NUM"
        assert X.cell_type("-3.2") == "NUM"

    def test_word(self):
        assert X.cell_type("pressure") == "WORD"

    def test_unknown(self):
        assert X.cell_type("") == "UNKNOWN"
        assert X.cell_type("ab") == "UNKNOWN"
        assert X.cell_type("%") == "UNKNOWN"  # no digit


class TestFuzzyKey:
    def test_short(self):
        assert X.fuzzy_key("Hello, World!") == "helloworld"

    def test_long_takes_ends(self):
        s = "a" * 60 + "b" * 60
        k = X.fuzzy_key(s)
        assert k == "a" * 50 + "b" * 50

    def test_names(self):
        assert X.TABLE_NAME_RE.match("Table 3. Stuff").group(1) == "3"
        assert X.TABLE_NAME_RE.match("Tab. 12 more").group(1) == "12"
        assert X.FIGURE_NAME_RE.match("Figure 2. Caption").group(1) == "2"
        assert X.FIGURE_NAME_RE.match("Fig. 7 x").group(1) == "7"

    def test_doi(self):
        m = X.DOI_RE.findall("see doi:10.1234/abc.def-5 end")
        assert m == ["10.1234/abc.def-5"]


@given(st.text(max_size=60) | st.text(alphabet=st.characters(max_codepoint=127), max_size=60))
@settings(max_examples=500, deadline=None)
def test_strip_nonword_equals_regex(s):
    assert X._strip_nonword(s) == X._NONWORD_RE.sub("", s)


# --- non-markup header detection (X6, reference text_api.py:285-356) --------

def _doc(html: bytes):
    from document_extraction_service_spark.extract.pipeline import extract_document
    return extract_document(html, "http://t/x", "en")["extraction"]


LONG = "This paragraph carries more than enough words to be classified as page content."


def test_bold_only_block_is_header():
    ext = _doc(
        f"<html><body><h1>T</h1><p><b>Introduction</b></p><p>{LONG}</p></body></html>".encode()
    )
    assert [c["header"] for c in ext["chapters"]] == ["Introduction"]


def test_keyword_block_is_header_without_markup():
    ext = _doc(
        f"<html><body><h1>T</h1><p>3. Conclusions</p><p>{LONG}</p></body></html>".encode()
    )
    assert [c["header"] for c in ext["chapters"]] == ["3. Conclusions"]


def test_numbered_after_period_is_header():
    ext = _doc(
        f"<html><body><h1>T</h1><p>{LONG}</p>"
        f"<p>2. Custom Named Part</p><p>{LONG} Two.</p></body></html>".encode()
    )
    assert "2. Custom Named Part" in [c["header"] for c in ext["chapters"]]


def test_numbered_list_items_are_not_headers():
    ext = _doc(
        f"<html><body><h1>T</h1><p>{LONG}</p>"
        f"<p>1. buy milk</p><p>2. buy eggs</p><p>{LONG}</p></body></html>".encode()
    )
    assert [c["header"] for c in ext["chapters"]] == [None]


def test_bold_sentence_ending_with_period_not_header():
    ext = _doc(
        f"<html><body><h1>T</h1><p><b>We won the match.</b></p><p>{LONG}</p></body></html>".encode()
    )
    assert [c["header"] for c in ext["chapters"]] == [None]


def test_linked_keyword_block_not_header():
    ext = _doc(
        f'<html><body><h1>T</h1><p><a href="/r">Results</a></p><p>{LONG}</p></body></html>'.encode()
    )
    assert [c["header"] for c in ext["chapters"]] == [None]


def test_common_header_normalization():
    from document_extraction_service_spark.extract import textops as X
    assert X.is_common_header("3.2 Results:")
    assert X.is_common_header("Conflicts of Interest")
    assert not X.is_common_header("in")          # no substring looseness
    assert not X.is_common_header("of")          # phrase split bug guard
    assert not X.is_common_header("x" * 3000)    # length gate


def test_abstract_anchor_paragraph_grows_description():
    ext = _doc(
        f"<html><body><h1>T</h1><p>Abstract. We present a deterministic engine "
        f"for large scale extraction.</p><p>{LONG}</p></body></html>".encode()
    )
    assert ext["metadata"]["description"].startswith("We present a deterministic")


def test_header_style_invariance():
    """The same document rendered with h2 / bold-only / bare-keyword
    headers must extract the same text and chapter structure."""
    # paragraphs must be genuinely distinct: O7 fuzzy dedup collapses
    # blocks whose first/last-50-char keys are >95% similar
    sections = [
        ("1. Introduction", LONG),
        ("2. Results", "The measured wear rate dropped by half when the coating was annealed twice."),
    ]
    variants = {
        "h2": "".join(f"<h2>{h}</h2><p>{p}</p>" for h, p in sections),
        "bold": "".join(f"<p><b>{h}</b></p><p>{p}</p>" for h, p in sections),
        "bare": "".join(f"<p>{h}</p><p>{p}</p>" for h, p in sections),
    }
    outs = {
        k: _doc(f"<html><body><h1>T</h1>{v}</body></html>".encode())
        for k, v in variants.items()
    }
    texts = {k: o["extracted_text"] for k, o in outs.items()}
    chapters = {k: [c["header"] for c in o["chapters"]] for k, o in outs.items()}
    assert texts["bold"] == texts["h2"] == texts["bare"]
    assert chapters["bold"] == chapters["h2"] == chapters["bare"] == [
        "1. Introduction", "2. Results"
    ]


def test_metadata_parity_fields():
    """journal/issn/subtitle/references harvested from on-page
    citation_* meta tags and <cite> elements (reference MetaData,
    datamodels.py:48-69)."""
    html = b"""<html><head><title>T</title>
    <meta name="citation_journal_title" content="J. of Testing">
    <meta name="citation_issn" content="1234-5678">
    <meta name="citation_subtitle" content="A Subtitle">
    <meta name="citation_reference" content="citation_title=Deep Blue;citation_doi=10.1000/xyz.1">
    </head><body><h1>T</h1>
    <p>Published under doi:10.5000/self.9 with enough words to stay content.</p>
    <h2>References</h2>
    <ul><li><cite>Red Sea Study. doi:10.2000/abc.2</cite></li>
    <li><cite>Uncited plain title</cite></li></ul>
    </body></html>"""
    m = _doc(html)["metadata"]
    assert m["journal"] == "J. of Testing"
    assert m["issn"] == "1234-5678"
    assert m["subtitle"] == "A Subtitle"
    assert m["doi"] == "10.5000/self.9"  # cite DOIs never shadow the page DOI
    refs = {(r["doi"], r["title"]) for r in m["references"]}
    assert ("10.1000/xyz.1", "Deep Blue") in refs
    assert ("10.2000/abc.2", "Red Sea Study") in refs
    assert (None, "Uncited plain title") in refs


def test_citation_doi_meta_wins():
    html = b"""<html><head><meta name="citation_doi" content="10.9999/meta.1">
    </head><body><h1>T</h1><p>Mentions doi:10.1/other.2 in passing with many words here.</p>
    </body></html>"""
    assert _doc(html)["metadata"]["doi"] == "10.9999/meta.1"


# --- O7 true fuzzy dedup (reference text_models.py:356-374) -----------------

def test_fuzzy_counter_variants_collapse():
    """'3 comments' vs '4 comments' boilerplate differs by one digit —
    ratio > 95 — and must dedup to the longest (here: first) variant."""
    row = "Read the discussion - {} comments below the fold line here"
    html = (
        f"<html><body><h1>T</h1><p>{LONG}</p>"
        f"<p>{row.format(3)}</p><p>{LONG} Two.</p>"
        f"<p>{row.format(4)}</p><p>{LONG} Three.</p></body></html>"
    ).encode()
    t = _doc(html)["extracted_text"]
    assert "3 comments" in t
    assert "4 comments" not in t


def test_fuzzy_distinct_content_survives():
    a = "The experiment used a pin-on-disc tribometer at constant load."
    b = "The simulation used a finite-element contact model at high load."
    html = f"<html><body><h1>T</h1><p>{a}</p><p>{b}</p></body></html>".encode()
    t = _doc(html)["extracted_text"]
    assert a in t and b in t


def test_lev_capped_and_fuzzy_close():
    from document_extraction_service_spark.extract import textops as X
    assert X.lev_capped("kitten", "sitting", 9) == 5   # 2 subs (cost 2) + 1 ins
    assert X.lev_capped("abc", "abc", 2) == 0
    assert X.lev_capped("abcdef", "zzzzzz", 2) == 3          # capped at k+1
    # numbered headers differ by ONE substituted digit: fuzz.ratio 92.3,
    # below the 95 confidence -> must NOT be fuzzy-close
    assert not X.fuzzy_close("1introduction", "4introduction")
    assert X.fuzzy_close("a" * 50 + "3comments", "a" * 50 + "4comments")
    assert not X.fuzzy_close("completely different", "unrelated text here")
    assert X.fuzzy_close("", "")


def test_fuzzy_budget_is_deterministic():
    """Adversarial page (thousands of distinct same-length keys) must
    stay fast and produce identical output across runs."""
    import random, time
    rnd = random.Random(7)
    blocks = "".join(
        f"<p>qq{rnd.randrange(10**8):08d}qq padded words here now</p>" for _ in range(2000)
    )
    html = f"<html><body>{blocks}</body></html>".encode()
    t0 = time.time()
    out1 = _doc(html)["extracted_text"]
    assert time.time() - t0 < 2
    assert out1 == _doc(html)["extracted_text"]


def test_text_fallback_on_null_html():
    from document_extraction_service_spark.extract.pipeline import extract_document
    r = extract_document(None, "http://x/n", "de", "Line one here.\n\n  Line   two.  ")
    assert r["status"]["ok"] and r["status"]["fallback"]
    assert r["extraction"]["extracted_text"] == "Line one here.\nLine two."
    assert r["extraction"]["metadata"]["lang"] == "de"
    # html present -> DOM pipeline, no fallback
    r2 = extract_document(b"<p>Real html body with enough words to be kept.</p>",
                          "http://x/h", "en", "ignored crawl text")
    assert not r2["status"]["fallback"]
    assert "Real html body" in r2["extraction"]["extracted_text"]
    # both empty -> ok, empty, not fallback
    r3 = extract_document(b"", "http://x/e", "en", "   ")
    assert r3["status"]["ok"] and not r3["status"]["fallback"]
    assert r3["extraction"]["extracted_text"] == ""
