"""Fast regex tokenizer == stdlib html.parser, field-for-field.

The fast engine drives the same _BlockParser state machine; only the
tokenization differs.  Equality is asserted on the full ParseResult
(blocks, tables, figures, meta, lang, title, truncated) across a
corpus sample plus adversarial probes."""

import pytest

from document_extraction_service_spark import fixtures as fx
from document_extraction_service_spark.htmlparse import parse_html


@pytest.mark.parametrize("lo,hi", [(0, 400), (1000, 1200), (3000, 3100)])
def test_corpus_equivalence(lo, hi):
    for i in range(lo, hi):
        r = fx.gen_page(i)
        assert parse_html(r["html"], "fast") == parse_html(r["html"], "stdlib"), i


@pytest.mark.parametrize("seed", [11, 12])
def test_benchmark_mix_equivalence(seed):
    """The page mix of the benchmark (``perfbench.common.page_ids``): exact
    per-family and per-kind counts, so each seed holds ~1 MB
    single-paragraph edge pages and pages whose script or style element
    restarts the fast tokenizer's scan."""
    from perfbench.common import page_ids

    giants = raw_text = 0
    for i in page_ids(1500, seed):
        html = fx.gen_page(i, seed)["html"]
        body = html or b""
        giants += len(body) > 1_000_000
        raw_text += b"<script" in body or b"<style" in body
        assert parse_html(html, "fast") == parse_html(html, "stdlib"), (seed, i)
    assert giants >= 4 and raw_text >= 2


ADVERSARIAL = [
    b"",
    None,
    b"<html><p>a & b &amp; c &lt;tag&gt;</p>",
    b"<script>if (a<b && c>d) {x='<p>'}</script><p>real</p>",
    b"<style>p > a {color:red}</style><p>styled</p>",
    b"<p>unclosed <a href='x' <p>next</p>",
    b"<!-- <p>commented</p> --><p>live</p>",
    b"<P CLASS=loud>UPPER</P>",
    b"<td colspan=2>unquoted</td>",
    b"<p>ends <",
    b"<p>amp at end &",
    b"<title>T &amp; T</title><p>body text here okay</p>",
    b"<textarea><p>parsed as markup by stdlib</p></textarea><p>after</p>",
    b"\xff\xfe" + "utf16 <p>hi</p>".encode("utf-16-le"),
    bytes(range(256)),
    b"<table><tr><td>a<table><tr><td>inner</td></tr></table></td></tr></table>",
    b"<figure><img src=x.png><figcaption>Fig. 1 cap</figcaption></figure>",
    b"<meta name=author content=Jane><meta name='author' content='Bob'>",
    b"<script src=x.js>",  # unclosed raw-text element
    b"<style>a</style><script>1<2</script><p>x &amp; y</p><script>'</p>'</SCRIPT >tail &lt;",
    b"<p>a<br/>b</p><style type=x>p{}</style><p>c</p><style></style>",
    b"<noscript><script>x</script>hidden</noscript><p>shown</p>",  # raw text inside a skipped element
    b"</\xef\xbf\xbdtd><td\xef\xbf\xbd>bogus tags</td>",
]


@pytest.mark.parametrize("idx", range(len(ADVERSARIAL)))
def test_adversarial_equivalence(idx):
    payload = ADVERSARIAL[idx]
    assert parse_html(payload, "fast") == parse_html(payload, "stdlib")
