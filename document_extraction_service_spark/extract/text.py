"""Block classification + text assembly.

The analog of the reference's TextStrategy
(/root/reference/app/core/extraction_modul/apis/text_api.py): classify
each block as content or boilerplate (F2/F3/F6, O6/O7, J6), then build
the Chapter -> Paragraph -> Sentence tree (W3-W6, J5, F7/F8) and the
flat ``extracted_text`` that carries the byte-identical invariant.

All functions are pure; the only inputs are the parsed block frame and
the constants in textops.py.
"""

from __future__ import annotations

from collections import Counter
from operator import sub

from . import textops as X


def block_words(blocks) -> list[int]:
    """Word count of each block, ``len(b.text.split())``.  Block text is
    whitespace-normalized by the parser (``htmlparse._norm_ws``): words
    joined by single spaces, no other whitespace, never empty — so
    counting spaces is exact, and one C-level pass instead of a split
    of a possibly megabyte-long block."""
    return [b.text.count(" ") + 1 for b in blocks]


def _header_like(blocks, k, words) -> bool:
    """Non-markup header detection (reference _identify_headers,
    text_api.py:285-356): a short, link-free block becomes a heading
    when it is

      * a COMMON_HEADERS phrase (text_api.py:320-329, whole-phrase
        match — see textops.COMMON_HEADERS), or
      * enumerated ("^\\d") after a block ending in '.'
        (starts_with_number ∧ prevEndsWithPoint, text_api.py:301,332)
        and followed by a content-length block (long_textBlock_after,
        text_api.py:307 — gate added so numbered list items after
        prose never promote), or
      * rendered entirely bold (`<b>`/`<strong>` ≥ 90% of chars) and
        followed by a content-length block — the DOM-native stand-in
        for the reference's font-size signal.

    Gates shared with the reference: < HEADER_MAX_WORDS words
    (text_api.py:313), > HEADER_MIN_CHARS non-space chars
    (text_api.py:317).

    ``words[k]`` is the word count of ``blocks[k]`` (``block_words``).
    """
    b = blocks[k]
    if words[k] >= X.HEADER_MAX_WORDS or b.n_link_chars > 0:
        return False
    # non-space chars: the text has words[k] - 1 single spaces
    if b.n_chars - words[k] + 1 <= X.HEADER_MIN_CHARS:
        return False
    if X.is_common_header(b.text):
        return True
    nxt = blocks[k + 1] if k + 1 < len(blocks) else None
    next_is_content = (
        nxt is not None
        and not nxt.in_chrome
        and words[k + 1] >= X.MIN_CONTENT_WORDS
    )
    if not next_is_content:
        return False
    if b.n_bold_chars * 10 >= b.n_chars * 9 and not b.text.endswith("."):
        return True
    if b.text[:1].isdigit():
        prev = blocks[k - 1] if k > 0 else None
        if prev is not None and prev.text.endswith("."):
            return True
    return False


# chars the bucketed fuzzy bound counts one by one (frequent letters and
# the digits that tell "3 comments" from "4 comments"); all other chars
# share one bucket
_BUCKET_CHARS = "etaoinsrhl0123456789"


def _char_buckets(key: str) -> list[int]:
    """Count of each ``_BUCKET_CHARS`` char in key, then of all others."""
    v = list(map(key.count, _BUCKET_CHARS))
    v.append(len(key) - sum(v))
    return v


def _merge_fuzzy_groups(groups: dict[str, list[int]]) -> None:
    """O7 true fuzzy semantics (reference get_textual_duplicates,
    text_models.py:356-374): near-identical keys — Levenshtein ratio
    > 95, the deterministic X9 stand-in for fuzz.ratio — collapse into
    one group, so boilerplate variants differing by a counter or date
    ("3 comments" / "4 comments") dedup like exact matches.

    Candidate pairs are limited to keys within the feasible length
    window, scanned in sorted order under a fixed comparison budget:
    an adversarial page with thousands of same-length unique keys
    degrades to exact-key behaviour (deterministically — the budget
    cuts the same pairs every run), never to O(n^2) wall time."""
    keys = sorted((k for k in groups if k), key=lambda k: (len(k), k))
    if len(keys) < 2:
        return
    parent = {k: k for k in keys}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # char-multiset counts per key: sum |count_a(c) - count_b(c)| lower-
    # bounds the weighted edit distance (each indel moves one count at
    # cost 1, each substitution moves two at cost 2), so most distinct
    # pairs are pruned in O(alphabet) without touching the DP.  The
    # same L1 over _char_buckets runs first: summing counts into buckets
    # never raises |a - b|, so it is <= d_lb and rejects only pairs d_lb
    # rejects, in a C-level map instead of a generator over a Counter.
    # Counters are built only for pairs that pass it.  (A numpy-broadcast
    # variant was measured SLOWER at realistic key counts (~12/doc):
    # per-doc array overhead beats the Python loop.)
    vecs = [_char_buckets(k) for k in keys]
    cnts: list = [None] * len(keys)
    budget = X.FUZZY_MAX_COMPARISONS
    for i, a in enumerate(keys):
        if budget <= 0:
            break
        va = vecs[i]
        la = len(a)
        for j in range(i + 1, len(keys)):
            b = keys[j]
            if len(b) - la > X._FUZZY_MAX_K:
                break  # keys sorted by length: no further candidate
            kmax = (la + len(b) - 1) // 20
            if len(b) - la > kmax:
                continue
            if sum(map(abs, map(sub, va, vecs[j]))) > kmax:
                continue
            if cnts[i] is None:
                cnts[i] = Counter(a)
            if cnts[j] is None:
                cnts[j] = Counter(b)
            ca, cb = cnts[i], cnts[j]
            d_lb = sum(abs(cnt - cb.get(ch, 0)) for ch, cnt in ca.items())
            d_lb += sum(cnt for ch, cnt in cb.items() if ch not in ca)
            if d_lb > kmax:
                continue
            budget -= 1
            if X.fuzzy_close(a, b):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
            if budget <= 0:
                break
    for k in keys:
        r = find(k)
        if r != k:
            groups[r].extend(groups.pop(k))
    for idxs in groups.values():
        idxs.sort()


def classify_blocks(blocks) -> list[str]:
    """Label each block: 'content' | 'heading' | 'title' | 'drop'.

    Order of rules (each cites its reference analog):
      1. chrome ancestors (nav/footer/aside)          — F3/J6 structural
      2. recurring exact text > RECURRING_MAX         — O6 (text_models.py:377-390)
      3. fuzzy-duplicate groups keep longest          — O7 (text_models.py:331-374)
      4. boilerplate patterns on short blocks         — F3 (util_functions.py:13-21)
      5. link/text density                            — F2 (text_api.py:144-187)
      6. sandwich resurrection of short blocks        — W8 (table_models.py:908-911)
    """
    n = len(blocks)
    labels = ["drop"] * n
    words = block_words(blocks)

    exact_counts = Counter(b.text for b in blocks)
    fuzzy_groups: dict[str, list[int]] = {}
    for k, b in enumerate(blocks):
        fuzzy_groups.setdefault(X.fuzzy_key(b.text), []).append(k)
    _merge_fuzzy_groups(fuzzy_groups)
    fuzzy_drop = set()
    for key, idxs in fuzzy_groups.items():
        if key and len(idxs) >= 2:
            keep = max(idxs, key=lambda k: (blocks[k].n_chars, -k))
            fuzzy_drop.update(k for k in idxs if k != keep)

    seen_title = False
    for k, b in enumerate(blocks):
        if b.in_chrome:
            continue
        if exact_counts[b.text] > X.RECURRING_MAX:
            continue
        if k in fuzzy_drop:
            continue
        if (
            words[k] <= X.BOILER_MAX_WORDS
            and b.n_chars <= X.BOILER_MAX_CHARS
            and X.is_boilerplate(b.text)
        ):
            continue
        link_density = b.n_link_chars / max(b.n_chars, 1)
        if b.heading == 1 and not seen_title:
            labels[k] = "title"
            seen_title = True
        elif b.heading >= 1:
            labels[k] = "heading"
        elif _header_like(blocks, k, words):
            labels[k] = "heading"
        elif words[k] >= X.MIN_CONTENT_WORDS and link_density <= X.LINK_DENSITY_MAX:
            labels[k] = "content"
        elif link_density <= X.LINK_DENSITY_MAX:
            labels[k] = "short"  # sandwich candidate
    # sandwich pass (W8): a short block between two content blocks is content
    for k in range(n):
        if labels[k] == "short":
            prev_c = next((labels[j] for j in range(k - 1, -1, -1) if labels[j] != "drop"), None)
            next_c = next((labels[j] for j in range(k + 1, n) if labels[j] != "drop"), None)
            labels[k] = "content" if prev_c == "content" and next_c == "content" else "drop"
    return labels


def build_text(blocks, labels):
    """-> (extracted_text, chapters, block_offsets, title_guess)

    chapters: [{'header': str|None, 'paragraphs': [{'sentences': [str]}]}]
    block_offsets: {block_idx: (start, end)} char spans into
    extracted_text — the span replacement for the reference's bbox
    geometry (used to anchor tables/figures).

    extracted_text layout: one line per header and per paragraph
    (sentences joined by ' '), lines joined by '\\n' (FIXTURES.md §3).
    """
    chapters: list[dict] = []
    lines: list[str] = []
    offsets: dict[int, tuple[int, int]] = {}
    title_guess = ""
    cur: dict | None = None
    pos = 0

    def _emit_line(text: str, block_idx: int) -> None:
        nonlocal pos
        start = pos if not lines else pos + 1  # +1 for the joining '\n'
        lines.append(text)
        end = start + len(text)
        offsets[block_idx] = (start, end)
        pos = end

    for k, b in enumerate(blocks):
        lab = labels[k]
        if lab == "title":
            title_guess = b.text
            continue
        if lab == "heading":
            cur = {"header": b.text, "paragraphs": [], "_hidx": k}
            chapters.append(cur)
            continue
        if lab != "content":
            continue
        text = X.dehyphenate(b.text)
        sentences = X.split_sentences(text)
        sentences = [s for s in sentences if s.strip()]  # F7
        if not sentences:
            continue
        if cur is None:
            cur = {"header": None, "paragraphs": [], "_hidx": None}
            chapters.append(cur)
        cur["paragraphs"].append({"sentences": sentences, "_bidx": k})

    # F7/F8: drop empty chapters and chapters below the char floor
    kept = []
    for ch in chapters:
        total = sum(len(s) for p in ch["paragraphs"] for s in p["sentences"])
        if ch["paragraphs"] and total >= X.MIN_CHAPTER_CHARS:
            kept.append(ch)

    for ch in kept:
        if ch["header"] is not None:
            _emit_line(ch["header"], ch["_hidx"])
        for p in ch["paragraphs"]:
            _emit_line(" ".join(p["sentences"]), p["_bidx"])

    out_chapters = [
        {
            "header": ch["header"],
            "paragraphs": [{"sentences": p["sentences"]} for p in ch["paragraphs"]],
        }
        for ch in kept
    ]
    return "\n".join(lines), out_chapters, offsets, title_guess


def anchor_span(anchor_idx: int, offsets: dict) -> dict:
    """Span of the nearest kept block at or before anchor_idx; the
    insertion point for a table/figure in the text flow.  (-1,-1) when
    nothing precedes it."""
    for k in range(anchor_idx - 1, -1, -1):
        if k in offsets:
            s, e = offsets[k]
            return {"start": s, "end": e}
    return {"start": -1, "end": -1}
