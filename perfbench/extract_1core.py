"""Workload ``extract_1core``: ``extract_document`` in-process on one
thread, without Spark, over the standard 7-family fixture mix.

The single-thread baseline of the UDF body.  Passes over one page set
run closed loop, one document at a time.  A traced run interleaves
untraced passes with passes through ``staged_extract``, which times each
public stage function of ``extract/pipeline.py`` on the thread-CPU
clock.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import nullcontext

from . import common

PAGES = 1500
SETUPS = 3
CHUNK = 50  # pages per timed chunk

STAGES = (
    "htmlparse.parse_html",
    "extract.text.classify_blocks",
    "extract.text.build_text",
    "extract.tables.extract_tables",
    "extract.images.extract_images",
    "extract.metadata.extract_metadata",
    "extract.pipeline.fallback",
)


def _no_span(_name):
    return nullcontext()


def staged_extract(html, url, lang, text, span=_no_span) -> dict:
    """``extract_document`` split into its stage calls, each under a span.
    Raises where ``extract_document`` would report status.ok = false; the
    output gate checks that both return the same thing for every page."""
    from document_extraction_service_spark.extract.images import extract_images
    from document_extraction_service_spark.extract.metadata import extract_metadata
    from document_extraction_service_spark.extract.pipeline import _text_fallback
    from document_extraction_service_spark.extract.tables import extract_tables
    from document_extraction_service_spark.extract.text import build_text, classify_blocks
    from document_extraction_service_spark.htmlparse import parse_html

    if (html is None or not html.strip()) and text and text.strip():
        with span("extract.pipeline.fallback"):
            return _text_fallback(text, lang)
    with span("htmlparse.parse_html"):
        parsed = parse_html(html)
    with span("extract.text.classify_blocks"):
        labels = classify_blocks(parsed.blocks)
    with span("extract.text.build_text"):
        extracted_text, chapters, offsets, title_guess = build_text(parsed.blocks, labels)
    with span("extract.tables.extract_tables"):
        tables, tables_truncated = extract_tables(parsed, labels, parsed.blocks, offsets)
    with span("extract.images.extract_images"):
        images = extract_images(parsed, offsets)
    with span("extract.metadata.extract_metadata"):
        metadata = extract_metadata(parsed, chapters, title_guess, lang)
    return {
        "extraction": {
            "extracted_text": extracted_text,
            "chapters": chapters,
            "tables": tables,
            "images": images,
            "metadata": metadata,
        },
        "status": {
            "ok": True,
            "error": None,
            "truncated": bool(parsed.truncated or tables_truncated),
            "fallback": False,
            "n_blocks": len(parsed.blocks),
            "n_tables": len(tables),
            "n_images": len(images),
        },
    }


def _pass(pages) -> tuple[list[float], list[float], list[float], list[dict]]:
    """One untraced pass: wall and thread-CPU seconds of each chunk of
    CHUNK pages, the reference probe's CPU seconds right after each chunk,
    and the results."""
    from document_extraction_service_spark.extract.pipeline import extract_document

    walls, cpus, probes, out = [], [], [], []
    for lo in range(0, len(pages), CHUNK):
        w0, c0 = time.perf_counter(), time.thread_time()
        out.extend(extract_document(p["html"], p["url"], p["lang"], p["text"])
                   for p in pages[lo:lo + CHUNK])
        walls.append(time.perf_counter() - w0)
        cpus.append(time.thread_time() - c0)
        probes.append(common.ref_probe())
    return walls, cpus, probes, out


def _fastest(passes: list[list[float]]) -> float:
    """Sum over chunks of each chunk's fastest time in the run.  The host's
    CPU speed swings by a fifth over seconds; the fastest of several
    passes of a short chunk is steady where the median of passes is not."""
    return sum(min(times) for times in zip(*passes))


def _staged_pass(pages, tracer: common.Tracer | None = None) -> tuple[float, list]:
    """One pass through ``staged_extract``: (thread CPU s, results, None
    where the stage composition raised).  With a tracer, each document and
    each stage call runs under a span."""
    span = tracer.span if tracer else _no_span
    c0 = time.thread_time()
    out = []
    for p in pages:
        with span("extract.document"):
            try:
                out.append(staged_extract(p["html"], p["url"], p["lang"], p["text"], span))
            except Exception:  # extract_document reports these as status.ok = false
                out.append(None)
    return time.thread_time() - c0, out


def _check_staged(staged: list, ref: list[dict]) -> None:
    for i, (s, r) in enumerate(zip(staged, ref)):
        if s is None and not r["status"]["ok"]:
            continue
        if s != r:
            raise common.GateFailure(
                f"extract_1core: staged composition differs from extract_document "
                f"on page {i}; the traced stages no longer match extract/pipeline.py")


def run(seed: int, seconds: float, trace: bool, tracer: common.Tracer) -> dict:
    from document_extraction_service_spark import fixtures

    input_s = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        pages = [fixtures.gen_page(i, seed) for i in common.page_ids(PAGES, seed)]
        input_s.append(time.perf_counter() - t0)
    n_pages = len(pages)
    families = [p["url"].split("/")[3] for p in pages]

    first_walls, _, _, ref = _pass(pages)
    walls, cpus, probes, traced_cpus, attempted = [], [], [], [], n_pages
    stage_cpu: dict[str, list[float]] = defaultdict(list)
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(walls) < 2:
        wall, cpu, probe, out = _pass(pages)
        attempted += n_pages
        if out != ref:
            raise common.GateFailure("extract_1core: a pass returned other results "
                                     "than the first pass over the same pages")
        walls.append(wall)
        cpus.append(cpu)
        probes.append(probe)
        if trace:
            n0 = len(tracer.spans)
            cpu, staged = _staged_pass(pages, tracer)
            _check_staged(staged, ref)
            traced_cpus.append(cpu)
            sums: dict[str, float] = defaultdict(float)
            for rec, own in zip(tracer.spans[n0:], tracer.self_cpu_times(n0)):
                sums[rec[0]] += own
            for name in STAGES + ("extract.document",):
                stage_cpu[name].append(sums.get(name, 0.0))
    if not trace:
        _check_staged(_staged_pass(pages)[1], ref)

    failed = sum(not r["status"]["ok"] for r in ref) * (attempted // n_pages)  # per pass
    pass_cpu = [sum(c) for c in cpus]
    values = {
        "setup_s": common.median(input_s),
        "setup.input_s": common.median(input_s),
        "extract.first_pass_s": sum(first_walls),
        "extract.pass_s": _fastest(walls),
        "extract.pass_cpu_s": _fastest(cpus),
        "pass_ref": _fastest(cpus) / _fastest(probes),
        "extract.docs_per_cpu_s": n_pages / _fastest(cpus),
        "htmlparse.bytes_in": float(sum(len(p["html"] or b"") for p in pages)),
        "htmlparse.blocks": float(sum(r["status"]["n_blocks"] for r in ref
                                      if not r["status"]["fallback"])),
        "status.truncated": float(sum(r["status"]["truncated"] for r in ref)),
        "status.fallback": float(sum(r["status"]["fallback"] for r in ref)),
    }
    if trace:
        for name in STAGES:
            values[f"{name}.cpu_s"] = common.median(stage_cpu[name])
        # pipeline glue: document span time no stage span covers
        values["extract.unattributed.cpu_s"] = common.median(stage_cpu["extract.document"])
        values["trace.overhead_ratio"] = common.median(traced_cpus) / common.median(pass_cpu)
        doc_ms = [(r[5] - r[4]) / 1e6 for r in tracer.spans if r[0] == "extract.document"]
        values["extract.doc_ms_p50"] = common.percentile(doc_ms, 50)
        values["extract.doc_ms_p99"] = common.percentile(doc_ms, 99)
        per_family: dict[str, list[float]] = defaultdict(list)
        for k, ms in enumerate(doc_ms):
            per_family[families[k % n_pages]].append(ms)
        for fam in fixtures.FAMILIES:
            values[f"fixtures.{fam}.ms_per_doc"] = (
                sum(per_family[fam]) / len(per_family[fam]) if per_family[fam] else 0.0)
    values.update(common.tree_hwm_mb())
    return {"values": values, "attempted": attempted, "failed": failed,
            "report": {"pages": n_pages, "input_s": input_s, "pass_cpu_s": pass_cpu}}
