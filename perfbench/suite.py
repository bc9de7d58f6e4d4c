"""Operator-suite layers: a fixed cross-section of
``__spark_entry__.queries()`` at scale factor 0.01, written to the noop
sink.  The traced ``job_mixed`` run measures them in its Spark session.

JVM shuffle, join, aggregate and window work with no Python workers,
from each operator module that runs without them, with the round-7
regressions ``rel_range_join`` and ``web_host_pagerank``.  One query in
flight at a time.  The tables under ``data/sf0.01`` are copies of the
seed-42 scale-0.01 test tables and ignore the workload seed.

This is not a timed workload of its own.  At this scale the pass time
keeps falling through seven passes while the JIT warms, and runs of it
spread by 10-16%, too much for a regression bound.

The first (cold) pass collects each query and compares it with its
DuckDB ``oracle_sql()``; PASSES timed passes into the noop sink follow.
"""

from __future__ import annotations

import math
import time
from pathlib import Path

from . import common

DATA = Path(__file__).resolve().parent / "data" / "sf0.01"
QUERIES = (
    "rel_pricing_summary",
    "rel_sessionize",
    "rel_range_join",
    "dedup_exact",
    "ann_topk_bruteforce",
    "text_top_ngrams",
    "corpus_drift",
    "curate_quality_gate",
    "web_host_pagerank",
    "web_url_dedup",
)
PASSES = 2
EVENT_LAYERS = ("shuffle_bytes", "spill_bytes", "gc_s", "executor_run_s", "tasks")


def _normalize(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def _frame_key(rows, cols) -> list[tuple]:
    """Order-insensitive rows with columns sorted by name, floats to nine
    significant digits: the comparison of scripts/check_oracles.py."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_normalize(r[i]) for i in order) for r in rows)


def _modules() -> dict[str, str]:
    """query -> operators module that defines it."""
    from document_extraction_service_spark import operators

    out = {}
    for mod in ("relational", "dedup", "similarity", "textstats", "multimodal",
                "curation", "weburl"):
        for q in getattr(operators, mod).QUERIES:
            out[q] = mod
    return out


def run_layers(spark, tracer: common.Tracer) -> dict[str, float]:
    """Cold pass with the oracle check, then PASSES timed passes, each
    under the event-log phase ``suite.pass.<k>``."""
    import duckdb

    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    sf = str(DATA)
    cold, mismatched = 0.0, []
    with duckdb.connect() as con:
        for table in sorted(DATA.glob("*.parquet")):
            con.sql(f"CREATE VIEW {table.stem} AS SELECT * FROM '{table}'")
        common.set_phase(spark, "suite.cold")
        for q in QUERIES:
            t0 = time.perf_counter()
            df = queries[q](spark, sf)
            rows = [tuple(r) for r in df.collect()]
            cold += time.perf_counter() - t0
            ora = con.sql(oracles[q])
            if _frame_key(rows, df.columns) != _frame_key(
                    ora.fetchall(), [d[0] for d in ora.description]):
                mismatched.append(q)
    if mismatched:
        raise common.GateFailure(f"suite: output differs from oracle_sql() for {mismatched}")

    per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
    for k in range(PASSES):
        common.set_phase(spark, f"suite.pass.{k}")
        for q in QUERIES:
            with tracer.span(f"q.{q}") as span:
                common.noop(queries[q](spark, sf))
            per_query[q].append((span[3] - span[2]) / 1e9)
    common.set_phase(spark, None)

    fastest = {q: min(v) for q, v in per_query.items()}
    values = {"suite.cold_pass_s": cold, "suite.pass_s": sum(fastest.values()),
              "suite.geomean_s": common.geomean(fastest.values())}
    modules = _modules()
    for q, sec in fastest.items():
        values[f"q.{q}_s"] = sec
        key = f"operators.{modules[q]}_s"
        values[key] = values.get(key, 0.0) + sec
    return values


def event_layers(phases: dict[str, dict[str, float]]) -> dict[str, float]:
    """Per-pass medians of the suite's task metrics."""
    passes = [v for k, v in phases.items() if k.startswith("suite.pass.")]
    return {f"suite.{src}": common.median([p.get(src, 0.0) for p in passes])
            for src in EVENT_LAYERS}
