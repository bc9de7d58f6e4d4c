"""Workload ``job_mixed``: ``run_job`` over a bucketed parquet table of the
standard 7-family fixture mix, at local[nproc].

The production path: bucketed scan -> extraction UDF -> partitioned
parquet write -> lineage pass, with no shuffle.  One job in flight at a
time, closed loop; each run writes a fresh output and lineage directory.
The input is written in set-up, untimed by the runs.

A traced run first times untraced runs, then starts a new session with
Spark's event log on and times, per repetition, the scan into a noop
sink, the scan plus UDF into a noop sink, and the whole job.  In the same
session it then measures the operator-suite layers (``suite.py``).
"""

from __future__ import annotations

import hashlib
import pickle
import shutil
import subprocess
import sys
import time
from pathlib import Path

from . import common, suite
from .eventlog import phase_totals

PAGES_PER_CORE = 400
SETUPS = 3
MIN_RUNS = 8  # timed run_job calls after the first; they speed up as the JIT warms
SAMPLE = 64  # pages whose extracted text the output gate re-extracts in-process


def _write_input(spark, path: Path, ids: list[int], buckets: int, seed: int) -> None:
    from pyspark.sql import functions as F

    from document_extraction_service_spark.fixtures import pages_df

    index = F.regexp_extract("url", r"page-(\d+)\.html$", 1).cast("long")
    (pages_df(spark, ids[-1] + 1, seed=seed)
     .filter(index.isin(ids))
     .withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(buckets)).cast("int"))
     .repartition(buckets, "bucket")
     .write.partitionBy("bucket").parquet(str(path)))


def _parquet_files(path: Path) -> list[Path]:
    return sorted(path.rglob("*.parquet"))


def _check_output(out: Path, lineage: Path, ids: list[int], seed: int) -> None:
    """Committed rows and lineage totals equal the input count, and the
    extracted text of a fixed sample equals in-process extraction."""
    import pyarrow.dataset as ds

    from document_extraction_service_spark.extract.pipeline import extract_document
    from document_extraction_service_spark.fixtures import gen_page

    n = len(ids)
    rows = ds.dataset(str(out), format="parquet", partitioning="hive")
    if rows.count_rows() != n:
        raise common.GateFailure(f"job_mixed: {rows.count_rows()} committed rows, input has {n}")
    lin = ds.dataset(str(lineage), format="parquet").to_table(columns=["n_ok", "n_failed"])
    n_lin = sum(lin.column("n_ok").to_pylist()) + sum(lin.column("n_failed").to_pylist())
    if n_lin != n:
        raise common.GateFailure(f"job_mixed: lineage counts {n_lin} rows, input has {n}")
    pages = [gen_page(i, seed) for i in ids[::max(1, n // SAMPLE)]]
    want = {p["url"]: hashlib.md5(extract_document(p["html"], p["url"], p["lang"], p["text"])
                                  ["extraction"]["extracted_text"].encode()).hexdigest()
            for p in pages}
    got = rows.to_table(columns={"url": ds.field("url"),
                                 "text": ds.field("extraction", "extracted_text")},
                        filter=ds.field("url").isin(list(want))).to_pylist()
    have = {r["url"]: hashlib.md5(r["text"].encode()).hexdigest() for r in got}
    if have != want:
        bad = sorted(u for u in want if have.get(u) != want[u])
        raise common.GateFailure(f"job_mixed: extracted_text differs from in-process "
                                 f"extract_document for {len(bad)} sampled urls, e.g. {bad[0]}")


def _timed_job(spark, inp: Path, work: Path, tag: str, n: int,
               buckets: int) -> tuple[float, float, dict]:
    """One run_job call into fresh directories: (wall s, CPU s, metrics)."""
    from document_extraction_service_spark.job import run_job

    out, lin = work / f"out-{tag}", work / f"lineage-{tag}"
    c0, t0 = common.tree_cpu_s(), time.perf_counter()
    m = run_job(spark, str(inp), str(out), str(lin), tag, n_buckets=buckets)
    wall, cpu = time.perf_counter() - t0, common.tree_cpu_s() - c0
    if m["n_rows"] != n:
        raise common.GateFailure(f"job_mixed: run_job reports {m['n_rows']} rows, input has {n}")
    return wall, cpu, m


def _traced(spark, inp: Path, work: Path, n: int, buckets: int, seconds: float,
            tracer: common.Tracer) -> dict[str, list[float]]:
    """Repetitions of scan -> noop, scan + UDF -> noop and the whole job,
    each under a span and an event-log phase."""
    from pyspark.sql import functions as F

    from document_extraction_service_spark.job import read_pages
    from document_extraction_service_spark.udfs import extraction_col

    layers: dict[str, list[float]] = {k: [] for k in (
        "job.read_pages.s", "udfs.extraction_col.s", "job.run_job.plan_s",
        "job.run_job.write_s", "job.run_job.lineage_s", "job.write_only.s",
        "job.unattributed_s", "job.run_job.s")}
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(layers["job.run_job.s"]) < 2:
        k = len(layers["job.run_job.s"])
        common.set_phase(spark, f"read_pages.{k}")
        with tracer.span("job.read_pages") as scan:
            common.noop(read_pages(spark, str(inp)))
        common.set_phase(spark, f"extraction_col.{k}")
        with tracer.span("udfs.extraction_col") as udf:
            common.noop(read_pages(spark, str(inp))
                        .select("url", "warc_ts", "html", "lang", "text", "bucket")
                        .withColumn("_res", extraction_col())
                        .select("url", "warc_ts", "bucket", F.col("_res.extraction"),
                                F.col("_res.status")))
        common.set_phase(spark, f"run_job.{k}")
        with tracer.span("job.run_job") as job:
            _, _, m = _timed_job(spark, inp, work, f"t{k}", n, buckets)
        common.set_phase(spark, None)
        scan_s, udf_s, wall = ((r[3] - r[2]) / 1e9 for r in (scan, udf, job))
        plan, write, lineage = (m[key] / 1e3 for key in ("plan_ms", "write_ms", "lineage_ms"))
        # the layers add up to the job's wall time by construction
        layers["job.read_pages.s"].append(scan_s)
        layers["udfs.extraction_col.s"].append(udf_s - scan_s)
        layers["job.write_only.s"].append(write - udf_s)
        layers["job.run_job.plan_s"].append(plan)
        layers["job.run_job.write_s"].append(write)
        layers["job.run_job.lineage_s"].append(lineage)
        layers["job.unattributed_s"].append(wall - plan - write - lineage)
        layers["job.run_job.s"].append(wall)
    return layers


def _traced_child(inp: Path, work: Path, n: int, buckets: int, seconds: float,
                  log_dir: Path) -> tuple[dict, dict, list]:
    spark = common.start_spark("perfbench-job_mixed-traced", work, event_log=log_dir)
    tracer = common.Tracer()
    try:
        _timed_job(spark, inp, work, "warm", n, buckets)  # start the Python workers
        layers = _traced(spark, inp, work, n, buckets, seconds, tracer)
        return layers, suite.run_layers(spark, tracer), tracer.spans
    finally:
        common.stop_spark(spark)


def _traced_in_child(inp, work, n, buckets, seconds, log_dir, tracer):
    """Run the traced repetitions, then the operator-suite layers, in a
    fresh interpreter with its own driver JVM and the event log on.  A
    second driver JVM in this process would meet UDF objects still bound
    to the first one.  Arguments and results pass through pickle files."""
    args, result = work / "traced-args.pkl", work / "traced-result.pkl"
    with open(args, "wb") as f:
        pickle.dump((inp, work, n, buckets, seconds, log_dir), f)
    subprocess.run([sys.executable, "-m", "perfbench.job_mixed", str(args), str(result)],
                   cwd=common.ROOT, check=True)
    with open(result, "rb") as f:
        layers, suite_values, spans = pickle.load(f)
    tracer.extend(spans)
    return layers, suite_values


EVENT_LAYERS = {
    "python_run_s": "udfs.python_run_s",
    "python_start_s": "udfs.python_start_s",
    "python_init_s": "udfs.python_init_s",
    "bytes_to_python": "udfs.bytes_to_python",
    "bytes_from_python": "udfs.bytes_from_python",
    "executor_run_s": "spark.executor_run_s",
    "executor_cpu_s": "spark.executor_cpu_s",
    "gc_s": "spark.gc_s",
    "tasks": "spark.tasks",
    "task_attempts": "spark.task_attempts",
}


def run(seed: int, seconds: float, trace: bool, tracer: common.Tracer) -> dict:
    ids, buckets = common.page_ids(PAGES_PER_CORE * common.nproc(), seed), 8 * common.nproc()
    n = len(ids)
    work = common.scratch_dir("job_mixed")
    log_dir = work / "eventlog"
    t0 = time.perf_counter()
    spark = common.start_spark("perfbench-job_mixed", work)
    session_s = time.perf_counter() - t0
    try:
        input_s = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            _write_input(spark, work / f"input-{k}", ids, buckets, seed)
            input_s.append(time.perf_counter() - t0)
        inp = work / f"input-{SETUPS - 1}"
        for k in range(SETUPS - 1):
            shutil.rmtree(work / f"input-{k}")

        first_s, _, m = _timed_job(spark, inp, work, "first", n, buckets)
        failed = n - m["n_ok"]
        walls, cpus, refs, attempted, last = [], [], [], n, "first"
        t_end = time.perf_counter() + (seconds / 3 if trace else seconds)
        with common.ProbeSampler() as probe:
            while time.perf_counter() < t_end or len(walls) < MIN_RUNS:
                tag = f"r{len(walls)}"
                t0 = time.perf_counter()
                wall, cpu, m = _timed_job(spark, inp, work, tag, n, buckets)
                refs.append(wall / probe.fastest(t0, time.perf_counter()))
                attempted, failed = attempted + n, failed + n - m["n_ok"]
                walls.append(wall)
                cpus.append(cpu)
                for d in (f"out-{last}", f"lineage-{last}"):
                    shutil.rmtree(work / d)
                last = tag
        out = work / f"out-{last}"
        _check_output(out, work / f"lineage-{last}", ids, seed)
        values = {
            "setup_s": session_s + common.median(input_s),
            "setup.session_s": session_s,
            "setup.input_s": common.median(input_s),
            "job.first_run_s": first_s,
            # fastest repetition: the host's CPU speed swings over seconds
            "pass_ref": min(refs),
            "job.pass_s": min(walls),
            "job.pass_cpu_s": min(cpus),
            "job.docs_per_s": n / min(walls),
            "job.out_bytes_per_doc": sum(f.stat().st_size for f in _parquet_files(out)) / n,
        }
        values.update(common.tree_hwm_mb())
    finally:
        common.stop_spark(spark)
    if trace:
        layers, suite_values = _traced_in_child(inp, work, n, buckets, seconds * 2 / 3,
                                                log_dir, tracer)
        attempted += n * len(layers["job.run_job.s"])
        # every layer from the same repetition, the one of median wall time,
        # so that the layers still add up to its wall time
        walls_t = layers["job.run_job.s"]
        mid = sorted(range(len(walls_t)), key=walls_t.__getitem__)[(len(walls_t) - 1) // 2]
        values.update({k: v[mid] for k, v in layers.items()})
        values.update(suite_values)
        values["trace.overhead_ratio"] = min(layers["job.run_job.s"]) / values["job.pass_s"]
        phases = phase_totals(log_dir)
        values.update(suite.event_layers(phases))
        runs = [v for k, v in phases.items() if k.startswith("run_job.")]
        for src, name in EVENT_LAYERS.items():
            values[name] = common.median([r.get(src, 0.0) for r in runs])
        per_bucket: dict[str, int] = {}
        files = _parquet_files(work / "out-t0")
        for f in files:
            per_bucket[f.parent.name] = per_bucket.get(f.parent.name, 0) + f.stat().st_size
        sizes = sorted(per_bucket.values())
        values["job.output_files"] = float(len(files))
        values["job.bucket_bytes_skew"] = sizes[-1] / common.median(sizes)
    return {"values": values, "attempted": attempted, "failed": failed,
            "report": {"pages": n, "buckets": buckets, "input_s": input_s,
                       "run_job_s": walls}}


if __name__ == "__main__":  # the traced child: python3 -m perfbench.job_mixed ARGS RESULT
    common.require_program()
    with open(sys.argv[1], "rb") as f:
        child_args = pickle.load(f)
    with open(sys.argv[2], "wb") as f:
        pickle.dump(_traced_child(*child_args), f)
