"""Job-level tests: lineage, resume, idempotence (SURVEY §5.2 item 5,
FIXTURES.md §5)."""

import glob

import pytest
from pyspark.sql import functions as F

from document_extraction_service_spark.job import run_job
from document_extraction_service_spark.schema import LINEAGE_SCHEMA

N = 200
BUCKETS = 16


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "out"), str(tmp_path / "lineage")


def _lineage_files(lin):
    return sorted(glob.glob(f"{lin}/*.parquet"))


def _lineage_by_bucket(spark, lin, run_id):
    rows = (
        spark.read.schema(LINEAGE_SCHEMA).parquet(lin)
        .filter(F.col("run_id") == run_id)
        .collect()
    )
    return {r["bucket"]: (r["n_ok"], r["n_failed"], r["n_truncated"], r["n_fallback"])
            for r in rows}


def test_full_run_counts(spark, dirs):
    out, lin = dirs
    m = run_job(spark, f"synthetic:{N}", out, lin, "t-full", n_buckets=BUCKETS)
    assert m["n_rows"] == N
    assert m["n_ok"] == N
    df = spark.read.parquet(out)
    assert df.count() == N
    assert df.select("url").distinct().count() == N
    lineage = spark.read.parquet(lin)
    assert lineage.agg(F.sum("n_ok")).collect()[0][0] == N


def test_each_run_appends_one_lineage_file_matching_output(spark, dirs):
    """Every run_job adds exactly one lineage file; its rows count the
    committed output bucket by bucket and sum to the returned totals."""
    out, lin = dirs
    for k, run_id in enumerate(("t-a", "t-b"), start=1):
        m = run_job(spark, f"synthetic:{N}", out, lin, run_id, n_buckets=BUCKETS)
        assert len(_lineage_files(lin)) == k
        lineage = _lineage_by_bucket(spark, lin, run_id)
        committed = {
            r["bucket"]: (r["n_ok"], r["n_failed"], r["n_truncated"], r["n_fallback"])
            for r in spark.read.parquet(out).groupBy("bucket").agg(
                F.sum(F.col("status.ok").cast("long")).alias("n_ok"),
                F.sum((~F.col("status.ok")).cast("long")).alias("n_failed"),
                F.sum(F.col("status.truncated").cast("long")).alias("n_truncated"),
                F.sum(F.col("status.fallback").cast("long")).alias("n_fallback"),
            ).collect()
        }
        assert lineage == committed
        assert len(lineage) == BUCKETS
        assert sum(ok + failed for ok, failed, _, _ in lineage.values()) == m["n_rows"] == N
        assert sum(v[0] for v in lineage.values()) == m["n_ok"]
        assert sum(v[2] for v in lineage.values()) == m["n_truncated"]
        assert sum(v[3] for v in lineage.values()) == m["n_fallback"]


def test_kill_and_resume_equals_clean_run(spark, dirs, tmp_path):
    """Partial run (simulated kill after half the buckets committed) +
    --resume rerun == one clean full run, no duplicate urls."""
    out, lin = dirs
    half = list(range(BUCKETS // 2))
    m1 = run_job(spark, f"synthetic:{N}", out, lin, "t-part",
                 n_buckets=BUCKETS, only_buckets=half)
    assert 0 < m1["n_rows"] < N

    m2 = run_job(spark, f"synthetic:{N}", out, lin, "t-resume",
                 n_buckets=BUCKETS, resume=True)
    assert set(m2["skipped_buckets"]) == set(half)
    assert m1["n_rows"] + m2["n_rows"] == N
    # one lineage file per run; the resumed run records only the rest
    assert len(_lineage_files(lin)) == 2
    assert set(_lineage_by_bucket(spark, lin, "t-part")) == set(half)
    assert set(_lineage_by_bucket(spark, lin, "t-resume")) == set(range(BUCKETS)) - set(half)

    resumed = spark.read.parquet(out)
    assert resumed.count() == N
    assert resumed.select("url").distinct().count() == N

    clean_out = str(tmp_path / "clean")
    clean_lin = str(tmp_path / "clean_lineage")
    run_job(spark, f"synthetic:{N}", clean_out, clean_lin, "t-clean", n_buckets=BUCKETS)
    clean = spark.read.parquet(clean_out)
    a = {r["url"]: r["extraction"]["extracted_text"] for r in resumed.collect()}
    b = {r["url"]: r["extraction"]["extracted_text"] for r in clean.collect()}
    assert a == b


def test_rerun_is_idempotent(spark, dirs):
    """Replaying an already-finished bucket overwrites, never duplicates."""
    out, lin = dirs
    run_job(spark, f"synthetic:{N}", out, lin, "t-1", n_buckets=BUCKETS)
    run_job(spark, f"synthetic:{N}", out, lin, "t-2", n_buckets=BUCKETS)  # no resume: full replay
    df = spark.read.parquet(out)
    assert df.count() == N
    assert df.select("url").distinct().count() == N


def test_fingerprint_includes_n_buckets_and_mtime(tmp_path):
    """ADVICE r1: same input under a different modulus, or regenerated
    in place, must NOT share a fingerprint."""
    import os
    import time as _time
    from document_extraction_service_spark.job import input_fingerprint

    assert input_fingerprint("synthetic:100", 128) != input_fingerprint("synthetic:100", 64)

    d = tmp_path / "in" / "bucket=0"
    d.mkdir(parents=True)
    f = d / "part-0.parquet"
    f.write_bytes(b"aaaa")
    fp1 = input_fingerprint(str(tmp_path / "in"), 128)
    _time.sleep(0.01)
    f.write_bytes(b"bbbb")  # same size, regenerated in place
    fp2 = input_fingerprint(str(tmp_path / "in"), 128)
    assert fp1 != fp2
    assert input_fingerprint(str(tmp_path / "in"), 64) != fp2
    # nested data files (bucket dirs) are recursed into, not just sized
    (d / "part-1.parquet").write_bytes(b"cc")
    assert input_fingerprint(str(tmp_path / "in"), 128) != fp2


def test_lineage_excludes_stale_buckets_from_other_input(spark, dirs):
    """ADVICE r1: buckets committed from an older, different input must
    not leak into a later run's lineage/metrics (dynamic overwrite never
    clears buckets absent from the current input)."""
    out, lin = dirs
    m1 = run_job(spark, f"synthetic:{N}", out, lin, "t-old", n_buckets=BUCKETS)
    assert m1["n_rows"] == N
    # different input, SAME output dir: hits fewer/different buckets
    m2 = run_job(spark, "synthetic:37", out, lin, "t-new", n_buckets=BUCKETS)
    assert m2["n_rows"] == 37  # not 37 + stale remainder
    lineage = spark.read.parquet(lin)
    new_rows = lineage.filter(F.col("run_id") == "t-new")
    assert new_rows.agg(F.sum("n_ok")).collect()[0][0] == 37
    # resume under the new input skips only buckets recorded for ITS fingerprint
    m3 = run_job(spark, "synthetic:37", out, lin, "t-new-resume",
                 n_buckets=BUCKETS, resume=True)
    assert m3["n_rows"] == 0


def test_job_counts_fallback_rows(spark, dirs, tmp_path):
    """A null-html row with crawl text flows through the job as a
    fallback extraction and is counted in lineage/metrics."""
    import datetime as dt
    from document_extraction_service_spark.schema import PAGES_SCHEMA

    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("https://a/x", ts, b"<html><p>Real body with enough words to stay.</p></html>",
         "crawl text a", "en"),
        ("https://a/y", ts, None, "only crawl text survives here", "en"),
        ("https://a/z", ts, b"", "", "en"),
    ]
    inp = str(tmp_path / "pages_in")
    spark.createDataFrame(rows, PAGES_SCHEMA).write.parquet(inp)
    out, lin = dirs
    m = run_job(spark, inp, out, lin, "t-fb", n_buckets=BUCKETS)
    assert m["n_rows"] == 3 and m["n_ok"] == 3
    assert m["n_fallback"] == 1
    lineage = spark.read.parquet(lin)
    assert lineage.agg(F.sum("n_fallback")).collect()[0][0] == 1
    got = {r["url"]: r for r in spark.read.parquet(out).collect()}
    assert got["https://a/y"]["status"]["fallback"]
    assert got["https://a/y"]["extraction"]["extracted_text"] == "only crawl text survives here"
    assert not got["https://a/x"]["status"]["fallback"]


def test_output_is_zstd_without_dictionaries(spark, dirs):
    """The tuned write options reach the files: every column chunk of
    an output file is zstd-compressed and has no dictionary page."""
    import glob

    import pyarrow.parquet as pq

    out, lin = dirs
    run_job(spark, f"synthetic:{N}", out, lin, "t-fmt", n_buckets=BUCKETS)
    path = sorted(glob.glob(f"{out}/bucket=*/*.parquet"))[0]
    meta = pq.ParquetFile(path).metadata
    chunks = [
        meta.row_group(g).column(c)
        for g in range(meta.num_row_groups)
        for c in range(meta.num_columns)
    ]
    assert chunks
    assert {ch.compression for ch in chunks} == {"ZSTD"}
    assert not any(ch.has_dictionary_page for ch in chunks)
