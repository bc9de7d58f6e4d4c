"""Shared helpers for the operator modules: the parquet table reader,
with an OPT-IN scan-width guard for parallelism-starved inputs (guide
§2.5 "input skew: one huge unsplittable file … repartition
immediately after the read"), and the two-stage `top_k`.

Why the guard exists (r7): a parquet table written as ONE small file (or one
row group) yields ONE scan partition no matter the session width —
`spark.sql.files.openCostInBytes` floors the split size at 4 MB, and
row groups cannot split below their boundaries — so EVERY map-side
computation before the first exchange (shingle-array builds, cosine
folds, regex scoring, the extraction UDF itself) runs on a single
task.  Widening such a scan across the session cores cut the heavy
single-pass queries 30-60 % at sf0.1/local[32] (interleaved A/B:
curate_quality_gate 1.84 → 0.44 s, dedup_keep_best 3.20 → 1.92 s,
dedup_ngram_jaccard 2.40 → 1.31 s, extract_documents 1.55 → 0.92 s).

Why it is OPT-IN per query (`wide=True`), not universal: a 3-round
interleaved on/off A/B over all 51 bench queries showed the SAME
transform costs +0.3-0.9 s on queries whose construction runs several
actions (index builds, vocab localCheckpoints, centroid collects,
iterative loops) — each action re-executes the widening exchange and
every downstream job pays ~2× session-width task overheads on
near-empty partitions.  Fold/parse-heavy single-pass maps win;
multi-action small-data constructions lose; the query author knows
which shape a query is, so the reader takes a flag instead of
guessing.  Net of the universal form was +0.5 s — selective is
strictly better on both halves.

Scale safety: the repartition fires ONLY when the input is too small
to reach session width anyway — `total_bytes < width × 4 MB` (the
openCost floor means such an input CANNOT produce >= width splits),
checked with a driver-side file stat (job-free; the `.rdd`
partition-count probe runs a Spark job on this version, measured).
A production-scale corpus (bytes >= width × 4 MB) passes through
untouched, preserving the map-only no-payload-shuffle operator
shapes; when the branch does fire the widening shuffle is bounded by
that same byte ceiling (~128 MB at 32 cores).  The round-robin
repartition is retry-deterministic (Spark sorts before round-robin
partitioning, SPARK-23207) and no operator output depends on input
partitioning (float aggregates go through DECIMAL / fixed-point sums,
collected arrays are array_sort'ed or feed set-semantics explodes,
top-k windows carry total orders — the package determinism contract).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# The openCostInBytes split-size floor: an input below width x this
# cannot reach `width` scan partitions, however it is configured.
_OPEN_COST_BYTES = 4 * 1024 * 1024


def _local_input_bytes(path: str) -> int | None:
    """Total bytes of a local file/dir input; None when not stat-able
    (non-local filesystem — callers fall back to the plan probe)."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
            return total
    except OSError:
        return None
    return None


def widen_narrow_scan(df: DataFrame, path: str | None = None) -> DataFrame:
    """Round-robin a parallelism-starved scan across the session
    width; identity when the input can already reach session width
    (the production case).  See the module docstring for the scale
    argument and the measured wins."""
    width = df.sparkSession.sparkContext.defaultParallelism
    if path is not None:
        n_bytes = _local_input_bytes(path)
        if n_bytes is not None:
            if n_bytes >= width * _OPEN_COST_BYTES:
                return df
            return df.repartition(width * 2)
    # fallback probe (non-local input): one tiny partition-count job
    if df.rdd.getNumPartitions() >= width:
        return df
    return df.repartition(width * 2)


def read_table(
    spark: SparkSession, sf_dir: str, name: str, wide: bool = False
) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if not wide:
        return df
    return widen_narrow_scan(df, path)


def top_k(
    df: DataFrame, k: int, order: Sequence[Column], by: Sequence[str] = ()
) -> DataFrame:
    """The first `k` rows of each `by` group of `df` (of the whole frame
    when `by` is empty) under `order`: `df`'s columns plus an int
    `rank`, the 1-based `row_number` within the group.

    Two stages, so no task sorts a whole group.  One window over `by`
    would funnel each group through ONE task, and a group is a skewed
    key at crawl scale (a language, a query vector, the whole
    vocabulary when `by=()`).  Stage 1 ranks within (by…, input
    partition) and keeps each window's top k: a group is spread over
    as many windows as `df` has partitions, and a row outside its
    partition's top k cannot be in its group's top k.  Stage 2 ranks
    the survivors over `by`, so it sees at most k·P rows per group for
    P input partitions, however large the group is.

    `order` must be total within a group (end it with a unique key,
    e.g. count desc then token asc).  On ties `row_number` picks by
    arrival order, which depends on the partitioning, and the result
    would differ between runs and retries.

    With `by=()` stage 2 is a window with no partition spec, and Spark
    logs `WindowExec: No Partition Defined for Window operation!
    Moving all data to a single partition`.  Here that is bounded and
    harmless: the single partition holds the k·P stage-1 survivors,
    not the frame.
    """
    wl = Window.partitionBy(*by, "_topk_part").orderBy(*order)
    pre = (
        df.withColumn("_topk_part", F.spark_partition_id())
        .withColumn("_topk_lr", F.row_number().over(wl))
        .filter(F.col("_topk_lr") <= k)
        .drop("_topk_part", "_topk_lr")
    )
    w = Window.partitionBy(*by).orderBy(*order)
    return pre.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
