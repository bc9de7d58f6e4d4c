"""operators.tables.top_k equals a plain sort-and-limit, per key and
globally, whatever the input partitioning."""

import pytest
from pyspark.sql import functions as F

from document_extraction_service_spark.operators.tables import top_k

K = 5
# scores repeat every 4 rows, so most ties are broken only by `name`;
# key "d" has fewer than K rows
ROWS = [("abc"[i % 3], i % 4, f"n{(i * 37) % 60:02d}") for i in range(60)]
ROWS += [("d", 1, "z1"), ("d", 1, "z0")]


def _expected(by_key: bool) -> list[tuple]:
    out, seen = [], {}
    for key, score, name in sorted(ROWS, key=lambda r: (-r[1], r[2])):
        group = key if by_key else None
        rank = seen[group] = seen.get(group, 0) + 1
        if rank <= K:
            out.append((key, score, name, rank))
    return sorted(out)


def _run(spark, n_parts: int, by_key: bool) -> list[tuple]:
    df = spark.createDataFrame(ROWS, "key string, score int, name string")
    got = top_k(
        df.repartition(n_parts),
        K,
        [F.desc("score"), F.asc("name")],
        by=["key"] if by_key else (),
    )
    assert got.columns == ["key", "score", "name", "rank"]
    assert got.schema["rank"].dataType.simpleString() == "int"
    return sorted(tuple(r) for r in got.collect())


@pytest.mark.parametrize("by_key", [True, False], ids=["per_key", "global"])
def test_top_k_equals_sort_and_limit(spark, by_key):
    want = _expected(by_key)
    assert len(want) == (3 * K + 2 if by_key else K)
    for n_parts in (1, 3, 17):
        assert _run(spark, n_parts, by_key) == want
