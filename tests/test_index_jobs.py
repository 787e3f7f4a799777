"""Stored-index verbs read their frozen metadata (MinHash ``meta``, PQ
``codebook``) on the driver: building a lookup plan runs no Spark job,
and an append runs only the jobs its own work needs."""

from __future__ import annotations

import math

import pytest

from iceberg_twist_spark.api import Engine


def _vec(i: int) -> list[float]:
    return [math.sin(0.17 * d * (1 + i % 5)) + 0.05 * ((i * 31 + d * 7) % 83) for d in range(16)]


def _text(i: int) -> str:
    return " ".join(f"w{(i * 3 + j) % 41}" for j in range(20))


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("index_jobs")
    docs = spark.createDataFrame([(i, _text(i)) for i in range(40)], "doc_id long, text string")
    vecs = spark.createDataFrame([(i, _vec(i)) for i in range(200)], "id long, v array<float>")
    return (
        Engine.build_minhash_index(docs, "text", "doc_id", str(root / "mh"), tau=0.5),
        Engine.build_pq_ann_index(vecs, "v", "id", str(root / "pq")),
    )


def test_near_dup_against_index_builds_without_jobs(spark, indexes, jobs):
    batch = spark.createDataFrame([(100, _text(3)), (101, _text(7))], "doc_id long, text string")
    _, n = jobs(lambda: Engine.near_dup_pairs_against_index(batch, "text", "doc_id", indexes[0]))
    assert n == 0, f"building near_dup_pairs_against_index ran {n} jobs (expected 0)"


def test_pq_ann_search_builds_without_jobs(spark, indexes, jobs):
    _, n = jobs(lambda: Engine.pq_ann_search(spark, indexes[1], _vec(5), k=3))
    assert n == 0, f"building pq_ann_search ran {n} jobs (expected 0)"


def test_minhash_index_append_runs_only_its_writes(spark, indexes, jobs):
    new = spark.createDataFrame(
        [(200 + i, _text(200 + i)) for i in range(5)], "doc_id long, text string"
    )
    _, n = jobs(lambda: Engine.minhash_index_append(new, "text", "doc_id", indexes[0]))
    assert n <= 2, f"minhash_index_append ran {n} jobs (expected ≤ 2: bands + arrays)"


def test_pq_index_append_job_count(spark, indexes, jobs):
    new = spark.createDataFrame(
        [(1000 + i, _vec(1000 + i)) for i in range(20)], "id long, v array<float>"
    )
    _, n = jobs(lambda: Engine.pq_index_append(new, "v", "id", indexes[1]))
    # input-dim check + codebook collect + codes append + vectors append
    assert n <= 4, f"pq_index_append ran {n} jobs (expected ≤ 4)"
