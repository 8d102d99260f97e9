"""A parquet read whose schema is already known starts no Spark job.

Without a schema, every `spark.read.parquet` runs Spark's schema
inference: a one-task job that reads one footer. The analytics tables
(`__spark_entry__._load`) and the crawl checkpoint tables
(`CrawlStore.read`) are read with the schema of their first read or
write instead, and a table rewritten at the same path is inferred anew.
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from horseman_article_parser_spark.plans.checkpoint import CrawlStore


@pytest.fixture()
def table_dir(tmp_path):
    pq.write_table(pa.table({"doc_id": list(range(40)),
                             "text": [f"doc {i}" for i in range(40)]}),
                   tmp_path / "documents.parquet")
    return str(tmp_path)


def test_second_load_of_a_table_starts_no_job(spark, jobs_started, table_dir):
    first, n_first = jobs_started(lambda: entry._load(spark, table_dir, "documents"))
    again, n_again = jobs_started(lambda: entry._load(spark, table_dir, "documents"))
    assert n_first >= 1  # the schema-inference job, so the count sees jobs
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_a_rewritten_table_is_inferred_again(spark, table_dir):
    before = entry._load(spark, table_dir, "documents")
    assert before.columns == ["doc_id", "text"]
    pq.write_table(pa.table({"doc_id": [7, 8], "lang": ["en", "de"],
                             "n_chars": pa.array([3, 4], pa.int32())}),
                   f"{table_dir}/documents.parquet")
    after = entry._load(spark, table_dir, "documents")
    assert after.columns == ["doc_id", "lang", "n_chars"]
    assert after.schema["n_chars"].dataType.simpleString() == "int"
    assert sorted(tuple(r) for r in after.collect()) == [(7, "en", 3), (8, "de", 4)]


def test_crawl_store_read_after_its_write_starts_no_job(spark, jobs_started, tmp_store):
    df = spark.createDataFrame(
        [("https://a.example/1", 3, 0.5), ("https://b.example/2", None, 1.0)],
        "url string not null, depth int, priority double")
    store = CrawlStore(tmp_store)
    store.write(df, "pending", 0)
    read, n_jobs = jobs_started(lambda: store.read(spark, "pending", 0))
    assert n_jobs == 0
    fresh, n_fresh = jobs_started(lambda: CrawlStore(tmp_store).read(spark, "pending", 0))
    assert n_fresh >= 1  # a fresh store (a resume) infers the schema once
    # Spark makes a given schema nullable exactly as it does an inferred one
    assert read.schema == fresh.schema
    assert all(f.nullable for f in read.schema)
    assert Counter(map(tuple, read.collect())) == Counter(map(tuple, df.collect()))
