"""Driver plan build: no eager Spark jobs on the corpus hot paths, a
parquet schema memo in ``sources.tables.load`` that follows rewrites, and
SQL-text expressions that parse to the trees their Column forms build."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from random_sampling_based_approximate_mapreduce_spark.functions import text as T
from random_sampling_based_approximate_mapreduce_spark.sources import tables


def _job_ids(spark) -> set[int]:
    """Ids of every job the status store knows, after the listener bus
    has delivered all pending events (the store updates asynchronously)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _plan(df) -> str:
    """Optimized logical plan with expression ids and lambda names erased."""
    s = df._jdf.queryExecution().optimizedPlan().toString()
    s = re.sub(r"#\d+L?", "#", s)
    return re.sub(r"lambda [A-Za-z_]\w*", "lambda v", s)


class TestNoJobsAtBuild:
    def test_second_load_runs_no_job(self, spark, sf_dir):
        first = tables.load(spark, sf_dir, "documents")
        before = _job_ids(spark)
        second = tables.load(spark, sf_dir, "documents")
        assert _job_ids(spark) - before == set()
        assert second.schema == first.schema

    @pytest.mark.parametrize("name", ["dedup_minhash_lsh", "corpus_pipeline_full"])
    def test_catalog_build_runs_no_job(self, spark, sf_correct_dir, name):
        from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES

        tables.load(spark, sf_correct_dir, "documents")  # schema memo warm
        before = _job_ids(spark)
        df = QUERIES[name].spark(spark, sf_correct_dir)
        launched = _job_ids(spark) - before
        assert launched == set(), f"{name} build launched jobs {sorted(launched)}"
        assert df.count() > 0


class TestSchemaMemo:
    def test_rewrite_with_extra_column_reads_new_schema(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = tmp_path / "documents.parquet"
        pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a b", "c"]}), path)
        assert tables.load(spark, str(tmp_path), "documents").columns == ["doc_id", "text"]
        pq.write_table(
            pa.table({"doc_id": [1, 2], "text": ["a b", "c"], "lang": ["en", "de"]}), path
        )
        df = tables.load(spark, str(tmp_path), "documents")
        assert df.columns == ["doc_id", "text", "lang"]
        assert sorted(r["lang"] for r in df.collect()) == ["de", "en"]

    def test_schema_conf_change_infers_again(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = str(tmp_path / "b.parquet")
        pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
        key = "spark.sql.parquet.binaryAsString"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "false")
            assert tables._read_parquet(spark, path).schema["b"].dataType.simpleString() == "binary"
            spark.conf.set(key, "true")
            assert tables._read_parquet(spark, path).schema["b"].dataType.simpleString() == "string"
        finally:
            spark.conf.set(key, old)


class TestSqlTextMatchesColumnForm:
    """The hot paths build these expressions from SQL text; the Column
    forms stay for Column inputs. The two must parse to one tree."""

    def test_word_shingles(self, spark):
        df = spark.createDataFrame([(1, "The cat sat on the mat")], "doc_id long, text string")
        sql = T.with_word_shingles(df, "text", 3)
        col = (
            df.withColumn("__toks", T.word_tokens(F.col("text")))
            .withColumn("shingles", T.shingles_from_tokens(F.col("__toks"), 3))
            .drop("__toks")
        )
        assert _plan(sql) == _plan(col)
        assert sql.collect() == col.collect()

    def test_md5_bucket(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.operators.corpus import (
            md5_bucket,
            md5_bucket_expr,
        )

        df = spark.range(0, 50)
        sql = df.select(F.expr(md5_bucket_expr("id")).alias("b"))
        col = df.select(md5_bucket(F.col("id")).alias("b"))
        assert _plan(sql) == _plan(col)
        assert sql.collect() == col.collect()
