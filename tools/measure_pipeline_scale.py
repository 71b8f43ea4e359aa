#!/usr/bin/env python
"""Wall-clock scaling of the flagship corpus pipeline with corpus size.

Replicates the sf documents table R x (unique suffix per replica so
fingerprints stay distinct; language preserved) and times the same
five-stage composition as the corpus_pipeline_full catalog query.
Near-linear growth is the pass criterion: every stage is map-only or a
single bounded shuffle (fp, lang), so doubling the corpus should double
the time — any superlinear kink means a stage is accumulating
cross-corpus state it shouldn't.

Usage: python tools/measure_pipeline_scale.py [replicas ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build_corpus(spark, replicas: int):
    from pyspark.sql import functions as F

    from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    if replicas > 1:
        reps = spark.range(replicas).select(F.col("id").cast("int").alias("rep"))
        docs = docs.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") * replicas + F.col("rep")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" u"), F.col("rep").cast("string")).alias(
                "text"
            ),
            "lang",
        )
    docs = docs.withColumn("n_chars", F.length("text").cast("long"))
    return docs.repartition(32).localCheckpoint(eager=True)


def run_pipeline(docs):
    from pyspark.sql import functions as F

    from random_sampling_based_approximate_mapreduce_spark.functions import text as T
    from random_sampling_based_approximate_mapreduce_spark.operators import corpus as C

    eval_docs = docs.where(F.col("doc_id") % 37 == 0)
    train = (
        C.hash_split(docs)
        .where(F.col("split") == "train")
        .where(F.col("doc_id") % 37 != 0)
        .drop("bucket", "split")
    )
    cont = C.ngram_contamination(train, eval_docs, k=3).select("doc_id")
    clean = train.join(cont, "doc_id", "left_anti")
    kept = C.keep_best_by_fingerprint(clean).select(F.col("kept_doc").alias("doc_id"))
    clean_kept = clean.join(kept, "doc_id", "left_semi")
    capped = C.cap_per_group(clean_kept, "lang", k=40)
    return capped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count("text")).alias("total_tokens"),
    )


def main() -> None:
    from random_sampling_based_approximate_mapreduce_spark.session import get_spark

    sizes = [int(x) for x in sys.argv[1:]] or [1, 4, 10]
    spark = get_spark("pipeline-scale")
    spark.sparkContext.setLogLevel("ERROR")

    print(f"{'docs':>9} {'wall_s':>8} {'s_per_10k':>10}")
    for r in sizes:
        corpus = build_corpus(spark, r)
        n = corpus.count()
        run_pipeline(corpus).write.format("noop").mode("overwrite").save()  # warm
        t0 = time.monotonic()
        run_pipeline(corpus).write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        print(f"{n:>9} {dt:>8.2f} {dt / n * 10000:>10.3f}")
        corpus.unpersist()


if __name__ == "__main__":
    main()
