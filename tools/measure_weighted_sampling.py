#!/usr/bin/env python
"""Uniform vs size-biased (weighted) sampling: estimator variance at
equal expected cost.

The weighted_sampled_tokens query claims weighting inclusion by a cheap
scan column (n_chars) cuts the variance of the Horvitz-Thompson token
total versus uniform sampling at the same expected sample size. This
tool measures it: for a grid of seeds, estimate total tokens over the
sf documents table with

  uniform  - hash_bernoulli(ratio)            est = sum(tokens) / ratio
  weighted - weighted_bernoulli(pi ~ n_chars) est = sum(tokens / pi)

and report the relative-error spread of each arm. Deterministic given
the seed list. Usage: python tools/measure_weighted_sampling.py [ratio]
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SEEDS = list(range(1, 21))


def main() -> None:
    from pyspark.sql import functions as F

    from random_sampling_based_approximate_mapreduce_spark.functions import text as T
    from random_sampling_based_approximate_mapreduce_spark.sampling.deterministic import (
        hash_bernoulli,
        weighted_bernoulli,
    )
    from random_sampling_based_approximate_mapreduce_spark.session import get_spark
    from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

    ratio = float(sys.argv[1]) if len(sys.argv) > 1 else 0.2
    spark = get_spark("weighted-sampling-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    docs = (
        load(spark, SF_DIR, "documents")
        .select(
            "doc_id",
            "n_chars",
            T.token_count("text").alias("tokens"),
        )
        .localCheckpoint(eager=True)
    )
    stats = docs.agg(
        F.sum("tokens").alias("t"), F.sum("n_chars").alias("s"), F.count(F.lit(1)).alias("c")
    ).first()
    exact, mean_w = stats["t"], stats["s"] / stats["c"]

    def rel_err(est: float) -> float:
        return abs(est - exact) / exact

    uni_errs, uni_sizes, wei_errs, wei_sizes = [], [], [], []
    for seed in SEEDS:
        u = hash_bernoulli(docs, "doc_id", ratio, seed=seed)
        r = u.agg(F.sum("tokens").alias("s"), F.count(F.lit(1)).alias("n")).first()
        uni_errs.append(rel_err((r["s"] or 0) / ratio))
        uni_sizes.append(r["n"])

        w = weighted_bernoulli(docs, "doc_id", "n_chars", ratio, mean_w, seed=seed)
        r = w.agg(
            F.sum(F.col("tokens") / F.col("__pi")).alias("s"), F.count(F.lit(1)).alias("n")
        ).first()
        wei_errs.append(rel_err(r["s"] or 0.0))
        wei_sizes.append(r["n"])

    print(f"exact total tokens: {exact}; ratio {ratio}; {len(SEEDS)} seeds")
    for name, errs, sizes in (
        ("uniform", uni_errs, uni_sizes),
        ("weighted", wei_errs, wei_sizes),
    ):
        print(
            f"{name:>9}: mean |rel err| {statistics.mean(errs):.5f}  "
            f"max {max(errs):.5f}  sd {statistics.pstdev(errs):.5f}  "
            f"avg sample {statistics.mean(sizes):.0f}"
        )


if __name__ == "__main__":
    main()
