"""The benchmark's workloads: which package calls each one makes.

``scan_sampled`` runs the paper's input-sampled scans; ``corpus_plan``
runs corpus-preparation and dedup catalog queries, all exact.

Which per-layer metric should move which end-to-end metric, written down
before any change is measured:

- ``session.*`` move ``setup_s`` on both workloads.
- ``plans.build_*`` move ``pass_s`` on ``corpus_plan``, where build is
  about three quarters of the pass; on ``scan_sampled`` it is near a third.
- ``exec.*`` move ``pass_s``, ``pass_s.max`` and ``peak_rss_mb`` on both.
- ``sampling.*`` and ``sources.*`` move ``pass_s``, ``rel_l1_error``
  and ``achieved_error`` on ``scan_sampled``; on ``corpus_plan`` they read
  0 and the prediction for any change to them is no change there.

Every query function takes ``(spark, dirs, ratio, seed)`` and returns an
``Answer``: the DataFrame to run plus what the benchmark needs to check
it. Sampled queries call the package's public sampling entry points
(``SampledFrame.from_dataframe``, ``deterministic.hash_bernoulli``, the
byte-skip ``read_text_*_sampled`` sources) with the ratio and a seed
derived from the workload seed. Catalog queries run as
``QUERIES[name].spark(spark, dir)``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from random_sampling_based_approximate_mapreduce_spark.functions import text as T
from random_sampling_based_approximate_mapreduce_spark.plans import reference_tasks, relational
from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES
from random_sampling_based_approximate_mapreduce_spark.sampling.config import SamplingConfig
from random_sampling_based_approximate_mapreduce_spark.sampling.deterministic import (
    hash_bernoulli,
    hash_bernoulli_sql,
)
from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import SampledFrame
from random_sampling_based_approximate_mapreduce_spark.sources import apache_log as AL
from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import read_text_bgzf_sampled
from random_sampling_based_approximate_mapreduce_spark.sources.tables import load
from random_sampling_based_approximate_mapreduce_spark.sources.zstd_seekable_text import (
    read_text_zstd_sampled,
)


@dataclass
class Answer:
    """A built query and how to check its output.

    ``oracle``: DuckDB SQL whose rows the answer must equal (exact and
    hash-sampled queries). ``truth``: DuckDB SQL of the exact population
    answer an estimate is scored against (``est`` columns vs the truth's
    ``truth_cols``, joined on ``keys``). ``ci``: per-estimate CI half-width
    column, paired with ``est[0]``. ``frame``: the observed sample whose
    ``report()`` gives the achieved error bound. The ``est`` columns are
    HT-scaled counts, so ``est * ratio`` must be integral.
    """

    df: DataFrame
    data: str  # which data dir the SQL runs against
    keys: tuple[str, ...] = ()
    est: tuple[str, ...] = ()
    ratio: float = 1.0
    oracle: str | None = None
    truth: str | None = None
    ci: str | None = None
    frame: SampledFrame | None = None
    truth_cols: tuple[str, ...] = ()  # default: the ``est`` names


@dataclass
class Query:
    name: str
    build: Callable[..., Answer]
    collect: bool  # small answer checked every pass, else noop sink + one check
    scored: bool = False  # its error counts in the accuracy metrics


@dataclass
class Workload:
    name: str
    why: str
    queries: list[Query]
    ratio: float = 1.0
    data: tuple[str, ...] = ()  # data dirs the workload reads (for set-up and sizes)


def _word_counts(df: DataFrame, col: str) -> DataFrame:
    return T.explode_words(T.drop_digit_lines(df, col), col)


_WORD_TRUTH = QUERIES["word_count"].oracle
_CHAR_TRUTH = QUERIES["char_count"].oracle
_HOST_TRUTH = QUERIES["log_host"].oracle


def _estimate(sf: SampledFrame, key: str, data: str, truth: str, *, ci=False, frame=None) -> Answer:
    """HT count per ``key`` from a SampledFrame."""
    df = sf.approx_count(key, ci=ci, alias="est_cnt")
    return Answer(
        df, data, (key,), ("est_cnt",), sf.ratio, truth=truth,
        ci="est_cnt_ci" if ci else None, frame=frame, truth_cols=("cnt",),
    )


def word_count_rows(spark, dirs, ratio, seed) -> Answer:
    docs = load(spark, dirs["scan"], "documents")
    sf = SampledFrame.from_dataframe(docs, SamplingConfig(ratio=ratio, seed=seed))
    words = sf.transform(lambda df: _word_counts(df, "text"))
    return _estimate(words, "word", "scan", _WORD_TRUTH, frame=sf)


def char_count_rows(spark, dirs, ratio, seed) -> Answer:
    docs = load(spark, dirs["scan"], "documents").select("text")
    sf = SampledFrame.from_dataframe(docs, SamplingConfig(ratio=ratio, seed=seed))
    chars = sf.transform(lambda df: T.explode_chars(df, "text"))
    return _estimate(chars, "ch", "scan", _CHAR_TRUTH, frame=sf)


def word_count_hash(spark, dirs, ratio, seed) -> Answer:
    docs = load(spark, dirs["scan"], "documents")
    docs = hash_bernoulli(docs.withColumn("__k", F.col("doc_id").cast("string")), "__k", ratio, seed)
    counts = _word_counts(docs.select("text"), "text").groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    keep = hash_bernoulli_sql("doc_id::VARCHAR", ratio, seed)
    kept = _WORD_TRUTH.replace("FROM documents", f"FROM (SELECT * FROM documents WHERE {keep})", 1)
    oracle = f"SELECT word, CAST(cnt AS DOUBLE) * {1.0 / ratio!r} AS est_cnt FROM ({kept})"
    return Answer(
        counts.select("word", (F.col("n") * F.lit(1.0 / ratio)).alias("est_cnt")),
        "scan", ("word",), ("est_cnt",), ratio, oracle=oracle, truth=_WORD_TRUTH, truth_cols=("cnt",),
    )


def log_host_lines(spark, dirs, ratio, seed) -> Answer:
    raw = spark.read.text(dirs["raw_log"]).withColumnRenamed("value", "line")
    sf = SampledFrame.from_dataframe(raw, SamplingConfig(ratio=ratio, seed=seed))
    parsed = sf.transform(AL.parse_apache_log)
    return _estimate(parsed, "host", "scan", _HOST_TRUTH, ci=True, frame=sf)


def word_count_zstd(spark, dirs, ratio, seed) -> Answer:
    sf = read_text_zstd_sampled(spark, dirs["zstd"], ratio, seed=seed)
    return _estimate(sf.transform(lambda df: _word_counts(df, "value")), "word", "scan", _WORD_TRUTH)


def word_count_bgzf(spark, dirs, ratio, seed) -> Answer:
    sf = read_text_bgzf_sampled(spark, dirs["bgzf"], ratio, seed=seed)
    return _estimate(sf.transform(lambda df: _word_counts(df, "value")), "word", "scan", _WORD_TRUTH)


def catalog(name: str, data: str) -> Query:
    def build(spark, dirs, ratio, seed) -> Answer:
        return Answer(QUERIES[name].spark(spark, dirs[data]), data, oracle=QUERIES[name].oracle)

    return Query(name, build, collect=False)


# the row- and hash-sampled estimates are scored for accuracy; the
# byte-skip ones pick some sixteen whole frames or blocks, so their error
# swings too much from draw to draw for a gate (it is reported raw)
SCAN_QUERIES = [
    Query("word_count_rows", word_count_rows, True, True),
    Query("char_count_rows", char_count_rows, True, True),
    Query("word_count_hash", word_count_hash, True, True),
    Query("log_host_lines", log_host_lines, True, True),
    Query("word_count_zstd", word_count_zstd, True),
    Query("word_count_bgzf", word_count_bgzf, True),
]

# the plan-heavy corpus and dedup queries; few enough that the JIT has
# compiled their code paths by the end of the warm-up
CORPUS_QUERIES = [
    "sequence_packing",
    "corpus_pipeline_full",
    "dedup_minhash_lsh",
]

# the scan layouts, built by the package's own layout functions from the
# scan replica: the raw access log, seekable zstd and BGZF text
SCAN_LAYOUTS = {
    "raw_log": reference_tasks.raw_log_layout,
    "zstd": relational._zstd_text_layout,
    "bgzf": relational._bgzf_text_layout,
}


def workloads(scan_ratio: float) -> dict[str, Workload]:
    return {
        w.name: w
        for w in (
            Workload(
                "scan_sampled",
                "the paper's operating point: input sampling and the byte-skip sources do the work",
                SCAN_QUERIES,
                scan_ratio,
                ("scan",),
            ),
            Workload(
                "corpus_plan",
                "corpus preparation and dedup: driver plan build and its eager jobs dominate",
                [catalog(n, "corpus") for n in CORPUS_QUERIES],
                1.0,
                ("corpus",),
            ),
        )
    }
