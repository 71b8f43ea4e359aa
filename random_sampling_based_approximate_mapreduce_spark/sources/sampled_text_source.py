"""A true source-level sampling plug-in: the reference's
``RandomizedTextInputFormat`` re-expressed as a Spark Python DataSource.

``spark.read.format("sampled_text")`` yields ALREADY-SAMPLED lines: the
accept/reject decision runs inside the reader loop, before a rejected
line ever becomes a row — the reference's reader-level Bernoulli
sampling (RandomizedLineRecordReader.java:56-83) as a first-class source
(its InputFormat plug-in surface, RandomizedTextInputFormat.java:28-33).
It is the row-level codec of the shared sampled-text source
(``unit_text``): one partition per listed file, its lines streamed
through the per-line accept and batched into Arrow by the shared reader.

When to use WHICH sampler:
- ``df.sample`` above ``spark.read.text`` (sources/text.py) is the
  default — identical semantics, JVM-speed line reading, composes with
  Observation totals. The residual cost of a rejected row is one read
  row, same as the reference (it also reads every line to count it).
- THIS source exists for parity of the plug-in surface and for inputs
  where downstream must never see rejected rows at all. It reports
  only the kept lines: no seen count leaves the reader, so totals are
  estimated from the kept rows at 1/ratio.

Sampling is hash-deterministic per (path, line_number, seed) —
replay-stable under Spark task retries, which the reference's unseeded
``Random`` (RandomizedLineRecordReader.java:50) is not: a retried task
there resamples DIFFERENT lines, silently skewing totals. Gzip inputs
are handled by extension, like the reference's codec factory.

Registration: ``register_sampled_text(spark)`` once per session, then
``spark.read.format("sampled_text").option("path", p)
.option("ratio", "0.1").option("seed", "42").load()``.
Schema: ``line STRING`` (add parsing above, per engine discipline).
"""

from __future__ import annotations

import gzip
import hashlib

from .unit_text import FilePartition, UnitTextSource, list_files

_BUCKETS = 1_000_000


class _SampledLines:
    """The codec: every listed file is one partition; its lines stream
    in text mode (never materialized) through the per-line accept."""

    name = "sampled_text"
    options: dict[str, int] = {}

    def partitions(self, path, ratio, seed, opts):
        return [FilePartition(f) for f in list_files(path)]

    def lines(self, part, ratio, seed, opts):
        from ..sampling.deterministic import bucket_threshold

        threshold = bucket_threshold(ratio, _BUCKETS) if ratio < 1.0 else _BUCKETS
        opener = gzip.open if part.path.endswith(".gz") else open
        with opener(part.path, "rt", encoding="utf-8", errors="replace") as f:
            for i, line in enumerate(f):
                if ratio >= 1.0 or _accept(part.path, i, seed, threshold):
                    yield line.rstrip("\n")


class SampledTextDataSource(UnitTextSource):
    """format name: ``sampled_text``; options: path, ratio, seed."""

    codec = _SampledLines()

    def schema(self) -> str:
        return "line STRING"


def _accept(path: str, lineno: int, seed: int, threshold: int) -> bool:
    h = hashlib.md5(f"{path}:{lineno}:{seed}".encode()).digest()
    return int.from_bytes(h[:8], "big") % _BUCKETS < threshold


def register_sampled_text(spark) -> None:
    """Register the source with a session (idempotent)."""
    spark.dataSource.register(SampledTextDataSource)
