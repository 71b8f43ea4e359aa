"""Byte-block text sampling — skip-without-read for RAW uncompressed text.

The reference's readers skip rejected records at the byte level: the XML
reader seeks past an unsampled page without buffering it
(RandomizedXMLRecordReader.java:117-123), so a rejected record costs a
tag scan, not a parse — but it still READS every byte of the stream.
This source goes one step further down the same axis: hash-pick BYTE
BLOCKS of each file driver-side (from file sizes alone — no I/O), and
make the picked blocks the scan's partitions. Unpicked blocks are never
opened, never read, never decoded — the text analog of the parquet
row-group skipper (sources/rowgroup_parquet.py), completing the engine's
cluster-sampling ladder:

    file-level    sources/files.pick_files     zero I/O per skipped file
    byte-block    THIS MODULE                  zero I/O per skipped block,
                                               works on a SINGLE huge file
    row-group     sources/rowgroup_parquet     columnar twin (exact counts)
    row-level     SampledFrame / df.sample     exact Bernoulli, full scan

Line-boundary contract (the standard splittable-text rule, same as
Hadoop's LineRecordReader): a line BELONGS to the block containing its
first byte. A reader seeks to its block start, discards the partial line
it lands in (the previous block's reader finishes it, whether or not
that block was picked — it reads past its end to complete its last
line), then emits lines until its end offset. Union over all blocks at
ratio 1.0 is exactly the file, no loss, no duplication
(tests/test_byteblock_text.py proves the partition-boundary algebra).

Estimator contract: blocks are CLUSTERS accepted independently with
probability ``ratio`` (md5 of (seed, file, block index) — deterministic,
replay-stable). Every line's inclusion probability is its block's
acceptance probability = ratio, so HT scale-up is 1/ratio, unbiased for
totals; between-block variance adds to the Bernoulli bound exactly as
documented for file-level sampling (the clusters are just finer). The
never-empty fallback (keep the hash-min block) perturbs π only on
pathologically tiny inputs, like the row-group picker.

Compression: a seek into a gzip/zstd stream is meaningless (the
reference hits the same wall and falls back to whole-stream reads,
RandomizedXMLRecordReader.java:93-97). This source refuses compressed
inputs: .bz2 goes to ``bzip2_block_text`` (bzip2 blocks ARE
independently decodable, so the byte-skip win survives compression
there — round 9); other codecs go to ``read_text_file_sampled``
(file-level clusters) / ``read_text_sampled`` (row Bernoulli), which
handle them transparently.

100 TB shape: one picked block = one task = one contiguous ~``block_bytes``
read — the natural text split. The pick is a driver-side stat() pass
(O(files)); at extreme file counts distribute the listing like any
catalog.

This module is the raw-text codec of the shared sampled-text source
(``unit_text``): the file listing with its codec refusal and the
block's line reader live here; the pick, the partitions and the Arrow
reader are shared. The line reader stays its own because it strips
exactly one ``\n`` or ``\r\n`` — an unterminated final line keeps a
trailing ``\r``, where the unit-compressed codecs drop it.
"""

from __future__ import annotations

from functools import partial

from ..sampling.config import SamplingConfig
from ..sampling.sampled_frame import SampledFrame
from .unit_text import (
    SpanCodec,
    SpanPartition,
    UnitTextReader,
    UnitTextSource,
    list_files,
    load_sampled,
)

DEFAULT_BLOCK_BYTES = 16 << 20

_COMPRESSED_EXTS = (".gz", ".bz2", ".zst", ".zstd", ".snappy", ".lz4", ".deflate")


def _accept_block(path: str, idx: int, seed: int, ratio: float) -> bool:
    from ..sampling.deterministic import md5_accept

    return md5_accept(f"{seed}:{path}#blk{idx}", ratio)


def _list_text_files(path: str) -> list[str]:
    return list_files(
        path,
        lambda f: not f.endswith(_COMPRESSED_EXTS),
        "byte-block sampling cannot seek into compressed input {bad[0]}; "
        "use bzip2_block_text (block-level byte skip) for .bz2, or "
        "read_text_file_sampled (file-level clusters) / "
        "read_text_sampled (row Bernoulli) for other codecs",
    )


def _read_block_lines(path: str, start: int, end: int):
    """Lines owned by raw byte block [start, end), streamed."""
    with open(path, "rb") as fh:
        fh.seek(start)
        if start > 0:
            # land mid-line: the previous block's reader owns this
            # line (it reads past its end to finish it) — discard
            fh.readline()
        # Hadoop LineRecordReader pairing: since every follower block
        # discards its first line UNCONDITIONALLY, this block owns
        # lines starting at any offset <= end (including exactly end);
        # readline() past end finishes the straddler
        while fh.tell() <= end:
            line = fh.readline()
            if not line:
                break
            # Strip exactly one line terminator (\n or \r\n), matching
            # spark.read.text / Hadoop LineReader. Content that ends in
            # literal \r (or classic-Mac \r-only line endings, which
            # readline() does not split on) is out of contract — same
            # as Hadoop's default LineReader without a custom delimiter.
            if line.endswith(b"\r\n"):
                line = line[:-2]
            elif line.endswith(b"\n"):
                line = line[:-1]
            yield line.decode("utf-8", errors="replace")


CODEC = SpanCodec(
    name="byteblock_text",
    files=_list_text_files,
    tag="blk",
    size_option="block_bytes",
    default_size=DEFAULT_BLOCK_BYTES,
    read_span=_read_block_lines,
)


def pick_blocks(
    path: str, ratio: float, block_bytes: int = DEFAULT_BLOCK_BYTES, seed: int = 42
) -> tuple[list[tuple[str, int, int]], int, int]:
    """Deterministic hash-pick of byte blocks across all files.

    Returns (picked [(file, start, end)], picked_bytes, total_bytes).
    Never returns an empty pick (hash-min fallback). Block boundaries are
    raw byte offsets — the READER aligns them to line boundaries.
    """
    return CODEC.pick(path, ratio, block_bytes, seed)


_BlockPartition = SpanPartition
ByteBlockTextReader = partial(UnitTextReader, CODEC)


class ByteBlockTextDataSource(UnitTextSource):
    """format name ``byteblock_text``; options: path, ratio, block_bytes,
    seed. Schema is fixed: ``value string`` (one row per line), matching
    ``spark.read.text``."""

    codec = CODEC


def read_text_byteblock_sampled(
    spark,
    path: str,
    block_ratio: float,
    block_bytes: int = DEFAULT_BLOCK_BYTES,
    seed: int = 42,
    row_config: SamplingConfig | None = None,
) -> SampledFrame:
    """Byte-block cluster sample of raw text -> SampledFrame.

    Every line's inclusion probability is ``block_ratio`` (its block's
    independent acceptance), so estimators HT-scale by 1/block_ratio.
    ``row_config`` composes a within-block Bernoulli row stage (two-stage
    design, same algebra as the file-level and row-group samplers).
    """
    pick_blocks(path, block_ratio, block_bytes, seed)  # eager validation
    return load_sampled(
        spark, ByteBlockTextDataSource, path, block_ratio, seed, row_config,
        block_bytes=block_bytes,
    )
