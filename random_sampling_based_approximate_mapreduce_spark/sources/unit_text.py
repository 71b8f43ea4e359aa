"""One sampled-text source with a per-codec index and decode.

The reference has one sampling plug-in surface for text:
``RandomizedTextInputFormat`` hands each split to a record reader
(RandomizedTextInputFormat.java:28-33), and the compression codec is
chosen behind that reader (RandomizedXMLRecordReader.java:93-97). This
module is that surface for the five sampled-text formats. The format
name selects a *codec*; a codec supplies only its format code:

- ``files(path)`` — list the files it reads (``list_files`` with its
  suffix rule and refusal message);
- ``table(file)`` — index the file's units (seek-table frames, BGZF
  blocks, or fixed byte spans) as ``SpanEntry`` records;
- ``decode`` / ``read_span`` — the bytes of a unit, or the lines a byte
  span owns.

Everything else lives here once: the never-empty unit pick and its
contiguous-run variant (``pick_unit_runs``), the per-task batcher
(``batch_picked``), the line-ownership rule over a run of units
(``read_run_lines``), the stat-keyed table cache (``cached_table``), the
layout converter (``convert_parts``), and one ``DataSourceReader`` that
turns a codec's lines into Arrow batches.

Line ownership for unit-compressed text (zstd frames, BGZF blocks), in
decompressed-offset space:

- a line belongs to the unit whose decompressed span contains its first
  byte;
- a reader whose unit starts at decompressed offset > 0 lands mid-line
  (or exactly on a boundary) and discards the line it lands in — the
  previous unit's reader owns and finishes it, pulling follow-on units
  as needed;
- a line starting exactly at a unit's end boundary is owned by that
  unit (the follower discards it), so the pairing never loses or
  duplicates a line;
- the union over all units at ratio 1.0 is exactly the file, for
  arbitrary — not just line-aligned — unit splits (each codec's
  Hypothesis seam sweep pins this).

The raw byte-block and bzip2 codecs keep their own span readers
(Hadoop's ``LineRecordReader`` pairing in raw or compressed offsets);
only their pick, partitions and reader are shared.
"""

from __future__ import annotations

import glob as _glob
import os
from dataclasses import dataclass
from itertools import islice
from typing import Callable, Iterable

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..sampling.config import SamplingConfig
from ..sampling.deterministic import pick_units
from ..sampling.sampled_frame import SampledFrame, compose_cluster_row_stage

DEFAULT_BATCH_BYTES = 4 << 20
_TABLE_CACHE_CAP = 256


@dataclass(frozen=True)
class SpanEntry:
    """One skip unit: compressed span [c_off, c_off+c_size) in the file,
    decompressed span [d_off, d_off+d_size) in the logical stream."""

    c_off: int
    c_size: int
    d_off: int
    d_size: int


class SpanPartition(InputPartition):
    """Byte span [start, end) of one file (raw blocks, bzip2 ranges)."""

    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


class UnitsPartition(InputPartition):
    """Picked unit indices of one file, batched into one task."""

    def __init__(self, path: str, idxs: list[int]):
        self.path = path
        self.idxs = idxs


class FilePartition(InputPartition):
    """One whole file."""

    def __init__(self, path: str):
        self.path = path


def list_files(
    path: str,
    accept: Callable[[str], bool] | None = None,
    refusal: str = "",
    skip: tuple[str, ...] = (),
) -> list[str]:
    """Sorted data files under ``path``: a directory's visible files, the
    files a glob matches, or the file itself.

    Files ending in a ``skip`` suffix are metadata and never listed. An
    empty or missing path raises ``no files under``, never a downstream
    ``FileNotFoundError``. A listed file that ``accept`` rejects raises
    ``refusal`` formatted with ``bad`` (the first three rejected files).
    """
    if os.path.isdir(path):
        found = sorted(
            f
            for f in _glob.glob(os.path.join(path, "*"))
            if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
        )
    else:
        found = sorted(f for f in _glob.glob(path) if os.path.isfile(f))
        if not found and os.path.isfile(path):
            found = [path]
    found = [f for f in found if not f.endswith(skip)]
    if not found:
        raise ValueError(f"no files under {path}")
    bad = [f for f in found if accept is not None and not accept(f)]
    if bad:
        raise ValueError(refusal.format(bad=bad[:3]))
    return found


def convert_parts(src_dir: str, dst_dir: str, suffix: str, write) -> list[str]:
    """Layout builder: ``write(src_fh, dst_path)`` every visible part file
    of ``src_dir`` to ``dst_dir`` (name + ``suffix``), one streaming pass
    per file, then publish a ``_SUCCESS`` marker like Spark's writers.
    Callers wrap this in ``ensure_layout``, whose published-check is that
    marker — without it every call would rebuild and destructively
    replace a layout another session may be reading."""
    os.makedirs(dst_dir, exist_ok=True)
    out: list[str] = []
    for f in sorted(os.listdir(src_dir)):
        p = os.path.join(src_dir, f)
        if not os.path.isfile(p) or f.startswith(("_", ".")):
            continue
        out.append(os.path.join(dst_dir, f + suffix))
        with open(p, "rb") as fh:
            write(fh, out[-1])
    if not out:
        raise ValueError(f"no text part files under {src_dir}")
    with open(os.path.join(dst_dir, "_SUCCESS"), "w"):
        pass
    return out


def byte_spans(path: str, unit_bytes: int) -> tuple[SpanEntry, ...]:
    """Fixed ``unit_bytes`` spans of a file (from its size alone; an empty
    file has one empty span), as a unit table for ``pick_unit_runs``."""
    size = os.path.getsize(path)
    return tuple(
        SpanEntry(s, min(size, s + unit_bytes) - s, s, min(size, s + unit_bytes) - s)
        for s in range(0, max(1, -(-size // unit_bytes)) * unit_bytes, unit_bytes)
    )


def pick_unit_runs(
    files: list[str],
    table: Callable[[str], tuple[SpanEntry, ...]],
    ratio: float,
    seed: int,
    tag: str,
    run: int = 1,
    run_tag: str = "",
    keep_empty: bool = False,
) -> tuple[list[tuple[str, int]], int, int]:
    """Deterministic never-empty hash pick over the units ``table`` lists
    for each file: the shared ``pick_units`` accept rule, weighted by
    compressed size. Returns (picked [(file, unit_idx)], picked bytes,
    total bytes).

    Singleton units hash as ``{seed}:{file}#{tag}{i}``. ``run > 1`` makes
    the sampling unit a contiguous run of that many non-empty units (the
    last run per file may be shorter), hashed as
    ``{seed}:{file}#{run_tag}{run}:{j}``; picks stay per unit, so a run's
    units are adjacent in the result. Units with no decompressed bytes
    are left out unless ``keep_empty`` (singletons only) or every unit
    of every file is empty. The keys are part of each codec's seeded
    contract: changing one changes which lines a seed returns.
    """
    tables = [(f, table(f)) for f in files]
    by_file = [
        (f, es, [i for i, e in enumerate(es) if e.d_size or (keep_empty and run == 1)])
        for f, es in tables
    ]
    if all(not idxs for _, _, idxs in by_file):
        by_file = [(f, es, list(range(len(es)))) for f, es, _ in by_file]
    if run == 1:
        units = [(f, i, es[i].c_size) for f, es, idxs in by_file for i in idxs]
        return pick_units(units, ratio, lambda f, i: f"{seed}:{f}#{tag}{i}")
    members: dict[tuple[str, int], list[int]] = {}
    units = []
    for f, es, idxs in by_file:
        for j, s in enumerate(range(0, len(idxs), run)):
            members[(f, j)] = idxs[s : s + run]
            units.append((f, j, sum(es[i].c_size for i in members[(f, j)])))
    picked, pw, tw = pick_units(
        units, ratio, lambda f, j: f"{seed}:{f}#{run_tag}{run}:{j}"
    )
    return [(f, i) for f, j in picked for i in members[(f, j)]], pw, tw


def batch_picked(
    picked: list[tuple[str, int]],
    batch_bytes: int,
    table: Callable[[str], tuple[SpanEntry, ...]],
) -> list[tuple[str, list[int]]]:
    """Pack picked (file, unit_idx) units into per-task batches of
    ~``batch_bytes`` compressed bytes, never crossing a file boundary (a
    task holds one open file). Batching changes scheduling, not the
    sample: at 100 TB and r=0.1 one task per unit would be millions of
    tasks, each paying a worker round trip and a boundary fetch."""
    if batch_bytes < 1:
        raise ValueError(f"batch_bytes must be >= 1, got {batch_bytes}")
    out: list[tuple[str, list[int]]] = []
    size = 0
    for f, i in picked:
        if not out or f != out[-1][0] or size >= batch_bytes:
            out.append((f, []))
            size = 0
        out[-1][1].append(i)
        size += table(f)[i].c_size
    return out


def _next_line_bytes(path: str, entries, j: int, open_tail) -> bytes | None:
    """Decompressed bytes of units ``j..`` up to and excluding the first
    newline (one line's content); ``None`` past the last byte.

    Streaming: the aligned-layout common case needs only the successor
    unit's first line, so this reads ~one small chunk instead of
    decoding whole units (a one-shot decode of the successor doubled
    every partition's decode work)."""
    if all(e.d_size == 0 for e in entries[j:]):
        return None
    stream = open_tail(path, entries, j)
    try:
        out = bytearray()
        while True:
            chunk = stream.read(64 * 1024)
            if not chunk:
                return bytes(out)
            nl = chunk.find(b"\n")
            if nl >= 0:
                out += chunk[:nl]
                return bytes(out)
            out += chunk
    finally:
        stream.close()


def read_run_lines(
    path: str, entries, start: int, stop: int, decode, open_tail
) -> list[str]:
    """All lines OWNED by the contiguous unit run ``[start, stop)`` under
    the ownership rule in the module docstring.

    The run is the union of per-unit ownership (the rule depends only on
    span boundaries, so merging interior boundaries merges ownership;
    tests pin the equivalence), but each unit is decoded once: per-unit
    reads would decode every interior successor a second time for its
    boundary line. ``decode(path, entry)`` gives one unit's bytes;
    ``open_tail(path, entries, j)`` a stream over the decompressed bytes
    of units ``j..``, used only to finish the run's last line."""
    run = entries[start:stop]
    if not any(e.d_size for e in run):
        return []  # no line starts in an empty span
    data = b"".join(decode(path, e) for e in run if e.d_size)
    body = data
    if run[0].d_off > 0:
        # land mid-line (or on a boundary): the previous unit's reader
        # owns the line we land in — drop through its newline
        cut = data.find(b"\n")
        if cut < 0:
            return []  # the whole run is inside one line
        body = data[cut + 1 :]
    parts = body.split(b"\n")
    tail = _next_line_bytes(path, entries, stop, open_tail)
    if data.endswith(b"\n"):
        parts.pop()  # split's trailing empty piece, not a line
        # a line starting exactly at the run's end is owned here; its
        # bytes live entirely in later units
        if tail is not None:
            parts.append(tail)
    elif tail is not None:
        parts[-1] += tail  # final straddler, completed from later units
    return [
        (p[:-1] if p.endswith(b"\r") else p).decode("utf-8", errors="replace")
        for p in parts
    ]


TABLE_CACHE: dict[tuple, tuple[SpanEntry, ...]] = {}


def cached_table(path: str, build: Callable[[int], tuple], *extra) -> tuple:
    """``build(size)``, cached per (path, size, st_mtime_ns, *extra).

    Spark reuses Python workers across tasks, and every partition of a
    file needs the same unit table — without the cache a 100k-unit file
    would pay an O(units) index read per task. ``st_mtime_ns``, not the
    float ``st_mtime``, whose truncation can alias a same-size overwrite;
    tables are immutable tuples so no caller can mutate a cached entry.
    Bounded by FIFO single-entry eviction, not ``clear()``: a task mix
    cycling over more files than the cap would otherwise wipe every hot
    entry at once."""
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns, *extra)
    hit = TABLE_CACHE.get(key)
    if hit is None:
        hit = build(st.st_size)
        while len(TABLE_CACHE) > _TABLE_CACHE_CAP:
            TABLE_CACHE.pop(next(iter(TABLE_CACHE)))
        TABLE_CACHE[key] = hit
    return hit


def suggest_run(
    ratio: float,
    unit_bytes: int,
    target_cluster_bytes: int,
    total_bytes: int | None = None,
) -> int:
    """The measured crossover rule for contiguous-run picks: 1 below
    r=0.01 (the pick floor matters more than seek locality), else the
    run length making a cluster ~``target_cluster_bytes``; with
    ``total_bytes``, the target becomes clamp(total * ratio / 20, 1 MiB,
    4 MiB) — about twenty expected picks."""
    if not 0.0 < ratio <= 1.0:
        raise ValueError(f"ratio must be in (0, 1], got {ratio}")
    if ratio < 0.01:
        return 1
    target = target_cluster_bytes
    if total_bytes is not None:
        if total_bytes < 1:
            raise ValueError(f"total bytes must be >= 1, got {total_bytes}")
        target = max(1 << 20, min(4 << 20, int(total_bytes * ratio / 20.0)))
    return max(1, round(target / unit_bytes))


@dataclass(frozen=True)
class IndexedCodec:
    """A codec whose file carries an index of independently decodable
    units (seek-table frames, BGZF blocks). A partition is a batch of
    picked units; contiguous picked units decode once, as a run."""

    name: str
    files: Callable[[str], list[str]]
    table: Callable[[str], tuple[SpanEntry, ...]]
    decode: Callable[[str, SpanEntry], bytes]
    open_tail: Callable  # (path, entries, j) -> stream over units j..
    tag: str
    run_tag: str
    run_option: str
    keep_empty: bool = False

    @property
    def options(self) -> dict[str, int]:
        return {"batch_bytes": DEFAULT_BATCH_BYTES, self.run_option: 1}

    def pick(self, path: str, ratio: float, seed: int, run: int):
        if run < 1:
            raise ValueError(f"{self.run_option} must be >= 1, got {run}")
        return pick_unit_runs(
            self.files(path), self.table, ratio, seed, self.tag, run,
            self.run_tag, self.keep_empty,
        )

    def batch(self, picked, batch_bytes: int = DEFAULT_BATCH_BYTES):
        """``batch_picked`` over this codec's unit tables."""
        return batch_picked(picked, batch_bytes, self.table)

    def run_lines(self, path: str, entries, start: int, stop: int) -> list[str]:
        """``read_run_lines`` with this codec's decode."""
        return read_run_lines(path, entries, start, stop, self.decode, self.open_tail)

    def partitions(self, path, ratio, seed, opts):
        picked, _, _ = self.pick(path, ratio, seed, opts[self.run_option])
        return [
            UnitsPartition(f, idxs) for f, idxs in self.batch(picked, opts["batch_bytes"])
        ]

    def lines(self, part, ratio, seed, opts) -> Iterable[str]:
        entries = self.table(part.path)
        runs: list[list[int]] = []
        for i in part.idxs:
            if runs and i == runs[-1][1]:
                runs[-1][1] = i + 1
            else:
                runs.append([i, i + 1])
        for start, stop in runs:
            yield from self.run_lines(part.path, entries, start, stop)


@dataclass(frozen=True)
class SpanCodec:
    """A codec sampled in fixed byte spans of the file (raw blocks,
    bzip2 compressed ranges); ``read_span(path, start, end)`` gives the
    lines a span owns, resolving its own line and unit boundaries."""

    name: str
    files: Callable[[str], list[str]]
    tag: str
    size_option: str
    default_size: int
    read_span: Callable[[str, int, int], Iterable[str]]

    @property
    def options(self) -> dict[str, int]:
        return {self.size_option: self.default_size}

    def pick(self, path: str, ratio: float, unit_bytes: int, seed: int):
        """(picked [(file, start, end)], picked bytes, total bytes)."""
        files = self.files(path)
        if unit_bytes < 1:
            raise ValueError(f"unit bytes must be >= 1, got {unit_bytes}")
        tables = {f: byte_spans(f, unit_bytes) for f in files}
        picked, pb, tb = pick_unit_runs(
            files, tables.__getitem__, ratio, seed, self.tag, keep_empty=True
        )
        spans = [(f, (e := tables[f][i]).c_off, e.c_off + e.c_size) for f, i in picked]
        return spans, pb, tb

    def partitions(self, path, ratio, seed, opts):
        picked, _, _ = self.pick(path, ratio, opts[self.size_option], seed)
        return [SpanPartition(f, s, e) for f, s, e in picked]

    def lines(self, part, ratio, seed, opts) -> Iterable[str]:
        return self.read_span(part.path, part.start, part.end)


class UnitTextReader(DataSourceReader):
    """The one reader of the sampled-text formats. Options: ``path``
    (required), ``ratio``, ``seed`` and the codec's integer options;
    ``partitions`` asks the codec, ``read`` turns a partition's lines
    into Arrow batches of one string column."""

    _BATCH_ROWS = 8192

    def __init__(self, codec, options, column: str = "value"):
        self.codec = codec
        self.column = column
        self.path = options.get("path")
        if not self.path:
            raise ValueError(f"{codec.name} requires .option('path', ...)")
        self.ratio = float(options.get("ratio", "1.0"))
        self.seed = int(options.get("seed", "42"))
        self.opts = {k: int(options.get(k, str(v))) for k, v in codec.options.items()}

    def partitions(self):
        return self.codec.partitions(self.path, self.ratio, self.seed, self.opts)

    def read(self, partition):
        import pyarrow as pa

        lines = iter(self.codec.lines(partition, self.ratio, self.seed, self.opts))
        while batch := list(islice(lines, self._BATCH_ROWS)):
            yield pa.record_batch([pa.array(batch, pa.string())], names=[self.column])


class UnitTextSource(DataSource):
    """Base of the sampled-text formats. A subclass binds its ``codec``
    (whose ``name`` is the format name) and, where it differs, its
    schema; explicit subclasses pickle by reference to Python workers."""

    codec = None

    @classmethod
    def name(cls) -> str:
        return cls.codec.name

    def schema(self) -> str:
        return "value string"

    def reader(self, schema) -> UnitTextReader:
        return UnitTextReader(self.codec, self.options, schema.fieldNames()[0])


def load_sampled(
    spark,
    source: type[UnitTextSource],
    path: str,
    ratio: float,
    seed: int,
    row_config: SamplingConfig | None,
    **options,
) -> SampledFrame:
    """Read ``path`` through ``source`` at cluster ratio ``ratio`` and
    compose the optional within-cluster row stage. Every line's
    inclusion probability is ``ratio`` (its cluster's independent
    acceptance), so estimators HT-scale by 1/ratio."""
    spark.dataSource.register(source)
    reader = spark.read.format(source.name())
    for key, value in dict(path=path, ratio=ratio, seed=seed, **options).items():
        reader = reader.option(key, str(value))
    return compose_cluster_row_stage(reader.load(), ratio, seed, row_config)
