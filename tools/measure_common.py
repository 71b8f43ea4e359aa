"""Shared harness pieces for the FRESH-DRIVER cold measurements
(measure_log_bgzf_cold, measure_gzi_e2e).

Two timing models exist in tools/ on purpose, and this module implements
only the second:

- measure_cold_skip keeps the driver's block-table caches WARM across
  timed passes (its cells isolate data-read cost; the metadata scan is
  paid once in the warmup) — its private helpers stay in that file;
- the fresh-driver model here clears the BGZF block-table cache AND
  evicts the page cache before every timed pass, so each pass pays the
  full pick+read a new driver would (the 100-TB planner cost model the
  .gzi sidecar exists for).
"""

from __future__ import annotations

import contextlib
import os
import time


def input_files(path: str) -> list[str]:
    """Every data/metadata file under ``path`` (Spark markers and
    dotfiles excluded), sorted — the eviction set."""
    out = []
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                out.append(os.path.join(root, f))
    return sorted(out)


def evict(paths: list[str]) -> None:
    """Drop the page cache for every file (clean pages only — callers
    must os.sync() once after building the inputs)."""
    for p in paths:
        fd = os.open(p, os.O_RDONLY)
        try:
            os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
        finally:
            os.close(fd)


def clear_block_cache() -> None:
    """Reset the driver-side unit-table cache (BGZF block hops and zstd
    seek tables share it): a timed pick must re-pay the metadata scan or
    tail read, or the cell measures a dict lookup."""
    from random_sampling_based_approximate_mapreduce_spark.sources import unit_text

    unit_text.TABLE_CACHE.clear()


def timed_fresh_driver(fn, n: int, evict_paths: list[str] | None = None) -> float:
    """min-of-n with one untimed warmup pass (JVM/codegen warm; the
    per-pass cache clearing + eviction below is what makes a pass cold,
    not session state)."""
    fn()
    best = float("inf")
    for _ in range(n):
        clear_block_cache()
        if evict_paths is not None:
            evict(evict_paths)
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return round(best, 3)


def restore_and_assert_sidecars(bgzf_dir: str) -> None:
    """Guard to run BEFORE timing any 'indexed' row (review r14): a hard
    kill (SIGKILL/OOM) inside stash_sidecars' window leaves the
    published, _SUCCESS-marked layout permanently sidecar-less with the
    .gzi files stranded in the sibling stash dir — every later
    invocation's 'indexed' rows would then silently measure the header
    hop. Restore any leftover stash first, then require one .gzi per
    .gz part; fail loudly otherwise (the layout key can't change with
    the recipe without perturbing path-seeded picks, so a post-hoc
    assertion is the right guard)."""
    from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import GZI_SUFFIX

    stash = bgzf_dir.rstrip("/") + ".gzi_stash"
    if os.path.isdir(stash):
        for f in sorted(os.listdir(stash)):
            os.rename(os.path.join(stash, f), os.path.join(bgzf_dir, f))
        os.rmdir(stash)
    missing = [
        f
        for f in sorted(os.listdir(bgzf_dir))
        if f.endswith(".gz")
        and not os.path.exists(os.path.join(bgzf_dir, f + GZI_SUFFIX))
    ]
    if missing:
        raise RuntimeError(
            f"{bgzf_dir}: {len(missing)} .gz part(s) missing their "
            f"{GZI_SUFFIX} sidecar (e.g. {missing[0]}) — rebuild the "
            "layout before timing indexed rows"
        )


@contextlib.contextmanager
def stash_sidecars(bgzf_dir: str):
    """Temporarily move every .gzi out of the layout so scan_blocks
    falls back to the header hop on identical .gz bytes. Moved to a
    SIBLING dir (an in-place rename would trip the reader's
    only-.gz-files listing guard); restored even on error."""
    from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import GZI_SUFFIX

    stash = bgzf_dir.rstrip("/") + ".gzi_stash"
    os.makedirs(stash, exist_ok=True)
    moved = []
    for f in sorted(os.listdir(bgzf_dir)):
        if f.endswith(GZI_SUFFIX):
            os.rename(os.path.join(bgzf_dir, f), os.path.join(stash, f))
            moved.append(f)
    if not moved:
        os.rmdir(stash)
        raise ValueError(f"no {GZI_SUFFIX} sidecars under {bgzf_dir} to stash")
    try:
        yield
    finally:
        for f in moved:
            os.rename(os.path.join(stash, f), os.path.join(bgzf_dir, f))
        os.rmdir(stash)
