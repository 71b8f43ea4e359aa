"""Output checks: DuckDB oracles, exact truths and estimate scoring.

Every check runs untimed. An exact or hash-sampled answer must equal its
DuckDB oracle row for row (floats to 1e-9 relative). An estimate is scored
against the exact population answer: its relative-L1 error (the paper's
comparator metric, ``sum |exact - est| / sum exact``), whether each
reported CI contains the exact value, and two checks that catch a wrong
Horvitz-Thompson scale: counts scaled by 1/ratio are integral after
multiplying back by the ratio, and the estimated total over the exact
total matches the share of the input the sample really kept, divided by
the ratio (within 25%; a sample whose kept share is unknown only has to
stay within a factor of three).
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

from random_sampling_based_approximate_mapreduce_spark.sources.tables import TABLES

TOTAL_BAND = 3.0
SCALE_TOLERANCE = 0.25


class Oracle:
    """One DuckDB connection per data dir, with a view per table and a
    cache of query results (truths repeat across passes and seeds)."""

    def __init__(self, dirs: dict[str, str]):
        self._dirs = dirs
        self._cons: dict[str, duckdb.DuckDBPyConnection] = {}
        self._cache: dict[tuple[str, str], pd.DataFrame] = {}

    def _con(self, data: str) -> duckdb.DuckDBPyConnection:
        if data not in self._cons:
            con = duckdb.connect()
            con.execute("SET threads TO 4")
            d = self._dirs[data]
            for t in TABLES:
                p = os.path.join(d, f"{t}.parquet")
                if os.path.isdir(p):
                    p = os.path.join(p, "*.parquet")
                elif not os.path.exists(p):
                    continue  # replicas carry only the tables they scale
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            self._cons[data] = con
        return self._cons[data]

    def query(self, data: str, sql: str) -> pd.DataFrame:
        key = (data, sql)
        if key not in self._cache:
            self._cache[key] = self._con(data).execute(sql).df()
        return self._cache[key]

    def close(self) -> None:
        for con in self._cons.values():
            con.close()
        self._cons.clear()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = df[c].dtype.kind
        if kind == "M" or "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif kind == "f":
            df[c] = df[c].astype(float)
        elif kind in "iub":
            df[c] = df[c].astype("int64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal as row multisets, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        if a[c].dtype.kind == "f":
            x, y = a[c].to_numpy(), b[c].to_numpy()
            ok = np.isclose(x, y, rtol=1e-9, atol=1e-9) | (np.isnan(x) & np.isnan(y))
        else:
            ok = a[c].to_numpy() == b[c].to_numpy()
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            return f"{c}: {a[c].iloc[i]!r} != {b[c].iloc[i]!r}"
    return None


def score_estimate(
    est: pd.DataFrame,
    truth: pd.DataFrame,
    keys: tuple[str, ...],
    cols: tuple[str, ...],
    truth_cols: tuple[str, ...],
    ratio: float,
    ci: str | None,
    realised: float | None = None,
) -> dict:
    """Error, CI hits and scale checks of one estimate against the truth.
    ``realised``: the share of the input the sample kept, when known."""
    problems: list[str] = []
    t = truth.set_index(list(keys))
    e = est.set_index(list(keys))
    extra = e.index.difference(t.index)
    if len(extra):
        problems.append(f"{len(extra)} estimated groups absent from the exact answer")
    e = e.reindex(t.index)
    errors = []
    for c, tc in zip(cols, truth_cols or cols):
        tv = t[tc].astype(float).to_numpy()
        ev = e[c].astype(float).fillna(0.0).to_numpy()
        if not np.isfinite(ev).all():
            problems.append(f"{c}: non-finite estimate")
            continue
        if (ev < 0).any():
            problems.append(f"{c}: negative count estimate")
        n = ev * ratio
        if not np.allclose(n, np.round(n), rtol=1e-6, atol=1e-6):
            problems.append(f"{c}: estimate * ratio not integral (wrong 1/ratio scale)")
        base = float(np.abs(tv).sum())
        total_ratio = float(ev.sum()) / float(tv.sum()) if tv.sum() else 1.0
        if realised:
            scale_error = total_ratio / (realised / ratio)
            if abs(scale_error - 1.0) > SCALE_TOLERANCE:
                problems.append(f"{c}: estimate is {scale_error:.3g}x what the kept share implies")
        elif not (1.0 / TOTAL_BAND <= total_ratio <= TOTAL_BAND):
            problems.append(f"{c}: estimated total is {total_ratio:.3g}x the exact total")
        errors.append(float(np.abs(tv - ev).sum()) / base if base else 0.0)
    hits = n_ci = 0
    if ci is not None:
        half = e[ci].astype(float).fillna(0.0).to_numpy()
        exact = t[(truth_cols or cols)[0]].astype(float).to_numpy()
        diff = np.abs(exact - e[cols[0]].astype(float).fillna(0.0).to_numpy())
        hits, n_ci = int((diff <= half).sum()), len(diff)
    return {
        "rel_l1": float(np.mean(errors)) if errors else math.nan,
        "ci_hits": hits,
        "ci_n": n_ci,
        "problems": problems,
    }
