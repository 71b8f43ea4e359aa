#!/usr/bin/env python3
"""Self-test of the benchmark (run from the repository root):

    python3 perfbench/selftest.py

1. The estimate check must reject a Horvitz-Thompson estimate scaled by a
   wrong 1/ratio and accept the right one (no Spark needed).
2. ``BENCHMARK.json`` must name exactly the workloads, metrics and units
   ``run.py`` has.
3. Every workload runs at sf0.001 for one pass (``--tiny --seconds 0``),
   untraced and traced. Each run must exit 0 and print a correct result whose last line carries
   every metric with its unit, in under 2000 characters.

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_wrong_scale() -> list[str]:
    from checks import score_estimate

    rng = np.random.default_rng(7)
    ratio = 0.1
    keys = np.array([f"k{i}" for i in range(30)])
    rows = keys[rng.integers(0, len(keys), 50_000)]
    truth = pd.Series(rows).value_counts().rename_axis("word").reset_index(name="cnt")
    kept = rows[rng.random(len(rows)) < ratio]
    n = pd.Series(kept).value_counts().rename_axis("word").reset_index(name="n")
    realised = len(kept) / len(rows)

    def score(scale: float) -> dict:
        est = n.assign(est_cnt=n["n"] * scale)[["word", "est_cnt"]]
        return score_estimate(
            est, truth, ("word",), ("est_cnt",), ("cnt",), ratio, None, realised
        )

    errors = []
    right = score(1.0 / ratio)
    if right["problems"] or not right["rel_l1"] < 0.1:
        errors.append(f"correct 1/ratio estimate rejected: {right}")
    for wrong in (1.0 / (2 * ratio), 2.0 / ratio, 1.0, 1.0 / ratio**2):
        if not score(wrong)["problems"]:
            errors.append(f"estimate scaled by {wrong:g} instead of {1 / ratio:g} passed the check")
    return errors


def check_benchmark_json(end_to_end: dict, per_layer: dict) -> list[str]:
    from workloads import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = []
    listed = [w["name"] for w in spec["workloads"]]
    if listed != list(workloads(1.0)):
        errors.append(f"BENCHMARK.json workloads {listed} != run.py {list(workloads(1.0))}")
    for section, want in (("end_to_end", end_to_end), ("per_layer", per_layer)):
        got = {m["name"]: m["unit"] for m in spec[section]}
        if got != want:
            errors.append(f"BENCHMARK.json {section} {got} != run.py {want}")
    return errors


def check_runs(end_to_end: dict, per_layer: dict) -> list[str]:
    from workloads import workloads

    errors = []
    for name in workloads(1.0):
        for trace in (0, 1):
            cmd = [sys.executable, "perfbench/run.py", "--workload", name, "--seed", "1",
                   "--seconds", "0", "--trace", str(trace), "--tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            tag = f"{name} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                errors.append(f"{tag}: exit {p.returncode}: {p.stderr[-500:]}")
                continue
            last = lines[-1]
            result = json.loads(last)
            want = per_layer if trace else end_to_end
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{tag}: result keys {sorted(result)}")
            if got != want:
                errors.append(f"{tag}: metrics {got} != {want}")
            if not result["correct"] or result["failed"]:
                errors.append(f"{tag}: incorrect run: {lines[-2][:600] if len(lines) > 1 else ''}")
            if len(last) >= 2000 or (len(lines) > 1 and len(lines[-2]) >= 2000):
                errors.append(f"{tag}: an output line is 2000 characters or longer")
            print(f"{tag}: ok={not errors}", flush=True)
    return errors


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    from run import END_TO_END, PER_LAYER

    errors = check_wrong_scale() + check_benchmark_json(END_TO_END, PER_LAYER)
    errors += check_runs(END_TO_END, PER_LAYER)
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
