"""Run the benchmark over several seeds and write one aggregated record.

    python3 jobbench/collect.py --seeds 1-10 --out jobbench/records/baseline-4core.json

For every workload of ``BENCHMARK.json`` it runs ``run.py`` untraced once
per seed, then traced once per ``--traced-seeds`` seed, and writes each
end-to-end metric's values, median, quartiles and interquartile spread
(as a share of the median), the traced per-layer metrics, and every run's
environment stamp and phase times.
"""
from __future__ import annotations

import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} trace {trace}: {proc.stderr[-2000:]}")
    record, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    return record, result, time.perf_counter() - t0


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_frac": (q3 - q1) / med if med else 0.0, "values": values}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--traced-seeds", type=seeds_arg, default=seeds_arg("1"))
    ap.add_argument("--out", type=pathlib.Path, required=True)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for name in names:
        runs, traced = [], []
        for seed in args.seeds:
            record, result, wall = run(name, seed, spec["run_seconds"], 0)
            runs.append({"seed": seed, "wall_s": wall, "result": result, "record": record})
            print(name, seed, round(wall, 1), {k: round(v["value"], 4) for k, v in result["metrics"].items()},
                  flush=True)
        for seed in args.traced_seeds:
            record, result, wall = run(name, seed, spec["run_seconds"], 1)
            traced.append({"seed": seed, "wall_s": wall, "result": result, "record": record})
            print(name, seed, "traced", round(wall, 1), flush=True)
        e2e = {
            m: summarize([r["result"]["metrics"][m]["value"] for r in runs]) for m in bounds
        }
        for m, s in e2e.items():
            s["bound"] = bounds[m]
            s["spread_within_third_of_bound"] = s["iqr_frac"] < bounds[m] / 3
        per_layer = {
            m["name"]: summarize([r["result"]["metrics"][m["name"]]["value"] for r in traced])
            for m in spec["per_layer"]
        } if traced else {}
        report["workloads"][name] = {
            "end_to_end": e2e,
            "per_layer": per_layer,
            "all_correct": all(r["result"]["correct"] for r in runs + traced),
            "run_wall_s": summarize([r["wall_s"] for r in runs + traced]),
            "runs": runs,
            "traced": traced,
        }
    args.out.parent.mkdir(parents=True, exist_ok=True)
    args.out.write_text(json.dumps(report, indent=1) + "\n")
    for name, w in report["workloads"].items():
        for m, s in w["end_to_end"].items():
            print(f"{name:18s} {m:28s} median={s['median']:.4g} iqr/median={s['iqr_frac']:.3f} bound={s['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
