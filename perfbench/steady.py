"""Run the benchmark over two sets of seeds and record how steady each
end-to-end metric is: median, quartiles (``statistics.quantiles(n=4)``)
and their distance as a share of the median, per workload and set.

    python3 perfbench/steady.py

Set A uses seeds 1-10 and set B seeds 11-20. Every workload in
``BENCHMARK.json`` runs once per seed, one process at a time, from the
repository root. The two sets are interleaved run by run (A1, B11, A2,
B12, ...), so a change in the host's speed during the half hour they take
lands on both sets alike and the shift between their medians measures
the benchmark, not the host. Writes ``perfbench/STEADINESS.json`` and
``perfbench/STEADINESS.md``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import median, spread  # noqa: E402

SETS = {"A": list(range(1, 11)), "B": list(range(11, 21))}


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    out = subprocess.run(
        [
            sys.executable,
            "perfbench/run.py",
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", str(seconds),
            "--trace", "0",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=200,
    )
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1]), wall


def summarize_set(runs: list[dict]) -> dict:
    out = {}
    for n in runs[0]["metrics"]:
        vals = [r["metrics"][n]["value"] for r in runs]
        q1, _q2, q3 = statistics.quantiles(vals, n=4)
        out[n] = {
            "median": median(vals),
            "q1": q1,
            "q3": q3,
            "spread": spread(vals),
            "values": vals,
        }
    return out


def render(db: dict, spec: dict) -> str:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lines = [
        "# Steadiness of the end-to-end metrics",
        "",
        "Generated by `perfbench/steady.py` (do not edit by hand). Sets A and B",
        "run every workload once per seed, one process at a time, interleaved",
        "run by run. Spread = (q3 − q1) / median with quartiles from",
        "`statistics.quantiles(values, n=4)`. Target: spread below a third",
        "of the bound; a spread above the bound fails acceptance (`setup_s` is",
        "exempt from the spread test). `B vs A` is the change of set B's median",
        "against set A's, as a share of set A's.",
        "",
    ]
    for wl in db["workloads"]:
        lines += [
            f"## {wl}",
            "",
            "| set | metric | median | q1 | q3 | spread | bound/3 | bound | B vs A |",
            "|---|---|---|---|---|---|---|---|---|",
        ]
        for label in SETS:
            for n, s in db["sets"][label][wl].items():
                d = ""
                if label != "A":
                    m0 = db["sets"]["A"][wl][n]["median"]
                    d = f"{(s['median'] - m0) / m0:+.3f}"
                b = bounds.get(n, 0)
                lines.append(
                    f"| {label} | {n} | {s['median']:.6g} | {s['q1']:.6g} | {s['q3']:.6g} "
                    f"| {s['spread']:.3f} | {b / 3:.3f} | {b:.2f} | {d} |"
                )
        lines.append("")
    meta = db["meta"]
    lines.append(
        f"Sets A (seeds 1-10) and B (seeds 11-20): --seconds {meta['seconds']}, "
        f"{meta['host']}; {meta['runs']} runs, {meta['attempted']} operations, "
        f"wall per run {meta['min_wall_s']:.0f}-{meta['max_wall_s']:.0f} s "
        f"(mean {meta['mean_wall_s']:.1f} s), {meta['total_s']:.0f} s in all."
    )
    return "\n".join(lines) + "\n"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    runs = {label: {wl: [] for wl in workloads} for label in SETS}
    walls = []
    t0 = time.perf_counter()
    for i in range(len(SETS["A"])):
        for label, seeds in SETS.items():
            for wl in workloads:
                res, wall = run_once(wl, seeds[i], spec["run_seconds"])
                walls.append(wall)
                if not res["correct"] or res["failed"]:
                    raise RuntimeError(f"{wl} seed {seeds[i]}: outputs incorrect: {res}")
                runs[label][wl].append(res)
                vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
                print(f"{label} {wl} seed {seeds[i]} wall {wall:.1f}s", vals, flush=True)
    db = {
        "workloads": workloads,
        "sets": {
            label: {wl: summarize_set(rs) for wl, rs in by_wl.items()}
            for label, by_wl in runs.items()
        },
        "meta": {
            "seconds": spec["run_seconds"],
            "host": f"{len(os.sched_getaffinity(0))} cores, {os.uname().machine}",
            "runs": len(walls),
            "attempted": sum(r["attempted"] for by_wl in runs.values() for rs in by_wl.values() for r in rs),
            "min_wall_s": min(walls),
            "max_wall_s": max(walls),
            "mean_wall_s": sum(walls) / len(walls),
            "total_s": time.perf_counter() - t0,
        },
    }
    with open(os.path.join(HERE, "STEADINESS.json"), "w") as f:
        json.dump(db, f, indent=1)
    with open(os.path.join(HERE, "STEADINESS.md"), "w") as f:
        f.write(render(db, spec))
    return 0


if __name__ == "__main__":
    sys.exit(main())
