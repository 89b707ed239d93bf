#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise its spread.

From the repository root:

    python3 perfbench/steadiness.py --runs 10 > perfbench/STEADINESS.md

Takes ``--sets`` sets of runs, one after the other. In each set, every
workload of BENCHMARK.json runs ``--runs`` times untraced, one seed per
run (set ``s`` uses seeds ``100 * s + 1`` onwards), one run at a time.
One traced run per workload follows the sets. Prints a markdown record:
for each end-to-end metric, and for the untraced wall time of a pass
(``run.wall_s``, which is not an end-to-end metric), the median, the
first and third quartiles (``statistics.quantiles(values, n=4)``) and
the spread (third minus first quartile, as a share of the median) next
to the metric's bound; then how far each set's median moved from the
first set's; then each layer's share of a traced pass.
"""

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

WALL = "run.wall_s"


def run(spec: dict, workload: str, seed: int, trace: int) -> tuple[dict, str]:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        sys.exit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    if not res["correct"] or res["failed"]:
        sys.exit(f"{workload} seed {seed}: outputs failed the check")
    res["run_s"] = time.perf_counter() - t0
    res["pass_wall_s"] = float(re.search(r"untraced pass: wall_s=([\d.]+)", proc.stderr)[1])
    return res, proc.stderr


def spread(vals: list[float]) -> tuple[float, float, float, float]:
    q1, _, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return med, q1, q3, (q3 - q1) / med


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    args = p.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = [w["name"] for w in spec["workloads"]]
    out = ["# perfbench steadiness record", "",
           f"{args.sets} sets of {args.runs} untraced runs per workload "
           f"(`--seconds {spec['run_seconds']}`), one run at a time, then one traced "
           f"run per workload; host: {os.cpu_count()} CPUs."]
    medians: dict[tuple[str, str], list[float]] = {}
    for s in range(1, args.sets + 1):
        first = 100 * s + 1
        out += ["", f"## Set {s}: seeds {first}-{first + args.runs - 1}"]
        for wl in workloads:
            results = [run(spec, wl, first + i, 0)[0] for i in range(args.runs)]
            runs_s = [r["run_s"] for r in results]
            out += ["", f"### {wl}", "",
                    f"Every run correct, 0 failed of {sum(r['attempted'] for r in results)} "
                    f"timed requests. Run wall time: median {statistics.median(runs_s):.1f} s, "
                    f"max {max(runs_s):.1f} s.", "",
                    "| metric | median | q1 | q3 | spread | bound | values |",
                    "|---|---|---|---|---|---|---|"]
            for name in list(bounds) + [WALL]:
                vals = [r["pass_wall_s"] if name == WALL else r["metrics"][name]["value"]
                        for r in results]
                med, q1, q3, spr = spread(vals)
                medians.setdefault((wl, name), []).append(med)
                out.append(f"| `{name}` | {med:.4f} | {q1:.4f} | {q3:.4f} | {spr:.3f} | "
                           f"{bounds.get(name, '-')} | " + " ".join(f"{v:.3f}" for v in vals) + " |")
    if args.sets > 1:
        out += ["", "## Medians of each set against the first", "",
                "| workload | metric | " + " | ".join(f"set {s}" for s in range(1, args.sets + 1))
                + " | largest change | bound |",
                "|---|---|" + "---|" * args.sets + "---|---|"]
        for (wl, name), meds in medians.items():
            worst = max((m / meds[0] - 1 for m in meds[1:]), key=abs)
            out.append(f"| {wl} | `{name}` | " + " | ".join(f"{m:.4f}" for m in meds)
                       + f" | {worst:+.3f} | {bounds.get(name, '-')} |")
    out += ["", "## Traced runs", ""]
    for wl in workloads:
        res, err = run(spec, wl, 101, 1)
        shares = [ln for ln in err.splitlines() if "layer shares" in ln][-1]
        over = res["metrics"]["trace.overhead_frac"]["value"]
        out.append(f"- `{wl}`, seed 101: {shares.replace('perfbench: ', '')}; "
                   f"tracing overhead {over:+.1%} of `{WALL}`.")
    print("\n".join(out))


if __name__ == "__main__":
    main()
