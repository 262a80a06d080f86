#!/usr/bin/env python3
"""Alternating A/B pairs of the engine benchmark between two checkouts.

    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --workload default_mix --seeds 501-510 [--pairs 10] [--out runs.jsonl]
    python3 tools/ab_pairs.py --report runs.jsonl
    python3 tools/ab_pairs.py --counters --parent ../parent --change . \\
        --workload default_mix --seeds 501

Each pair runs `python3 enginebench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, on the same seed; the
side that runs first alternates from seed to seed (parent first on the
first seed). N is `run_seconds` from the change's BENCHMARK.json. Use
fresh clones: a stale `enginebench/target` can fail with
NoSuchMethodError after an engine signature change.

Every run is appended to `--out` as one JSON line (side, seed, wall
time, exit code, and the benchmark's result). The report prints, per
end-to-end metric of BENCHMARK.json: each side's median and quartiles,
the change's wins out of the pairs (ties count for neither side),
whether the change's median is within the metric's bound of the
parent's (`unresolved` when the parent's quartile spread is wider than
the bound), and whether the gain rule holds: wins on at least nine
tenths of the pairs and a median gap larger than the parent's
interquartile range. `--report` prints the report of an earlier `--out`
file without running anything.

`--counters` runs `enginebench/run.py --trace 1` once per checkout on
the first seed and prints the deterministic work counters of the two
runs side by side (COUNTERS below). It exits non-zero when a counter
differs or a run gives no result: a change that claims the same work
shows it here before any clock is read. Below the counters it prints
the per-turn kernel times and the host's calibration time (TIMINGS
below) of both runs, for information only: they are clocks, not work,
and are not compared. Both runs are appended to `--out` like pair runs,
marked `"trace": 1`; the report leaves them out.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

# Per-layer metrics of `--trace 1` that count work rather than time it:
# equal inputs give equal values on every host.
COUNTERS = ["pipeline.jobs", "pipeline.stages", "pipeline.output_files",
            "assemble.exchanges", "assemble.stages", "assemble.rows_routed",
            "assemble.rows_quarantined", "streaming.batches",
            "kernel.cells_per_turn", "kernel.box_keep_ratio", "kernel.block_keep_ratio"]
# Per-layer clocks a `--counters` run also prints, not compared.
TIMINGS = ("kernel.us_per_turn.", "host.kernel_us")


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        if "-" in part.strip("-"):
            lo, hi = part.split("-")
            seeds.extend(range(int(lo), int(hi) + 1))
        else:
            seeds.append(int(part))
    return seeds


def run_once(checkout, side, workload, seed, seconds, log_dir, trace=0):
    cmd = [sys.executable, "enginebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    err = subprocess.DEVNULL
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
        err = open(os.path.join(log_dir, f"{workload}-{seed}-{side}.log"), "w")
    start = time.monotonic()
    try:
        done = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=err, text=True)
    finally:
        if err is not subprocess.DEVNULL:
            err.close()
    wall = time.monotonic() - start
    lines = [l for l in done.stdout.splitlines() if l.strip()]
    result = None
    if done.returncode == 0 and lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    return {"side": side, "workload": workload, "seed": seed, "trace": trace,
            "wall_s": round(wall, 1), "exit": done.returncode, "result": result}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(runs, bench):
    runs = [r for r in runs if r.get("trace", 0) == 0]
    by_key = {(r["workload"], r["seed"], r["side"]): r for r in runs}
    for workload in sorted({r["workload"] for r in runs}):
        seeds = sorted({r["seed"] for r in runs if r["workload"] == workload})
        print(f"\n== {workload}: {len(seeds)} seeds ==")
        print("wall time per run (s):")
        for seed in seeds:
            cells = []
            for side in ("parent", "change"):
                r = by_key.get((workload, seed, side))
                if r is None:
                    cells.append(f"{side} -")
                    continue
                res = r["result"]
                state = ("no result (exit %d)" % r["exit"] if res is None else
                         f"correct={res['correct']} failed={res['failed']}/{res['attempted']}")
                cells.append(f"{side} {r['wall_s']:.1f} ({state})")
            print(f"  seed {seed}: " + "; ".join(cells))
        pairs = [(by_key[(workload, s, "parent")]["result"], by_key[(workload, s, "change")]["result"])
                 for s in seeds
                 if (workload, s, "parent") in by_key and (workload, s, "change") in by_key]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        print(f"complete pairs: {len(pairs)}")
        if not pairs:
            continue
        print(f"{'metric':<26} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
              f"{'ratio':>6} {'wins':>6} {'bound':>11} {'gain rule':>9}")
        for m in bench["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            ps = [p["metrics"][name]["value"] for p, _ in pairs]
            cs = [c["metrics"][name]["value"] for _, c in pairs]
            pq1, pmed, pq3 = quartiles(ps)
            cq1, cmed, cq3 = quartiles(cs)
            wins = sum(1 for p, c in zip(ps, cs) if (c < p if lower else c > p))
            worse = (cmed - pmed) if lower else (pmed - cmed)
            if (pq3 - pq1) > m["bound"] * abs(pmed):
                bound = "unresolved"
            else:
                bound = "ok" if worse <= m["bound"] * abs(pmed) else "WORSE"
            gain = wins * 10 >= 9 * len(pairs) and -worse > (pq3 - pq1)
            ratio = cmed / pmed if pmed else float("nan")
            side_p = f"{pmed:.5g} [{pq1:.5g}, {pq3:.5g}]"
            side_c = f"{cmed:.5g} [{cq1:.5g}, {cq3:.5g}]"
            print(f"{name:<26} {side_p:>30} {side_c:>30} {ratio:>6.3f} "
                  f"{f'{wins}/{len(pairs)}':>6} {bound:>11} {'holds' if gain else 'no':>9}")


def counter_diff(runs):
    """Print the COUNTERS of a parent and a change run side by side;
    return the number of counters that differ or are missing."""
    res = {r["side"]: r["result"] for r in runs}
    for r in runs:
        print(f"{r['side']}: {r['wall_s']:.1f} s, exit {r['exit']}")
    if any(v is None for v in res.values()):
        print("a run gave no result")
        return 1
    print(f"{'counter':<26} {'parent':>20} {'change':>20}")
    diffs = 0
    for name in COUNTERS:
        p, c = (res[side]["metrics"].get(name, {}).get("value") for side in ("parent", "change"))
        same = p is not None and p == c
        diffs += not same
        print(f"{name:<26} {p!s:>20} {c!s:>20}{'' if same else '  DIFFERS'}")
    print("timings (information only, not compared):")
    names = sorted({n for side in ("parent", "change") for n in res[side]["metrics"]
                    if n.startswith(TIMINGS)})
    for name in names:
        p, c = (res[side]["metrics"].get(name, {}).get("value") for side in ("parent", "change"))
        print(f"{name:<32} {p!s:>20} {c!s:>20}")
    return diffs


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", help="checkout of the parent commit")
    p.add_argument("--change", help="checkout of the change")
    p.add_argument("--workload")
    p.add_argument("--seeds", help="e.g. 501-510 or 7,11,13")
    p.add_argument("--pairs", type=int, help="number of pairs (default: one per seed)")
    p.add_argument("--out", help="append every run to this JSON-lines file")
    p.add_argument("--log-dir", help="keep each run's stderr here")
    p.add_argument("--report", help="print the report of an earlier --out file and exit")
    p.add_argument("--counters", action="store_true",
                   help="diff the work counters of one --trace 1 run per checkout")
    a = p.parse_args()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bench_file = os.path.join(a.change or here, "BENCHMARK.json")
    with open(bench_file) as f:
        bench = json.load(f)

    if a.report:
        with open(a.report) as f:
            report([json.loads(l) for l in f if l.strip()], bench)
        return
    if not (a.parent and a.change and a.workload and a.seeds):
        p.error("--parent, --change, --workload and --seeds are required (or --report)")
    seeds = parse_seeds(a.seeds)
    pairs = a.pairs or len(seeds)
    if pairs > len(seeds):
        p.error(f"{pairs} pairs need {pairs} seeds, got {len(seeds)}")
    checkouts = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    if a.counters:
        runs = [run_once(checkouts[side], side, a.workload, seeds[0], bench["run_seconds"],
                         a.log_dir, trace=1) for side in ("parent", "change")]
        if a.out:
            with open(a.out, "a") as f:
                f.writelines(json.dumps(r) + "\n" for r in runs)
        sys.exit(1 if counter_diff(runs) else 0)
    runs = []
    for i, seed in enumerate(seeds[:pairs]):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(checkouts[side], side, a.workload, seed, bench["run_seconds"], a.log_dir)
            runs.append(r)
            print(f"[ab_pairs] {a.workload} seed {seed} {side}: {r['wall_s']:.1f} s, exit {r['exit']}",
                  file=sys.stderr, flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(r) + "\n")
    report(runs, bench)


if __name__ == "__main__":
    main()
