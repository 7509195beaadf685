#!/usr/bin/env python3
"""Repeats the benchmark over many seeds and records how steady it is.

    python3 perfbench/steadiness.py --seeds 10 [--workloads catalog,live]
        [--traced 2] [--out perfbench/STEADINESS.json]

For each workload: `--seeds` untraced runs with seeds 101, 102, ...,
then `--traced` traced runs on the first seeds. Per metric it records
the ten values, their median and quartiles (statistics.quantiles, n=4)
and the spread (Q3 - Q1) / median, which BENCHMARK.json's bound must
exceed; for the figures BENCHMARK.json does not bound it records the
same, so it shows why they were left out. The traced runs' overhead is
the change of each end-to-end median against the untraced runs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from paths import HERE, ROOT, STATE

sys.path.insert(0, HERE)
import stats  # noqa: E402


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(STATE, "artifacts", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        art = json.load(f)
    return line, art, time.time() - t0


def describe(values):
    vals = [v for v in values if v is not None]
    if len(vals) < 2:
        return {"values": values}
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return {"values": values, "median": statistics.median(vals), "q1": q1, "q3": q3,
            "spread": stats.spread(vals)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--workloads", default="catalog,live")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--traced", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"seconds": seconds, "seeds": list(range(args.first_seed, args.first_seed + args.seeds)),
              "workloads": {}}
    for w in args.workloads.split(","):
        e2e, named, walls, correct, steal = {}, {}, [], [], []
        for seed in report["seeds"]:
            line, art, wall = run(w, seed, seconds, 0)
            walls.append(wall)
            correct.append(line["correct"])
            steal.append(art["host_steal_pct"])
            for k, v in line["metrics"].items():
                e2e.setdefault(k, []).append(v["value"])
            for k, v in art["named"].items():
                named.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {wall:.1f} s {json.dumps(line['metrics'])}", flush=True)
        traced = {}
        for seed in report["seeds"][:args.traced]:
            line, art, wall = run(w, seed, seconds, 1)
            walls.append(wall)
            for k, v in art["end_to_end"].items():
                traced.setdefault(k, []).append(v)
            traced.setdefault("trace.overhead_pct", []).append(
                art["per_layer"]["trace.overhead_pct"])
            print(f"{w} seed {seed} traced: {wall:.1f} s", flush=True)
        entry = {"correct": correct, "wall_s": walls, "host_steal_pct": steal,
                 "end_to_end": {k: dict(describe(v), bound=bounds.get(k))
                                for k, v in e2e.items()},
                 "unbounded": {k: describe(v) for k, v in named.items()}}
        if traced:
            entry["traced"] = {
                "seeds": report["seeds"][:args.traced],
                "recorded_overhead_pct": traced.pop("trace.overhead_pct"),
                "median_change_vs_untraced": {
                    k: statistics.median(v) / statistics.median(
                        [x for x in e2e[k][:len(v)]]) - 1.0
                    for k, v in traced.items() if k in e2e}}
        report["workloads"][w] = entry
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    for w, entry in report["workloads"].items():
        for k, d in entry["end_to_end"].items():
            flag = "" if d.get("spread", 0) <= (d["bound"] or 1) / 3 else "  <-- above bound/3"
            print(f"{w:8s} {k:16s} median {d.get('median')!s:>22s} spread {d.get('spread', 0):.4f}"
                  f" bound {d['bound']}{flag}")


if __name__ == "__main__":
    main()
