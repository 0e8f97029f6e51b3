#!/usr/bin/env python3
"""Compare the benchmark on two checkouts: a parent and a change.

    python3 perfbench/compare.py --parent DIR --change DIR [--pairs 10]
        [--workloads backfill,serve] [--seed 1000] [--log runs.jsonl]
    python3 perfbench/compare.py --analyze runs.jsonl

Runs `perfbench/run.py` in each checkout for every workload, in pairs that
share a seed, alternating which side goes first, and appends every result
to the log. Then prints, per workload and end-to-end metric, each side's
median and quartiles, the share of pairs the change wins (ties count for
neither side) and a verdict against the bounds in the parent's
BENCHMARK.json:
  gain        the change wins at least 9 of 10 pairs and the medians differ
              by more than the parent's own quartile spread
  regression  the change's median is worse than the parent's by more than
              the bound
  unresolved  a side's quartile spread exceeds the bound, unless every
              change run beats every parent run
  same        none of these
Results from more than one boot id are flagged: reboots move the whole band.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2 or not lines[-2].startswith("# stamp "):
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed in {checkout}: {workload} seed {seed}")
    return {"stamp": json.loads(lines[-2][len("# stamp "):]), "result": json.loads(lines[-1])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(metric, parent, change, pairs):
    """Verdict for one metric; `pairs` are (parent, change) values."""
    bound, lower = metric["bound"], metric["better"] == "lower"
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    better = (lambda a, b: b < a) if lower else (lambda a, b: b > a)
    wins = sum(better(a, b) for a, b in pairs) / len(pairs)
    worse = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
    spread = max((p3 - p1) / pm if pm else 0.0, (c3 - c1) / cm if cm else 0.0)
    all_better = all(better(a, b) for a in parent for b in change)
    if spread > bound and not all_better:
        v = "unresolved"
    elif worse > bound:
        v = "regression"
    elif wins >= 0.9 and abs(cm - pm) > (p3 - p1) and not worse > 0:
        v = "gain"
    else:
        v = "same"
    return (p1, pm, p3), (c1, cm, c3), wins, worse, spread, v


def analyze(records, spec):
    boots = {r["stamp"]["boot_id"] for r in records}
    if len(boots) > 1:
        print(f"WARNING: runs span {len(boots)} boot ids; cross-boot bands differ")
    for workload in sorted({r["stamp"]["workload"] for r in records}):
        by = {}
        for r in records:
            if r["stamp"]["workload"] == workload:
                by.setdefault(r["stamp"]["seed"], {})[r["side"]] = r["result"]
        full = [v for v in by.values() if "parent" in v and "change" in v]
        print(f"\n{workload}: {len(full)} pairs")
        print(f"  {'metric':16s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} "
              f"{'wins':>5s} {'worse':>7s} {'spread':>7s} {'bound':>6s}  verdict")
        for m in spec["end_to_end"]:
            pairs = [(v["parent"]["metrics"][m["name"]]["value"],
                      v["change"]["metrics"][m["name"]]["value"]) for v in full]
            if not pairs:
                continue
            p, c, wins, worse, spread, v = verdict(
                m, [a for a, _ in pairs], [b for _, b in pairs], pairs)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"  {m['name']:16s} {fmt(p):>30s} {fmt(c):>30s} {wins:5.2f} "
                  f"{worse:+7.3f} {spread:7.3f} {m['bound']:6.2f}  {v}")
        bad = [s for s, v in by.items() for side in v if not v[side]["correct"]]
        if bad:
            print(f"  incorrect results at seeds {sorted(set(bad))}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--log", default="perfbench-compare.jsonl")
    ap.add_argument("--analyze")
    a = ap.parse_args()
    if a.analyze:
        records = [json.loads(l) for l in Path(a.analyze).read_text().splitlines() if l]
        spec_dir = Path(records[0]["checkout"]) if records else Path(".")
        spec_file = spec_dir / "BENCHMARK.json"
        if not spec_file.exists():
            spec_file = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
        analyze(records, json.loads(spec_file.read_text()))
        return
    if not (a.parent and a.change):
        ap.error("--parent and --change are required unless --analyze is given")
    sides = {"parent": Path(a.parent).resolve(), "change": Path(a.change).resolve()}
    spec = json.loads((sides["parent"] / "BENCHMARK.json").read_text())
    if spec != json.loads((sides["change"] / "BENCHMARK.json").read_text()):
        print("WARNING: the two checkouts define the benchmark differently")
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    records = []
    with open(a.log, "a") as log:
        for w in workloads:
            for i in range(a.pairs):
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                for side in order:
                    r = run(sides[side], w, a.seed + i, spec["run_seconds"])
                    r.update(side=side, checkout=str(sides["parent"]))
                    records.append(r)
                    log.write(json.dumps(r) + "\n")
                    log.flush()
    analyze(records, spec)


if __name__ == "__main__":
    main()
