#!/usr/bin/env python3
"""Alternating A/B pairs of the benchmark: a parent checkout against a change.

    python3 scripts/abpairs.py --parent ../parent --workload dash_refresh \
        --seeds 641-650 [--change .] [--seconds 16] [--out pairs.jsonl]
    python3 scripts/abpairs.py --report pairs.jsonl

The parent is a plain copy of the parent commit (`git archive <sha> | tar
-x -C ../parent`), not a worktree; each side builds and runs its own
`perfbench/run.py`. One pair per seed and workload, untraced
(`--trace 0`), one run at a time; the side that runs first alternates
from pair to pair. Each run's last stdout line (the benchmark's JSON)
and its process CPU (user + system of the run and every process it
waited for, from `RUSAGE_CHILDREN`) are appended to `--out` as one JSON
line, so a cut series can still be reported; `--keep-raw DIR` also
keeps each run's `raw.json` (per-operation timings).

The report gives, per workload and end-to-end metric (from the change's
BENCHMARK.json), each side's q1/median/q3 (linear interpolation), the
pairs the change won (ties count for neither side) and whether a gain
claim holds: the change wins at least nine tenths of the pairs and its
median is better than the parent's by more than the parent's quartile
spread (q3 - q1). It also lists runs that were not `correct` or had
failures, and the CPU per run.
"""
import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SIDES = ("parent", "change")


def seeds(spec):
    """'641-650' or '641,645,650' -> [641, ...]."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def cpu_s():
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def build(side_dir):
    """Build the side's program once, so no run's CPU includes a build."""
    code = "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"
    subprocess.run([sys.executable, "-c", code], cwd=side_dir, check=True)


def run_once(side, side_dir, workload, seed, seconds, keep_raw=None):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    before = cpu_s()
    p = subprocess.run(cmd, cwd=side_dir, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    cpu = cpu_s() - before
    if keep_raw:
        os.makedirs(keep_raw, exist_ok=True)
        raw = os.path.join(side_dir, "perfbench", "work", workload, "raw.json")
        if os.path.exists(raw):
            shutil.copy(raw, os.path.join(keep_raw, f"{workload}-{seed}-{side}.json"))
    lines = p.stdout.decode(errors="replace").strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    return {"exit": p.returncode, "cpu_s": round(cpu, 2), "result": result}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(records, end_to_end):
    better = {m["name"]: m["better"] for m in end_to_end}
    for workload in sorted({r["workload"] for r in records}):
        pairs = {}
        for r in records:
            if r["workload"] == workload:
                pairs.setdefault(r["seed"], {})[r["side"]] = r
        done = {s: p for s, p in sorted(pairs.items()) if all(
            p.get(side, {}).get("result") for side in SIDES)}
        print(f"== {workload}: {len(done)} complete pairs (seeds {', '.join(map(str, done))})")
        bad = [f"{r['side']} seed {r['seed']}" for p in pairs.values() for r in p.values()
               if not r.get("result") or not r["result"].get("correct") or r["result"].get("failed")]
        print("   runs not correct or with failures: " + (", ".join(bad) if bad else "none"))
        for side in SIDES:
            cpu = [p[side]["cpu_s"] for p in done.values()]
            if cpu:
                print(f"   cpu_s {side:6s} per run {cpu}  median {statistics.median(cpu):.1f}")
        for name in better:
            vals = {side: [p[side]["result"]["metrics"].get(name, {}).get("value") for p in done.values()]
                    for side in SIDES}
            if not done or any(v is None for side in SIDES for v in vals[side]):
                continue
            sign = 1 if better[name] == "lower" else -1  # positive gap = change better
            wins = sum(1 for a, b in zip(vals["parent"], vals["change"]) if sign * (a - b) > 0)
            losses = sum(1 for a, b in zip(vals["parent"], vals["change"]) if sign * (a - b) < 0)
            pq, cq = quartiles(vals["parent"]), quartiles(vals["change"])
            gap = sign * (pq[1] - cq[1])
            spread = pq[2] - pq[0]
            holds = wins >= 0.9 * len(done) and gap > spread
            print(f"   {name:20s} parent {pq[0]:9.1f} {pq[1]:9.1f} {pq[2]:9.1f} | change "
                  f"{cq[0]:9.1f} {cq[1]:9.1f} {cq[2]:9.1f} | change better {wins}/{len(done)} "
                  f"(worse {losses}) | median gap {gap:+.1f} vs parent spread {spread:.1f} | "
                  f"gain rule {'holds' if holds else 'does not hold'}")
            print(f"   {'':20s} parent {[round(v, 1) for v in vals['parent']]}")
            print(f"   {'':20s} change {[round(v, 1) for v in vals['change']]}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", default=ROOT, help="checkout of the change (default: this tree)")
    ap.add_argument("--workload", nargs="+", default=["dash_refresh"])
    ap.add_argument("--seeds", help="e.g. 641-650")
    ap.add_argument("--seconds", type=int, default=None,
                    help="window per run (default: BENCHMARK.json's run_seconds)")
    ap.add_argument("--out", default="abpairs.jsonl", help="JSON lines, appended to")
    ap.add_argument("--report", metavar="FILE", help="only report the runs recorded in FILE")
    ap.add_argument("--keep-raw", metavar="DIR",
                    help="copy each run's raw.json (per-op timings) to DIR/<workload>-<seed>-<side>.json")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.report:
        with open(a.report) as f:
            report([json.loads(line) for line in f if line.strip()], spec["end_to_end"])
        return
    if not a.parent or not a.seeds:
        ap.error("--parent and --seeds are required unless --report is given")
    dirs = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    seconds = a.seconds or spec["run_seconds"]
    for side in SIDES:
        build(dirs[side])
    records = []
    k = 0
    for seed in seeds(a.seeds):
        for workload in a.workload:
            order = SIDES if k % 2 == 0 else SIDES[::-1]
            k += 1
            for side in order:
                r = run_once(side, dirs[side], workload, seed, seconds, a.keep_raw)
                rec = {"workload": workload, "seed": seed, "side": side, "first": order[0], **r}
                records.append(rec)
                with open(a.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                m = (r["result"] or {}).get("metrics", {})
                print(f"[abpairs] {workload} seed {seed} {side}: " + " ".join(
                    f"{n}={v['value']:.1f}" for n, v in m.items()) + f" cpu_s={r['cpu_s']}", flush=True)
    report(records, spec["end_to_end"])


if __name__ == "__main__":
    main()
