#!/usr/bin/env python3
"""Steadiness check for the benchmark's end-to-end metrics.

    python3 perfbench/steady.py --runs 10 [--workloads a,b] [--first-seed 100]
    python3 perfbench/steady.py --compare set_a.json set_b.json

The first form runs each workload `--runs` times, each run with another
seed, through run.py with BENCHMARK.json's run_seconds, and saves the
set under `<build dir>/steady/`. For every end-to-end metric it prints
the median and the spread: the distance between the first and third
quartile (statistics.quantiles, n=4) as a share of the median. A spread
above the metric's bound fails; above a third of it, it is flagged.
setup_s is exempt from the spread test.

The second form compares two saved sets of the same code: a metric
fails when the second median is worse than the first by more than the
metric's bound.
"""

import argparse
import datetime
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def collect(runs, workloads, first_seed):
    s = spec()
    out = {}
    for w in workloads:
        out[w] = []
        for i in range(runs):
            seed = first_seed + i
            cmd = [sys.executable, str(BENCH_DIR / "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(s["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(last) if last.startswith("{") else {}
            ok = p.returncode == 0 and res.get("correct") is True
            vals = {k: v["value"] for k, v in res.get("metrics", {}).items()}
            out[w].append({"seed": seed, "ok": ok, "metrics": vals})
            print(f"{w} seed {seed}: {'ok' if ok else 'FAILED'} "
                  + " ".join(f"{k}={v:.4g}" for k, v in vals.items()), flush=True)
    return out


def report(data):
    s = spec()
    bad = False
    for w, runs in data.items():
        print(f"\n{w}: {len(runs)} runs, {sum(r['ok'] for r in runs)} correct")
        bad |= not all(r["ok"] for r in runs)
        for m in s["end_to_end"]:
            vals = [r["metrics"][m["name"]] for r in runs if m["name"] in r["metrics"]]
            if len(vals) < 2:
                print(f"  {m['name']:<14} too few values")
                bad = True
                continue
            sp = spread(vals)
            exempt = m["name"] == "setup_s"
            verdict = ("exempt" if exempt else "FAIL" if sp > m["bound"]
                       else "flag" if sp > m["bound"] / 3 else "ok")
            bad |= verdict == "FAIL"
            print(f"  {m['name']:<14} median {statistics.median(vals):<12.5g} "
                  f"spread {sp:6.3f}  bound {m['bound']:.2f}  {verdict}")
    return bad


def compare(a, b):
    s = spec()
    bad = False
    for w in a:
        if w not in b:
            continue
        print(f"\n{w}")
        for m in s["end_to_end"]:
            va = [r["metrics"][m["name"]] for r in a[w] if m["name"] in r["metrics"]]
            vb = [r["metrics"][m["name"]] for r in b[w] if m["name"] in r["metrics"]]
            if not va or not vb:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            verdict = "FAIL" if worse > m["bound"] else "ok"
            bad |= verdict == "FAIL"
            print(f"  {m['name']:<14} {ma:<12.5g} -> {mb:<12.5g} worse by {worse:+.3f} "
                  f"(bound {m['bound']:.2f}) {verdict}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec()["workloads"]))
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--compare", nargs=2, metavar="SET")
    a = ap.parse_args()
    if a.compare:
        sets = [json.loads(Path(p).read_text()) for p in a.compare]
        sys.exit(1 if compare(*sets) else 0)
    data = collect(a.runs, a.workloads.split(","), a.first_seed)
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    (build_dir / "steady").mkdir(parents=True, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    path = build_dir / "steady" / f"{stamp}-p{os.getpid()}.json"
    with open(path, "x") as f:
        json.dump(data, f, indent=1)
    print(f"\nsaved {path}")
    sys.exit(1 if report(data) else 0)


if __name__ == "__main__":
    main()
