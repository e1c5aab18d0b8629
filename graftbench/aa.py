#!/usr/bin/env python3
"""A/A steadiness check: run each workload repeatedly (untraced) on one
commit and report, per metric and workload, the median and quartiles of the runs.

    python3 graftbench/aa.py                       # every BENCHMARK.json workload, 10 seeds
    python3 graftbench/aa.py --workloads query --runs 5 --seed0 100
    python3 graftbench/aa.py --workloads ingest    # a workload BENCHMARK.json does not list

Run from the root of a graft checkout. The spread of a metric is
(Q3 - Q1) / median over the runs, with quartiles as Python's
statistics.quantiles(values, n=4) gives them. A metric is flagged `OVER`
when its spread exceeds its bound in BENCHMARK.json and `near` when it
exceeds a third of it. Runs whose CPU steal exceeded 5% of the
measured CPU time are listed: their figures are suspect. The per-run
results are also written to .bench_build/aa-<workload>.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
STEAL_SHARE = 0.05


def run_once(workload, seed, seconds):
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    if r.returncode != 0:
        return None, r.stderr.strip().splitlines()[-1:] or ["exit %d" % r.returncode]
    last = json.loads(r.stdout.strip().splitlines()[-1])
    raw = Path(".bench_build/results") / f"{workload}-seed{seed}-trace0.json"
    meta = json.loads(raw.read_text())["meta"] if raw.exists() else {}
    detail = json.loads(raw.read_text())["detail"] if raw.exists() else {}
    return {"seed": seed, "result": last, "meta": meta, "detail": detail}, None


def main():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    worst = 0
    for w in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            seed = a.seed0 + i
            res, err = run_once(w, seed, a.seconds)
            if res is None:
                print(f"{w} seed {seed}: FAILED {err}")
                worst = max(worst, 2)
                continue
            m = res["result"]["metrics"]
            print(f"{w} seed {seed}: correct={res['result']['correct']} failed={res['result']['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()), flush=True)
            if not res["result"]["correct"]:
                worst = max(worst, 2)
            runs.append(res)
        Path(".bench_build").mkdir(exist_ok=True)
        Path(f".bench_build/aa-{w}.json").write_text(json.dumps(runs, indent=1) + "\n")
        if len(runs) < 4:
            print(f"{w}: too few successful runs for quartiles")
            continue
        print(f"\n{w}: {len(runs)} runs")
        print(f"  {'metric':<28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        names = list(runs[0]["result"]["metrics"])
        details = list(runs[0]["detail"])
        for name in names + [f"detail:{d}" for d in details]:
            if name.startswith("detail:"):
                vals = [r["detail"][name[7:]] for r in runs if name[7:] in r["detail"]]
            else:
                vals = [r["result"]["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            bound = bounds.get(name)
            flag = ""
            if bound:
                flag = "OVER" if spread > bound else ("near" if spread > bound / 3 else "")
                if flag == "OVER":
                    worst = max(worst, 1)
            print(f"  {name:<28} {med:>12.4g} {q1:>12.4g} {q3:>12.4g} {spread:>8.3f} "
                  f"{(bound if bound else ''):>6} {flag}")
        stealy = [r for r in runs if r["meta"] and r["meta"].get("steal_s", 0) >
                  STEAL_SHARE * r["meta"]["measured_s"] * r["meta"]["nproc"]]
        for r in stealy:
            print(f"  high steal: seed {r['seed']} stole {r['meta']['steal_s']:.2f} s of "
                  f"{r['meta']['measured_s'] * r['meta']['nproc']:.1f} CPU-s")
        print()
    return worst


if __name__ == "__main__":
    sys.exit(main())
