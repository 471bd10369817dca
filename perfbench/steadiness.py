"""Steadiness report: run each workload several times with different seeds
and compare each end-to-end metric's spread with its bound.

    python3 perfbench/steadiness.py [--runs 10] [--seed0 1] [--workloads a,b]
                                    [--out report.json] [--against earlier.json]
                                    [--no-trace] [--log runs.jsonl]

For each workload and end-to-end metric it prints the median, the first
and third quartiles (``statistics.quantiles(values, n=4)``), the spread
(Q3 - Q1) / median, and the metric's bound from BENCHMARK.json. Every
spread must stay below its bound; a third of the bound is the target. With ``--against`` it also gives each median's change against an
earlier report; for every metric it must not be worse by more than the
bound. One traced run per workload reports ``trace.overhead_frac``.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload, seed, seconds, trace, log=None):
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, cwd=ROOT)
    if log:
        with open(log, "a") as f:
            f.write(p.stdout)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    ap.add_argument("--against")
    ap.add_argument("--no-trace", action="store_true")
    ap.add_argument("--log", help="append every run's stdout (detail and result lines) here")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    earlier = json.loads(Path(a.against).read_text()) if a.against else {}
    report = {}
    ok = True
    for w in names:
        results = [run(w, a.seed0 + i, spec["run_seconds"], 0, a.log) for i in range(a.runs)]
        failed = sum(r["failed"] for r in results)
        rows = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            row = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": m["bound"],
                   "values": vals}
            steady = spread <= m["bound"]
            if w in earlier and m["name"] in earlier[w]["metrics"]:
                before = earlier[w]["metrics"][m["name"]]["median"]
                change = (med - before) / before * (1 if m["better"] == "lower" else -1)
                row["worse_vs_earlier"] = change
                steady = steady and change <= m["bound"]
            row["ok"] = steady
            ok = ok and steady
            rows[m["name"]] = row
        report[w] = {"runs": a.runs, "failed_ops": failed, "metrics": rows}
        if not a.no_trace:
            t = run(w, a.seed0 + a.runs, spec["run_seconds"], 1, a.log)
            report[w]["trace.overhead_frac"] = t["metrics"]["trace.overhead_frac"]["value"]
        print(f"== {w}: {a.runs} runs, {failed} failed ops"
              + (f", trace.overhead_frac {report[w]['trace.overhead_frac']:+.3f}" if not a.no_trace else ""))
        for k, r in rows.items():
            extra = f"  worse {r['worse_vs_earlier']:+.3f}" if "worse_vs_earlier" in r else ""
            print(f"  {k:14s} median {r['median']:10.4f}  q1 {r['q1']:10.4f}  q3 {r['q3']:10.4f}"
                  f"  spread {r['spread']:.3f} (bound {r['bound']}, target {r['bound'] / 3:.3f})"
                  f"{extra}  {'ok' if r['ok'] else 'NOT STEADY'}")
        sys.stdout.flush()
    if a.out:
        Path(a.out).write_text(json.dumps(report, indent=2) + "\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
