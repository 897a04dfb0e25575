"""Steadiness tool: repeat workloads over several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (quartile
distance as a share of the median), against the bounds in
``BENCHMARK.json``. It also flags drift inside one process (a
repeated operation that slows from one repetition to the next) and,
with ``--overhead``, repeats each run traced to report the tracing
overhead per end-to-end metric.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10]
                                [--seconds N] [--overhead] [--json OUT]

Run from the root of a source checkout; each run is one
``perfbench/run.py`` process, run one after another.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"ok": False, "wall_s": wall, "stderr": p.stderr[-2000:]}
    out = {"ok": True, "wall_s": wall, "result": json.loads(lines[-1]),
           "failures": [ln.strip() for ln in lines if "FAILED:" in ln]}
    for ln in lines:
        if ln.startswith("e2e "):
            out["e2e"] = json.loads(ln[4:])
        elif ln.startswith("repetitions "):
            out["reps"] = json.loads(ln[12:])
    return out


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--json", default=None)
    a = ap.parse_args()

    report: dict = {}
    for wl in a.workloads.split(","):
        runs = []
        for seed in parse_seeds(a.seeds):
            r = run_once(wl, seed, a.seconds, 0)
            runs.append(r)
            status = "ok" if r["ok"] and r["result"]["correct"] else "FAIL"
            print(f"{wl} seed {seed}: {status} wall {r['wall_s']:.1f}s "
                  + (json.dumps(r["result"]["metrics"]) if r["ok"]
                     else r["stderr"][-300:]), flush=True)
            for f in r.get("failures", []):
                print("   " + f, flush=True)
        good = [r for r in runs if r["ok"] and r["result"]["correct"]]
        rep = {"runs": len(runs), "correct": len(good),
               "wall_s": spread([r["wall_s"] for r in runs])
               if len(runs) >= 2 else None, "metrics": {}}
        for name in bounds:
            vals = [r["result"]["metrics"][name]["value"] for r in good]
            if len(vals) < 2:
                continue
            s = spread(vals)
            s["bound"] = bounds[name]
            s["within_third"] = s["spread"] < bounds[name] / 3
            rep["metrics"][name] = s
        drift = [r["reps"][-1] / r["reps"][0] for r in good
                 if len(r.get("reps") or []) >= 2]
        if drift:
            rep["drift_last_over_first"] = statistics.median(drift)
            rep["drift_flag"] = rep["drift_last_over_first"] > 1.10
        if a.overhead:
            traced = [run_once(wl, seed, a.seconds, 1)
                      for seed in parse_seeds(a.seeds)]
            traced = [r for r in traced if r["ok"] and "e2e" in r]
            rep["tracing_overhead"] = {}
            for name in bounds:
                u = [r["e2e"][name] for r in good if "e2e" in r]
                t = [r["e2e"][name] for r in traced]
                if u and t:
                    mu, mt = statistics.median(u), statistics.median(t)
                    rep["tracing_overhead"][name] = (mt - mu) / mu
        report[wl] = rep
        print(f"== {wl}: {rep['correct']}/{rep['runs']} correct")
        for name, s in rep["metrics"].items():
            flag = "" if s["within_third"] else "  <- above bound/3"
            print(f"   {name:<18} median {s['median']:12.4f} "
                  f"q1 {s['q1']:12.4f} q3 {s['q3']:12.4f} "
                  f"spread {s['spread']:.3f} (bound {s['bound']}){flag}")
        if "drift_last_over_first" in rep:
            print(f"   drift last/first repetition: "
                  f"{rep['drift_last_over_first']:.3f}"
                  + ("  <- drifting" if rep["drift_flag"] else ""))
        for name, v in rep.get("tracing_overhead", {}).items():
            print(f"   tracing overhead {name:<18} {v:+.3f}")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
