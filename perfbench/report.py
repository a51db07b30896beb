"""Run the benchmark over several seeds and summarize it.

    python3 perfbench/report.py --seeds 1-10 [--workloads full_long] [--out FILE]
    python3 perfbench/report.py --compare FILE_A FILE_B

The first form runs `run.py` once per (workload, seed), each in its own
process, and prints every end-to-end metric by name and unit as the
median, quartiles and sample count over the seeds, its quartile spread
as a share of the median, the error rate and the Spark jobs per call.
`--out` keeps the raw per-run results. The second form checks that two
such files agree: no failed call in either, every spread but that of
setup_s within its metric's bound, and no median worse than the other
file's by more than the bound. A run that crashed counts as
success_rate 0.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_one(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {},
                "exit": p.returncode}
    out = json.loads(lines[-1])
    detail = os.path.join(HERE, ".work", "results", f"{workload}-seed{seed}-trace0.json")
    with open(detail) as f:
        d = json.load(f)
    out["jobs"], out["fingerprint"], out["steal"] = d["jobs"], d["fingerprints"][0], d["steal"]
    return out


def crashed(run: dict) -> bool:
    return "exit" in run or not run["metrics"]


def values(runs: list[dict], name: str) -> list[float]:
    """One value per run; a crashed run printed no metrics and counts as
    success_rate 0, and is left out of every other metric."""
    if name == "success_rate":
        return [0.0 if crashed(r) else r["metrics"][name]["value"] for r in runs]
    return [r["metrics"][name]["value"] for r in runs if not crashed(r)]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def summarize(runs: dict[str, list[dict]], metrics: list[dict]) -> None:
    for workload, rs in runs.items():
        print(f"\n{workload}  ({len(rs)} runs)")
        for m in metrics:
            vals = values(rs, m["name"])
            if not vals:
                print(f"  {m['name']:<14} no value")
                continue
            q1, med, q3 = quartiles(vals)
            print(f"  {m['name']:<14} {med:12.4f} {m['unit']:<7} q1 {q1:.4f}  "
                  f"q3 {q3:.4f}  n={len(vals)}  spread {(q3 - q1) / med:.4f}"
                  f"  bound {m['bound']}")
        att = sum(r["attempted"] for r in rs)
        failed = sum(r["failed"] for r in rs)
        print(f"  {'error_rate':<14} {failed / att:12.4f} ratio   "
              f"({failed} failed of {att} attempted)")
        steal = [x for r in rs for x in r.get("steal", [])]
        if steal:
            q1, med, q3 = quartiles(steal)
            print(f"  {'cpu_steal':<14} {med:12.4f} ratio   q1 {q1:.4f}  q3 {q3:.4f}"
                  f"  max {max(steal):.4f}  n={len(steal)}  (per call; not a metric)")
        jobs = [j for r in rs for j in r.get("jobs", [])]
        if jobs:
            print(f"  {'jobs_per_call':<14} {statistics.median(jobs):12.1f} count   "
                  f"min {min(jobs)}  max {max(jobs)}  n={len(jobs)}")


def compare(path_a: str, path_b: str, metrics: list[dict]) -> bool:
    with open(path_a) as f:
        a = json.load(f)
    with open(path_b) as f:
        b = json.load(f)
    ok = True
    for workload in a:
        pairs = [(x.get("fingerprint"), y.get("fingerprint"))
                 for x, y in zip(a[workload], b[workload])]
        both = [(x, y) for x, y in pairs if x and y]
        same = sum(x == y for x, y in both)
        print(f"{workload:<17} partition fingerprints equal for {same} of "
              f"{len(both)} seeds recorded in both files")
        ok &= same == len(both)
        failed = [sum(r["failed"] for r in runs[workload]) for runs in (a, b)]
        print(f"{workload:<17} failed calls {failed[0]}/{failed[1]}  "
              f"{'ok' if not any(failed) else 'FAIL'}")
        ok &= not any(failed)
        for m in metrics:
            name, bound = m["name"], m["bound"]
            va, vb = values(a[workload], name), values(b[workload], name)
            if not va or not vb:
                print(f"{workload:<17} {name:<13} no value  FAIL")
                ok = False
                continue
            (qa1, ma, qa3), (qb1, mb, qb3) = quartiles(va), quartiles(vb)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            spreads = ((qa3 - qa1) / ma, (qb3 - qb1) / mb)
            # setup_s is one JVM start per run, and the acceptance rule
            # bounds only its median; a run cannot repeat its own start
            good = worse <= bound and (name == "setup_s" or max(spreads) <= bound)
            ok &= good
            print(f"{workload:<17} {name:<13} median {ma:.4f} -> {mb:.4f} "
                  f"worse {worse:+.4f}  spreads {spreads[0]:.4f}/{spreads[1]:.4f}  "
                  f"bound {bound}  {'ok' if good else 'FAIL'}")
    return ok


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = p.parse_args()
    s = spec()
    metrics = s["end_to_end"]
    if args.compare:
        return 0 if compare(*args.compare, metrics) else 1
    names = args.workloads or [w["name"] for w in s["workloads"]]
    runs = {w: [] for w in names}
    for seed in seeds(args.seeds):
        for w in names:
            r = run_one(w, seed, s["run_seconds"])
            runs[w].append(r)
            print(json.dumps({"workload": w, "seed": seed, **r}), flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    summarize(runs, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
