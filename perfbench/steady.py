#!/usr/bin/env python3
"""Steadiness command: two sets of untraced runs of every workload, run
alternately (A, B, A, B, ...) with a different seed each time, then per
workload and metric each set's median and quartiles, the spread
(interquartile range over median) and whether the sets agree within the
bounds in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workloads a,b] [--out FILE]

The sets agree when every metric other than setup_s has a spread within
its bound in both sets, every metric's medians (setup_s included) differ by
no more than its bound, taken as a share of the smaller median, and the
share of failed operations is the same in both sets. setup_s is held to the
medians' agreement only: a run's set-up includes a cold JVM start, whose
cost follows the host's page cache and load more than the program.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed ({p.returncode}): {p.stderr[-2000:]}")
    record = json.loads(lines[-2].split(" ", 1)[1]) if len(lines) > 1 else {}
    return json.loads(lines[-1]), record


def summarize(runs, spec):
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r, _ in runs]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        out[m["name"]] = {"median": statistics.median(vals), "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / statistics.median(vals), "values": vals}
    out["failed_share"] = sorted({r["failed"] / r["attempted"] for r, _ in runs})
    out["load_avg_1m"] = [rec.get("load_avg_1m_end") for _, rec in runs]
    return out


def verdict(a, b, spec):
    notes = []
    for m in spec["end_to_end"]:
        n, bound = m["name"], m["bound"]
        for tag, s in (("A", a), ("B", b)):
            if n != "setup_s" and s[n]["spread"] > bound:
                notes.append(f"{n}: set {tag} spread {s[n]['spread']:.3f} > bound {bound}")
        ma, mb = a[n]["median"], b[n]["median"]
        apart = abs(mb - ma) / min(ma, mb)
        if apart > bound:
            notes.append(f"{n}: medians differ by {apart:.3f} (bound {bound})")
    if a["failed_share"] != b["failed_share"] or len(a["failed_share"]) != 1:
        notes.append(f"failed share differs: {a['failed_share']} vs {b['failed_share']}")
    return notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    report, ok = {}, True
    for w in names:
        sets = {"A": [], "B": []}
        for i in range(a.runs):
            for tag, base in (("A", 1000), ("B", 2000)):
                sets[tag].append(one_run(w, base + i, spec["run_seconds"]))
        sa, sb = summarize(sets["A"], spec), summarize(sets["B"], spec)
        notes = verdict(sa, sb, spec)
        ok &= not notes
        report[w] = {"A": sa, "B": sb, "agree": not notes, "notes": notes}
        print(f"== {w}: {'agree' if not notes else 'DISAGREE'}")
        for m in spec["end_to_end"]:
            n = m["name"]
            print(f"  {n:18s} A median {sa[n]['median']:12.3f} [{sa[n]['q1']:.3f}, {sa[n]['q3']:.3f}]"
                  f" spread {sa[n]['spread']:.3f} | B median {sb[n]['median']:12.3f}"
                  f" [{sb[n]['q1']:.3f}, {sb[n]['q3']:.3f}] spread {sb[n]['spread']:.3f}"
                  f" | bound {m['bound']}")
        for note in notes:
            print("  " + note)
        sys.stdout.flush()
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
