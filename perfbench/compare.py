"""Collect sets of benchmark runs and compare two of them.

    # one set: every workload, one run per seed, results as JSON lines
    python3 perfbench/compare.py collect --out .bench_build/setA.jsonl --seeds 1-10
    # per workload and metric: median and quartiles of each set, the
    # quartile spread as a share of the median, and whether the medians
    # differ, either way, by no more than the metric's bound from
    # BENCHMARK.json; a set with a failed, crashed or wrong run fails
    python3 perfbench/compare.py compare .bench_build/setA.jsonl .bench_build/setB.jsonl

Runs are made with tracing off, so that they carry the end-to-end
metrics; traced figures come from `run.py --trace 1`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(args):
    spec = load_spec()
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "a") as out:
        for w in [w["name"] for w in spec["workloads"]]:
            for seed in seeds_of(args.seeds):
                t0 = time.time()
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                     "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                     "--trace", "0"],
                    cwd=ROOT, stdout=subprocess.PIPE, text=True)
                lines = p.stdout.strip().splitlines()
                try:
                    res = json.loads(lines[-1]) if lines else None
                except ValueError:
                    res = None
                rec = {"workload": w, "seed": seed, "elapsed_s": time.time() - t0,
                       "exit": p.returncode, "result": res}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                print(f"{w} seed {seed}: exit {p.returncode} in {rec['elapsed_s']:.1f}s",
                      file=sys.stderr)


def read_set(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def bad_runs(tag, runs):
    """Why each run of a set that exited non-zero, printed no result or
    reported a wrong output cannot count."""
    out = []
    for r in runs:
        res = r["result"]
        if r["exit"] != 0 or res is None or not res["correct"]:
            out.append(f"set {tag} {r['workload']} seed {r['seed']}: exit {r['exit']}, "
                       f"{'no result' if res is None else 'correct ' + str(res['correct'])}")
    return out


def compare(args):
    spec = load_spec()
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    a, b = read_set(args.a), read_set(args.b)
    bad = (bad_runs("A", [r for rs in a.values() for r in rs]) +
           bad_runs("B", [r for rs in b.values() for r in rs]))
    for line in bad:
        print("unusable run: " + line)
    ok = not bad
    for w in sorted(set(a) | set(b)):
        ra = [r for r in a.get(w, []) if r["result"]]
        rb = [r for r in b.get(w, []) if r["result"]]
        if not ra or not rb:
            print(f"== {w}: no results in set {'A' if not ra else 'B'}")
            ok = False
            continue
        print(f"== {w}: {len(ra)} + {len(rb)} runs; "
              f"failed/attempted {fail_share(ra)} vs {fail_share(rb)}")
        print(f"  {'metric':30s} {'set':3s} {'q1':>12s} {'median':>12s} {'q3':>12s} "
              f"{'spread':>7s}  verdict")
        for m, (bound, better) in bounds.items():
            va = [r["result"]["metrics"][m]["value"] for r in ra]
            vb = [r["result"]["metrics"][m]["value"] for r in rb]
            qa, qb = quartiles(va), quartiles(vb)
            # signed: > 0 when B is worse than A in the metric's direction
            worse = (qb[1] - qa[1]) / qa[1] if better == "lower" else (qa[1] - qb[1]) / qa[1]
            agree = abs(worse) <= bound
            ok &= agree
            for tag, q in (("A", qa), ("B", qb)):
                spread = (q[2] - q[0]) / q[1] if q[1] else 0.0
                flag = "" if m == "setup_s" or spread < bound / 3 else " wide"
                verdict = ""
                if tag == "B":
                    verdict = (f"B {'worse' if worse > 0 else 'better'} by {abs(worse):.1%}"
                               f" (bound {bound:.0%}): {'agree' if agree else 'DIFFER'}")
                print(f"  {m:30s} {tag:3s} {q[0]:12.4f} {q[1]:12.4f} {q[2]:12.4f} "
                      f"{spread:7.1%}{flag}  {verdict}")
    print("medians agree within bounds" if ok else
          "some runs are unusable or some medians differ beyond their bound")
    return 0 if ok else 1


def fail_share(runs):
    att = sum(r["result"]["attempted"] for r in runs)
    fail = sum(r["result"]["failed"] for r in runs)
    return f"{fail}/{att}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--seeds", default="1-10")
    k = sub.add_parser("compare")
    k.add_argument("a")
    k.add_argument("b")
    args = ap.parse_args()
    if args.cmd == "collect":
        collect(args)
    else:
        sys.exit(compare(args))


if __name__ == "__main__":
    main()
