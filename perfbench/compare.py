#!/usr/bin/env python3
"""Collect and compare sets of benchmark runs.

Collect a set (one JSON line per run) from the repository root:

    python3 perfbench/compare.py run --out A.jsonl [--workloads w1,w2] \
        [--seeds 1-10] [--trace 0|1]

Summarise one set, or compare set B against set A:

    python3 perfbench/compare.py A.jsonl [B.jsonl]

For each workload x end-to-end metric it prints the median, the quartiles
(statistics.quantiles, n=4) and the spread (q3 - q1) / median. With two
sets it adds the change of the median against the metric's bound from
BENCHMARK.json: "worse" past the bound, "ok" within it, and "unresolved"
where either set's spread is wider than the bound (unless every run of B
beats every run of A). A set holding traced runs (--trace 1) next to
untraced ones also gets the tracing overhead: traced round time
(trace.round_s) against the untraced round_s.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def load_spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(args, spec):
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    with open(args.out, "a") as out:
        for w in names:
            for s in seeds(args.seeds):
                cmd = spec["command"] + ["--workload", w, "--seed", str(s),
                                         "--seconds", str(spec["run_seconds"]),
                                         "--trace", str(args.trace)]
                p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
                line = p.stdout.strip().splitlines()[-1] if p.returncode == 0 else "{}"
                rec = {"workload": w, "seed": s, "trace": args.trace, "rc": p.returncode,
                       "result": json.loads(line) if line.startswith("{") else None}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                r = rec["result"] or {}
                print(f"{w} seed={s} rc={p.returncode} correct={r.get('correct')} "
                      f"failed={r.get('failed')}/{r.get('attempted')}", file=sys.stderr)


def read_set(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def values(runs, workload, metric, trace=0):
    return [r["result"]["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r["trace"] == trace and r["result"]
            and metric in r["result"]["metrics"]]


def stats(xs):
    if len(xs) < 2:
        return None
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def summary(spec, a, b=None):
    workloads = [w["name"] for w in spec["workloads"]]
    print(f"{'workload':18} {'metric':15} {'unit':5} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6}" + (f" {'B median':>10} {'delta':>7}  verdict" if b else ""))
    for w in workloads:
        for m in spec["end_to_end"]:
            sa = stats(values(a, w, m["name"]))
            if not sa:
                continue
            med, q1, q3, spread = sa
            bound = m["bound"]
            flag = "" if spread <= bound / 3 else (" noisy" if spread <= bound else " WIDE")
            line = (f"{w:18} {m['name']:15} {m['unit']:5} {med:10.4f} {q1:10.4f} {q3:10.4f} "
                    f"{spread:7.3f} {bound:6.2f}")
            if b:
                sb = stats(values(b, w, m["name"]))
                if sb:
                    sign = 1 if m["better"] == "lower" else -1
                    delta = sign * (sb[0] - med) / med
                    xa, xb = values(a, w, m["name"]), values(b, w, m["name"])
                    b_always_better = (max(xb) < min(xa)) if sign == 1 else (min(xb) > max(xa))
                    if max(spread, sb[3]) > bound and not b_always_better:
                        verdict = "unresolved"
                    else:
                        verdict = "worse" if delta > bound else "ok"
                    line += f" {sb[0]:10.4f} {delta:+7.3f}  {verdict}"
            print(line + flag)
        traced = values(a, w, "trace.round_s", trace=1)
        plain = values(a, w, "round_s")
        if traced and plain:
            t, p = statistics.median(traced), statistics.median(plain)
            print(f"{w:18} tracing overhead: round {t:.4f} s traced vs {p:.4f} s untraced "
                  f"({(t - p) / p:+.1%}, {len(traced)} traced / {len(plain)} untraced runs)")
    for name, runs in (("A", a), ("B", b or [])):
        bad = [r for r in runs if not r["result"] or not r["result"]["correct"]]
        for r in bad:
            print(f"set {name}: {r['workload']} seed {r['seed']} incorrect or failed (rc={r['rc']})")


def main():
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    spec = load_spec()
    if len(sys.argv) > 1 and sys.argv[1] == "run":
        ap = argparse.ArgumentParser()
        ap.add_argument("cmd")
        ap.add_argument("--out", required=True)
        ap.add_argument("--workloads")
        ap.add_argument("--seeds", default="1-10")
        ap.add_argument("--trace", type=int, default=0)
        collect(ap.parse_args(), spec)
    else:
        ap = argparse.ArgumentParser()
        ap.add_argument("a")
        ap.add_argument("b", nargs="?")
        args = ap.parse_args()
        summary(spec, read_set(args.a), read_set(args.b) if args.b else None)


if __name__ == "__main__":
    main()
