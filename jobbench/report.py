#!/usr/bin/env python3
"""Run sets of benchmark runs and report their steadiness; render the
traced per-layer table.

Run a set (one run per workload and seed, results kept under
.bench_build/sets/<name>.json):

    python3 jobbench/report.py run A --seeds 1-10
    python3 jobbench/report.py run T --seeds 1-3 --trace 1

Steadiness of one set, or of two sets of the same commit (quartiles per
metric and workload, the spread (q3 - q1) / median against the metric's
bound, and the second median's change against the first):

    python3 jobbench/report.py steadiness A [B]

Traced per-layer table of a traced set (medians over its runs; tracing
overhead against an untraced set of the same seeds):

    python3 jobbench/report.py traced T --untraced A
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()
SETS = os.path.join(ROOT, ".bench_build", "sets")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def load(name):
    with open(os.path.join(SETS, f"{name}.json")) as f:
        return json.load(f)


def run_set(a):
    b = spec()
    workloads = a.workloads.split(",") if a.workloads else [
        w["name"] for w in b["workloads"]]
    runs = []
    for w in workloads:
        for s in seeds(a.seeds):
            cmd = b["command"] + ["--workload", w, "--seed", str(s),
                                  "--seconds", str(b["run_seconds"]),
                                  "--trace", str(a.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode in (0, 1) and lines else None
            extra = json.loads(lines[-2]) if result and len(lines) > 1 else {}
            runs.append({"workload": w, "seed": s, "rc": p.returncode,
                         "result": result, "info": extra})
            v = {k: round(m["value"], 4) for k, m in
                 (result or {}).get("metrics", {}).items()}
            print(f"{w} seed={s} rc={p.returncode} "
                  f"correct={result and result['correct']} {v}", flush=True)
            if p.returncode not in (0, 1):
                sys.stderr.write(p.stderr[-3000:])
    os.makedirs(SETS, exist_ok=True)
    with open(os.path.join(SETS, f"{a.name}.json"), "w") as f:
        json.dump({"trace": a.trace, "runs": runs}, f, indent=1)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def steadiness(a):
    b = spec()
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    sets = [load(n) for n in a.names]
    ok = True
    for w in [x["name"] for x in b["workloads"]]:
        print(f"\n## {w}")
        print("| metric | set | n | q1 | median | q3 | spread | bound | "
              "verdict |")
        print("|---|---|---|---|---|---|---|---|---|")
        first = {}
        for name, st in zip(a.names, sets):
            runs = [r for r in st["runs"] if r["workload"] == w and r["result"]]
            bad = [r["seed"] for r in st["runs"] if r["workload"] == w
                   and not (r["result"] and r["result"]["correct"])]
            if bad:
                ok = False
                print(f"| (runs failed or incorrect: seeds {bad}) |||||||||")
            for m, bound in bounds.items():
                xs = [r["result"]["metrics"][m]["value"] for r in runs
                      if m in r["result"]["metrics"]]
                if not xs:
                    continue
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med if med else float("inf")
                verdict = []
                if m != "setup_s":
                    verdict.append("steady" if spread <= bound else "UNSTEADY")
                    ok &= spread <= bound
                if m in first:
                    change = med / first[m] - 1
                    verdict.append(f"median {change:+.1%}")
                    if change > bound:
                        verdict.append("WORSE")
                        ok = False
                else:
                    first[m] = med
                print(f"| {m} | {name} | {len(xs)} | {q1:.4g} | {med:.4g} | "
                      f"{q3:.4g} | {spread:.3f} | {bound} | "
                      f"{' '.join(verdict)} |")
        for name, st in zip(a.names, sets):
            tel = [r["info"].get("telemetry", {}) for r in st["runs"]
                   if r["workload"] == w]
            if tel:
                def med(k):
                    vals = [t[k] for t in tel if k in t]
                    return statistics.median(vals) if vals else float("nan")
                print(f"\n{name}: loadavg start/end median "
                      f"{med('loadavg_start'):.2f}/{med('loadavg_end'):.2f}, "
                      f"other JVMs {med('other_jvms'):.0f}, cores "
                      f"{med('cores'):.0f}, heap {med('heap_max_mb'):.0f} MB, "
                      f"steal share median {med('steal_share'):.3f} "
                      f"(max {max(t.get('steal_share', 0) for t in tel):.3f}), "
                      f"run wall median {med('wall_s'):.1f} s")
    print(f"\n{'WITHIN BOUNDS' if ok else 'OUTSIDE BOUNDS'}")
    return 0 if ok else 1


def traced(a):
    b = spec()
    st = load(a.name)
    base = load(a.untraced) if a.untraced else None
    records_dir = os.path.join(ROOT, ".bench_build", "results")
    for w in [x["name"] for x in b["workloads"]]:
        runs = [r for r in st["runs"] if r["workload"] == w and r["result"]]
        if not runs:
            continue
        records = []
        d = os.path.join(records_dir, w)
        for r in runs:
            cands = sorted(f for f in os.listdir(d)
                           if f.startswith(f"seed{r['seed']}-trace1-")
                           and f.endswith(".json") and "spans" not in f)
            if cands:
                with open(os.path.join(d, cands[-1])) as f:
                    records.append(json.load(f))
        print(f"\n### {w} (traced, {len(records)} runs, medians)")
        print("| layer metric | median |")
        print("|---|---|")
        for k in sorted({k for r in records for k in r["layers"]}):
            v = statistics.median([r["layers"].get(k, 0.0) for r in records])
            print(f"| {k} | {v:.4g} |")
        selfs = [r["self_ms"] for r in records]
        if selfs:
            layers = sorted({k for s in selfs for k in s})
            tot = statistics.median([sum(s.values()) for s in selfs])
            print("\n| layer | self ms per warm pass | share |")
            print("|---|---|---|")
            for k in layers:
                v = statistics.median([s.get(k, 0.0) for s in selfs])
                print(f"| {k} | {v:.1f} | {v / tot:.1%} |")
        if base:
            t = statistics.median(
                [r["result"]["metrics"]["trace.warm_pass_s"]["value"] for r in runs])
            u = [r["result"]["metrics"]["warm_pass_s"]["value"]
                 for r in base["runs"] if r["workload"] == w and r["result"]]
            if u:
                print(f"\ntracing overhead: traced warm_pass_s {t:.3f} s - "
                      f"untraced {statistics.median(u):.3f} s = "
                      f"{t - statistics.median(u):+.3f} s")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("name")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads")
    r.add_argument("--trace", type=int, default=0)
    s = sub.add_parser("steadiness")
    s.add_argument("names", nargs="+")
    t = sub.add_parser("traced")
    t.add_argument("name")
    t.add_argument("--untraced")
    a = ap.parse_args()
    if a.cmd == "run":
        run_set(a)
    elif a.cmd == "steadiness":
        sys.exit(steadiness(a))
    else:
        traced(a)


if __name__ == "__main__":
    main()
