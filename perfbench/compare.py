#!/usr/bin/env python3
"""Compare benchmark run sets of a parent commit and a change.

  python3 perfbench/compare.py run --parent <checkout> --change <checkout>
      [--workloads a,b] [--pairs 10] [--seconds S] --out runs.jsonl
    Runs each workload in alternating pairs (which side goes first
    alternates from pair to pair; pair i uses seed i) and appends one JSON
    line per run: {"side", "workload", "seed", "pair", "result"}.

  python3 perfbench/compare.py report runs.jsonl [--claim workload:metric ...]
    One row per workload. For every end-to-end metric of BENCHMARK.json:
      gain        the change wins >= 9/10 of the pairs (ties count for
                  neither side) and the medians differ by more than the
                  parent's interquartile range
      regression  the change's median is worse than the parent's by more
                  than the metric's bound
      unresolved  the spread (IQR / median) of either side exceeds the
                  bound, unless every change run beats every parent run
      ok          none of the above: no regression beyond the bound
    A claimed metric that is not a gain is reported as "claim not met".
    Each row also gives failed/attempted operations per side. When the
    change fails more operations than the parent, or any change run is
    "correct": false, no metric counts as a gain and the row is marked
    "WRONG RESULTS".
    Exits 1 if any metric regresses, a claim is not met or the change's
    results are worse than the parent's.

  python3 perfbench/compare.py spread runs.jsonl [--side change]
    IQR / median of every end-to-end metric per workload against a third
    of its bound (the steadiness target of the benchmark itself).

Quartiles are Python's statistics.quantiles(values, n=4).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec(path=None):
    with open(path or os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def run_once(checkout, spec, workload, seed, seconds):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=1200)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {checkout}: {workload} seed {seed} (exit {p.returncode})")
    return json.loads(lines[-1])


def cmd_run(a):
    spec = load_spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seconds = a.seconds or spec["run_seconds"]
    with open(a.out, "a") as out:
        for pair in range(a.pairs):
            for w in workloads:
                order = [("parent", a.parent), ("change", a.change)]
                if pair % 2:
                    order.reverse()
                for side, checkout in order:
                    res = run_once(checkout, spec, w, pair, seconds)
                    out.write(json.dumps({"side": side, "workload": w, "seed": pair,
                                          "pair": pair, "result": res}) + "\n")
                    out.flush()
                    print(f"pair {pair} {w} {side}: correct={res['correct']}", file=sys.stderr)


def load_runs(path):
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def values(runs, side, workload, metric):
    return [r["result"]["metrics"][metric]["value"] for r in runs
            if r["side"] == side and r["workload"] == workload and metric in r["result"]["metrics"]]


def better(m, x, y):
    """True when x is better than y for metric spec m."""
    return x < y if m["better"] == "lower" else x > y


def verdict(m, runs, w):
    par, chg = values(runs, "parent", w, m["name"]), values(runs, "change", w, m["name"])
    if not par or not chg:
        return "missing", ""
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    pairs = {}
    for r in runs:
        if r["workload"] == w and m["name"] in r["result"]["metrics"]:
            pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]["metrics"][m["name"]]["value"]
    full = [p for p in pairs.values() if len(p) == 2]
    wins = sum(better(m, p["change"], p["parent"]) for p in full)
    worse = (cmed - pmed) if m["better"] == "lower" else (pmed - cmed)
    spread = max((pq3 - pq1) / pmed if pmed else 0.0, (cq3 - cq1) / cmed if cmed else 0.0)
    all_better = all(better(m, c, p) for c in chg for p in par)
    if full and wins >= 0.9 * len(full) and -worse > (pq3 - pq1):
        v = "gain"
    elif pmed and worse > m["bound"] * abs(pmed):
        v = "regression"
    elif spread > m["bound"] and not all_better:
        v = "unresolved"
    else:
        v = "ok"
    detail = (f"{pmed:.4g} [{pq1:.4g},{pq3:.4g}] -> {cmed:.4g} [{cq1:.4g},{cq3:.4g}] "
              f"{100 * (cmed - pmed) / pmed if pmed else 0:+.1f}% wins {wins}/{len(full)}")
    return v, detail


def outcomes(runs, side, workload):
    """(failed, attempted, incorrect runs) summed over one side's runs."""
    rs = [r["result"] for r in runs if r["side"] == side and r["workload"] == workload]
    return (sum(r["failed"] for r in rs), sum(r["attempted"] for r in rs),
            sum(not r["correct"] for r in rs))


def cmd_report(a):
    spec = load_spec()
    runs = load_runs(a.runs)
    claims = {tuple(c.split(":", 1)) for c in a.claim}
    failed = False
    for w in [w["name"] for w in spec["workloads"]]:
        if not any(r["workload"] == w for r in runs):
            continue
        pf, pa, _ = outcomes(runs, "parent", w)
        cf, ca, cbad = outcomes(runs, "change", w)
        wrong = cbad > 0 or cf > pf
        failed |= wrong
        cells = [f"failed {pf}/{pa} -> {cf}/{ca}" + (" WRONG RESULTS" if wrong else "")]
        for m in spec["end_to_end"]:
            v, detail = verdict(m, runs, w)
            if wrong and v == "gain":
                v = "no gain (wrong results)"
            if (w, m["name"]) in claims and v != "gain":
                v = "claim not met (" + v + ")"
            failed |= v.startswith("regression") or v.startswith("claim not met")
            cells.append(f"{m['name']}: {v} {detail}")
        print(f"{w:<14} " + " | ".join(cells))
    sys.exit(1 if failed else 0)


def cmd_spread(a):
    spec = load_spec()
    runs = load_runs(a.runs)
    for w in [w["name"] for w in spec["workloads"]]:
        cells = []
        for m in spec["end_to_end"]:
            xs = values(runs, a.side, w, m["name"])
            if len(xs) < 2:
                continue
            q1, med, q3 = quartiles(xs)
            s = (q3 - q1) / med if med else 0.0
            flag = "" if s < m["bound"] / 3 else (" HIGH" if s > m["bound"] else " high")
            cells.append(f"{m['name']} {med:.4g} iqr/med {s:.3f}{flag}")
        if cells:
            print(f"{w:<14} n={len(values(runs, a.side, w, spec['end_to_end'][0]['name']))} " + " | ".join(cells))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workloads", default="")
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seconds", type=int, default=0)
    r.add_argument("--out", required=True)
    r.set_defaults(fn=cmd_run)
    p = sub.add_parser("report")
    p.add_argument("runs")
    p.add_argument("--claim", action="append", default=[])
    p.set_defaults(fn=cmd_report)
    s = sub.add_parser("spread")
    s.add_argument("runs")
    s.add_argument("--side", default="change")
    s.set_defaults(fn=cmd_spread)
    a = ap.parse_args()
    a.fn(a)


if __name__ == "__main__":
    main()
