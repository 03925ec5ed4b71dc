#!/usr/bin/env python3
"""Job timeline of one pass from a Spark event log.

  python3 tools/job_timeline.py <event-log> --split <regex> [--pass N]

The event log comes from any run with Spark's event log on, e.g. a perfbench
run started with

  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<dir> \
    -Dspark.eventLog.compress=false"

A job's label is its description (`SparkContext.setJobDescription`, e.g.
`KMeans.lloyd`) followed by its call site (the result stage's name). Jobs
are cut into passes at every job whose label matches --split (the first job
of a pass, e.g. a fit's size-gate count); a run of consecutive matching jobs
starts one pass. --pass N picks the N-th pass (1-based; default: the last).
One line per job: its start relative to the pass's first job, the driver gap
before it (since the previous job ended), its duration and its label, all in
ms.
"""
import argparse
import json
import re


def jobs(path):
    starts, ends = {}, {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            if e["Event"] == "SparkListenerJobStart":
                result = max(e["Stage Infos"], key=lambda s: s["Stage ID"])
                desc = (e.get("Properties") or {}).get("spark.job.description")
                label = f"{desc} ({result['Stage Name']})" if desc else result["Stage Name"]
                starts[e["Job ID"]] = (e["Submission Time"], label)
            elif e["Event"] == "SparkListenerJobEnd":
                ends[e["Job ID"]] = e["Completion Time"]
    return [(j, t, ends.get(j, t), site) for j, (t, site) in sorted(starts.items())]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("log")
    ap.add_argument("--split", required=True)
    ap.add_argument("--pass", dest="pass_no", type=int, default=0)
    a = ap.parse_args()
    js = jobs(a.log)
    hits = [bool(re.search(a.split, site)) for _, _, _, site in js]
    firsts = [ix for ix, hit in enumerate(hits) if hit and not (ix > 0 and hits[ix - 1])]
    if not firsts:
        raise SystemExit(f"no job's label matches {a.split!r}")
    n = a.pass_no or len(firsts)
    lo = firsts[n - 1]
    hi = firsts[n] if n < len(firsts) else len(js)
    t0 = js[lo][1]
    print(f"pass {n} of {len(firsts)}: {hi - lo} jobs, "
          f"{max(e for _, _, e, _ in js[lo:hi]) - t0} ms from the first job's start to the last job's end")
    print(f"{'job':>4} {'start':>6} {'gap':>5} {'dur':>5}  label")
    for ix in range(lo, hi):
        j, t, e, site = js[ix]
        gap = t - js[ix - 1][2] if ix > 0 else 0
        print(f"{j:>4} {t - t0:>6} {gap:>5} {e - t:>5}  {site}")


if __name__ == "__main__":
    main()
