#!/usr/bin/env python3
"""Job timeline of one pass from a Spark event log.

  python3 tools/job_timeline.py <event-log> --split <regex> [--pass N[-M]]

The event log comes from any run with Spark's event log on, e.g. a perfbench
run started with

  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<dir> \
    -Dspark.eventLog.compress=false"

A job's label is its description (`SparkContext.setJobDescription`, e.g.
`KMeans.lloyd`) followed by its call site (the result stage's name). Jobs
are cut into passes at every job whose label matches --split (the first job
of a pass, e.g. a fit's size-gate count); a run of consecutive matching jobs
starts one pass. --pass N picks the N-th pass (1-based; default: the last),
--pass N-M the passes N through M as one span (for a workload whose pass
holds several matching runs, e.g. a suite_sample pass with two k-means fits).
One line per job: its start relative to the pass's first job, the driver gap
before it (since the previous job ended), its duration, then its tasks (from
their `SparkListenerTaskEnd` metrics): how many ran, the longest executor run
time, the mean executor CPU time and the longest executor deserialize time,
the SQL execution it ran under (its `spark.sql.execution.id`, "-" for none)
and last its label; times in ms. A job with no stages (Spark starts one for
an action over an empty RDD, e.g. `listTables`) is labelled "(no stages)"
and shows 0 tasks. After the jobs, one line per SQL execution of the pass:
its id and its description (a query's action and call site, e.g.
`collect at SparkEntry.scala:120`), so the stage jobs adaptive execution
starts for one query can be grouped under it.
"""
import argparse
import json
import re


SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def jobs(path):
    """(job, start, end, label, tasks, sql) per job, and {sql execution id: description};
    tasks = (run ms, CPU ms, deserialize ms) each, sql = the job's execution id or None."""
    starts, ends, job_of_stage, tasks, sqls = {}, {}, {}, {}, {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            if e["Event"] == "SparkListenerJobStart":
                site = (max(e["Stage Infos"], key=lambda s: s["Stage ID"])["Stage Name"]
                        if e["Stage Infos"] else "no stages")
                props = e.get("Properties") or {}
                desc = props.get("spark.job.description")
                label = f"{desc} ({site})" if desc else site
                starts[e["Job ID"]] = (e["Submission Time"], label, props.get("spark.sql.execution.id"))
                for s in e["Stage IDs"]:
                    job_of_stage[s] = e["Job ID"]
            elif e["Event"] == "SparkListenerJobEnd":
                ends[e["Job ID"]] = e["Completion Time"]
            elif e["Event"] == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                m = e["Task Metrics"]
                tasks.setdefault(job_of_stage.get(e["Stage ID"]), []).append(
                    (m["Executor Run Time"], m["Executor CPU Time"] / 1e6, m["Executor Deserialize Time"]))
            elif e["Event"] == SQL_START:
                sqls[str(e["executionId"])] = e.get("description", "")
    return ([(j, t, ends.get(j, t), site, tasks.get(j, []), sql)
             for j, (t, site, sql) in sorted(starts.items())], sqls)


def task_summary(ts):
    """Task count, max run ms, mean CPU ms, max deserialize ms."""
    if not ts:
        return f"{0:>5} {'-':>5} {'-':>5} {'-':>5}"
    return (f"{len(ts):>5} {max(r for r, _, _ in ts):>5} {sum(c for _, c, _ in ts) / len(ts):>5.1f} "
            f"{max(d for _, _, d in ts):>5}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("log")
    ap.add_argument("--split", required=True)
    ap.add_argument("--pass", dest="pass_no", default="")
    a = ap.parse_args()
    js, sqls = jobs(a.log)
    hits = [bool(re.search(a.split, site)) for _, _, _, site, _, _ in js]
    firsts = [ix for ix, hit in enumerate(hits) if hit and not (ix > 0 and hits[ix - 1])]
    if not firsts:
        raise SystemExit(f"no job's label matches {a.split!r}")
    n, _, m = a.pass_no.partition("-")
    n = int(n) if n else len(firsts)
    m = int(m) if m else n
    if not 1 <= n <= m <= len(firsts):
        raise SystemExit(f"--pass {a.pass_no}: the log has passes 1-{len(firsts)}")
    lo = firsts[n - 1]
    hi = firsts[m] if m < len(firsts) else len(js)
    t0 = js[lo][1]
    span = f"{n}" if m == n else f"{n}-{m}"
    print(f"pass {span} of {len(firsts)}: {hi - lo} jobs, "
          f"{max(e for _, _, e, _, _, _ in js[lo:hi]) - t0} ms from the first job's start to the last job's end")
    print(f"{'job':>4} {'start':>6} {'gap':>5} {'dur':>5} {'tasks':>5} {'run':>5} {'cpu':>5} {'deser':>5} "
          f"{'sql':>4}  label")
    for ix in range(lo, hi):
        j, t, e, site, ts, sql = js[ix]
        gap = t - js[ix - 1][2] if ix > 0 else 0
        print(f"{j:>4} {t - t0:>6} {gap:>5} {e - t:>5} {task_summary(ts)} {sql or '-':>4}  {site}")
    seen = list(dict.fromkeys(sql for _, _, _, _, _, sql in js[lo:hi] if sql is not None))
    if seen:
        print("SQL executions")
        for sql in seen:
            print(f"{sql:>4}  {sqls.get(sql, '(no start event)')}")


if __name__ == "__main__":
    main()
