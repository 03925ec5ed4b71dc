#!/usr/bin/env python3
"""Layered k-means benchmark: build the engine from source, run one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload <lloyd_scale|choose_k|suite_sample>
      --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the engine (../src/main) together with
the benchmark (perfbench/src) with sbt into .bench_build/; later runs reuse
that build while the sources are unchanged. Each run is one JVM on
local[<cores>]. The last line of standard output is the result object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
End-to-end metrics with --trace 0, per-layer metrics with --trace 1 (the
spans of a traced run are written to .bench_build/trace/).

Extra arguments (--mode probe|pin|dump --out <path>) run the suite_sample
maintenance modes described in perfbench/README.md.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "sources.sha1")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            files = [r]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no engine sources at src/main/scala: nothing to benchmark")
        sys.exit(2)
    digest = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return open(CLASSPATH).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building the engine and the benchmark with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=850)
    sys.stderr.write(proc.stdout[-4000:])
    cp = [ln for ln in proc.stdout.splitlines() if ln.startswith(os.sep) and ".jar" in ln]
    if proc.returncode != 0 or not cp:
        log(f"build failed (exit {proc.returncode})")
        sys.exit(3)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1])
    with open(STAMP, "w") as f:
        f.write(digest)
    return cp[-1]


def main(argv):
    opts = dict(zip(argv[::2], argv[1::2]))
    if "--workload" not in opts:
        log(__doc__)
        sys.exit(2)
    cp = build()
    workload = opts["--workload"]
    work = os.path.join(BUILD, "run", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    args = list(argv)
    if opts.get("--trace") == "1" and "--out" not in opts:
        args += ["--out", os.path.join(BUILD, "trace", f"{workload}-seed{opts.get('--seed', '0')}.json")]
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work}", f"-Dperfbench.home={HERE}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, PERFBENCH_CPUS=str(cpus), SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S if "--mode" not in opts else 3600)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = [ln for ln in lines if ln.startswith('{"correct"')]
    if proc.returncode == 0 and "--mode" in opts:
        print(out, end="")
        return
    if proc.returncode != 0 or not result:
        sys.stderr.write(out)
        log(f"run failed (exit {proc.returncode})")
        sys.exit(5)
    for ln in lines:
        if ln is not result[-1]:
            print(ln)
    print(result[-1], flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
