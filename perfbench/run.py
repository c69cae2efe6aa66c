#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload filter_job --seed 1 --seconds 5 --trace 0

Run from the repository root. The program and the benchmark's Scala
sources are compiled together into .bench_build/ (reused while no source
changes); inputs, outputs, result records and span files go under
.bench_work/. The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}; --trace 0 prints the
end-to-end metrics and --trace 1 the per-layer ones.

Workloads (see BENCHMARK.json for why each is there):
  filter_job     QualityFilterJob.run over a seeded ~50k-turn parquet corpus
  stream_ingest  a three-file stream drain through scoring and lifetime dedup
"""
import argparse
import glob
import hashlib
import json
import os
import re
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("filter_job", "stream_ingest")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
# A fixed, pre-touched heap keeps the peak RSS from following G1's run-to-run
# sizing decisions: what varies is the JVM's native memory.
HEAP = "2g"

# What spark-submit would pass on JDK 17 (the sbt build passes the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_child = None


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(sbt):
            fail("build.sbt not found: run from a full checkout of the repository")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            fail("build.sbt names no unmanagedBase jar directory; set SPARK_HOME")
        d = m.group(1)
    if not glob.glob(os.path.join(d, "spark-core_*.jar")):
        fail(f"no Spark jars in {d}")
    return d


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not prog:
        fail("no program sources under src/main/scala: run from a full checkout")
    bench = sorted(glob.glob(os.path.join(BENCH, "scala", "*.scala")))
    return prog + bench


def java_version():
    p = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True)
    return (p.stderr.strip().splitlines() or ["unknown"])[0]


def build(jars):
    """Compiles program + benchmark with the Scala compiler Spark ships."""
    files = sources()
    h = hashlib.sha256(java_version().encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp) and open(stamp).read().strip() == digest and os.path.isdir(classes):
        return classes, digest
    tmp = classes + ".tmp"
    subprocess.run(["rm", "-rf", tmp, classes], check=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    code, out = run_child(cmd, BUILD_TIMEOUT_S, stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(out)
        fail("compilation failed", 3)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return classes, digest


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return p.stdout.strip() or "unknown"


def kill_child():
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()


def stop(*_):
    kill_child()
    sys.exit(5)


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group; returns (exit code, stdout).
    A run past `timeout` is killed, group and all, and fails the benchmark."""
    global _child
    _child = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, **kw)
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_child()
        fail(f"{cmd[0]} exceeded {timeout} s", 4)
    return _child.returncode, out


def tracing_overhead(results, record_path, workload, seed):
    """Traced run's end-to-end figures against the untraced record of the
    same seed, else the latest untraced one."""
    with open(record_path) as fh:
        rec = json.load(fh)
    same = os.path.join(results, f"record_{workload}_seed{seed}_trace0.json")
    base = [same] if os.path.isfile(same) else sorted(
        glob.glob(os.path.join(results, f"record_{workload}_seed*_trace0.json")),
        key=os.path.getmtime)
    if not base:
        return
    with open(base[-1]) as fh:
        untraced = json.load(fh)
    over = {}
    for k, v in rec["end_to_end"].items():
        u = untraced["end_to_end"].get(k)
        if u:
            over[k] = v / u - 1.0
    rec["tracing_overhead"] = {"against": os.path.basename(base[-1]), "share": over}
    with open(record_path, "w") as fh:
        json.dump(rec, fh)
    print("perfbench: tracing overhead " +
          ", ".join(f"{k} {v:+.1%}" for k, v in sorted(over.items())), file=sys.stderr)


def main():
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # small inputs for the benchmark's own test
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--pins", default=os.path.join(BENCH, "pins.tsv"),
                    help="counts pinned per workload, scale and seed")
    a = ap.parse_args()

    jars = spark_jars()
    classes, digest = build(jars)
    work = os.path.join(WORK, a.workload)
    # records and span files, kept across runs; tiny runs keep their own
    results = os.path.join(WORK, "results" if a.scale == "full" else "results-tiny")
    subprocess.run(["rm", "-rf", work], check=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    # no hsperfdata file: the run writes only inside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--results", results,
            "--pins", a.pins, "--scale", a.scale,
            "--host.nproc", str(os.cpu_count()), "--host.git_sha", git_sha(),
            "--host.source_sha256", digest]
    # few malloc arenas: the JVM's native footprint, and so its peak RSS,
    # then depends little on which threads happened to allocate
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    code, out = run_child(cmd, RUN_TIMEOUT_S, env=env)
    lines = out.strip().splitlines()
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with {code}", 4)
    result = json.loads(lines[-1])
    record = next((l.split(" ", 2)[2] for l in lines if l.startswith("graftbench record ")), None)
    if a.trace and record:
        tracing_overhead(results, record, a.workload, a.seed)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
