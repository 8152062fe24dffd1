#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one seeded run.

    python3 perfbench/run.py --workload snap_ingest --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline) into the usual target/ dirs; later
runs reuse the build while the sources are unchanged. Each run starts one
JVM on local[nproc] with a single closed-loop client, then checks the
outputs (DuckDB oracle where an op has one) and prints human-readable
report lines followed by ONE JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see README.md). Everything the run writes stays under
perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("olap_tpch", "dedup_search", "snap_ingest", "rc_forecast")
# One run must end well inside 180 s; a first run may also build.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "2g"

sys.dont_write_bytecode = True  # write nothing beside the sources
sys.path.insert(0, HERE)
import gen  # noqa: E402
import report  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, so an unchanged checkout is
    not rebuilt and a changed one always is."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false"
                       " -XX:-UsePerfData -Xmx2g")
    return env


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group
    and waits for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Builds once per source digest; returns the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("digest") == digest:
            return b["classpath"]
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(),
                         stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}:\n" + "\n".join(lines[-15:]))
    cps = [l for l in lines if not l.startswith("[") and ":" in l and ".jar" in l]
    if not cps:
        fail(f"build printed no classpath; see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cps[-1]}, f)
    return cps[-1]


# Spark on JDK 17 needs these outside spark-submit (build.sbt carries the
# same list for `sbt run`).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(classpath, args, work, launch_log):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "record.json")
    # heap pinned and pre-touched, so peak_rss_mb moves with what the run
    # adds beyond the heap, not with how much of the heap GC happened to
    # touch; no hsperfdata file outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(len(os.sched_getaffinity(0))),
            "--work", work, "--out", out]
    with open(launch_log, "w") as log:
        # few malloc arenas: native memory, and so peak_rss_mb, does not
        # depend on how many threads happened to allocate
        rc = run_bounded(cmd, RUN_TIMEOUT_S - (time.time() - T_START),
                         stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, cwd=work,
                         env=dict(os.environ, MALLOC_ARENA_MAX="2"))
    if rc != 0 or not os.path.exists(out):
        with open(launch_log) as f:
            tail = f.read().splitlines()[-20:]
        fail(f"{args.workload} run failed (exit {rc}); see {launch_log}:\n" +
             "\n".join(tail))
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the program's sources are missing: no {need} beside perfbench/")
    classpath = build()
    # set-up time counts from here: the build is not part of it
    global T_START
    T_START = time.time()
    work = os.path.join(WORK, f"run-{args.workload}")
    if os.path.isdir(work):
        shutil.rmtree(work)
    gen.generate(args.workload, os.path.join(work, "data"), args.seed)
    rec = run_jvm(classpath, args, work, os.path.join(WORK, f"{args.workload}.log"))
    result = report.evaluate(rec, args, T_START * 1000, WORK, ROOT)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
