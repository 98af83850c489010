#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt, which depends on the
root build); later runs reuse the build while the sources are unchanged.
The workload runs in one JVM on local[N], N = the host's cores. The result
line is one JSON object: correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, among them trace.overhead_s, the traced body's time minus
that of the same body run untraced in the same JVM.

    python3 perfbench/run.py --record

rewrites perfbench/expected.tsv: the corpus digests and model scores of
seeds 0-19 and every gate's output digest.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
EXPECTED = os.path.join(HERE, "expected.tsv")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("hockey-job", "gates-sample")
DEADLINE_S = 175  # a run must end within 180 s
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the root build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(code, msg):
    print(msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    env = dict(os.environ)
    # resolve only from the local caches when the user keeps an sbt
    # repositories file; the build needs nothing that is not cached
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
        env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=850)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        die(3, "build failed, see %s" % log)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, args, log_name, deadline):
    """Run perfbench.Main and return its result."""
    out = os.path.join(WORK, "result.json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp]
           + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main", "--work", WORK, "--data", DATA,
              "--expected", EXPECTED, "--out", out] + args)
    with open(os.path.join(WORK, log_name), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(4, "workload ran past the %d s deadline, see %s" % (DEADLINE_S, log.name))
    if code != 0 or not os.path.exists(out):
        die(5, "workload failed, see %s" % os.path.join(WORK, log_name))
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.record and (a.workload is None or a.seed is None or a.seconds is None):
        die(2, "usage: run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(2, "run.py must sit in a checkout of the engine: no build.sbt or sources at %s" % ROOT)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die(2, "java and sbt must be on PATH")
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    deadline = time.time() + DEADLINE_S

    if a.record:
        if os.path.exists(EXPECTED):
            os.remove(EXPECTED)
        for w in WORKLOADS:
            run_jvm(cp, ["--workload", w, "--seed", "0", "--seconds", "0", "--record"],
                    "record-%s.log" % w, time.time() + 3600)
        return

    result = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds",
                          str(a.seconds), "--trace", str(a.trace)],
                     "%s%s.log" % (a.workload, "-trace" if a.trace else ""), deadline)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
