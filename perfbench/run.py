#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result line.

    python3 perfbench/run.py --workload qa_online --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (offline) and generates the corpora under
perfbench/.work; later runs reuse both while the sources are unchanged. Each
run is one JVM on local[nproc]. The last line of stdout is one JSON object
with the keys correct, attempted, failed and metrics; the full record, with
the host description, is written to perfbench/.work/results/.

--record-digests adds the output digests the run observed to
perfbench/digests.json, where no digest is stored for them yet.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

START = time.monotonic()
RUN_LIMIT_S = 175        # a run, build excluded
BUILD_LIMIT_S = 850      # a first run that builds
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest(root):
    """sha256 over every file the build reads."""
    h = hashlib.sha256()
    tops = ["build.sbt", os.path.join("project", "build.properties"), "src",
            os.path.join("perfbench", "build.sbt"),
            os.path.join("perfbench", "project", "build.properties"),
            os.path.join("perfbench", "src")]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def stop_group(proc):
    """Kill whatever is left of a child's process group, then reap it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass
    proc.wait()


def run_child(cmd, cwd, env, limit):
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, start_new_session=True,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        stop_group(proc)
        fail(4, f"{cmd[0]} did not finish within {limit:.0f} s")
    code = proc.returncode
    stop_group(proc)
    return code, out


def sbt_env(work):
    """sbt resolving only from the local caches, its scratch files in work."""
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, work, digest):
    """Compile graft and the benchmark; return the runtime classpath."""
    cp_file = os.path.join(work, "classpath.txt")
    stamp = os.path.join(work, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip(), False
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspathAsJars"],
        os.path.join(root, "perfbench"), sbt_env(work),
        BUILD_LIMIT_S - (time.monotonic() - START))
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(3, "build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip(), True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload",
                    choices=["qa_online", "batch"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--record-digests", action="store_true")
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests (sbt test) and exit")
    a = ap.parse_args()

    root = os.getcwd()
    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("perfbench", "build.sbt")]:
        if not os.path.exists(os.path.join(root, need)):
            fail(2, f"not a graft checkout: {need} is missing under {root}")
    work = os.path.join(root, "perfbench", ".work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    if a.selftest:
        code, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                              os.path.join(root, "perfbench"), sbt_env(work),
                              BUILD_LIMIT_S)
        sys.stdout.write(out)
        sys.exit(code)
    if None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    digest = source_digest(root)
    cp, built = build(root, work, digest)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # C1 only: a run's JVM lives about a minute, and with C2 it was still
    # compiling at the end, which left its CPU per operation 15-21% apart
    # between runs (6-8% with C1). Spark's generated classes fill C1's
    # default code cache after a few batch rounds, hence the larger one. A
    # fixed set of compiler threads lets Clock subtract their CPU time.
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=1g", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile="
           + os.path.join(root, "perfbench", "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a class-data archive of this build's classes, written by the first run
    # and mapped by the later ones, takes class loading out of set-up
    jsa = os.path.join(work, f"classes-{digest[:16]}.jsa")
    cmd.append(f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
               else f"-XX:ArchiveClassesAtExit={jsa}")
    cmd += ["-cp", cp, "perfbench.Main", "--root", root,
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--source", digest[:16]]
    if a.record_digests:
        cmd.append("--record-digests")
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - START)
    code, out = run_child(cmd, root, dict(os.environ), limit)
    if code != 0:
        fail(5, f"benchmark JVM exited with {code}")
    # the JVM may print after the result (the class-data archive at exit)
    result = None
    for ln in reversed(out.splitlines()):
        try:
            result = json.loads(ln)
            break
        except ValueError:
            continue
    if not isinstance(result, dict) or \
            sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail(5, "no result line")
    add_commit(root, work, a)
    if a.record_digests:
        record_digests(root, work, a.workload, a.seed)
    print(json.dumps(result))


def add_commit(root, work, a):
    """Put the git commit, where the checkout is a git repository, in the
    run's record next to the source digest."""
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                                    capture_output=True, text=True,
                                    timeout=30).stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            pass
    rec_file = os.path.join(work, "results",
                            f"{a.workload}-s{a.seed}-t{a.trace}.json")
    with open(rec_file) as f:
        rec = json.load(f)
    rec["host"]["commit"] = commit
    with open(rec_file, "w") as f:
        json.dump(rec, f)


def record_digests(root, work, workload, seed):
    """Add newly observed digests to digests.json; never replace one."""
    observed = os.path.join(work, f"observed-{workload}-s{seed}.json")
    stored_file = os.path.join(root, "perfbench", "digests.json")
    stored = {}
    if os.path.exists(stored_file):
        with open(stored_file) as f:
            stored = json.load(f)
    with open(observed) as f:
        for k, v in json.load(f).items():
            stored.setdefault(k, v)
    with open(stored_file, "w") as f:
        json.dump(dict(sorted(stored.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
