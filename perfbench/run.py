#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt on first use
(the build is cached in .bench_build/ and redone when any source file
changes), then runs the workload in one JVM on local[4]. The last line
of stdout is the result object; the exit code is non-zero when the build,
the run or a correctness gate fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the run's classpath is built from: the program's and the
    benchmark's main sources and the two build definitions."""
    roots = [os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; kill the whole group on
    timeout and wait for it, so nothing outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode, out, err


def build():
    """sbt compile + export of the runtime classpath, cached by digest."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve from the local caches only, as the repository's own
        # build instructions do
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    with open(log, "w") as fh:
        try:
            rc, out, _ = run_group(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                stderr=fh, stdin=subprocess.DEVNULL, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        fh.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        fail(f"build failed (rc {rc}); see {log}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def load_spec():
    """BENCHMARK.json: the workloads and the metrics each mode prints."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found next to perfbench/")
    with open(path) as fh:
        return json.load(fh)


def main():
    spec = load_spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source '{need}' not found next to perfbench/")

    t0 = time.monotonic()
    classpath = build()
    budget = RUN_TIMEOUT_S
    if time.monotonic() - t0 > 1:
        budget = max(budget, 880 - (time.monotonic() - t0))

    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(BUILD, f"run-{args.workload}.log")
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC"]
           + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", os.path.join(BUILD, f"work-{args.workload}")])
    with open(log, "w") as fh:
        try:
            rc, out, _ = run_group(cmd, budget, cwd=BUILD,
                                   stdout=subprocess.PIPE, stderr=fh,
                                   stdin=subprocess.DEVNULL, text=True)
        except subprocess.TimeoutExpired:
            fail(f"run timed out after {budget:.0f} s; see {log}")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        fail(f"no output (rc {rc}); see {log}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"last line is not a result (rc {rc}); see {log}")
    want = {m["name"] for m in spec["per_layer" if args.trace
                                    else "end_to_end"]}
    got = set(result.get("metrics", {}))
    if got != want:
        sys.stderr.write("\n".join(lines) + "\n")
        fail(f"metrics differ from BENCHMARK.json: missing "
             f"{sorted(want - got)}, extra {sorted(got - want)}")
    sys.stdout.write("\n".join(lines) + "\n")
    sys.exit(rc)


if __name__ == "__main__":
    main()
