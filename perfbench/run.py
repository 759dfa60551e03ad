#!/usr/bin/env python3
"""Run one benchmark workload against the program checked out around this
directory and print its result as the last line of standard output.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the program and the
benchmark from source with sbt (into perfbench/target); later runs reuse
that build while the sources are unchanged. Everything a run writes stays
under perfbench/ (build output, cached inputs, Spark scratch space and a
detail file per run under perfbench/work/results/).

With --trace 0 the result carries every end-to-end metric of
BENCHMARK.json, with --trace 1 every per-layer metric; per-layer metrics
that the workload does not exercise read 0 (perfbench/metrics.json lists
where each one is measured).
"""
import argparse
import fcntl
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    trees = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_sha(files):
    h = hashlib.sha1()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build(sha):
    """Compile with sbt unless the last build used these exact sources;
    returns the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "build.classpath")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and os.path.exists(cp_file):
            with open(stamp) as fh:
                if fh.read().strip() == sha:
                    with open(cp_file) as fh:
                        return fh.read().strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline" not in opts:
            opts += " -Dsbt.offline=true"
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
        code, stdout = run_group(cmd, BENCH, env, BUILD_TIMEOUT_S, "build")
        if code != 0:
            sys.stderr.write(stdout[-4000:])
            fail("build failed")
        lines = [l for l in stdout.splitlines()
                 if not l.startswith("[") and "scala-2.13" in l and os.pathsep in l]
        if not lines:
            fail("build printed no classpath")
        with open(cp_file, "w") as fh:
            fh.write(lines[-1])
        with open(stamp, "w") as fh:
            fh.write(sha)
        return lines[-1]


def run_group(cmd, cwd, env, timeout, what):
    """Run cmd in its own process group, killing the whole group if it
    outlives `timeout`; returns (exit code, standard output)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{what} exceeded {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, args, sha):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dperfbench.source_sha={sha}",
            f"-Dperfbench.git_sha={git_sha()}", "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", WORK]
    code, out = run_group(cmd, ROOT, None, RUN_TIMEOUT_S, "run")
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            result = json.loads(line[len("PERFBENCH "):])
        else:
            print(line, file=sys.stderr)
    if code != 0 or result is None:
        fail(f"run failed (exit code {code})")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        with open(os.path.join(BENCH, "metrics.json")) as fh:
            layer_map = {m["name"]: m for m in json.load(fh)["per_layer"]}
    except (OSError, ValueError, KeyError) as e:
        fail(f"cannot read the benchmark definition: {e}")
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found; run from the repository root")

    files = source_files()
    sha = source_sha(files)
    t0 = time.time()
    cp = build(sha)
    print(f"perfbench: build ready in {time.time() - t0:.1f} s", file=sys.stderr)
    result = run_jvm(cp, args, sha)

    measured = result["metrics"]
    metrics = {}
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        name = m["name"]
        if name in measured:
            value = measured[name]
        elif args.trace and args.workload not in layer_map[name]["measured_on"]:
            value = 0.0  # the workload does not exercise this layer
        else:
            fail(f"run did not report {name}")
        metrics[name] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
