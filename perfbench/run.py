#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 perfbench/run.py --workload train_tabular --seed 1 --seconds 12 --trace 0

Run from the root of a graft checkout. The first run builds the library
and the harness from source with sbt (offline); later runs reuse the
build while the sources are unchanged. The last line of standard output
is the JSON result; the full record (machine facts, checks, named and
per-layer metrics, spans of a traced run) lands in
perfbench/target/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ["train_tabular", "ann_serve_ingest", "event_stream"]
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    for tree in trees:
        for dirpath, dirnames, filenames in os.walk(tree):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            inputs += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath and
    the JVM options of the build."""
    stamp = source_stamp()
    launch_file = os.path.join(TARGET, "launch.json")
    if os.path.isfile(launch_file):
        with open(launch_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"], cached["java_options"]
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    default_opts = "-Dsbt.offline=true -Xmx3g"
    if os.path.isfile(repos):
        default_opts = (f"-Dsbt.override.build.repos=true "
                        f"-Dsbt.repository.config={repos} " + default_opts)
    env.setdefault("SBT_OPTS", default_opts)
    # the harness JVM's heap, read by the library build's javaOptions
    env["SPARK_DRIVER_MEM"] = "3g"
    spec = os.path.join(TARGET, "launch.txt")
    if os.path.exists(spec):
        os.remove(spec)
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "launchSpec"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        log.write(proc.stdout)
    if proc.returncode != 0 or not os.path.isfile(spec):
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    with open(spec) as f:
        classpath, *java_options = f.read().splitlines()
    with open(launch_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath,
                   "java_options": java_options}, f)
    return classpath, java_options


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}; run from the root of a graft checkout")
    classpath, java_options = build()

    work = os.path.join(TARGET, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    results = os.path.join(TARGET, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    # a fixed set of JIT compiler threads: the harness subtracts their
    # CPU time, which it can only read from threads that are still alive
    cmd = (["java", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}"] + java_options
           # a heap of fixed size: in a heap G1 had sized small, some runs
           # spent seconds of CPU per pass in back-to-back marking cycles
           + ["-Xms" + o[len("-Xmx"):] for o in java_options if o.startswith("-Xmx")][-1:]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--workdir", work, "--out", out])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload ran longer than {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(stdout)
        fail(f"harness exited {proc.returncode} without a result")
    print("\n".join(lines))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
