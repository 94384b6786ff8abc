#!/usr/bin/env python3
"""Count the processes one perfbench workload forks, per command and per
path class.

    python3 tools/fork_census.py --workload event_stream --seed 4 --seconds 8

Run from the root of a graft checkout. The harness is built first (as
`perfbench/run.py` builds it, unwrapped); then one run of the workload
goes with a directory of logging wrappers ahead of `PATH`, one per
command in `COMMANDS` found on `PATH` (the summary's `not_wrapped`
names the rest). Each wrapper appends its command line to a log
and execs the real command. A fork's path class is the first directory
below the run's work dir that its arguments name (`checkpoints`, `tmp`,
...), `other` for any other path and `-` for none. The last line is a JSON
summary: forks per command, per (command, path class), and the run's
`attempted` passes.
"""
import argparse
import collections
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_PY = os.path.join(ROOT, "perfbench", "run.py")
WORK = os.path.join(ROOT, "perfbench", "target", "run")
COMMANDS = ("chmod", "chown", "readlink", "ls", "stat", "rm", "mv", "ln",
            "setsid", "bash", "sh", "id", "groups", "df", "du")


def real_binaries(names, path):
    found = {}
    for name in names:
        for d in path.split(os.pathsep):
            cand = os.path.join(d, name)
            if os.path.isfile(cand) and os.access(cand, os.X_OK):
                found[name] = cand
                break
    return found


def write_wrappers(bindir, log, binaries):
    for name, real in binaries.items():
        w = os.path.join(bindir, name)
        with open(w, "w") as f:
            f.write("#!/bin/sh\n"
                    f"printf '%s\\t%s\\n' '{name}' \"$*\" >> '{log}'\n"
                    f"exec '{real}' \"$@\"\n")
        os.chmod(w, 0o755)


def path_class(args):
    for tok in args.split():
        tok = tok[len("file:"):] if tok.startswith("file:") else tok
        if not tok.startswith("/"):
            continue
        tok = os.path.normpath(tok)
        if tok.startswith(WORK + os.sep):
            # <work>/<workload>-<seed>-<pid>/<class>/...
            parts = tok[len(WORK) + 1:].split(os.sep)
            return parts[1] if len(parts) > 1 else "workdir"
        return "other"
    return "-"


def main():
    ap = argparse.ArgumentParser(
        description=" ".join(__doc__.split("\n\n")[0].split()))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    args = ap.parse_args()

    sys.dont_write_bytecode = True  # leave no cache beside run.py
    spec = importlib.util.spec_from_file_location("perfbench_run", RUN_PY)
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    run.build()  # unwrapped, so sbt's own forks are not counted

    path = os.environ.get("PATH", "")
    binaries = real_binaries(COMMANDS, path)
    bindir = tempfile.mkdtemp(prefix="fork_census_")
    log = os.path.join(bindir, "forks.log")
    open(log, "w").close()
    write_wrappers(bindir, log, binaries)
    env = dict(os.environ, PATH=bindir + os.pathsep + path)
    proc = subprocess.run(
        [sys.executable, RUN_PY, "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    result = {}
    lines = proc.stdout.rstrip("\n").splitlines()
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass

    per_cmd = collections.Counter()
    per_class = collections.Counter()
    with open(log) as f:
        for line in f:
            cmd, _, rest = line.rstrip("\n").partition("\t")
            per_cmd[cmd] += 1
            per_class[(cmd, path_class(rest))] += 1
    shutil.rmtree(bindir, ignore_errors=True)

    print(f"# {args.workload} seed {args.seed}: {sum(per_cmd.values())} forks, "
          f"{result.get('attempted', '?')} passes, exit {proc.returncode}")
    for (cmd, cls), n in sorted(per_class.items(), key=lambda kv: -kv[1]):
        print(f"# {cmd:10s} {cls:24s} {n:6d}")
    missing = sorted(set(COMMANDS) - set(binaries))
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "attempted": result.get("attempted"), "correct": result.get("correct"),
        "forks": dict(per_cmd),
        "by_class": {f"{c} {k}": n for (c, k), n in sorted(per_class.items())},
        "not_wrapped": missing}))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
