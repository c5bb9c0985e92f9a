#!/usr/bin/env python3
"""Layered benchmark of the MapReduce text path, the relational core and
the TxLog lakehouse lifecycle.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first run builds
the library and the benchmark from source with sbt (offline) into
`target/` and `perfbench/target/`; later runs reuse that build while the
sources are unchanged. Each run generates its inputs from the seed under
`.bench_build/run-<workload>-<seed>-<trace>/`, runs one JVM with Spark
`local[<cores>]` and one closed-loop client, checks every output, and
keeps there the raw record (`raw.json`: setups, passes, operations,
spans) and the JVM log; the inputs and Spark scratch space are deleted
after a successful run. It prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones (see
perfbench/README.md for both lists and what each should move).
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 175          # the whole run, build excluded
BUILD_DEADLINE_S = 600
SETUPS = 3                # session builds per run; setup_s is the median of all but the first
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    (sbt and java children included) and wait for it. Returns the
    CompletedProcess, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException as e:  # timeout, or this process being stopped
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        if isinstance(e, subprocess.TimeoutExpired):
            return None
        raise
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


def _files(path):
    if os.path.isfile(path):
        yield path
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if x != "target")
        for f in sorted(files):
            yield os.path.join(d, f)


def source_stamp(root):
    """Paths, sizes and mtimes of everything the build reads."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        for fp in _files(os.path.join(root, top)):
            st = os.stat(fp)
            h.update(f"{fp}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, state):
    """Compile the library and the benchmark; returns (classpath, jvm options)."""
    stamp_file = os.path.join(state, "build.json")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"], cached["java_options"]
    # offline, resolving from the local caches the way the repository's own
    # build is run, unless the caller set SBT_OPTS
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []) + ["-Dsbt.offline=true", "-Xmx2g"]))
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                     f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
                     "export Runtime/fullClasspath", "show javaOptions"],
                    BUILD_DEADLINE_S, cwd=os.path.join(root, "perfbench"), env=env,
                    stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if out is None:
        fail("build timed out")
    lines = out.stdout.splitlines()
    classpath = [ln for ln in lines if ln and not ln.startswith("[")]
    java_options = [ln[len("[info] * "):] for ln in lines if ln.startswith("[info] * ")]
    if out.returncode != 0 or len(classpath) != 1:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    classpath = classpath[0]
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath, "java_options": java_options}, f)
    return classpath, java_options


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # unwinds run_group
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a repository checkout (no build.sbt / src/main/scala/graft)")
    state = os.path.join(root, ".bench_build")
    os.makedirs(state, exist_ok=True)
    classpath, java_options = build(root, state)
    start = time.time()

    run_dir = os.path.join(state, f"run-{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    _, expected = gen.generate(a.workload, a.seed, inputs)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    raw_path, log_path = os.path.join(run_dir, "raw.json"), os.path.join(run_dir, "jvm.log")
    cmd = (["java"] + java_options + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
                                      "-XX:-UsePerfData",
                                      "-cp", classpath, "perfbench.Main",
                                      "--workload", a.workload, "--input", inputs,
                                      "--work", work,
                                      "--out", raw_path, "--seconds", str(a.seconds),
                                      "--trace", str(a.trace), "--cores", str(cores()),
                                      "--setups", str(SETUPS)])
    with open(log_path, "w") as log:
        done = run_group(cmd, max(10, DEADLINE_S - 15 - (time.time() - start)),
                         stdout=log, stderr=subprocess.STDOUT)
    rc = "timeout" if done is None else done.returncode
    if rc != 0 or not os.path.exists(raw_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM failed ({rc}); inputs and log kept in {run_dir}")
    with open(raw_path) as f:
        raw = json.load(f)

    failed, notes = checks.check(a.workload, raw, expected)
    attempted = len(raw["ops"])
    m = (metrics.end_to_end(raw) if a.trace == 0
         else metrics.per_layer(raw, expected, failed, attempted))
    for line in notes:
        print(f"check: {line}")
    for name, (value, unit, detail) in m.items():
        print(f"{name} = {value:.6g} {unit}{'  (' + detail + ')' if detail else ''}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in m.items()}}))
    for d in (inputs, work):
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
