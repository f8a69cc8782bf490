#!/usr/bin/env python3
"""Seeded, layered benchmark of the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload <search|detect> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

The first run builds the program and the benchmark from source with sbt
(outputs under .bench_build/ and the sbt target/ directories); later runs
reuse the build while the sources are unchanged. The benchmark's JVM
prints info lines starting with '#'; the last line of standard output is
one JSON object {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. --smoke runs every workload at a tiny size in
both modes and checks that every metric is printed with its unit.
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
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("search", "detect")
JAVA_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (the program's build
# file passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from this checkout."""
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    trees = [os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    files = [f for f in tops if os.path.isfile(f)]
    for t in trees:
        for d, dirs, names in os.walk(t):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    stamp = os.path.join(OUT, "classpath.txt")
    fp = fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            lines = fh.read().split("\n")
        if len(lines) >= 2 and lines[0] == fp and all(
                os.path.exists(p) for p in lines[1].split(os.pathsep)):
            return lines[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    t0 = time.time()
    print("# building program and benchmark with sbt", flush=True)
    try:
        code, out = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                               "export Runtime/fullClasspath"],
                              HERE, env, BUILD_TIMEOUT_S)
    except OSError as e:
        fail(f"build failed: {e}")
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out or "")
        fail(f"build failed (sbt exit {code})")
    cp = lines[-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(fp + "\n" + cp + "\n")
    print(f"# build took {time.time() - t0:.1f} s", flush=True)
    return cp


def run_child(cmd, cwd, env, timeout):
    """Run a command in its own process group; on timeout kill the whole
    group and wait for it. Returns (exit code or None, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def check_result(line, trace):
    """The result line's problems against BENCHMARK.json ([] when none)."""
    try:
        res = json.loads(line)
    except ValueError:
        return ["last line is not JSON"]
    if not isinstance(res, dict):
        return ["result is not an object"]
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(res)}")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        errs.append("attempted is not a whole number >= 1")
    if not isinstance(res.get("failed"), int):
        errs.append("failed is not a whole number")
    got = res.get("metrics", {})
    want = expected_metrics(trace)
    for name, unit in want.items():
        m = got.get(name)
        if not isinstance(m, dict) or not isinstance(m.get("value"), (int, float)):
            errs.append(f"metric {name} missing")
        elif m.get("unit") != unit:
            errs.append(f"metric {name} has unit {m.get('unit')}, not {unit}")
    extra = set(got) - set(want)
    if extra:
        errs.append(f"undeclared metrics {sorted(extra)}")
    return errs


def run_java(cp, args):
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    code, out = run_child(cmd, ROOT, None, JAVA_TIMEOUT_S)
    if code is None:
        fail(f"benchmark did not finish in {JAVA_TIMEOUT_S} s", 3)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"benchmark exited with {code}", 3)
    return lines


def run(a, cp):
    lines = run_java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--size", a.size, "--commit", commit(),
                          "--work", os.path.join(OUT, "work")])
    for l in lines[:-1]:
        print(l)
    errs = check_result(lines[-1], a.trace == 1)
    if errs:
        fail("bad result: " + "; ".join(errs), 4)
    print(lines[-1], flush=True)


def smoke(cp):
    """Every workload at a tiny size, both modes: every declared metric
    printed with its unit, and every correctness check passing."""
    bad = []
    for w in WORKLOADS:
        for trace in (0, 1):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.abspath(__file__),
                                "--workload", w, "--seed", "7", "--seconds", "4",
                                "--trace", str(trace), "--size", "tiny"],
                               cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            lines = [l for l in p.stdout.splitlines() if l.strip()]
            errs = [f"exit {p.returncode}"] if p.returncode != 0 or not lines \
                else check_result(lines[-1], trace == 1)
            if not errs and not json.loads(lines[-1])["correct"]:
                errs = ["correct is false"]
            print(f"# smoke {w} trace={trace}: "
                  f"{'ok' if not errs else '; '.join(errs)} "
                  f"({time.time() - t0:.1f} s)", flush=True)
            bad += errs
    if bad:
        fail("smoke test failed", 1)
    print("smoke ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources next to the benchmark: run it from a "
             "checkout of the repository")
    if not a.smoke and not a.workload:
        fail("--workload is required")
    cp = build()
    if a.smoke:
        smoke(cp)
    else:
        run(a, cp)


if __name__ == "__main__":
    main()
