#!/usr/bin/env python3
"""Run one benchmark workload from the root of a source checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the program and the benchmark with sbt (offline) into
the checkout; later runs reuse that build while the sources are unchanged.
Each run then starts one JVM with the program's own JVM options, prints its
log to stderr and, as the last line of stdout, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. Artifacts (provenance,
checks, spans) land in perfbench/.work/out/.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCHER = os.path.join(WORK, "launcher.txt")
STAMP = os.path.join(WORK, "build.stamp")
TMP = os.path.join(WORK, "tmp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """The files a build depends on: program and benchmark sources."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(p for p in out if os.path.isfile(p))


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def driver_mem():
    """The heap the repository's test command gives the JVM: half the
    machine's memory, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def build(digest, env):
    if os.path.isfile(LAUNCHER) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    sbt_env = dict(env)
    sbt_env["COURSIER_MODE"] = "offline"
    sbt_env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                           f" -Djava.io.tmpdir={TMP} -XX:-UsePerfData").strip()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "writeLauncher"]
    print("[perfbench] building: " + " ".join(cmd), file=sys.stderr)
    try:
        r = subprocess.run(cmd, cwd=HERE, env=sbt_env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except FileNotFoundError:
        fail("sbt not found on PATH")
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.isfile(LAUNCHER):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else ""
    except (OSError, subprocess.TimeoutExpired):
        return ""


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec, {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to perfbench/ (build.sbt, src/main/scala): "
             "run from the root of a full checkout")
    spec, want = expected_metrics(a.trace == 1)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    env = dict(os.environ)
    env.setdefault("SPARK_DRIVER_MEM", driver_mem())
    # Spark prefers these over spark.local.dir; the run keeps its scratch
    # files inside the checkout
    env.pop("SPARK_LOCAL_DIRS", None)
    env.pop("LOCAL_DIRS", None)
    os.makedirs(TMP, exist_ok=True)
    env["TMPDIR"] = TMP
    digest = source_digest()
    build(digest, env)
    with open(LAUNCHER) as f:
        lines = [l for l in f.read().splitlines() if l]
    jvm_opts, classpath = lines[:-1], lines[-1]
    sha = git_sha()
    cores = len(os.sched_getaffinity(0))
    # write back what earlier runs left dirty, so that it does not compete
    # with this run's state-store fsyncs
    os.sync()
    cmd = (["java"] + jvm_opts + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={TMP}", "-cp", classpath,
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
           "--work", WORK, "--source", f"git:{sha}" if sha else f"src-sha256:{digest}"])
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if p.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {p.returncode}", 3)
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"printed metrics differ from BENCHMARK.json: "
             f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
             f"units {[k for k in want if k in got and got[k] != want[k]]}", 3)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
