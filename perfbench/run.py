#!/usr/bin/env python3
"""Front-door benchmark driver.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

`--workload all` runs every workload in turn and prints each metric, with
its unit, and each workload's fail ratio (failed / attempted).

Run from the root of a checkout. Builds the engine and the benchmark from
source with sbt (once per source state), generates the tables (once), then
runs one workload in a fresh JVM. The JVM's last stdout line is the result
JSON; this script passes it through unchanged. Everything it writes stays
under perfbench/.work and the sbt target directories.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("dash_repeat", "dash_vary", "lake_mixed")

# Sources whose change calls for a rebuild: the engine's and the benchmark's.
SOURCES = [
    (ROOT, ["build.sbt", os.path.join("project", "build.properties")], os.path.join("src", "main")),
    (BENCH, ["build.sbt", os.path.join("project", "build.properties")], os.path.join("src", "main")),
]

# Spark on JDK 17 outside spark-submit (the engine build's own list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# A first run (build, tables, run) must end within 900 s; later runs in 180 s.
BUILD_TIMEOUT_S = 540
PREPARE_TIMEOUT_S = 180
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for base, files, tree in SOURCES:
        paths = [os.path.join(base, f) for f in files]
        for d, _, names in os.walk(os.path.join(base, tree)):
            paths += [os.path.join(d, n) for n in names]
        for p in sorted(paths):
            if not os.path.isfile(p):
                fail(f"missing {os.path.relpath(p, ROOT)}: run from a full checkout")
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(stamp):
    """Compile with sbt and record the runtime classpath, once per stamp."""
    build_dir = os.path.join(WORK, "build")
    cp_file = os.path.join(build_dir, f"classpath-{stamp}")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    lines = [l for l in out.stdout.splitlines() if l.startswith(os.sep) and os.pathsep in l]
    if not lines:
        fail("sbt printed no classpath")
    for old in os.listdir(build_dir):
        os.remove(os.path.join(build_dir, old))
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def java(cp, args, timeout):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # The heap is fixed at its largest size, so it is not resized while measuring.
    cmd += ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-Dlog4j.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            f"-Dderby.system.home={tmp}", "-cp", cp, "perfbench.Main", "--work", WORK] + args
    return subprocess.run(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, text=True, timeout=timeout)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    stamp = source_stamp()
    os.makedirs(WORK, exist_ok=True)
    cp = build(stamp)
    prepared = os.path.join(WORK, "build", f"prepared-{stamp}")
    if not os.path.isfile(prepared):
        if java(cp, ["--prepare", "1"], PREPARE_TIMEOUT_S).returncode != 0:
            fail("table generation failed")
        open(prepared, "w").close()

    if a.workload != "all":
        sys.stdout.write(run(cp, a.workload, a))
        return
    ok = True
    for w in WORKLOADS:
        res = json.loads(run(cp, w, a).splitlines()[-1])
        ok = ok and res["correct"]
        print(f"{w:12s} fail_ratio {res['failed'] / res['attempted']:.4f} "
              f"({res['failed']} / {res['attempted']})")
        for name, m in res["metrics"].items():
            print(f"{w:12s} {name:26s} {m['value']:14.4f} {m['unit']}")
    sys.exit(0 if ok else 1)


def run(cp, workload, a):
    """One workload in a fresh JVM; its stdout, ending in the result line."""
    out = java(cp, ["--workload", workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", a.trace], RUN_TIMEOUT_S)
    lines = out.stdout.splitlines()
    if out.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out.stdout)
        fail(f"{workload} run failed (exit {out.returncode})")
    return out.stdout


if __name__ == "__main__":
    main()
