#!/usr/bin/env python3
"""Load-spine benchmark: builds the program and the benchmark code from
source (once per source state), then runs one workload in a fresh JVM.

    python3 perfbench/run.py --workload file_landing --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0

BENCHMARK.json lists file_landing and stream_drain. bulk_merge runs the
same way, and `all` runs all three workloads.

Run it from the repository root. The last stdout line is the result JSON
({"correct", "attempted", "failed", "metrics"}); the line before it is
the detail record (checks, failures, provenance, host marks). Exit code
0 only when every unit committed and every output check passed.
Build outputs, work directories, JVM logs and trace files go to
.bench_build/ in the repository root.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["bulk_merge", "file_landing", "stream_drain"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, f) for f in ("build.sbt", ".jvmopts", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program's sources with the benchmark code; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("program sources (src/main/scala) not found next to perfbench/; nothing to build")
        sys.exit(2)
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos} -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + f" -Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"
                       f" -Dsbt.boot.directory={os.path.join(BUILD, 'sbt-boot')}"
                       f" -Dsbt.ivy.home={os.path.join(BUILD, 'ivy2')}"
                       " -Dsbt.server.autostart=false -Xmx2g").strip()
    env.setdefault("COURSIER_MODE", "offline")
    log("building (sbt compile of src/main and perfbench/src)")
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        sys.exit(2)
    lines = [l for l in p.stdout.splitlines() if ".bench_build" in l and ":" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        log(f"build failed (exit {p.returncode})")
        sys.exit(2)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_one(cp, workload, args):
    for d in ("spark-local", "tmp", "logs", "trace", "work"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "--add-modules", "jdk.incubator.vector"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(BUILD, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
        f"-Dderby.system.home={os.path.join(BUILD, 'derby')}",
        "-Dspark.driver.host=localhost", "-Dspark.driver.bindAddress=127.0.0.1",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--size", args.size, "--fault", args.fault or "",
        "--root", ROOT,
    ]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    log_path = os.path.join(BUILD, "logs", f"{workload}-s{args.seed}-t{args.trace}.log")
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"{workload}: timed out after {JVM_TIMEOUT_S} s (log: {log_path})")
            return None, 3
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or "correct" not in result:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        log(f"{workload}: no result (exit {p.returncode}, log: {log_path})")
        return None, p.returncode or 4
    for l in lines[:-1]:
        print(l)
    return result, p.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--fault", default="", help="comma list of planted faults: receipt, corrupt")
    args = ap.parse_args()

    cp = build()
    if args.workload != "all":
        result, code = run_one(cp, args.workload, args)
        if result is None:
            sys.exit(code)
        print(json.dumps(result), flush=True)
        sys.exit(0 if code == 0 and result["correct"] else 1)

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        result, code = run_one(cp, w, args)
        if result is None:
            sys.exit(code)
        print(json.dumps(dict(result, workload=w)), flush=True)
        combined["correct"] &= bool(result["correct"]) and code == 0
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        for k, v in result["metrics"].items():
            combined["metrics"][f"{w}.{k}"] = v
    print(json.dumps(combined), flush=True)
    sys.exit(0 if combined["correct"] else 1)


if __name__ == "__main__":
    main()
