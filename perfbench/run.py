#!/usr/bin/env python3
"""Benchmark entry point for the crawl engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Builds the engine together with the harness in perfbench/ (sbt, offline)
the first time and whenever a source file changes, then runs one workload
in one JVM with local[<all cores>]. Prints the harness's full record
(workload, seed, check values) and, as the last line of stdout, one JSON
object with exactly the keys correct, attempted, failed and metrics:
the end-to-end metrics of BENCHMARK.json on an untraced run, its per-layer
metrics on a traced one. Layers a workload does not exercise report 0.
Writes under .bench_build/, perfbench/target/ and perfbench/project/target/
of the checkout; sbt's launcher and the offline dependency cache are read
from their usual places.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
DEADLINE_S = 170  # the run must end within 180 s; the build has its own budget
HEAP = "3g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    inputs = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return home


def build():
    """Compiles engine + harness when sources changed; returns the classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}/")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 1)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_jvm(classpath, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS] + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xmn1g", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main"] + args + ["--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def stop(signum, _frame):  # the JVM runs in its own session: take it down too
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"workload did not finish within {DEADLINE_S} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        fail(f"harness JVM exited with {proc.returncode}", 1)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("harness printed no result", 1)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    classpath = build()
    work = os.path.join(BUILD, "work", f"{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)] + (["--smoke"] if a.smoke else [])
        rec = run_jvm(classpath, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = rec["metrics"]
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        name, unit = m["name"], m["unit"]
        if name in got:
            if got[name]["unit"] != unit:
                fail(f"{name}: harness unit {got[name]['unit']} != BENCHMARK.json unit {unit}", 1)
            value = got[name]["value"]
        elif a.trace:
            value = 0  # the layer does no work in this workload
        else:
            fail(f"end-to-end metric {name} missing from the harness output", 1)
        if value is None:
            fail(f"{name} was not measured", 1)
        metrics[name] = {"value": value, "unit": unit}
    record = {k: rec[k] for k in ("workload", "seed", "checks")}
    record["measured"] = sorted(got)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
