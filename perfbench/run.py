#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, one JVM, local[4].

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness from source
(perfbench/build.sbt, cached under perfbench/.build until a source changes),
runs one workload in one JVM, checks its outputs, and prints a few
human-readable lines and then, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics, traced runs the per-layer ones (and write their spans to
perfbench/.out/). Extra flags: --toy (toy sizes, for the benchmark's test)
and --print-inputs (print the seeded inputs and exit, no Spark).
"""
import argparse
import glob
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
WORKLOADS = ["serve_mixed", "registry_sample"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# fixed (-Xms = -Xmx): a heap that grows during the run made the registry
# entries speed up pass after pass (NOTES.md, hazard 8)
HEAP = "3g"


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution to build against: SPARK_HOME, else the first
    spark-submit on PATH that sits next to Spark's jars."""
    if "SPARK_HOME" in os.environ:
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if (os.path.exists(os.path.join(d, "spark-submit"))
                and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar"))):
            return home
    die("set SPARK_HOME to the Spark distribution the engine builds against")


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources under {ROOT}/src/main/scala; run from a checkout of the repository")
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # the image's offline resolver settings, as the engine's own build uses them
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    lines = open(log).read().splitlines()
    if p.returncode != 0 or not lines or "/classes" not in lines[-1]:
        die(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", *args])


def run_jvm(cp, args, work, log_path):
    """Exit code of the benchmark JVM, or None when it timed out."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as lf:
        p = subprocess.Popen(java_cmd(cp, args, work), cwd=work, stdout=lf,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true")
    ap.add_argument("--print-inputs", action="store_true")
    a = ap.parse_args()

    cp = build()
    base_args = ["--workload", a.workload, "--seed", str(a.seed)] + (["--toy"] if a.toy else [])
    if a.print_inputs:
        p = subprocess.run(java_cmd(cp, ["--print-inputs", *base_args], BUILD),
                           capture_output=True, text=True, timeout=JVM_TIMEOUT_S)
        if p.returncode != 0:
            die(f"input generation failed:\n{p.stderr[-2000:]}")
        print(p.stdout.strip().splitlines()[-1])
        return 0

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    log_path = os.path.join(OUT, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    try:
        t0 = time.time()
        rc = run_jvm(cp, [*base_args, "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--work", work], work, log_path)
        res_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(res_path):
            die(f"the benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; see {log_path}")
        with open(res_path) as f:
            res = json.load(f)
        failures = list(res["failures"])
        oracle_path = os.path.join(work, "oracle.json")
        if os.path.exists(oracle_path):
            import oracle
            t1 = time.time()
            failures += oracle.check(oracle_path)
            res["notes"].append(f"DuckDB oracle check took {time.time() - t1:.1f} s")
        if a.trace and os.path.exists(os.path.join(work, "spans.json")):
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(OUT, f"spans-{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for k, v in res["config"].items():
        print(f"config {k} = {v}")
    for n in res["notes"]:
        print(f"note {n}")
    for fl in failures:
        print(f"FAILED {fl}")
    e2e = res["end_to_end"]
    for k, v in e2e.items():
        print(f"{'traced ' if a.trace else ''}{k} = {v['value']} {v['unit']}")
    attempted = int(res["attempted"])
    failed = min(len(failures), attempted)
    metrics = res["per_layer"] if a.trace else e2e
    if a.trace:
        metrics["failed_frac"]["value"] = failed / attempted
        for k, v in metrics.items():
            print(f"layer {k} = {v['value']} {v['unit']}")
    print(f"failed_frac = {failed / attempted} ({failed} of {attempted} operations), "
          f"wall {time.time() - t0:.1f} s")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if not failures else 1


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    sys.exit(main())
