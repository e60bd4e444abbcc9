"""Pipeline benchmark entry point.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It compiles the program's main sources
and the benchmark's JVM harness (perfbench/src) with the Scala compiler
that ships with Spark, generates the workload's inputs from the seed
(perfbench/gen.py), runs them in one fresh JVM, and prints, as its last
stdout line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. The line before it carries the
workload's detailed figures, the output digest and any failed check.

Everything it writes stays under `.perfbench/` in the checkout.
"""

import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402

STATE = ".perfbench"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's
    unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BenchError("no Spark jars: set SPARK_HOME")


def sources(root):
    found = []
    for base in ("src/main/scala", os.path.join(
            os.path.relpath(HERE, root), "src")):
        for d, _, files in os.walk(os.path.join(root, base)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root):
    """Compile main + harness sources once per source set; returns the
    class directory."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise BenchError("no program sources (src/main/scala) here")
    jars_dir = spark_jars(root)
    jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir)
                  if j.endswith(".jar"))
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        with open(p, "rb") as f:
            h.update(p.encode() + b"\0" + f.read() + b"\0")
    h.update("\n".join(jars).encode())
    stamp = h.hexdigest()
    out = os.path.join(root, STATE, "build")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes, jars
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for j in jars if re.search(
        r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
           "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    res = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


def jvm_command(classes, jars, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-XX:+UseParallelGC", "-Xms1g", "-Xmx3g", "-Xmn256m",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dderby.system.home=" + work,
        "-cp", ":".join([classes] + jars),
        "graft.perfbench.PerfBench"] + args)


def load_benchmark(root):
    p = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(p):
        raise BenchError("no BENCHMARK.json at the checkout root")
    with open(p) as f:
        return json.load(f)


def final_line(result, bench, trace):
    """The contract's last line from the JVM's result object: exactly the
    end-to-end (trace 0) or per-layer (trace 1) metrics of BENCHMARK.json.
    A metric that is missing or not finite makes the run incorrect, as does
    an end-to-end metric that is not positive."""
    source = result.get("per_layer" if trace else "e2e") or {}
    wanted = bench["per_layer" if trace else "end_to_end"]
    metrics, correct = {}, bool(result.get("correct"))
    for m in wanted:
        got = source.get(m["name"])
        value = got.get("value") if got else None
        ok = isinstance(value, (int, float)) and math.isfinite(value)
        if not ok or (not trace and value <= 0):
            correct = False
        metrics[m["name"]] = {"value": value if ok else 0.0,
                              "unit": m["unit"]}
    attempted = max(1, int(result.get("attempted", 0)))
    return {"correct": correct, "attempted": attempted,
            "failed": int(result.get("failed", 0)), "metrics": metrics}


def cpu_jiffies():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as st:
            f = [int(x) for x in st.readline().split()[1:]]
    except OSError:
        return 0, 0
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7] if len(f) > 7 else 0


def main(argv=None):
    ap = argparse.ArgumentParser(description="pipeline benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    try:
        bench = load_benchmark(root)
        if a.workload not in [w["name"] for w in bench["workloads"]]:
            raise BenchError("unknown workload " + a.workload)
        classes, jars = build(root)
        work = os.path.join(root, STATE, "run-%s-%d-%d" % (
            a.workload, a.seed, os.getpid()))
        shutil.rmtree(work, ignore_errors=True)
        inputs = os.path.join(work, "inputs")
        gen.generate(a.workload, a.seed, inputs)
        out = os.path.join(work, "result.json")
        cores = len(os.sched_getaffinity(0))
        launch_ms = int(time.time() * 1000)
        cmd = jvm_command(classes, jars, work, [
            "--workload", a.workload, "--inputs", inputs,
            "--work", os.path.join(work, "data"),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--launch-ms", str(launch_ms), "--cores", str(cores),
            "--out", out])
        log = os.path.join(work, "jvm.log")
        busy0, steal0 = cpu_jiffies()
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=lf,
                                    stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                raise BenchError("JVM timed out; see " + log)
            finally:
                # also on SIGTERM: never leave the JVM running
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.exists(out):
            with open(log, errors="replace") as f:
                tail = f.read()[-3000:]
            raise BenchError("JVM exited %d:\n%s" % (rc, tail))
        with open(out) as f:
            result = json.load(f)
        busy1, steal1 = cpu_jiffies()
        hz = os.sysconf("SC_CLK_TCK")
        result.setdefault("detail", {})["cpu_steal_s"] = {
            "value": (steal1 - steal0) / hz, "unit": "s"}
        result["detail"]["cpu_busy_s"] = {
            "value": (busy1 - busy0) / hz, "unit": "s"}
        keep = os.path.join(root, STATE, "last")
        os.makedirs(keep, exist_ok=True)
        for f in ("result.json", "result.json.trace.json", "jvm.log"):
            if os.path.exists(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), os.path.join(
                    keep, "%s-%d-t%d.%s" % (a.workload, a.seed, a.trace, f)))
        shutil.rmtree(work, ignore_errors=True)
    except BenchError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2
    print(json.dumps({"detail": result.get("detail"),
                      "digest": result.get("digest"),
                      "problems": result.get("problems")}))
    print(json.dumps(final_line(result, bench, a.trace)))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda sig, frame: sys.exit(128 + sig))
    sys.exit(main())
