#!/usr/bin/env python3
"""Volume benchmark entry point.

Builds the library (src/main) and the benchmark (perfbench/src/main) from
source with the Scala compiler that ships in Spark's jars, caches the
classes under .bench_build/perfbench/, then runs one workload in a fresh
JVM and prints its result JSON as the last stdout line.

    python3 perfbench/run.py --workload bulk_read --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --self-test

See perfbench/README.md for the workloads and metrics.
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
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["bulk_read", "random_read", "write", "label_scan"]
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these (the launcher's
# JavaModuleOptions). -XX:-UsePerfData keeps the JVMs from writing
# hsperfdata files outside the checkout.
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]

_child = None


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found "
             "(set SPARK_HOME)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found (set JAVA_HOME or put java on PATH)")
    return exe


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(base, f) for f in files]
    return sorted(out)


def digest(files, jars):
    h = hashlib.sha256(os.path.basename(jars).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_to(name, srcs, classpath, jars):
    """Compile `srcs` into BUILD/<name> once; reuse it afterwards."""
    out = os.path.join(BUILD, name)
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=name + ".tmp-", dir=BUILD)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cls = os.path.join(tmp, "classes")
    os.makedirs(cls)
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", cls]
    if classpath:
        cmd += ["-cp", os.pathsep.join(classpath)]
    print("perfbench: compiling %d sources into %s" % (len(srcs), out),
          file=sys.stderr)
    r = subprocess.run(cmd + ["@" + argfile])
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed", 3)
    try:
        os.rename(cls, out)
    except OSError:  # a concurrent build got there first
        pass
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def build(jars, with_tests=False):
    """Class path entries of the library + benchmark (+ self-tests)."""
    lib_src = [f for f in sources("src/main/scala") if f.endswith(".scala")]
    bench_src = [f for f in sources("perfbench/src/main/scala")
                 if f.endswith(".scala")]
    res = os.path.join(ROOT, "src", "main", "resources")
    if not lib_src or not os.path.isdir(res):
        fail("the library sources (src/main/scala, src/main/resources) are "
             "missing: run from a checkout of the repository")
    key = digest(lib_src + bench_src + sources("src/main/resources"), jars)
    main = compile_to("classes-" + key, lib_src + bench_src, [], jars)
    cp = [main, res]
    if with_tests:
        test_src = [f for f in sources("perfbench/src/test/scala")
                    if f.endswith(".scala")]
        tkey = digest(test_src, jars) + "-" + key
        cp.insert(0, compile_to("test-classes-" + tkey, test_src, [main], jars))
    return cp


def git_head():
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel"],
                             capture_output=True, text=True, timeout=10)
        if top.returncode != 0 or os.path.realpath(top.stdout.strip()) != \
                os.path.realpath(ROOT):
            return "unknown"
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10)
        return head.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def declared_metrics(trace):
    """{name: unit} of the metrics BENCHMARK.json declares for this mode."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def on_signal(signum, _frame):
    if _child is not None and _child.poll() is None:
        _child.terminate()
    raise SystemExit(128 + signum)


def run_jvm(cmd, log_path):
    """Run the benchmark JVM; returns (exit code, stdout lines)."""
    global _child
    lines = []
    with open(log_path, "w") as log:
        _child = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                  text=True, cwd=ROOT)
        try:
            for line in _child.stdout:
                lines.append(line.rstrip("\n"))
            _child.wait()
        finally:
            if _child.poll() is None:
                _child.terminate()
                try:
                    _child.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    _child.kill()
                    _child.wait()
    return _child.returncode, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own helper tests")
    a = ap.parse_args()
    if not a.self_test and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    jars = spark_jars()
    cp = build(jars, with_tests=a.self_test) + [os.path.join(jars, "*")]
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(BUILD, "runs"))
    try:
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        # a pinned, pre-touched heap: no page faults or heap resizing
        # inside timed ops
        jvm = [java_bin(), "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:+AlwaysPreTouch",
               "-XX:-UsePerfData", "-Xss4m",
               "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
        jvm += [o for p in ADD_OPENS for o in ("--add-opens", p)]
        jvm += ["-cp", os.pathsep.join(cp)]
        log = os.path.join(run_dir, "jvm.log")
        if a.self_test:
            code, lines = run_jvm(jvm + ["perfbench.SelfTest"], log)
            print("\n".join(lines))
            if code != 0:
                sys.stderr.write(open(log).read()[-4000:])
            return code
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", repr(a.seconds), "--trace", str(a.trace),
                "--root", os.path.join(run_dir, "root"), "--git-head", git_head(),
                "--trace-out", os.path.join(
                    traces, "%s-seed%d.jsonl" % (a.workload, a.seed))]
        code, lines = run_jvm(jvm + ["perfbench.VolBench"] + args, log)
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                pass
        for line in lines[:-1] if result is not None else lines:
            print(line)
        if result is None:
            sys.stderr.write(open(log).read()[-4000:])
            fail("the benchmark JVM exited with code %d and no result" % code,
                 code or 1)
        declared = declared_metrics(a.trace == 1)
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if declared is not None and got != declared:
            fail("metrics %s differ from BENCHMARK.json's %s" % (
                sorted(got.items()), sorted(declared.items())), 4)
        print(json.dumps(result))
        return code
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
