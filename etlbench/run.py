#!/usr/bin/env python3
"""Build the program and the harness from source, then run one workload.

    python3 etlbench/run.py --workload etl_fanout --seed 1 --seconds 10 --trace 0
    python3 etlbench/run.py --record-goldens

Run from the repository root. The first call compiles with sbt (the
root build as a source dependency of etlbench/build.sbt) and caches the
classpath under .bench_build/; later calls rebuild only when a source or
build file changed. The JVM prints `name value unit` lines and a JSON
object of every metric it measured; this script passes the lines through
and prints, as its last line, that object cut down to the metrics
BENCHMARK.json lists for the mode (`end_to_end` for --trace 0,
`per_layer` for --trace 1). See etlbench/README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "etlbench")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (the same list
# as the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    files = source_files()
    missing = [f for f in files if not os.path.isfile(f)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources are not here (run from a full checkout): "
             + ", ".join(os.path.relpath(f, ROOT) for f in missing[:3]))
    # the cached classpath names this checkout's build directories
    h = hashlib.sha256(ROOT.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            saved, cp = fh.read().split("\n", 1)
        if saved == digest and classpath_ok(cp.strip()):
            return cp.strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's sockets and native-library extractions go under the checkout.
    # sbt binds its boot socket under XDG_RUNTIME_DIR; a relative path
    # keeps it within the 108-byte limit of a unix socket name however
    # deep the checkout lies.
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"),
               XDG_RUNTIME_DIR=os.path.relpath(tmp, HERE))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
           f"-Dsbt.ipcsocket.tmpdir={tmp}", f"-Dswoval.tmpdir={tmp}",
           f"-Djna.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile",
           "export Runtime/fullClasspath"]
    out = run_child(cmd, HERE, BUILD_TIMEOUT_S, env, "build")
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail("sbt printed no classpath")
    cp = lines[-1].strip()
    if not classpath_ok(cp):
        sys.stdout.write(out)
        fail("sbt printed no usable classpath", 4)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + cp + "\n")
    return cp


def classpath_ok(cp):
    entries = cp.split(os.pathsep)
    return (any(os.path.isfile(os.path.join(e, "etlbench", "BenchMain.class"))
                for e in entries)
            and all(os.path.exists(e) for e in entries))


def run_child(cmd, cwd, timeout, env, what, check=True):
    """Runs `cmd` in its own process group, stderr passed through; kills
    the whole group on timeout and waits for it. Returns stdout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{what} exceeded {timeout} s", 3)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    if check and p.returncode != 0:
        sys.stdout.write(out)
        fail(f"{what} exited with code {p.returncode}", 4)
    run_child.returncode = p.returncode
    return out


def java_cmd(cp, args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dsun.net.httpserver.nodelay=true", "-Dspark.ui.enabled=false",
             "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
             "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", cp, "etlbench.BenchMain",
             "--work", os.path.join(BUILD, "work"),
             "--goldens", os.path.join(HERE, "goldens.tsv")] + args)


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true")
    a = ap.parse_args()
    if not a.record_goldens and not a.workload:
        fail("--workload is required")
    cp = build()
    # Spark would put its scratch space in SPARK_LOCAL_DIRS instead of
    # under the work directory; it binds to loopback only
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    env.update(SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    if a.record_goldens:
        sys.stdout.write(run_child(java_cmd(cp, ["--record-goldens"]), ROOT,
                                   BUILD_TIMEOUT_S, env, "golden recording"))
        return
    out = run_child(java_cmd(cp, ["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds),
                                  "--trace", str(a.trace)]),
                    ROOT, RUN_TIMEOUT_S, env, "benchmark", check=False)
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except (ValueError, IndexError):
        sys.stdout.write(out)
        fail(f"benchmark exited with code {run_child.returncode} and no result", 4)
    for l in lines[:-1]:
        print(l)
    names = declared_metrics(a.trace)
    absent = [n for n in names if n not in result["metrics"]]
    if absent:
        fail("metrics not measured: " + ", ".join(absent), 5)
    result["metrics"] = {n: result["metrics"][n] for n in names}
    print(json.dumps(result))
    sys.exit(0 if run_child.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
