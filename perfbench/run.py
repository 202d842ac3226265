#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source with sbt when they changed (perfbench/build.sbt compiles
src/main/scala together with perfbench/src), starts the stub backend for
the enrich workloads in its own JVM, runs the engine harness in another,
and prints the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything the run writes goes under perfbench/.work (and sbt's
perfbench/target, perfbench/project/target).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import socket
import subprocess
import sys
import time
import urllib.request

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
RUN = os.path.join(WORK, "run")
CLASSPATH = os.path.join(WORK, "classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")
ENRICH = ("enrich_wait", "enrich_cpu")
CATALOG = ("catalog_mix",)
DEADLINE_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources():
    """every file the build reads, in a stable order"""
    out = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src", "main", "scala")):
        for d, _, files in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def build():
    """compile with sbt unless the sources are unchanged since the last build"""
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(stamp)


def java(main, args, heap, young, cp, stdin=None, stdout=None, stderr=None, env=None):
    # a fixed heap and young generation keep G1 from resizing them by
    # pause goals, which otherwise moves peak RSS by a third between runs
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Xmn{young}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(RUN, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    return subprocess.Popen(cmd, stdin=stdin, stdout=stdout, stderr=stderr, env=env, text=True)


def sf_dir():
    """the corpus graft.Bench reads: SPARK_GRAFT_SF_DIR, else Bench's own default"""
    with open(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")) as f:
        default = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read()).group(1)
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def start_stub(cp, workload, seed, cpus):
    """start the stub on a free loopback port; the harness waits for it"""
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    with open(os.path.join(RUN, "stub.err"), "w") as err:
        p = java("perfbench.Stub", ["--seed", str(seed), "--workload", workload, "--threads", str(cpus),
                                    "--port", str(port), "--log", os.path.join(RUN, "stub-requests.tsv")],
                 "512m", "128m", cp, stdin=subprocess.PIPE, stdout=subprocess.DEVNULL, stderr=err)
    return p, port


def stop_stub(p, port):
    try:
        req = urllib.request.Request(f"http://127.0.0.1:{port}/perfbench/shutdown", data=b"", method="POST")
        urllib.request.urlopen(req, timeout=5).read()
    except OSError:
        pass
    try:
        p.stdin.close()
        p.wait(timeout=10)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=ENRICH + CATALOG)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true",
                    help="write the catalog goldens at this commit instead of measuring")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("program sources (src/main/scala) not found: run from the root of a checkout")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    t_start = time.monotonic()  # the first run's build has its own allowance

    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(os.path.join(RUN, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_MASTER=f"local[{cpus}]")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", RUN]
    goldens = os.path.join(BENCH, "goldens", f"{a.workload}.tsv")
    if a.workload in CATALOG:
        args += ["--sf", sf_dir(), "--goldens", goldens]
        if a.record_goldens:
            args += ["--record-goldens", goldens]

    stub = port = None
    try:
        if a.workload in ENRICH:
            stub, port = start_stub(cp, a.workload, a.seed, cpus)
            args += ["--port", str(port)]
        with open(os.path.join(RUN, "harness.err"), "w") as err:
            h = java("perfbench.Harness", args, "4g", "768m", cp, stdin=subprocess.DEVNULL,
                     stdout=subprocess.PIPE, stderr=err, env=env)
            try:
                out, _ = h.communicate(timeout=max(10, DEADLINE_S - (time.monotonic() - t_start)))
            except subprocess.TimeoutExpired:
                h.kill()
                h.wait()
                raise SystemExit("harness timed out")
    finally:
        if stub is not None:
            stop_stub(stub, port)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    if h.returncode != 0 or not lines:
        with open(os.path.join(RUN, "harness.err")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness failed with exit code {h.returncode}")
    if a.record_goldens:
        log(f"goldens written to {goldens}")
        return
    result = json.loads(lines[-1])
    metrics = result["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    for m in wanted:
        if m["name"] not in metrics:
            if not a.trace:
                raise SystemExit(f"end-to-end metric {m['name']} missing")
            # a layer this workload does not exercise did no work
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        elif metrics[m["name"]]["unit"] != m["unit"]:
            raise SystemExit(f"{m['name']} reported in {metrics[m['name']]['unit']}, BENCHMARK.json says {m['unit']}")
    result["metrics"] = {m["name"]: metrics[m["name"]] for m in wanted}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
