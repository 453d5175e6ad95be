#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test      # the correctness gate's own test

The first call builds the engine and the benchmark from source with sbt
(perfbench/build.sbt) into .bench_build/; later calls reuse that build until
a source file changes. Each run gets a fresh work directory under
.bench_build/work/, removed afterwards; its result record and (traced runs)
its span file are kept in .bench_build/results/.

The last line on stdout is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The exit code is 0 only when every answer matched the oracle.
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

WORKLOADS = ["build", "select_rare", "select_common", "churn"]
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
RUN_LIMIT_S = 175  # a run must end within 180 s
BUILD_LIMIT_S = 850  # the first run may take 900 s

# Spark 4 on JDK 17 outside spark-submit needs these opens
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and benchmark with sbt")
    t0 = time.time()
    # everything the build needs is in the local caches: never go online
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    rc, out = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"sbt build failed (rc={rc})")
    lines = [x.strip() for x in out.splitlines() if x.strip()]
    cp = lines[-1] if lines else ""
    if ".jar" not in cp or "[" in cp:
        sys.stderr.write(out[-4000:])
        raise SystemExit("sbt did not print a classpath")
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, args, tmp):
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", *opens,
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main", *args]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not os.path.isdir(ENGINE_SRC):
        log(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}: "
            "run from the root of a graft checkout")
        return 2
    start = time.time()
    cp = build()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if a.self_test:
        rc, _ = run_group(java_cmd(cp, ["--self-test"], tmp), RUN_LIMIT_S)
        return rc

    work = os.path.join(OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    # the build may have used part of the first run's time; a run proper
    # still gets its full limit
    limit = RUN_LIMIT_S if time.time() - start < 60 else RUN_LIMIT_S + 60
    try:
        # Spark would put its scratch space wherever this names
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        rc, out = run_group(java_cmd(cp, args, tmp), limit, env=env,
                            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {limit} s and was stopped")
        shutil.rmtree(work, ignore_errors=True)
        return 1
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    for name, ext in (("result.json", "json"), ("trace.jsonl", "trace.jsonl")):
        src = os.path.join(work, name)
        if os.path.exists(src):
            shutil.copy(src, os.path.join(results, f"{tag}.{ext}"))
    shutil.rmtree(work, ignore_errors=True)
    lines = [x for x in out.splitlines() if x.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        log(f"the benchmark printed no result (exit code {rc})")
        return rc or 1
    print(json.dumps(result), flush=True)
    return rc if rc != 0 or result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
