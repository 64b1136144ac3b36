#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine built from source.

Usage (from the repository root):

    python3 perfbench/run.py --workload analytic_read --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the engine and the benchmark driver with
sbt (offline) into the build directory (`$CARGO_TARGET_DIR`, default
`.bench_build`); later runs reuse the build while the sources are unchanged.
Each run starts one JVM with Spark `local[nproc]`, runs the workload's
timed set-up and closed loop, checks every operation's result, and prints:

  * a detail line, `{"perfbench_detail": {...}}`, with the workload's own
    figures, failures, known defects and provenance (commit, source hash,
    seed, nproc, heap, Spark version, load average);
  * last, the result line `{"correct", "attempted", "failed", "metrics"}`:
    end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
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
WORKLOADS = ["analytic_read", "ingest_commit", "row_update", "llm_pipeline"]
HEAP = "2g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these; the root build passes the
# same list to its forked runs.
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the repository root."""
    out = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            out.append(top)
        for base, dirs, files in os.walk(path):
            # build output and sbt's meta-meta project are not sources
            dirs[:] = sorted(d for d in dirs if d not in ("target", "project"))
            out += [os.path.relpath(os.path.join(base, f), ROOT) for f in files]
    return sorted(set(out))


def source_hash():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(build_dir, stamp):
    """Compile the engine and the driver; returns the runtime classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Dsbt.log.noformat=true",
            "-Dsbt.global.base=" + os.path.join(build_dir, "sbt-global"),
            "-Dsbt.boot.directory=" + os.path.join(build_dir, "sbt-boot")]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Xmx2g"] + opts).strip()
    log_path = os.path.join(build_dir, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        log.write(proc.stdout)
    if proc.returncode != 0:
        tail = proc.stdout.strip().splitlines()[-15:]
        fail("build failed (see %s):\n%s" % (log_path, "\n".join(tail)))
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if not cps:
        fail("build printed no classpath (see %s)" % log_path)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, args, build_dir):
    """Runs the driver; returns its parsed PERFBENCH_RESULT object."""
    work = os.path.join(build_dir, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_out = os.path.join(build_dir, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch",
            "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}"] + opens +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--trace-out", trace_out])
    log_path = os.path.join(build_dir, f"run-{args.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)

        def stop(signum, _frame):
            # the JVM runs in its own session: take it down with us
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})", 1)
    shutil.rmtree(work, ignore_errors=True)
    found = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not found:
        fail(f"driver exited {proc.returncode} without a result (log: {log_path})", 1)
    return json.loads(found[-1][len("PERFBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="loop length; BENCHMARK.json's run_seconds for comparable runs")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not in " + ROOT)
    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    os.makedirs(build_dir, exist_ok=True)
    with open("/proc/loadavg") as f:
        load_at_start = float(f.read().split()[0])
    stamp = source_hash()
    t0 = time.time()
    classpath = build(build_dir, stamp)
    build_s = time.time() - t0
    res = run_jvm(classpath, args, build_dir)

    prov = res.get("provenance", {})
    prov.update({"git_commit": git_commit(), "source_sha256": stamp,
                 "seed": args.seed, "workload": args.workload,
                 "loadavg_at_start": load_at_start, "heap": HEAP,
                 "build_s": round(build_s, 3)})
    detail = {k: res[k] for k in ("workload", "seed", "seconds", "trace", "failures",
                                  "detail", "known_defects")}
    detail["provenance"] = prov
    print(json.dumps({"perfbench_detail": detail}, sort_keys=True))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
