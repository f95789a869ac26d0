#!/usr/bin/env python3
"""Build graft and its benchmark from this checkout, run one workload, and
print the result as the last line of standard output.

    python3 perfbench/run.py --workload vote_bulk --seed 1 --seconds 12 --trace 0

Workloads: vote_bulk and board (see perfbench/README.md). The build
goes to $CARGO_TARGET_DIR (default .bench_build) under the checkout root and
is reused while the sources are unchanged. Exits non-zero, printing no
result, when the checkout holds no graft sources or any step fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("vote_bulk", "board")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 outside spark-submit needs these opens (the same list as
# graft's own build.sbt).
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


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    """Every file the build reads, in a stable order."""
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def ensure_built(bdir):
    stamp = os.path.join(bdir, "stamp")
    cp_file = os.path.join(bdir, "sbt", "classpath.txt")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == fp:
                return cp_file
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    # Everything resolves from the image's caches; nothing is downloaded.
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    env["PERFBENCH_TARGET"] = os.path.join(bdir, "sbt")
    log("building graft and the benchmark")
    t0 = time.time()
    rc, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "compile", "stageClasspath"],
                        BUILD_TIMEOUT_S, cwd=HERE, env=env,
                        stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"build failed (exit {rc})")
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp_file


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--seats", default="sample", choices=("sample", "all"),
                    help="board only: the frozen sample, or every seat")
    ap.add_argument("--record-digests", help="board only: write seat digests here")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit(f"no graft sources under {ROOT}; nothing to benchmark")

    bdir = build_dir()
    with open(ensure_built(bdir)) as f:
        classpath = f.read().strip()
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
            "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(bdir, "scratch"),
            "--fixture", os.path.join(HERE, "fixture"),
            "--digests", os.path.join(HERE, "digests", "sf0.01.tsv"),
            "--seats", a.seats]
    if a.record_digests:
        cmd += ["--record-digests", os.path.abspath(a.record_digests)]
    # the whole board (--seats all) runs for several minutes
    timeout = RUN_TIMEOUT_S if a.seats == "sample" else 30 * RUN_TIMEOUT_S
    # flush the build's (or the last run's) pending writes, so their
    # writeback does not land inside this run's timed region
    os.sync()
    rc, out = run_bounded(cmd, timeout, cwd=tmp, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    if rc is None:
        raise SystemExit(f"run exceeded {timeout} s and was stopped")
    result = None
    for line in out.splitlines():
        if line.startswith("INFO "):
            print(line[5:], flush=True)
        elif line.startswith("RESULT "):
            result = json.loads(line[7:])
    if rc != 0 or result is None:
        raise SystemExit(f"run failed (exit {rc})")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
