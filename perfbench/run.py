#!/usr/bin/env python3
"""graft benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call builds the engine and the
benchmark from source with sbt (outputs under .bench_build/); later
calls reuse the build while the sources are unchanged. Report lines
start with '#'; the last line of standard output is the result JSON.
Exits non-zero, without a result line, when the engine sources are
missing, the build fails, or the run fails or times out.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "sbt"
WORKLOADS = ("chain_ingest", "analytics", "stream_replay")
# A run measures for --seconds after a set-up and warm pass of about 25 s.
RUN_MARGIN_S = 160
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads, so a changed source forces a rebuild."""
    files = [HERE / "build.sbt", HERE / "project" / "build.properties",
             ROOT / "src" / "test" / "scala" / "graft" / "RpcStubWire.scala"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building first when needed."""
    stamp, cp = BUILD / "stamp", BUILD / "classpath.txt"
    fp = fingerprint(build_inputs())
    if stamp.is_file() and cp.is_file() and stamp.read_text() == fp:
        return cp.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "writeClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0 or not cp.is_file():
        fail(f"build failed with exit code {r.returncode}")
    stamp.write_text(fp)
    return cp.read_text().strip()


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").is_file():
        return str(Path(home) / "bin" / "java")
    return shutil.which("java") or fail("no java on PATH")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ROOT / 'src'}; run from a full checkout", 2)
    classpath = build()

    tmp = ROOT / ".bench_build" / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xlog:disable", "-Xlog:all=warning:stderr", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", str(ROOT)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)

    def stop(*_):
        proc.kill()
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(1)
    signal.signal(signal.SIGTERM, stop)
    timeout = a.seconds + RUN_MARGIN_S
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {timeout} s", file=sys.stderr)
        stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    report = [l for l in out.splitlines() if l.startswith("# ")]
    results = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not results:
        fail(f"run failed with exit code {proc.returncode}")
    try:
        result = json.loads(results[-1])
    except ValueError:
        fail(f"malformed result line: {results[-1]!r}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {results[-1]!r}")
    for l in report:
        print(l)
    print(results[-1])


if __name__ == "__main__":
    main()
