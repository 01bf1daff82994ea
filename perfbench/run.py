#!/usr/bin/env python3
"""Repository benchmark: builds the program from source, runs one workload
in a harness JVM, and prints one JSON line of metrics as the last line of
standard output.

    python3 perfbench/run.py --workload etl_monthly --seed 1 --seconds 10 --trace 0

Workloads, metrics and their units are declared in BENCHMARK.json at the
repository root. Run it from the root of a checkout; everything it builds
or writes stays inside that checkout (.bench_build/, .bench_work/ and the
sbt target directories).
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

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
HEAP = "-Xmx3g"
BUILD_TIMEOUT_S = 700
# The longest harness runs measured on a 4-vCPU VM (perfbench/BASELINE.md)
# take about 95 s (etl_monthly, traced or not, on a busy host); 170 s
# leaves 1.8x that for a slower host and still ends every run within
# three minutes.
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and returns (exit code, stdout),
    or None on timeout. The whole group is killed and reaped either way,
    so no process it started (sbt's JVM, graft.pipeline.Main) outlives it."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the program and the harness with sbt once per source tree;
    returns (classpath, JVM options of the main build)."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no program sources next to the benchmark under {ROOT}; nothing to build")
    stamp = source_stamp()
    BUILD.mkdir(exist_ok=True)
    stamp_file, cp_file, opts_file = BUILD / "stamp", BUILD / "classpath.txt", BUILD / "javaopts.txt"
    if not (stamp_file.is_file() and stamp_file.read_text() == stamp and cp_file.is_file()):
        log = BUILD / "build.log"
        tmp = BUILD / "tmp"
        tmp.mkdir(exist_ok=True)
        with open(log, "w") as out:
            r = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                           "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}", "writeClasspath"],
                          BUILD_TIMEOUT_S, cwd=BENCH, stdout=out, stderr=subprocess.STDOUT)
        if r is None:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s; see {log}")
        if r[0] != 0:
            fail(f"build failed; see {log}:\n" + "".join(log.read_text().splitlines(True)[-20:]))
        target = BENCH / "target"
        shutil.copy(target / "classpath.txt", cp_file)
        shutil.copy(target / "javaopts.txt", opts_file)
        stamp_file.write_text(stamp)
    opts = [o for o in opts_file.read_text().split("\n") if o and not o.startswith("-Xmx")]
    return cp_file.read_text().strip(), opts


def cores():
    """At most 4 Spark cores, so runs compare across hosts."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload!r}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classpath, jvm_opts = build()
    work = WORK / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    # -XX:-UsePerfData: no hsperfdata files outside the checkout
    cmd = (["java", HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Harness", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), str(work), str(cores())])
    with open(work / "harness.err", "w") as err:
        r = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err)
    if r is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; see {work / 'harness.err'}")
    code, out = r
    if code != 0:
        tail = "".join((work / "harness.err").read_text().splitlines(True)[-30:])
        fail(f"harness exited with {code}:\n{tail}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("harness printed no result")
    res = json.loads(lines[-1])

    measured = res["metrics"]
    names = [m["name"] for m in wanted]
    unknown = sorted(set(measured) - set(names))
    if unknown:
        fail(f"harness reported metrics BENCHMARK.json does not declare: {unknown}")
    if not a.trace:
        missing = sorted(set(names) - set(measured))
        if missing:
            fail(f"harness did not measure {missing}")
    # a per-layer metric of a layer this workload never calls reads 0
    metrics = {m["name"]: {"value": measured.get(m["name"], 0), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
