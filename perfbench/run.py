#!/usr/bin/env python3
"""Run the dedup benchmark on one workload.

    python3 perfbench/run.py --workload sf01 --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first call builds the program and the
benchmark from source with sbt (perfbench/build.sbt) into .bench_build/;
later calls reuse the build while the sources are unchanged. The benchmark
itself runs in one JVM (perfbench.Main); its last stdout line, one JSON
object, is checked against BENCHMARK.json and printed as this script's
last line. Any other outcome exits non-zero without printing a result.

Extra arguments after the four above are passed to perfbench.Main, e.g.
`--data DIR` (a directory holding documents.parquet) or
`--expect-outputs STR` (replace the expected output digest, to see the
correctness gate trip). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so a source change rebuilds."""
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it. The group is
    killed on timeout, or when this script is told to stop."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"stopped by signal {signum}")

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, out


def build(root, out_dir):
    cp_file = os.path.join(out_dir, "target", "classpath.txt")
    stamp_file = os.path.join(out_dir, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return cp_file
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.server.autostart=false",
           "compile", "writeClasspath"]
    code, _ = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"),
                          stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {code})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp_file


def check_result(line, spec, trace):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result has keys {sorted(res)}")
    if spec is None:
        return
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    got = res["metrics"]
    if not res["failed"] < res["attempted"]:
        return  # no operation succeeded, so nothing was measured
    missing = [m["name"] for m in wanted if m["name"] not in got]
    extra = sorted(set(got) - {m["name"] for m in wanted})
    units = [m["name"] for m in wanted if m["name"] in got and got[m["name"]]["unit"] != m["unit"]]
    if missing or extra or units:
        fail(f"metrics disagree with BENCHMARK.json: missing {missing}, extra {extra}, unit {units}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["sf01", "dense", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    args, extra = ap.parse_known_args()

    root = os.getcwd()
    here = os.path.join(root, "perfbench")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found: run from the repository root")
    out_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out_dir, exist_ok=True)
    cp_file = build(root, out_dir)
    with open(cp_file) as fh:
        classpath = fh.read().strip()

    work = os.path.join(out_dir, "work", args.workload)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties")]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--data", os.path.join(here, "data", "sf0.1"),
              "--expected", os.path.join(here, "expected.tsv"),
              "--records", os.path.join(out_dir, "records.tsv")]
           + extra)
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=root, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines:
        fail(f"benchmark exited {code}")
    spec_path = os.path.join(root, "BENCHMARK.json")
    spec = json.load(open(spec_path)) if os.path.exists(spec_path) else None
    check_result(lines[-1], spec, args.trace == "1")
    print(lines[-1])


if __name__ == "__main__":
    main()
