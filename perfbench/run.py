#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (build.py), then runs one
workload in a single JVM on local[nproc] and prints, as the last line of
standard output, one JSON object with the keys correct, attempted, failed
and metrics. Every file it writes goes under .bench_build/ in the checkout;
run artifacts (health data, traces) land in .bench_build/artifacts/.
"""
import argparse
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("llm_loops", "stream_curation")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(main: str, args: list, workdir: Path) -> subprocess.CompletedProcess:
    workdir.mkdir(parents=True, exist_ok=True)
    (workdir / "tmp").mkdir(exist_ok=True)
    # The heap is touched up front so that rss_peak_mb moves with native and
    # metaspace memory, not with when the collector first reached each page;
    # heap_live_mb (heap in use after a full collection) covers the heap.
    cmd = ["java", "-Xss8m", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={workdir / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), main] + args
    return subprocess.run(cmd, cwd=workdir, stdout=subprocess.PIPE, stderr=sys.stderr,
                          text=True, timeout=JVM_TIMEOUT_S)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    build.build()
    tag = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    workdir = build.BUILD_DIR / "work" / f"{tag}-{os.getpid()}"
    try:
        if a.selftest:
            r = jvm("perfbench.SelfTest", [str(build.BENCH_DIR / "data" / "sf0.01")], workdir)
            sys.stdout.write(r.stdout)
            return r.returncode
        r = jvm("perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", str(build.BENCH_DIR / "data" / "sf0.01"),
            "--fingerprints", str(build.BENCH_DIR / "fingerprints.json"),
            "--artifacts", str(build.BUILD_DIR / "artifacts")], workdir)
    except subprocess.TimeoutExpired:
        print(f"run: JVM exceeded {JVM_TIMEOUT_S}s and was killed", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    lines = r.stdout.splitlines()
    result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
    for line in lines[:-1] if result else lines:
        print(line, file=sys.stderr)
    if r.returncode != 0 or result is None:
        print(f"run: JVM exited with {r.returncode}, no result line", file=sys.stderr)
        return r.returncode or 1
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
