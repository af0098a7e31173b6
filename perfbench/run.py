"""Runs one workload of the gridded-ETL lifecycle benchmark.

    python3 perfbench/run.py --workload era5_backfill|chirps_nightly \\
        --seed N --seconds S --trace 0|1 [--size full|smoke] [--fault truncate-grib]

Builds the program and the benchmark from source (see build.py), runs the
workload in one JVM with an explicit heap, and passes its report through.
The last line of standard output is the result JSON. Exits non-zero,
printing no result, if the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("era5_backfill", "chirps_nightly")
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def heap_mb():
    """2 GiB, or a quarter of the machine's memory if that is less."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(512, min(2048, total_kb // 1024 // 4))
    except (OSError, StopIteration, ValueError):
        return 2048


def commit_id(source_sha):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + source_sha[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "smoke"))
    ap.add_argument("--fault", default="none", choices=("none", "truncate-grib"))
    a = ap.parse_args()

    classpath, source_sha = build.build()
    bd = build.build_dir()
    work = os.path.join(bd, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    heap = heap_mb()
    cmd += [f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--size", a.size, "--fault", a.fault,
            "--commit", commit_id(source_sha)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(reason):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: " + reason)

    # a stopped benchmark stops its JVM too
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda n, _: stop("stopped by signal %d" % n))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop("run exceeded %d s" % RUN_TIMEOUT_S)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    trace_file = os.path.join(work, "trace_spans.json")
    if os.path.exists(trace_file):
        keep = os.path.join(bd, "traces")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(trace_file, os.path.join(keep, f"{a.workload}-{a.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not lines:
        sys.stdout.write("\n".join(lines[:-1]) + "\n" if lines else "")
        sys.exit("perfbench: run failed with exit code %d" % proc.returncode)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stdout.write("\n".join(lines) + "\n")
        sys.exit("perfbench: run printed no result")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
