"""Benchmark entry point. Run from the repository root:

    python3 steadybench/run.py --workload drop_ingest --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark (see build.py), launches one JVM with a
fixed heap and `local[n]` Spark, and relays its report. The last line of
standard output is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. All files go under .bench_build/ in the working directory.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("drop_ingest", "lake_read", "quoted_probe")
HEAP = "1536m"
RUN_LIMIT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def steal_ticks():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[0]


def storage_type(path):
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, fstype = mnt, parts[2]
    return fstype


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ops", type=int, default=0, help="stop after this many timed ops")
    a = ap.parse_args()

    classes = build.build()
    start = time.time()
    nproc = len(os.sched_getaffinity(0))
    cores = min(4, nproc)
    work = os.path.abspath(os.path.join(build.OUT, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    bench = os.path.dirname(os.path.abspath(__file__))
    # A fixed heap size, so the collector does not resize it during a run.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={bench}/log4j2.properties",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([os.path.abspath(classes)] + build.spark_jars()),
            "steadybench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
            work, str(cores), str(a.ops or 2**31 - 1)]
    load0, steal0 = loadavg(), steal_ticks()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    # A JVM that overruns the time limit is killed and gives no result.
    watchdog = threading.Timer(max(1.0, RUN_LIMIT_S - (time.time() - start)), proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    result_file = os.path.join(work, "result.json")
    result = open(result_file).read() if proc.returncode == 0 and os.path.exists(result_file) else None
    print(f"CONTEXT workload={a.workload} seed={a.seed} nproc={nproc} "
          f"loadavg={load0}->{loadavg()} steal_ticks={steal_ticks() - steal0} "
          f"storage={storage_type(work)} heap={HEAP} master=local[{cores}] "
          f"wall_s={time.time() - start:.1f}")
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        sys.exit(f"benchmark JVM failed with code {proc.returncode}")
    print(json.dumps(json.loads(result)))


if __name__ == "__main__":
    main()
