#!/usr/bin/env python3
"""Benchmark of the graft time-series engine.

    python3 perfbench/run.py --workload dashboard|ingest --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the engine and the harness from source (see build.py), runs one
workload in a fresh JVM and prints, as the last stdout line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. The line before it is the host-noise block. Everything the
run writes stays under `.bench_build/` in the checkout; the run's data
directory is removed at exit and the result and spans are kept under
`.bench_build/perfbench/results/`. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark directory free of caches
import build  # noqa: E402

WORKLOADS = ("dashboard", "ingest")
JVM_TIMEOUT_S = 170
# JDK 17 module openings Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    # -XX:TieredStopAtLevel=1: C1 only, which settles within a run (see
    # README.md, "The JVM"); C1 alone reserves a 48 MB code cache, which
    # Spark fills, so compiled code would be flushed and compiled again
    # all run long. -XX:-UsePerfData: no hsperfdata file in the system
    # temp directory.
    return (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
             "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}"] + opens + ["-cp", cp, main] + args)


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat (0, 0 elsewhere)."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7] if len(fields) > 7 else 0, sum(fields[:8])
    except OSError:
        return 0, 0


def run_jvm(cmd, log_path):
    """Run the JVM to its end; on a timeout (None) or any other way out,
    kill it and wait for it first."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def host_block(host, steal_share):
    """The host-noise block, flagged contended when the CPU probe slowed by
    a quarter or the hypervisor stole more than a tenth of the CPU time
    during the run. The load averages are reported, not judged: in
    back-to-back runs they still carry the previous run's own JVM."""
    probe0, probe1 = host.get("probe_ms_start", 0), host.get("probe_ms_end", 0)
    host["steal_share"] = round(steal_share, 4)
    host["contended"] = bool((probe0 > 0 and probe1 / probe0 > 1.25) or steal_share > 0.1)
    return host


def main():
    # a SIGTERM unwinds like an exception, so the JVM and the data
    # directory are cleaned up on that way out too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true",
                    help="check that the answer checker rejects perturbed answers")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    classes = build.ensure()
    runs = os.path.join(build.BUILD_ROOT, "runs")
    name = "selftest" if a.selftest else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(runs, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "jvm.log")
    try:
        if a.selftest:
            rc = run_jvm(java_cmd(classes, work, "perfbench.SelfTest", []), log)
            sys.stderr.write(tail(log))
            return 0 if rc == 0 else 1
        out = os.path.join(work, "result.json")
        steal0, total0 = cpu_times()
        rc = run_jvm(java_cmd(classes, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(work, "data"), "--out", out]), log)
        if rc != 0 or not os.path.exists(out):
            why = "timed out" if rc is None else f"exited with {rc}"
            sys.stderr.write(f"perfbench: benchmark JVM {why}\n{tail(log)}")
            return 1
        steal1, total1 = cpu_times()
        steal = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
        with open(out) as f:
            res = json.load(f)
        results = os.path.join(build.BUILD_ROOT, "results")
        os.makedirs(results, exist_ok=True)
        shutil.copy(out, os.path.join(results, f"{name}.json"))
        if os.path.exists(out + ".spans.jsonl"):
            shutil.copy(out + ".spans.jsonl", os.path.join(results, f"{name}.spans.jsonl"))
        print("host " + json.dumps(host_block(res["host"], steal), sort_keys=True))
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")},
                         sort_keys=True))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
