#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: one run of one workload.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 10 --trace 0

Builds the program from the checkout (build.py), generates the seeded
inputs (gen.py), runs one plain `java` process at local[cores] with
shuffle partitions = cores (src/PerfBench.scala), checks the outputs
against independent DuckDB computations (checks.py) and prints one JSON
line: `correct`, `attempted`, `failed` and the metrics. The pass metrics
are CPU seconds of the JVM's threads other than its JIT compilers and
its host probe, scaled to a reference host speed by the probe (README:
"Why CPU time", "Host speed"). With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones, and the spans are kept under perfbench/.work/traces/.
Everything it writes stays under perfbench/.work/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

# The host probe's task CPU time on an unloaded host (README: "Host
# speed"); pass CPU times are reported at this host speed.
PROBE_REF_S = 0.005
JVM_TIMEOUT_S = 165  # from the end of the build; checks take a few seconds more
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(classpath, work, argv, deadline):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{workloads.HEAP}", f"-Xmx{workloads.HEAP}",
            "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            # Each pass Janino-compiles new classes that HotSpot compiles
            # again; eight compiler threads drain that backlog within the
            # pass, so JVMs reach the same steady state (README: "Why CPU
            # time"). Their CPU time is kept out of the pass metrics.
            "-XX:CICompilerCount=8",
            "-cp", ":".join(classpath), "perfbench.PerfBench"]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = open(f"{work}/jvm.log", "w")
    argv = argv + ["--launch_ns", str(time.time_ns())]
    # SPARK_LOCAL_DIRS would override spark.local.dir: keep scratch in the run
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    proc = subprocess.Popen(cmd + argv, stdout=log, stderr=subprocess.STDOUT,
                            env=env, start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("the benchmark JVM ran out of time")
    finally:
        log.close()
    if proc.returncode != 0:
        with open(f"{work}/jvm.log", errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"the benchmark JVM exited {proc.returncode}:\n{tail}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.ALL))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec = workloads.ALL[a.workload]

    classpath = build.build()
    start = time.monotonic()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "input")
        expect = spec.generate(data, a.seed)
        result_file = os.path.join(work, "result.json")
        run_jvm(classpath, work, [
            "--workload", a.workload, "--data", data, "--work", work,
            "--result", result_file, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--warmup", str(spec.warmup),
            "--cores", str(os.cpu_count())] + spec.jvm_args(),
            start + JVM_TIMEOUT_S)
        with open(result_file) as f:
            r = json.load(f)
        passes = r["passes"]
        # CPU seconds of every thread but the JIT compilers and the host
        # probe, at the host speed where the probe's task takes PROBE_REF_S
        for p in passes:
            if p["probe_tasks"] < 20:
                raise RuntimeError(
                    f"the host probe ran {p['probe_tasks']} tasks in a pass")
            p["cpu_ref_s"] = p["cpu_s"] * PROBE_REF_S / p["probe_s"]
        timed_cpu = [p["cpu_ref_s"] for p in passes if p["kind"] == "timed"]
        rows = [(p["kind"], round(p["wall_s"], 3), round(p["cpu_s"], 3),
                 round(p["jit_cpu_s"], 3), p["codegen_compiles"],
                 round(p["probe_s"] * 1e3, 3), p["probe_tasks"]) for p in passes]
        print(f"{a.workload}: setup {r['setup_s']:.3f} s; passes (kind, wall s, "
              f"CPU s, JIT CPU s, Janino compiles, probe task ms, probe tasks) "
              f"{rows}", file=sys.stderr)
        fails = spec.check(data, expect, r)
        for line in fails:
            print("CHECK FAILED:", line, file=sys.stderr)
        if a.trace:
            spans = layers.load_spans(os.path.join(work, "spans.json"))
            every = layers.per_layer(r, spans)
            metrics = layers.printed(every)
            keep = os.path.join(HERE, ".work", "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(keep, f"{a.workload}-seed{a.seed}.spans.json"))
            with open(os.path.join(keep, f"{a.workload}-seed{a.seed}.layers.json"),
                      "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "metrics": every,
                           "pass_cpu_s": statistics.median(timed_cpu)}, f)
        else:
            metrics = {
                "setup_s": {"value": r["setup_s"], "unit": "s"},
                "first_pass_cpu_s": {"value": passes[0]["cpu_ref_s"], "unit": "s"},
                "pass_cpu_s": {"value": statistics.median(timed_cpu), "unit": "s"}}
        out = {"correct": not fails,
               "attempted": sum(p["attempted"] for p in passes),
               "failed": sum(p["failed"] for p in passes),
               "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        sys.exit(2)
