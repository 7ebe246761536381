#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source on first use (sbt,
offline), generates the workload's inputs from the seed, runs the workload
in a fresh JVM, checks the outputs and prints metrics. The last line of
standard output is one JSON object: correct, attempted, failed and metrics
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
Every file it writes is under .bench_build/ (run data, stamped results) or
in sbt's target/ directories (build output).
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("dws_batch", "dwd_stream", "curation_cold")
# dwd_stream rate ladder, events per second: base, peak.
RATES = (500, 16000)
# Untimed warm-up at the base rate before the ladder, long enough for the
# micro-batch path to be compiled before the base rung is timed.
STREAM_WARMUP_S = 3
# Input sets generated per run; setup_s takes the median generation time,
# so it is steady. Set 0 is every workload's input; curation_cold also
# gives each later set one cold pass (memo builds on inputs the JVM has
# not read yet).
INPUT_SETS = 3
COLD_SETS = {"curation_cold": 2}
JAVA_HEAP = "3g"
# Wall-clock cap on the JVM of one run.
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Files whose change forces a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in [os.path.join(ROOT, "project"), os.path.join(HERE, "project")]:
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def build():
    """Compile program + benchmark once per source state; the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not "
             "next to perfbench/; run from a full checkout", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required", 2)
    h = hashlib.sha256()
    for f in build_inputs():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) \
            and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "writeClasspath"], cwd=HERE, env=env,
                               stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out; see .bench_build/build.log")
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail("build failed; see .bench_build/build.log")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return open(cp_file).read().strip()


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat;
    steal is time the hypervisor gave this machine's CPUs to others."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, ValueError, IndexError):
        return 0, 0


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, args, work):
    """Run the JVM side; returns (result dict, spawn time)."""
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{JAVA_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "graft.perfbench.Main", *args]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spawn = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload did not finish in {RUN_TIMEOUT_S}s; see {work}/jvm.log")
        finally:
            # on a timeout, or when this script is stopped
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        fail(f"JVM exited with {rc}; see {work}/jvm.log")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f), spawn


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stop request unwinds through run_jvm, which stops the JVM first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    load0, ticks0 = loadavg(), cpu_ticks()
    run_dir = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    sets = [os.path.join(run_dir, f"data{i}") for i in range(INPUT_SETS)]
    work = os.path.join(run_dir, "work")
    gen_s = []
    for i, d in enumerate(sets):
        t = time.perf_counter()
        gen.generate(d, a.seed if i == 0 else [a.seed, i])
        gen_s.append(time.perf_counter() - t)
    data = sets[0]
    args = ["--workload", a.workload, "--data", data, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if COLD_SETS.get(a.workload):
        args += ["--fresh", ",".join(sets[1:1 + COLD_SETS[a.workload]])]
    if a.workload == "dwd_stream":
        args += ["--rates", ",".join(map(str, RATES)),
                 "--warmup", str(STREAM_WARMUP_S), "--seed", str(a.seed)]
    result, spawn = run_jvm(cp, args, work)
    setup_s = sorted(gen_s)[len(gen_s) // 2] + (result["ready_ms"] / 1000.0 - spawn)

    if a.workload == "dwd_stream":
        checks = check.stream(result)
        m = metrics.stream(result, a.trace == 1)
    else:
        checks = check.batch(result)
        m = metrics.batch(result, a.trace == 1)
    bad = [f"{name}: {why}" for name, why in checks if why]
    # A failed batch check fails its op; a failed stream sink fails every
    # event delivered into it.
    failed = m.attempted if bad and a.workload == "dwd_stream" else m.failed + len(bad)
    failed = min(m.attempted, failed)
    end_to_end = {"setup_s": (setup_s, "s"), **m.end_to_end}
    layers = m.per_layer
    shown = layers if a.trace else end_to_end
    out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}

    for line in bad:
        print(f"CHECK FAILED {line}")
    if not m.valid:
        print("INVALID RUN: the generator fell behind its schedule")
    for k, (v, u) in (end_to_end | (layers if a.trace else {})).items():
        print(f"{k} = {v:.6g} {u}")
    print(f"failed_ratio = {failed / m.attempted:.6g} ({failed}/{m.attempted})")

    ticks1 = cpu_ticks()
    steal_share = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
             "trace": a.trace, "commit": commit(), "nproc": os.cpu_count(),
             "load_avg": [load0, loadavg()], "steal_share": steal_share,
             "spark_conf": result["spark_conf"],
             "rates": RATES if a.workload == "dwd_stream" else None,
             "ladder": m.ladder,
             "checks": dict(checks), "valid": m.valid,
             "end_to_end": end_to_end, "per_layer": layers,
             "attempted": m.attempted, "failed": failed}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(stamp, f, indent=1)
    print(json.dumps({"correct": failed == 0 and m.valid, "attempted": m.attempted,
                      "failed": failed, "metrics": out_metrics}))


if __name__ == "__main__":
    main()
