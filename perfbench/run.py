#!/usr/bin/env python3
"""graft's per-PR benchmark.

    python3 perfbench/run.py --workload batch_route --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source (see build.py), runs one workload in
one JVM at local[nproc], checks its output, and prints as the last stdout line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 the
per-layer ones, and the full report goes to a sidecar JSON in the build
directory. Everything it writes stays under the build directory. Exits non-zero
without a result line when the program cannot be built or a run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
DATA = os.path.join(HERE, "data", "sf0.001")
WORKLOADS = ("batch_route", "stream_match", "query_suite")
# a run must end within 180 s, or 900 s for the first one in a checkout, which
# builds; the JVM gets what the build left of that
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 890
MIN_FREE_BYTES = 2 << 30
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def host():
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    nproc = len(os.sched_getaffinity(0))
    jdk = subprocess.run(["java", "-XX:-UsePerfData", "-version"], stderr=subprocess.PIPE,
                         text=True).stderr
    return {"nproc": nproc, "mem_total_kb": mem_kb, "jdk": jdk.strip().splitlines()[0]}


def heap_gb(mem_kb):
    """A quarter of MemTotal, clamped to [2, 8] GiB: the machine is shared."""
    return max(2, min(8, mem_kb // (4 << 20)))


def run_jvm(classpath, args, budget_s, log_path, cds_flag):
    h = host()
    heap = f"{heap_gb(h['mem_total_kb'])}g"
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", cds_flag,
           f"-XX:ParallelGCThreads={h['nproc']}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={args.tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
    cmd += ["-cp", classpath, "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), args.work, DATA, args.result]
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=ROOT,
                             start_new_session=True)
        try:
            return p.wait(timeout=budget_s), heap
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            log(f"JVM killed after {budget_s:.0f} s")
            return -1, heap


def check_oracles(verify_dir):
    """The driver's DuckDB oracle compare, unchanged, over the timed queries."""
    t = time.time()
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracles.py"),
                        DATA, verify_dir], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"))
    log(f"oracles ({time.time() - t:.1f} s): " + r.stdout.strip().replace("\n", "\n[perfbench]   "))
    return r.returncode == 0, r.stdout.strip().splitlines()[-1:] or ["no output"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    t_start = time.time()
    classpath, built = build.build()
    log(f"build ready in {time.time() - t_start:.1f} s")

    base = build.build_dir()
    args.work = os.path.join(base, "work", args.workload)
    args.tmp = os.path.join(args.work, "tmp")
    results = os.path.join(base, "results")
    shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(args.tmp)
    os.makedirs(results, exist_ok=True)
    free = shutil.disk_usage(args.work).free
    if free < MIN_FREE_BYTES:
        raise SystemExit(f"perfbench: only {free >> 20} MiB free under {args.work}, "
                         f"need {MIN_FREE_BYTES >> 20} MiB")
    tag = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    args.result = os.path.join(results, tag + ".json")
    if os.path.exists(args.result):
        os.remove(args.result)

    # Every measured JVM maps a class-data archive (JDK AppCDS) of the classes
    # a short Spark job loads, which cuts JVM and session start. It is written
    # once per build by that fixed job, never by a workload, so the archive and
    # the set-up time it saves are the same whichever workload runs first.
    archive = os.path.join(base, "classes.jsa")
    if built or not os.path.exists(archive):
        t = time.time()
        if os.path.exists(archive):
            os.remove(archive)
        job = argparse.Namespace(**dict(vars(args), workload="class_archive",
                                        result=os.path.join(base, "class_archive.json")))
        budget = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (t - t_start)
        rc, _ = run_jvm(classpath, job, budget, os.path.join(base, "class_archive.log"),
                        f"-XX:ArchiveClassesAtExit={archive}")
        shutil.rmtree(args.work, ignore_errors=True)
        os.makedirs(args.tmp)
        if rc != 0 or not os.path.exists(archive):
            raise SystemExit(f"perfbench: writing the class-data archive failed (JVM exit {rc})")
        os.sync()  # the archive's writeback must not overlap the measured run
        log(f"class-data archive written in {time.time() - t:.1f} s")

    t0 = time.time()
    budget = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (t0 - t_start)
    rc, heap = run_jvm(classpath, args, budget, os.path.join(results, tag + ".log"),
                       f"-XX:SharedArchiveFile={archive}")
    if rc != 0 or not os.path.exists(args.result):
        shutil.rmtree(args.work, ignore_errors=True)
        with open(os.path.join(results, tag + ".log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"perfbench: {args.workload} failed (JVM exit {rc})")
    with open(args.result) as fh:
        rep = json.load(fh)
    rep["wall_s"] = time.time() - t0
    rep["host"] = dict(host(), heap=heap)

    if args.workload == "query_suite":
        ok, summary = check_oracles(os.path.join(args.work, "query", "verify"))
        rep["checks"]["query.duckdb_oracles"] = ok
        rep["facts"]["query.oracles"] = summary[0]
        if not ok:
            rep["errors"].append("oracle check failed: " + summary[0])
    shutil.rmtree(args.work, ignore_errors=True)

    if args.trace:
        declared = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        got = rep["layers"]
        # a layer this workload does not run reads 0
        metrics = {k: got.get(k, {"value": 0, "unit": units[k]}) for k in declared}
    else:
        declared = [m["name"] for m in spec["end_to_end"]]
        got = rep["metrics"]
        metrics = {k: got[k] for k in declared if k in got}
    unknown = sorted(set(got) - set(declared))
    missing = sorted(set(declared) - set(metrics))
    if unknown or missing:
        raise SystemExit(f"perfbench: metrics not in BENCHMARK.json {unknown}, missing {missing}")
    correct = all(rep["checks"].values()) and rep["failed"] == 0
    rep["correct"] = correct
    with open(args.result, "w") as fh:
        json.dump(rep, fh, indent=1, sort_keys=True)
    for e in rep["errors"]:
        log(e)
    h = rep["host"]
    print(f"# {args.workload} seed={args.seed} nproc={h['nproc']} "
          f"MemTotal={h['mem_total_kb']}kB heap={heap} jdk={h['jdk']!r} sidecar={args.result}")
    for k, m in metrics.items():
        print(f"# {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
