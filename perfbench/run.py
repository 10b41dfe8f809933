#!/usr/bin/env python3
"""Benchmark for the gdalspark library: seeded workloads, end to end and by layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pip_skew --seed 1 --seconds 12 --trace 0

The first run builds the library from the checkout's sources together with
the benchmark (perfbench/build.sbt, a source dependency on the root build).
Each run then starts one JVM that generates the workload's inputs from the
seed, sets up three times, checks the outputs and measures for about
--seconds seconds (see perfbench/src/main/scala/perfbench/Main.scala).

--trace 0 reports the end-to-end metrics; --trace 1 the per-layer metrics
(the shared list in the result, the workload's own engine.* list as metric
lines and in the result file) and writes the run's spans to perfbench/work/trace_<workload>_seed<n>.json.
The last line of standard output is one JSON object: correct, attempted,
failed and metrics. Every run also writes perfbench/work/results/... with
the host fingerprint; `--compare A B` compares two such files and refuses
when their fingerprints differ. `--write-benchmark-json` regenerates the
BENCHMARK.json at the checkout root from the definitions below.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench-classpath.txt")

RUN_SECONDS = 15
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

WORKLOADS = [
    ("pip_skew",
     "120k skewed docs, 30% in one hot cell: span parse, cell keying, broadcast probe and WkbPip "
     "refine via pipJoin and the CellJoinRule join; per-doc work is ~80% of a pass"),
    ("tile_resume",
     "uniform docs: half of the z11-14 tile units dropped from the manifest and resumed, then the "
     "z4-14 pyramid; shuffle, aggregation and writes, no PIP or broadcast: joins leave it as is"),
]

# Bounds: the medians of two back-to-back sets of ten runs on a shared
# 4-core host moved by up to 15% on the same code, so wall-time bounds sit
# at the 0.25 limit; peak memory repeats exactly from run to run.
E2E = [
    ("wall_s", "s", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("input_rows_per_s", "rows/s", "higher", 0.25),
    ("exec_mem_peak_mb", "MB", "lower", 0.2),
]

PER_LAYER = [
    ("scaling_eff", "ratio", "higher"),
    ("scaling.wall_lo_s", "s", "lower"),
    ("geom.pip_ns", "ns", "lower"),
    ("geom.wkt_parse_ns", "ns", "lower"),
    ("geom.wkb_write_ns", "ns", "lower"),
    ("geom.wkb_read_ns", "ns", "lower"),
    ("geom.greatcircle_ns", "ns", "lower"),
    ("cell.from_lonlat_ns", "ns", "lower"),
    ("cell.cover_ns", "ns", "lower"),
    ("cell.disk_ns", "ns", "lower"),
    ("plans.celljoin_rule_ms", "ms", "lower"),
    ("functions.interpreted_exprs", "count", "lower"),
    ("spark.analysis_ms", "ms", "lower"),
    ("spark.optimization_ms", "ms", "lower"),
    ("spark.planning_ms", "ms", "lower"),
    ("spark.codegen_compile_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_ms_p50", "ms", "lower"),
    ("spark.task_ms_p99", "ms", "lower"),
    ("spark.cpu_busy_ratio", "ratio", "higher"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.broadcast_mb", "MB", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.task_failures", "count", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.untraced_wall_s", "s", "lower"),
    ("trace.overhead", "ratio", "lower"),
    ("host.ext_busy_cores", "cores", "lower"),
    ("host.stall_cores", "cores", "lower"),
]

# Per-layer metrics that only one workload's traced run produces. BENCHMARK.json
# holds one per-layer list for every workload and a result holds exactly that
# list, so these are printed as metric lines and kept in the result file; a
# traced run that lacks any of them fails like one that lacks a shared metric.
WORKLOAD_LAYERS = {
    "pip_skew": [
        ("engine.parse_s", "s", "lower"),
        ("engine.index_build_s", "s", "lower"),
        ("engine.probe_s", "s", "lower"),
        ("engine.refine_s", "s", "lower"),
        ("engine.candidates", "count", "lower"),
        ("engine.hits", "count", "lower"),
        ("engine.refine_yield", "ratio", "higher"),
        ("engine.path_api_s", "s", "lower"),
        ("engine.path_rule_s", "s", "lower"),
        ("engine.path_exec_s", "s", "lower"),
        ("engine.path_salted_s", "s", "lower"),
        ("engine.path_subdivide_s", "s", "lower"),
        ("engine.knn_s", "s", "lower"),
        ("engine.knn_jobs", "count", "lower"),
    ],
    "tile_resume": [
        ("engine.tile_assign_s", "s", "lower"),
        ("engine.pyramid_s", "s", "lower"),
        ("engine.unit_write_s", "s", "lower"),
        ("engine.manifest_read_s", "s", "lower"),
        ("engine.units_redone", "count", "lower"),
    ],
}

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def benchmark_json():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x} for n, u, b, x in E2E],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


def meminfo_kb(key):
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def host_settings():
    """Parallelism and heap from this host, never from fixed defaults."""
    cores = len(os.sched_getaffinity(0))
    p_hi = cores
    p_lo = max(1, cores // 4)
    mem_mb = meminfo_kb("MemTotal") // 1024
    heap_mb = max(1024, min(4096, mem_mb // 6))
    return cores, p_hi, p_lo, mem_mb, heap_mb


def java_version():
    out = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    first = out.strip().splitlines()[0] if out.strip() else "unknown"
    return first


def spark_version(classpath):
    for entry in classpath.split(os.pathsep):
        m = re.search(r"spark-core_[0-9.]+-([0-9][^/]*)\.jar$", entry)
        if m:
            return m.group(1)
    return "unknown"


def sources_mtime():
    newest = 0.0
    for base in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def run_child(cmd, cwd, timeout, stdout):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compiles library and benchmark once per source state; returns the classpath."""
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= sources_mtime():
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env_opts = os.environ.get("SBT_OPTS", "")
    if "sbt.offline" not in env_opts:
        os.environ["SBT_OPTS"] = (env_opts + " -Dsbt.offline=true").strip()
    os.environ.setdefault("COURSIER_MODE", "offline")
    log("perfbench: building library and benchmark with sbt")
    t0 = time.time()
    code, out = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
                           "export perfbench/Runtime/fullClasspath"],
                          HERE, BUILD_TIMEOUT_S, subprocess.PIPE)
    if code != 0:
        sys.stderr.write(out)
        raise SystemExit("perfbench: build failed")
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        sys.stderr.write(out)
        raise SystemExit("perfbench: build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp + "\n")
    log("perfbench: built in %.0f s" % (time.time() - t0))
    return cp


def run(args):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: %s is not a gdalspark checkout (no build.sbt and "
                         "src/main/scala/graft); nothing to measure" % ROOT)
    names = [n for n, _ in WORKLOADS]
    if args.workload not in names:
        raise SystemExit("perfbench: unknown workload %r (have %s)" % (args.workload, ", ".join(names)))
    cp = build()
    cores, p_hi, p_lo, mem_mb, heap_mb = host_settings()
    fingerprint = {"cores": cores, "mem_total_mb": mem_mb, "jvm": java_version(),
                   "spark": spark_version(cp), "p_hi": p_hi, "p_lo": p_lo, "heap_mb": heap_mb}
    tmp = os.path.join(WORK, args.workload, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xmx%dm" % heap_mb, "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", WORK, "--p-hi", str(p_hi), "--p-lo", str(p_lo)])
    t0 = time.time()
    try:
        code, out = run_child(cmd, ROOT, RUN_TIMEOUT_S, subprocess.PIPE)
    finally:
        shutil.rmtree(os.path.join(WORK, args.workload), ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        elif line.startswith("metric ") or line.startswith("FAIL "):
            print(line)
    if code != 0 or result is None:
        raise SystemExit("perfbench: benchmark JVM exited with %s and no result" % code)

    wanted = E2E if args.trace == 0 else PER_LAYER
    required = wanted if args.trace == 0 else PER_LAYER + WORKLOAD_LAYERS[args.workload]
    have = result["metrics"]
    missing = [m[0] for m in required if m[0] not in have or have[m[0]]["value"] is None]
    if missing:
        raise SystemExit("perfbench: run did not produce %s" % ", ".join(missing))
    attempted, failed = result["attempted"], result["failed"]
    for p in result["problems"]:
        log("perfbench: check failed: " + p)
    print("host %s" % json.dumps(fingerprint, sort_keys=True))
    print("metric fail_ratio %s ratio" % (failed / attempted if attempted else 1.0))
    print("run_s %.1f" % (time.time() - t0))
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "fingerprint": fingerprint, "attempted": attempted,
              "failed": failed, "problems": result["problems"], "metrics": have}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", "%s_seed%d_trace%d.json"
                           % (args.workload, args.seed, args.trace)), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    final = {"correct": failed == 0, "attempted": attempted, "failed": failed,
             "metrics": {m[0]: {"value": have[m[0]]["value"], "unit": m[1]} for m in wanted}}
    print(json.dumps(final), flush=True)


def compare(a_path, b_path):
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    if a["fingerprint"] != b["fingerprint"]:
        raise SystemExit("perfbench: refusing to compare results from different hosts:\n  %s\n  %s"
                         % (json.dumps(a["fingerprint"], sort_keys=True),
                            json.dumps(b["fingerprint"], sort_keys=True)))
    if (a["workload"], a["trace"]) != (b["workload"], b["trace"]):
        raise SystemExit("perfbench: results are of different workloads or trace modes")
    for name in sorted(set(a["metrics"]) & set(b["metrics"])):
        va, vb = a["metrics"][name]["value"], b["metrics"][name]["value"]
        rel = (vb - va) / va if va else float("nan")
        print("%-32s %14.6g %14.6g %+8.1f%% %s" % (name, va, vb, 100 * rel, a["metrics"][name]["unit"]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    ap.add_argument("--write-benchmark-json", action="store_true")
    args = ap.parse_args()
    if args.write_benchmark_json:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(benchmark_json(), f, indent=2)
            f.write("\n")
    elif args.compare:
        compare(*args.compare)
    elif args.workload:
        run(args)
    else:
        ap.error("give --workload, --compare or --write-benchmark-json")


if __name__ == "__main__":
    main()
